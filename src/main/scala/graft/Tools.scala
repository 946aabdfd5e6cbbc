package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import graft.ops.Dedup
import graft.wbot.{Fixtures, Schemas, SparkCrawler, Storage}

/** Optimization tooling, separate from the frozen `Bench` and `Verify`
  * harness. One entry, one session builder, one warm-up crawl and one
  * always-on job listener:
  *
  *   Tools plans <outDir> [queries...]   `.explain("formatted")` per declared query
  *   Tools queries [names...|crawl_rate] each named query (or Bench's crawl-rate
  *                                       leaf) timed alone, noop sink, N repeats
  *   Tools crawl <cores> <outFile> [nHosts pph skew maxDepth fanMin fanRand]
  *                                       one scaling level; appends its result line
  *   Tools crawl-report <outFile>        best rate per level and the scaling
  *                                       efficiency, printed (no file written)
  *   Tools cc [tinyPairs chainLen]       connected components at volume, checked
  *   Tools prep [nHosts pph]             session prep vs stored prepared-pages snapshot
  *
  * Settings: `SPARK_GRAFT_SF_DIR` (query data), `SPARK_GRAFT_CPUS` (local[n]
  * and shuffle width, default the host's processors), `SPARK_GRAFT_OFFHEAP`
  * (default 8g), `SPARK_GRAFT_REPEATS` (queries, default 3), `SPARK_MASTER`
  * (e.g. `local-cluster[4,2,8192]`: real executor JVMs) and `SPARK_JARS` (the
  * app jar for such a master). Only `main` builds and stops a session. */
object Tools {

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def run(shufflePartitions: Int, master: String = s"local[$cpus]",
        confs: Map[String, String] = Map.empty)(body: SparkSession => Unit): Unit = {
      val spark = session(master, shufflePartitions, confs)
      try body(spark) finally spark.stop()
    }
    args.toList match {
      case "plans" :: rest =>
        run(cpus)(plans(_, sfDir, rest.headOption.getOrElse("/tmp/plans"), rest.drop(1).toSet))
      case "queries" :: names =>
        run(cpus) { spark =>
          try spark.read.parquet(s"$sfDir/lineitem.parquet").count()
          catch { case _: Exception => }
          warmUp(spark)
          queries(spark, sfDir, cpus, sys.env.getOrElse("SPARK_GRAFT_REPEATS", "3").toInt,
            names.toSet).foreach(println)
        }
      case "crawl" :: cores :: out :: rest =>
        val spec = specFrom(rest.toArray)
        val maxDepth = rest.lift(3).map(_.toInt).getOrElse(5)
        println(s"[crawl] cores=$cores pages=${spec.totalPages} maxDepth=$maxDepth")
        // shuffle width is data-sized (the depth-4 superstep shuffles ~27M
        // candidate rows; 2·cores partitions would sort ~7M rows per task);
        // AQE coalescing merges the small reads this gives shallow depths
        run(math.max(2 * cores.toInt, (spec.totalRows / SparkCrawler.rowsPerTask.value).toInt),
            s"local[$cores]", CrawlFabric) {
          spark =>
            warmUp(spark)
            val line = crawl(spark, cores.toInt, spec, maxDepth).line
            println("[crawl] " + line)
            Files.writeString(Paths.get(out), line + "\n",
              StandardOpenOption.CREATE, StandardOpenOption.APPEND)
        }
      case "crawl-report" :: out :: Nil =>
        print(crawlReport(out))
      case "cc" :: rest =>
        run(cpus)(cc(_, rest.headOption.map(_.toLong).getOrElse(5000000L),
          rest.lift(1).map(_.toLong).getOrElse(4096L)))
      case "prep" :: rest =>
        run(cpus) { spark =>
          warmUp(spark)
          prep(spark, cpus, rest.headOption.map(_.toInt).getOrElse(100),
            rest.lift(1).map(_.toInt).getOrElse(1000))
        }
      case _ =>
        System.err.println("usage: graft.Tools plans <outDir> [queries...] | " +
          "queries [names...|crawl_rate] | " +
          "crawl <cores> <outFile> [nHosts pph skew maxDepth fanMin fanRand] | " +
          "crawl-report <outFile> | cc [tinyPairs chainLen] | prep [nHosts pph]")
        sys.exit(2)
    }
  }

  /** The crawl's cluster-fabric settings, chosen on the 1-vs-4-executor
    * pairs (BENCH/BASELINE.md); AQE partition coalescing and zstd level 1,
    * which the crawl also relies on, are Spark's defaults.
    *  - Locality wait 300ms: 0 forfeits cache locality (multi-executor tasks
    *    then pull their pages-cache partition over netty, +47% total CPU on
    *    the deep superstep), while the 3s default serializes whole stages
    *    behind busy executors (118 s → 78 s from dropping it).
    *  - zstd compresses the url/canon-heavy candidate shuffle ~1.5-2x tighter
    *    than lz4 at similar decompress cost: fewer netty bytes with 4
    *    executors, neutral with 1.
    *  - A 96m in-flight window keeps the 2-core reduce tasks fed while
    *    remote fetches stream in. */
  private val CrawlFabric = Map(
    "spark.locality.wait" -> "300ms",
    "spark.io.compression.codec" -> "zstd",
    "spark.reducer.maxSizeInFlight" -> "96m")

  private def session(master: String, shufflePartitions: Int,
      confs: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", master))
      .appName("graft-tools")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.memory.offHeap.enabled", "true")
      .config("spark.memory.offHeap.size", sys.env.getOrElse("SPARK_GRAFT_OFFHEAP", "8g"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = (confs ++ sys.env.get("SPARK_JARS").map("spark.jars" -> _))
      .foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `graft.Bench`'s untimed warm-up crawl: JIT and class loading happen
    * before anything is timed. */
  private def warmUp(spark: SparkSession): Unit = {
    val spec = Fixtures.SiteSpec(nHosts = 2, pagesPerHost = 6)
    val prep = SparkCrawler.preparePages(Fixtures.pagesDf(spark, spec), 4)
    SparkCrawler.runPrepared(spark, prep, Fixtures.seeds(spec),
      Schemas.CrawlConfig(maxDepth = 2, partitions = 4))
    prep.unpersist()
  }

  private final case class Stage(id: Int, name: String, tasks: Int, wallMs: Long, taskMs: Long)

  /** Jobs, stages and tasks since the last [[reset]]. [[report]] prints, to
    * stderr, each job's wall time and completed stage names, the top stages
    * by wall, and how much of the span the jobs cover: the rest is driver
    * time (planning, codegen, superstep glue), the fixed floor that Amdahl
    * charges 4x against the 4-executor leg. It returns the counts of jobs
    * started, stages completed and their tasks. */
  final class JobListener extends SparkListener {
    private var started = 0
    private val running = mutable.HashMap.empty[Int, Long]
    private val stageJob = mutable.HashMap.empty[Int, Int]
    private val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)]
    private val stages = mutable.ArrayBuffer.empty[(Int, Stage)]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      started += 1
      running(e.jobId) = e.time
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      running.remove(e.jobId).foreach(t0 => jobs += ((e.jobId, t0, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val wall = (for { s <- i.submissionTime; c <- i.completionTime } yield c - s).getOrElse(0L)
      stages += ((stageJob.getOrElse(i.stageId, -1), Stage(i.stageId,
        i.name.takeWhile(_ != '\n').take(90), i.numTasks, wall, i.taskMetrics.executorRunTime)))
    }

    def reset(): Unit = synchronized {
      started = 0; running.clear(); stageJob.clear(); jobs.clear(); stages.clear()
    }

    def report(label: String): (Int, Int, Int) = synchronized {
      val err = System.err
      val byJob = stages.groupMap(_._1)(_._2)
      jobs.sortBy(_._1).foreach { case (id, t0, t1) =>
        err.println(f"[job] $label $id%4d ${t1 - t0}%7dms " +
          byJob.getOrElse(id, Nil).map(_.name).mkString(" | "))
      }
      stages.map(_._2).sortBy(-_.wallMs).take(15).foreach { s =>
        err.println(f"[stage] $label ${s.id}%5d tasks=${s.tasks}%4d wall=${s.wallMs}%7dms " +
          f"taskTime=${s.taskMs}%8dms  ${s.name}")
      }
      // union of job intervals: concurrent side jobs overlap
      val merged = jobs.map(j => (j._2, j._3)).sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
        case ((s, e) :: tail, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: tail
        case (acc, iv) => iv :: acc
      }
      val covered = merged.map { case (s, e) => e - s }.sum
      val span = if (jobs.isEmpty) 0L else jobs.map(_._3).max - jobs.map(_._2).min
      val tasks = stages.map(_._2.tasks).sum
      err.println(s"[jobs] $label jobs=$started stages=${stages.size} tasks=$tasks " +
        s"jobCoveredMs=$covered spanMs=$span driverGapMs=${span - covered}")
      (started, stages.size, tasks)
    }
  }

  /** `body` with a fresh [[JobListener]] on the session's bus. */
  private def listening[A](spark: SparkSession)(body: JobListener => A): A = {
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    try body(listener) finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Let the listener bus deliver the events of the jobs that just ran. */
  private def drain(): Unit = Thread.sleep(50)

  /** Writes `.explain("formatted")` of every declared query (or of those in
    * `only`) to `<outDir>/<name>.txt`. */
  def plans(spark: SparkSession, sfDir: String, outDir: String, only: Set[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.isEmpty || only.contains(name)) {
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(outDir, s"$name.txt"), plan)
          System.err.println(s"[plans] $name -> $outDir/$name.txt")
        } catch { case e: Throwable =>
          System.err.println(s"[plans] $name FAILED: ${e.getMessage}") }
      }
    }
  }

  /** Times the named queries (all when `only` is empty) in isolation with the
    * noop sink, `repeats` times each, and returns one line per query: wall
    * min/median, the last repeat's jobs, stages and tasks, every repeat's
    * wall, and per repeat the classes Janino compiled and their compile
    * time. `crawl_rate` names `graft.Bench`'s crawl-rate leaf: its 100k-page
    * cache is built before the first repeat, and a repeat times only
    * `runPrepared`. */
  def queries(spark: SparkSession, sfDir: String, cpus: Int, repeats: Int,
      only: Set[String]): Seq[String] = listening(spark) { jobs =>
    def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val crawlRate: Option[() => Unit] = if (!only.contains("crawl_rate")) None else {
      val spec = Fixtures.SiteSpec(nHosts = 100, pagesPerHost = 1000, fanMin = 12, fanRand = 4)
      val cfg = Schemas.CrawlConfig(maxDepth = 4, partitions = cpus, recordStreams = false)
      val prep = SparkCrawler.preparePages(Fixtures.pagesDf(spark, spec), cpus)
      prep.count()
      Some(() => { SparkCrawler.runPrepared(spark, prep, Fixtures.seedsAll(spec), cfg); () })
    }
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.contains(n) }
      .map { case (n, fn) => n -> (() => force(fn(spark, sfDir))) } ++
      crawlRate.map("crawl_rate" -> _)
    // JVM-wide, driver and tasks alike (local mode): classes compiled, and
    // their compile time in ns
    def compiled = (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
    named.map { case (name, body) =>
      val ts = (1 to repeats).map { r =>
        spark.sparkContext.setJobDescription(s"$name rep$r")
        jobs.reset()
        val (c0, ns0) = compiled
        val t0 = System.nanoTime()
        body()
        val dt = (System.nanoTime() - t0) / 1e9
        drain()
        val (c1, ns1) = compiled
        val (nJobs, nStages, nTasks) = jobs.report(s"$name rep$r")
        (dt, nJobs, nStages, nTasks, c1 - c0, (ns1 - ns0) / 1e6)
      }
      spark.sparkContext.setJobDescription(null)
      val t = ts.map(_._1)
      f"$name%-24s min=${t.min}%.3f med=${t.sorted.apply(t.size / 2)}%.3f " +
        f"jobs=${ts.last._2} stages=${ts.last._3} tasks=${ts.last._4} " +
        f"all=${t.map(x => f"$x%.3f").mkString(",")} " +
        f"classes=${ts.map(_._5).mkString(",")} " +
        f"compile_ms=${ts.map(x => f"${x._6}%.0f").mkString(",")}"
    }
  }

  /** One scaling level's result; [[line]] is what `crawl` appends and
    * `crawl-report` parses. */
  final case class LevelResult(cores: Int, wallSec: Double, urls: Long, urlsPerSec: Double,
      steps: Vector[SparkCrawler.StepStat], metrics: Map[String, Long]) {
    def line: String = {
      val st = steps.map(s =>
        s"${s.depth}:${s.frontierSize}:${s.wallMs}:${s.fetched}:${s.candidates}:${s.intervals}")
      val ms = metrics.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
      f"cores=$cores wall=$wallSec%.2f urls=$urls rate=$urlsPerSec%.1f " +
        s"steps=${st.mkString(",")} metrics=${ms.mkString(",")}"
    }
  }

  object LevelResult {
    def parse(line: String): LevelResult = {
      val kv = line.trim.split(" ").map { t => val Array(k, v) = t.split("=", 2); k -> v }.toMap
      val steps = kv("steps").split(",").toVector.map { s =>
        val p = s.split(":")
        SparkCrawler.StepStat(p(0).toInt, p(1).toLong, p(3).toLong, 0L, p(4).toLong, 0L, 0L,
          p(5).toInt, p(2).toLong)
      }
      val metrics = kv("metrics").split(",").map { m =>
        val Array(k, v) = m.split("=", 2); k -> v.toLong }.toMap
      LevelResult(kv("cores").toInt, kv("wall").toDouble, kv("urls").toLong, kv("rate").toDouble,
        steps, metrics)
    }
  }

  /** `crawl`'s optional site arguments: nHosts pph skew (maxDepth) fanMin fanRand. */
  private def specFrom(args: Array[String]): Fixtures.SiteSpec =
    Fixtures.SiteSpec(
      nHosts = args.lift(0).map(_.toInt).getOrElse(200),
      pagesPerHost = args.lift(1).map(_.toInt).getOrElse(500),
      skewFactor = args.lift(2).map(_.toInt).getOrElse(1),
      fanMin = args.lift(4).map(_.toInt).getOrElse(8),
      fanRand = args.lift(5).map(_.toInt).getOrElse(4))

  /** One scaling level: the identical crawl (same generated input, same
    * seeds, same politeness budget, same salt fan-outs) timed over a
    * pages cache built beforehand. Run each level in a fresh JVM: a second
    * session in one JVM measures slower. */
  def crawl(spark: SparkSession, cores: Int, spec: Fixtures.SiteSpec,
      maxDepth: Int): LevelResult = listening(spark) { jobs =>
    // partition count is data-sized, not core-sized (the same logical job at
    // every level): `rowsPerTask` (25k) pages per partition caps a serialized
    // cache block at ~40 MB. At deep frontiers the working set (pages + seen
    // deltas) exceeds the off-heap pool, blocks bounce via disk, and each
    // bounce re-allocates a whole block on heap; 32 partitions of a 4M-page table
    // made those 190 MB apiece (executor heap OOM in
    // BlockManager.maybeCacheDiskBytesInMemory).
    val parts = math.max(math.max(32, cores),
      (spec.totalRows / SparkCrawler.rowsPerTask.value).toInt)
    val cfg = Schemas.CrawlConfig(maxDepth = maxDepth, partitions = parts, recordStreams = false)
    val pagesPrep = SparkCrawler.preparePages(Fixtures.pagesDf(spark, spec), parts)
    pagesPrep.count()
    drain()
    jobs.reset()
    val t0 = System.nanoTime()
    val run = SparkCrawler.runPrepared(spark, pagesPrep, Fixtures.seedsAll(spec), cfg)
    val wall = (System.nanoTime() - t0) / 1e9
    drain()
    jobs.report(s"crawl cores=$cores")
    val urls = run.metrics("total_requests")
    LevelResult(cores, wall, urls, urls / wall, run.steps, run.metrics)
  }

  /** The scaling report over `crawl`'s result lines in `outFile`: best rate
    * per level (load on a shared host only ever slows a run), the efficiency
    * (R_hi / R_lo) / (hi / lo) between the lowest and highest level, and the
    * per-superstep walls. */
  def crawlReport(outFile: String): String = {
    val results = Files.readAllLines(Paths.get(outFile)).toArray.toVector
      .map(_.toString).filter(_.nonEmpty).map(LevelResult.parse)
      .groupBy(_.cores).values.map(_.maxBy(_.urlsPerSec)).toVector.sortBy(_.cores)
    require(results.size >= 2, "need at least two levels")
    val lo = results.head; val hi = results.last
    val ratio = hi.cores.toDouble / lo.cores
    val eff = (hi.urlsPerSec / lo.urlsPerSec) / ratio
    val sb = new StringBuilder
    sb.append("Identical input, seeds (one per host) and politeness budget at every level;\n")
    sb.append("salt fan-out sized per superstep; each level in a fresh JVM with\n")
    sb.append("spark.sql.shuffle.partitions = max(2 * cores, rows / " +
      f"${SparkCrawler.rowsPerTask.value}%,d).\n\n")
    sb.append("| cores | wall (s) | URLs fetched | URLs/s |\n|---|---|---|---|\n")
    results.foreach(r => sb.append(f"| ${r.cores} | ${r.wallSec}%.1f | ${r.urls} | ${r.urlsPerSec}%.1f |\n"))
    sb.append(f"\n**Scaling efficiency (R_${hi.cores} / R_${lo.cores}) / $ratio%.2f = $eff%.3f**" +
      " (target >= 0.8)\n\n")
    sb.append("Per-superstep wall (ms):\n\n")
    sb.append("| depth | frontier | candidates | " + results.map(r => s"${r.cores} cores").mkString(" | ") + " |\n")
    sb.append("|---|---|---|" + results.map(_ => "---").mkString("|") + "|\n")
    lo.steps.indices.foreach { i =>
      val d = lo.steps(i)
      sb.append(s"| ${d.depth} | ${d.frontierSize} | ${d.candidates} | " +
        results.map(r => r.steps.lift(i).map(_.wallMs.toString).getOrElse("-")).mkString(" | ") + " |\n")
    }
    sb.append("\nReference metric counters (the same crawl at every level): " +
      hi.metrics.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(", ") + "\n")
    sb.toString
  }

  /** Connected components at volume on the partitioned path: `tinyPairs`
    * disjoint pairs (the LSH-dominant shape: millions of tiny components)
    * plus one `chainLen` chain (the adversarial diameter case), far above
    * `Dedup.smallGraphEdges` (4M edges). Prints wall time and peak cached
    * storage (sampled); `SPARK_GRAFT_CC_LOG=1` adds the per-round change
    * counts. Fails unless every chain node reaches cluster 0 and exactly one
    * representative per component is kept. */
  def cc(spark: SparkSession, tinyPairs: Long, chainLen: Long): Unit = listening(spark) { jobs =>
    // chain 0-1-2-...-(chainLen-1), then disjoint pairs (2i+B, 2i+1+B)
    val chain = spark.range(chainLen - 1)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val tiny = spark.range(tinyPairs)
      .select((col("id") * 2 + chainLen).as("id_a"), (col("id") * 2 + 1 + chainLen).as("id_b"))
    @volatile var running = true
    @volatile var peakBytes = 0L
    val sampler = new Thread(() => while (running) {
      val s = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      if (s > peakBytes) peakBytes = s
      Thread.sleep(100)
    }, "cc-storage-sampler")
    sampler.setDaemon(true); sampler.start()

    val t0 = System.nanoTime()
    val out = Dedup.nearDupClusters(chain.unionByName(tiny), maxIter = 100)
    val (nRows, nKeep) = {
      val r = out.agg(count(lit(1)), sum(col("keep"))).first()
      (r.getLong(0), r.getLong(1))
    }
    val badChain = out.where(col("id") < chainLen && col("cluster_id") =!= 0L).count()
    val wall = (System.nanoTime() - t0) / 1e9
    running = false
    drain()
    jobs.report("cc")

    val edges = 2L * (chainLen - 1 + tinyPairs)
    val expectRows = chainLen + 2L * tinyPairs
    val expectKeep = 1L + tinyPairs
    println(f"[cc] edges=$edges rows=$nRows (expect $expectRows) " +
      f"keep=$nKeep (expect $expectKeep) badChain=$badChain " +
      f"wall=$wall%.1fs peakCachedMB=${peakBytes / 1024 / 1024}")
    require(nRows == expectRows && nKeep == expectKeep && badChain == 0L,
      "clustering incorrect at volume")
  }

  /** The persisted prepared-pages snapshot against the per-session prep
    * (canonicalize + shuffle + dedup + sort + materialize): times both, runs
    * one crawl from each, and fails unless their counters match. Both legs
    * read the raw corpus from parquet first, as at the design point, so the
    * delta isolates what the snapshot removes, not synthetic-source
    * generation. */
  def prep(spark: SparkSession, cpus: Int, nHosts: Int, perHost: Int): Unit =
    listening(spark) { jobs =>
      val spec = Fixtures.SiteSpec(nHosts = nHosts, pagesPerHost = perHost,
        fanMin = 12, fanRand = 4)
      val cfg = Schemas.CrawlConfig(maxDepth = 2, partitions = cpus, recordStreams = false)
      val tmp = Files.createTempDirectory("prep_tool")
      def timed[A](tag: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"[prep] $tag ${(System.nanoTime() - t0) / 1e9}%.2fs"); r
      }
      try {
        jobs.reset()
        val rawDir = s"$tmp/raw"
        val dir = s"$tmp/pages"
        Fixtures.pagesDf(spark, spec).write.parquet(rawDir)
        val session = timed(s"session prep from raw parquet ($nHosts x $perHost)") {
          val p = SparkCrawler.preparePages(spark.read.parquet(rawDir), cpus)
          p.count(); p
        }
        timed("snapshot write (one-time)")(Storage.writePreparedPages(session, dir))
        val mA = timed("crawl from session prep")(
          SparkCrawler.runPrepared(spark, session, Fixtures.seedsAll(spec), cfg)).metrics
        session.unpersist()
        val stored = timed("snapshot read (zero-shuffle leaf + cache materialize)") {
          val s = Storage.readPreparedPages(spark, dir)
          s.count(); s
        }
        val mB = timed("crawl from stored prep")(
          SparkCrawler.runPrepared(spark, stored, Fixtures.seedsAll(spec), cfg)).metrics
        stored.unpersist()
        drain()
        jobs.report("prep")
        println(s"[prep] counters identical: ${mA == mB} ($mA)")
        require(mA == mB, "crawl counters differ between session prep and stored snapshot")
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
}
