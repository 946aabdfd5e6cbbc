package graft

import org.apache.spark.sql.SparkSession

/** Optimization-round tooling, SEPARATE from the frozen Bench harness
  * (guide §1.4): `PlanDump` writes `.explain("formatted")` for every declared
  * query to a directory (the plans/r06 evidence files); `BenchExtra` times a
  * named subset of queries in isolation with the noop sink, N repeats each,
  * with labelled jobs and, per repeat, the classes Janino compiled and their
  * compile time. `BenchExtra crawl_rate` times Bench's crawl-rate leaf the
  * same way (only `runPrepared`, over a built pages cache). Neither is part
  * of the frozen harness. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outDir = args.headOption.getOrElse("/tmp/plans")
    val only = args.drop(1).toSet
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.memory.offHeap.enabled", "true")
      .config("spark.memory.offHeap.size", sys.env.getOrElse("SPARK_GRAFT_OFFHEAP", "8g"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.isEmpty || only.contains(name)) {
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val w = new java.io.PrintWriter(s"$outDir/$name.txt")
          try w.write(plan) finally w.close()
          System.err.println(s"[plandump] $name -> $outDir/$name.txt")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}

object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "3").toInt
    val only = args.toSet
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.memory.offHeap.enabled", "true")
      .config("spark.memory.offHeap.size", sys.env.getOrElse("SPARK_GRAFT_OFFHEAP", "8g"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same warm-up as Bench
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      val warmSpec = graft.wbot.Fixtures.SiteSpec(nHosts = 2, pagesPerHost = 6)
      val warmPrep = graft.wbot.SparkCrawler.preparePages(
        graft.wbot.Fixtures.pagesDf(spark, warmSpec), 4)
      graft.wbot.SparkCrawler.runPrepared(spark, warmPrep,
        graft.wbot.Fixtures.seeds(warmSpec),
        graft.wbot.Schemas.CrawlConfig(maxDepth = 2, partitions = 4))
      warmPrep.unpersist()
    } catch { case _: Throwable => }
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val logJobs = sys.env.contains("SPARK_GRAFT_JOB_LOG")
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      private val t0 = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (logJobs) t0.put(j.jobId, System.nanoTime())
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (logJobs) {
          val ms = (System.nanoTime() - t0.getOrDefault(j.jobId, System.nanoTime())) / 1e6
          System.err.println(f"[job] ${j.jobId}%3d ${ms}%7.0fms")
        }
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); tasks.addAndGet(s.stageInfo.numTasks)
        if (logJobs) System.err.println(
          f"[stage] ${s.stageInfo.stageId}%3d tasks=${s.stageInfo.numTasks}%3d ${s.stageInfo.name.take(90)}")
      }
    })
    // Bench's crawl-rate leaf, only when named: its 100k-page cache is built
    // before the first repeat, and a repeat times `runPrepared` alone
    val crawlRate: Option[() => Unit] = if (!only.contains("crawl_rate")) None else {
      val spec = graft.wbot.Fixtures.SiteSpec(nHosts = 100, pagesPerHost = 1000,
        fanMin = 12, fanRand = 4)
      val cfg = graft.wbot.Schemas.CrawlConfig(maxDepth = 4, partitions = cpus.toInt,
        recordStreams = false)
      val prep = graft.wbot.SparkCrawler.preparePages(
        graft.wbot.Fixtures.pagesDf(spark, spec), cpus.toInt)
      prep.count()
      Some(() => { graft.wbot.SparkCrawler.runPrepared(spark, prep,
        graft.wbot.Fixtures.seedsAll(spec), cfg, saltedPoliteness = true); () })
    }
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.contains(n) }
      .map { case (n, fn) => n -> (() => force(fn(spark, sfDir))) } ++
      crawlRate.map("crawl_rate" -> _)
    // JVM-wide, driver and tasks alike (local mode): classes compiled, and
    // their compile time in ns
    def compiled = (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
    val out = named.map { case (name, body) =>
      val ts = (1 to repeats).map { r =>
        spark.sparkContext.setJobDescription(s"$name rep$r")
        jobs.set(0); stages.set(0); tasks.set(0)
        val (c0, ns0) = compiled
        val t0 = System.nanoTime()
        body()
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(50) // let listener events drain
        val (c1, ns1) = compiled
        (dt, jobs.get, stages.get, tasks.get, c1 - c0, (ns1 - ns0) / 1e6)
      }
      spark.sparkContext.setJobDescription(null)
      name -> ts
    }
    out.foreach { case (n, ts) =>
      val t = ts.map(_._1)
      println(f"$n%-24s min=${t.min}%.3f med=${t.sorted.apply(t.size / 2)}%.3f " +
        f"jobs=${ts.last._2} stages=${ts.last._3} tasks=${ts.last._4} " +
        f"all=${t.map(x => f"$x%.3f").mkString(",")} " +
        f"classes=${ts.map(_._5).mkString(",")} " +
        f"compile_ms=${ts.map(x => f"${x._6}%.0f").mkString(",")}")
    }
    spark.stop()
  }
}
