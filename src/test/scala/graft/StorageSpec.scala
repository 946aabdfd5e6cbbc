package graft

import graft.wbot._
import graft.wbot.Schemas._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr}
import java.io.File
import java.nio.file.{Files, Paths}

/** The snapshot-table contract of [[Storage]]: the manifest rename is the
  * commit point even when a table write fails mid-commit, and every declared
  * read schema is exactly what the engine's commits write. */
class StorageSpec extends SparkSuite {

  private val spec = Fixtures.tiny
  private val seeds = Fixtures.seeds(spec)

  private def assertMatchesOracle(run: SparkCrawler.CrawlRun, cfg: CrawlConfig): Unit = {
    val oracle = Oracle.run(Fixtures.oraclePages(spec), seeds, cfg)
    val order = run.order.orderBy("seq")
      .select("seq", "url", "canon", "hash", "depth").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getInt(4)))
      .toVector
    assert(order == oracle.order.map(c => (c.seq, c.url, c.canon, c.hash, c.depth)))
    assert(run.seen.count() == oracle.seen.size)
    assert(run.seen.select("hash").collect().map(_.getString(0)).toSet == oracle.seen)
    val attempts = run.attempts.orderBy("seq").select("seq", "canon", "depth", "hit")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getBoolean(3))).toVector
    assert(attempts == oracle.attempts)
    assert(run.metrics == oracle.metrics)
  }

  private def causes(e: Throwable): Iterator[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)

  private def delete(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(delete)
    f.delete(); ()
  }

  /** Replace the parquet table at `path` by `f` of its contents. */
  private def rewrite(path: String)(f: DataFrame => DataFrame): Unit = {
    val tmp = path + ".rewrite"
    f(spark.read.parquet(path)).write.parquet(tmp)
    delete(new File(path))
    Files.move(Paths.get(tmp), Paths.get(path))
  }

  test("crash mid-commit: a failed table write propagates, the old manifest stays the commit") {
    val dir = Files.createTempDirectory("wbot_ckpt_crash").toString
    val cfg = CrawlConfig(maxDepth = 3, partitions = 4, checkpointDir = Some(dir))
    val pagesPrep = SparkCrawler.preparePages(SparkTestBase.pagesDf(spec), 4)
    SparkCrawler.runPrepared(spark, pagesPrep, seeds, cfg.copy(maxSupersteps = 1))
    val st = new Storage(dir)
    val snap = st.readManifest().get
    assert(snap.lastStep == 0)

    // step 1's tables, each of which can be made to throw when its write runs
    val tables = Map(
      "frontier" -> st.readFrontier(spark, 0),
      "seen_delta" -> st.readSeenDeltas(spark, 0, -1, wantP = -1, rowBytes = 1L)
        .map(_.df).reduce(_ unionByName _),
      "crawled" -> st.readCrawled(spark, 0).get,
      "attempts" -> st.readAttempts(spark, 0).get)
    for (failing <- tables.keys.toSeq.sorted) {
      def table(name: String): DataFrame =
        if (name != failing) tables(name)
        else tables(name).where(expr("raise_error('injected commit failure') IS NULL"))
      val e = intercept[Exception] {
        st.commitStep(1, table("frontier"), 1L,
          Some(Storage.SeenCommit(table("seen_delta"), None, 1L, supersedesPrior = false)),
          table("crawled"), table("attempts"), snap.metrics + ("crawled_link" -> 1L),
          snap.seqBase + 1L, snap.seenBaseStep)
      }
      assert(causes(e).exists(c => Option(c.getMessage).exists(_.contains(
        "injected commit failure"))), s"$failing: unexpected error $e")
      assert(st.readManifest().get == snap, s"manifest moved past a failed $failing write")
    }

    // the torn step-1 directory is not part of the snapshot: resume from the
    // manifest reproduces the uninterrupted run, and its step-1 commit
    // starts from a clean directory (no leftovers of the failed writes)
    assertMatchesOracle(SparkCrawler.resumePrepared(spark, pagesPrep, cfg), cfg)
    val leftovers = new File(s"$dir/step=1").list().filter(_.endsWith(".tmp"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
    pagesPrep.unpersist()
  }

  test("a kill between step 1's table writes and its manifest rename resumes from step 0") {
    val pagesPrep = SparkCrawler.preparePages(SparkTestBase.pagesDf(spec), 4)
    val probe = SparkCrawler.runPrepared(spark, pagesPrep, seeds,
      CrawlConfig(maxDepth = 3, partitions = 4, maxSupersteps = 1))
    // a bound of step 0's fresh rows makes step 1's commit the fold; under
    // the default bound it commits a plain small delta
    for (fold <- Seq(true, false)) {
      val dir = Files.createTempDirectory("wbot_ckpt_kill").toString
      val cfg = CrawlConfig(maxDepth = 3, partitions = 4, checkpointDir = Some(dir),
        smallSeenBound = if (fold) probe.steps(0).fresh else CrawlConfig().smallSeenBound)
      SparkCrawler.runPrepared(spark, pagesPrep, seeds, cfg.copy(maxSupersteps = 1))
      val manifest = Paths.get(s"$dir/manifest.properties")
      val step0 = Files.readAllBytes(manifest)
      SparkCrawler.resumePrepared(spark, pagesPrep, cfg.copy(maxSupersteps = 1))
      val st = new Storage(dir)
      val snap = st.readManifest().get
      assert(snap.lastStep == 1, s"fold=$fold")
      assert((snap.seenBaseStep == 1) == fold, s"fold=$fold: seen_base_step ${snap.seenBaseStep}")
      // the kill: step 1's tables and side-car are all on disk, but the
      // manifest still names step 0
      Files.write(manifest, step0)
      assert(st.readManifest().get.lastStep == 0, s"fold=$fold")
      assert(new File(s"$dir/step=1/seen_delta.properties").exists(), s"fold=$fold")
      assertMatchesOracle(SparkCrawler.resumePrepared(spark, pagesPrep, cfg), cfg)
    }
    pagesPrep.unpersist()
  }

  test("a bucketed seen delta whose buckets are gone fails the resume") {
    val pagesPrep = SparkCrawler.preparePages(SparkTestBase.pagesDf(spec), 4)
    val probe = SparkCrawler.runPrepared(spark, pagesPrep, seeds,
      CrawlConfig(maxDepth = 3, partitions = 4, maxSupersteps = 1))
    // every bucket deleted, and only __bucket=0 (its URLs would be crawled
    // again as fresh)
    for (all <- Seq(true, false)) {
      val dir = Files.createTempDirectory("wbot_ckpt_nobuckets").toString
      val cfg = CrawlConfig(maxDepth = 3, partitions = 4, checkpointDir = Some(dir),
        smallSeenBound = probe.steps(0).fresh)
      SparkCrawler.runPrepared(spark, pagesPrep, seeds, cfg.copy(maxSupersteps = 2))
      val snap = new Storage(dir).readManifest().get
      assert(snap.seenBaseStep == 1, s"step 1 is not the fold: ${snap.seenBaseStep}")
      val seenDir = new File(s"$dir/step=1/seen_delta")
      val buckets = seenDir.listFiles().filter(_.getName.startsWith("__bucket="))
      assert(buckets.size > 1 && buckets.exists(_.getName == "__bucket=0"),
        seenDir.list().mkString(","))
      buckets.filter(b => all || b.getName == "__bucket=0").foreach(delete)
      // at the committed width (aligned read) and at another (flat read)
      for (c <- Seq(cfg, cfg.copy(seenAlignPartitions = Some(2)))) {
        val e = intercept[IllegalStateException](SparkCrawler.resumePrepared(spark, pagesPrep, c))
        assert(e.getMessage.contains("step 1") && (all || e.getMessage.contains("__bucket=0")),
          s"all=$all: ${e.getMessage}")
      }
    }
    pagesPrep.unpersist()
  }

  private def manifestProps(dir: String): java.util.Properties = {
    val props = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(s"$dir/manifest.properties"))
    try props.load(in) finally in.close()
    props
  }

  test("manifest records the committed frontier's row count; a manifest without it resumes") {
    val pagesPrep = SparkCrawler.preparePages(SparkTestBase.pagesDf(spec), 4)
    val dir = Files.createTempDirectory("wbot_ckpt_rows").toString
    val cfg = CrawlConfig(maxDepth = 3, partitions = 4, checkpointDir = Some(dir))
    val st = new Storage(dir)
    // one superstep per call: every step's manifest is checked, the
    // terminal one (no next frontier) included
    for (step <- 0 to 3) {
      val c = cfg.copy(maxSupersteps = 1)
      if (step == 0) SparkCrawler.runPrepared(spark, pagesPrep, seeds, c)
      else SparkCrawler.resumePrepared(spark, pagesPrep, c)
      val snap = st.readManifest().get
      assert(snap.lastStep == step)
      val rows = st.readFrontier(spark, step).count()
      assert((rows == 0L) == (step == 3), s"step $step: $rows frontier rows")
      assert(manifestProps(dir).getProperty("frontier_rows") == rows.toString, s"step $step")
      assert(snap.frontierRows.contains(rows), s"step $step: ${snap.frontierRows}")
    }

    // a manifest written before `frontier_rows` existed: the resume counts
    // the frontier instead, and still reproduces the uninterrupted run
    val dirOld = Files.createTempDirectory("wbot_ckpt_rows_old").toString
    val cfgOld = cfg.copy(checkpointDir = Some(dirOld))
    SparkCrawler.runPrepared(spark, pagesPrep, seeds, cfgOld.copy(maxSupersteps = 2))
    val props = manifestProps(dirOld)
    assert(props.remove("frontier_rows") != null)
    val out = Files.newOutputStream(Paths.get(s"$dirOld/manifest.properties"))
    try props.store(out, "manifest without frontier_rows") finally out.close()
    assert(new Storage(dirOld).readManifest().get.frontierRows.isEmpty)
    assertMatchesOracle(SparkCrawler.resumePrepared(spark, pagesPrep, cfgOld), cfgOld)
    pagesPrep.unpersist()
  }

  test("declared read schemas equal the footers' schemas; legacy tables migrate or fail") {
    val pagesPrep = SparkCrawler.preparePages(SparkTestBase.pagesDf(spec), 4)
    // the bound that makes step 0 commit a small plain delta and step 1 the
    // bucketed fold (as in ResumeSpec); step 2, the last expansion, commits
    // plain again
    val probe = SparkCrawler.runPrepared(spark, pagesPrep, seeds,
      CrawlConfig(maxDepth = 3, partitions = 4, maxSupersteps = 1))
    def cfgAt(dir: String) = CrawlConfig(maxDepth = 3, partitions = 4,
      checkpointDir = Some(dir), smallSeenBound = probe.steps(0).fresh)

    val dir = Files.createTempDirectory("wbot_ckpt_schema").toString
    SparkCrawler.runPrepared(spark, pagesPrep, seeds, cfgAt(dir).copy(maxSupersteps = 2))
    assertMatchesOracle(SparkCrawler.resumePrepared(spark, pagesPrep, cfgAt(dir)), cfgAt(dir))

    def inferred(path: String) = spark.read.parquet(path).schema
    val stepDirs = new File(dir).listFiles().filter(_.getName.startsWith("step=")).sortBy(_.getName)
    assert(stepDirs.length == 4, stepDirs.map(_.getName).mkString(","))
    var plain, bucketed = 0
    for (sd <- stepDirs) {
      for ((table, schema) <- Seq("frontier" -> Storage.FrontierSchema,
          "crawled" -> Storage.CrawledSchema, "attempts" -> Storage.AttemptsSchema))
        assert(inferred(s"$sd/$table") == schema, s"$sd/$table")
      val seen = new File(s"$sd/seen_delta")
      if (seen.exists()) {
        val buckets = seen.listFiles().filter(_.getName.startsWith("__bucket="))
        if (buckets.isEmpty) { plain += 1; assert(inferred(seen.toString) == Storage.SeenSchema) }
        else {
          bucketed += 1
          buckets.foreach(b => assert(inferred(b.toString) == Storage.SeenSchema, b.toString))
        }
      }
    }
    assert(plain >= 1 && bucketed >= 1, s"plain=$plain bucketed=$bucketed")

    // a frontier written before the `score` column existed resumes as FIFO
    val dirNoScore = Files.createTempDirectory("wbot_ckpt_noscore").toString
    SparkCrawler.runPrepared(spark, pagesPrep, seeds, cfgAt(dirNoScore).copy(maxSupersteps = 2))
    val st = new Storage(dirNoScore)
    val last = st.readManifest().get.lastStep
    rewrite(s"$dirNoScore/step=$last/frontier")(_.drop("score"))
    assert(!spark.read.parquet(s"$dirNoScore/step=$last/frontier").columns.contains("score"))
    assert(st.readFrontier(spark, last).where(col("score").isNull || col("score") =!= 0L)
      .isEmpty)
    assertMatchesOracle(SparkCrawler.resumePrepared(spark, pagesPrep, cfgAt(dirNoScore)),
      cfgAt(dirNoScore))

    // a seen delta without `canon` (pre-round-5, hash-keyed) fails loudly
    val dirNoCanon = Files.createTempDirectory("wbot_ckpt_nocanon").toString
    SparkCrawler.runPrepared(spark, pagesPrep, seeds, cfgAt(dirNoCanon).copy(maxSupersteps = 1))
    rewrite(s"$dirNoCanon/step=0/seen_delta")(_.drop("canon"))
    val e = intercept[IllegalArgumentException] {
      SparkCrawler.resumePrepared(spark, pagesPrep, cfgAt(dirNoCanon))
    }
    assert(e.getMessage.contains("canon-keyed"), e.getMessage)
    pagesPrep.unpersist()
  }
}
