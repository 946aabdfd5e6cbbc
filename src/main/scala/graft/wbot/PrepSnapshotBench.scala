package graft.wbot

import org.apache.spark.sql.SparkSession

/** Evidence leg for the persisted prepared-pages snapshot: times the
  * per-session corpus prep (canonicalize + shuffle + dedup + sort +
  * materialize) against reconstructing the same snapshot from its bucket
  * directories ([[SparkCrawler.readPreparedPages]]), then runs one crawl from
  * each and checks the counters match. Usage:
  *   sbt "runMain graft.wbot.PrepSnapshotBench [nHosts pagesPerHost]" */
object PrepSnapshotBench {
  def main(args: Array[String]): Unit = {
    val nHosts = args.headOption.map(_.toInt).getOrElse(100)
    val perHost = args.drop(1).headOption.map(_.toInt).getOrElse(1000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.memory.offHeap.enabled", "true")
      .config("spark.memory.offHeap.size", "8g")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val spec = Fixtures.SiteSpec(nHosts = nHosts, pagesPerHost = perHost,
      fanMin = 12, fanRand = 4)
    val cfg = Schemas.CrawlConfig(maxDepth = 2, partitions = cpus.toInt,
      recordStreams = false)
    val dir = java.nio.file.Files.createTempDirectory("prep_bench").toString + "/pages"

    def timed[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prep-bench] $tag ${(System.nanoTime() - t0) / 1e9}%.2fs"); r
    }
    // warm-up crawl (JIT/codegen, as in Bench)
    val warm = SparkCrawler.preparePages(Fixtures.pagesDf(spark, Fixtures.SiteSpec(2, 6)), 4)
    SparkCrawler.runPrepared(spark, warm, Fixtures.seeds(Fixtures.SiteSpec(2, 6)),
      Schemas.CrawlConfig(maxDepth = 2, partitions = 4))
    warm.unpersist()

    // stage the RAW corpus to parquet first: at the design point the source
    // is itself on storage (WARC/parquet), so both legs below pay a storage
    // read — the delta isolates what the snapshot removes (canonicalize +
    // full-corpus shuffle + dedup + sort), not synthetic-source generation
    val rawDir = java.nio.file.Files.createTempDirectory("prep_bench").toString + "/raw"
    Fixtures.pagesDf(spark, spec).write.parquet(rawDir)
    val prep = timed(s"session prep from raw parquet ($nHosts x $perHost)") {
      val p = SparkCrawler.preparePages(spark.read.parquet(rawDir), cpus.toInt)
      p.count(); p
    }
    timed("snapshot write (one-time)")(SparkCrawler.writePreparedPages(prep, dir))
    val mA = timed("crawl from session prep")(
      SparkCrawler.runPrepared(spark, prep, Fixtures.seedsAll(spec), cfg)).metrics
    prep.unpersist()
    val stored = timed("snapshot read (zero-shuffle leaf + cache materialize)") {
      val s = SparkCrawler.readPreparedPages(spark, dir)
      s.count(); s
    }
    val mB = timed("crawl from stored prep")(
      SparkCrawler.runPrepared(spark, stored, Fixtures.seedsAll(spec), cfg)).metrics
    println(s"[prep-bench] counters identical: ${mA == mB} ($mA)")
    spark.stop()
  }
}
