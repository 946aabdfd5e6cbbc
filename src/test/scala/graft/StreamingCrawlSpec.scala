package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.wbot._
import graft.wbot.Schemas._
import java.nio.file.{Files, Paths}

/** The streaming skin must produce exactly the batch engine's output: seeds
  * arriving as a stream → same crawl order + seen set as a direct run. */
class StreamingCrawlSpec extends SparkSuite {

  test("seed stream via foreachBatch reproduces the batch crawl") {
    val sp = spark
    import sp.implicits._
    val spec = Fixtures.tiny
    val cfg = CrawlConfig(maxDepth = 2, partitions = 4)
    val pagesPrep = SparkCrawler.preparePages(SparkTestBase.pagesDf(spec), 4)

    val out = Files.createTempDirectory("wbot_stream_out").toString
    val ckpt = Files.createTempDirectory("wbot_stream_ckpt").toString
    implicit val sqlCtx = sp.sqlContext
    val mem = MemoryStream[String]
    mem.addData(Fixtures.seeds(spec): _*)
    val q = StreamingCrawl.start(sp, mem.toDF(), pagesPrep, cfg, out, ckpt)
    q.awaitTermination(120000)

    val streamed = sp.read.parquet(s"$out/crawled").orderBy("seq")
      .select("seq", "canon", "depth").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toVector
    val direct = SparkCrawler.runPrepared(sp, pagesPrep, Fixtures.seeds(spec), cfg)
      .order.orderBy("seq").select("seq", "canon", "depth").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toVector
    assert(streamed == direct)

    val streamedSeen = sp.read.parquet(s"$out/seen").select("hash")
      .collect().map(_.getString(0)).toSet
    val oracleSeen = Oracle.run(Fixtures.oraclePages(spec), Fixtures.seeds(spec), cfg).seen
    assert(streamedSeen == oracleSeen)
    pagesPrep.unpersist()
  }

  test("each batch releases its caches once its rows are written: only the pages cache stays") {
    val sp = spark
    val sc = sp.sparkContext
    val spec = Fixtures.tiny
    // every seen delta aligned: a batch holds a fold store, the last rank
    // store and one order-stream checkpoint per superstep
    val cfg = CrawlConfig(maxDepth = 2, partitions = 4, smallSeenBound = 1L)
    val pagesPrep = SparkCrawler.preparePages(SparkTestBase.pagesDf(spec), 4)
    pagesPrep.count()
    def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val before = persisted
    // one seed per file, one file per batch: two batches
    val in = Files.createTempDirectory("wbot_release_seeds")
    Fixtures.seeds(spec).zipWithIndex.foreach { case (seed, i) =>
      Files.writeString(in.resolve(s"seeds$i.txt"), seed)
    }
    val out = Files.createTempDirectory("wbot_release_out").toString
    val ckpt = Files.createTempDirectory("wbot_release_ckpt").toString
    val q = StreamingCrawl.start(sp, sp.readStream.option("maxFilesPerTrigger", "1")
      .text(in.toString), pagesPrep, cfg, out, ckpt)
    q.awaitTermination(120000)
    assert(q.recentProgress.count(_.numInputRows > 0) == 2)
    val left = persisted -- before
    assert(left.isEmpty, s"${left.size} caches left persisted after the batches")
    assert(before.subsetOf(persisted), "the pages cache was released")
    assert(sp.read.parquet(s"$out/seen").count() > 0)
    pagesPrep.unpersist()
  }

  test("a batch replayed after a driver failure writes its rows once") {
    val sp = spark
    val spec = Fixtures.tiny
    val cfg = CrawlConfig(maxDepth = 2, partitions = 4)
    val pagesPrep = SparkCrawler.preparePages(SparkTestBase.pagesDf(spec), 4)
    val in = Files.createTempDirectory("wbot_replay_seeds")
    Files.writeString(in.resolve("seeds.txt"), Fixtures.seeds(spec).mkString("\n"))
    val out = Files.createTempDirectory("wbot_replay_out").toString
    val ckpt = Files.createTempDirectory("wbot_replay_ckpt").toString
    def batchIds(): Seq[Long] = {
      val q = StreamingCrawl.start(sp, sp.readStream.text(in.toString), pagesPrep, cfg, out, ckpt)
      q.awaitTermination(120000)
      q.recentProgress.toSeq.filter(_.numInputRows > 0).map(_.batchId)
    }
    assert(batchIds() == Seq(0L))
    // the driver died after batch 0's writes and before its commit
    Files.delete(Paths.get(ckpt, "commits", "0"))
    Files.deleteIfExists(Paths.get(ckpt, "commits", ".0.crc"))
    assert(batchIds() == Seq(0L), "the restart replays batch 0")

    val direct = SparkCrawler.runPrepared(sp, pagesPrep, Fixtures.seeds(spec), cfg)
    def rows(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.select(cols.head, cols.tail: _*).collect().map(_.toString).sorted.toSeq
    assert(rows(sp.read.parquet(s"$out/crawled"), "seq", "canon", "depth") ==
      rows(direct.order, "seq", "canon", "depth"))
    assert(rows(sp.read.parquet(s"$out/seen"), "hash") == rows(direct.seen, "hash"))
    pagesPrep.unpersist()
  }
}
