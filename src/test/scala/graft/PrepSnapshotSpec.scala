package graft

import org.apache.spark.sql.functions._
import graft.wbot.{Fixtures, Schemas, SparkCrawler, Storage}

/**
 * Persisted prepared-pages snapshot (the pages-side analogue of the
 * bucket-aligned seen store): writing a [[SparkCrawler.preparePages]] result
 * and reading it back must reconstruct the exact layout — same crawl bytes,
 * no pages-side exchange/sort in the fetch join, and no canonicalize pass
 * over the corpus on the read path.
 */
class PrepSnapshotSpec extends SparkSuite {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("stored prep crawls byte-identical to in-session prep; read is sort/shuffle/canonicalize-free") {
    val spec = Fixtures.SiteSpec(nHosts = 3, pagesPerHost = 8)
    val cfg = Schemas.CrawlConfig(maxDepth = 2, partitions = 4)
    val dir = java.nio.file.Files.createTempDirectory("prep_snap").toString + "/pages"

    val prep = SparkCrawler.preparePages(SparkTestBase.pagesDf(spec), 4)
    val rows = Storage.writePreparedPages(prep, dir)
    assert(rows == prep.count())

    val stored = Storage.readPreparedPages(spark, dir)
    try {
      // 1. identical snapshot content, identical per-partition placement
      val a = prep.select("canon", "hash64").withColumn("pid", spark_partition_id())
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
      val b = stored.select("canon", "hash64").withColumn("pid", spark_partition_id())
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
      assert(a == b, "stored snapshot diverges from the in-session prep (content or layout)")

      // 2. byte-identical crawl both ways (order stream AND the 7 counters)
      def runWith(p: org.apache.spark.sql.DataFrame) = {
        val run = SparkCrawler.runPrepared(spark, p, Fixtures.seeds(spec), cfg)
        (run.order.orderBy("seq").collect().map(_.toSeq).toSeq, run.metrics)
      }
      val (ordA, mA) = runWith(prep)
      val (ordB, mB) = runWith(stored)
      assert(ordA == ordB, "crawl order diverges between stored and fresh prep")
      assert(mA == mB, "metrics diverge between stored and fresh prep")

      // 3. the merge fetch join sorts/exchanges ONLY the frontier side over
      //    the stored leaf (same assert shape as the pruned-scan test)
      val frontier = SparkCrawler.seedFrontier(spark, Fixtures.seeds(spec), cfg)
      val joined = frontier.hint("merge").join(stored.drop("hash64"), Seq("canon"), "left")
      joined.collect()
      val plan = planOf(joined)
      val finEnd = plan.indexOf("Initial Plan")
      val fin = plan.substring(math.max(0, plan.indexOf("Final Plan")),
        if (finEnd < 0) plan.length else finEnd)
      assert(fin.contains("SortMergeJoin"), s"expected sort-merge fetch join:\n$fin")
      assert("Exchange".r.findAllIn(fin).size == 1, s"pages side re-shuffled:\n$fin")
      assert("Sort ".r.findAllIn(fin).size == 1, s"pages side re-sorted:\n$fin")

      // 4. no canonicalize pass anywhere in the stored-prep scan
      val scanPlan = planOf(stored)
      assert(!scanPlan.toLowerCase.contains("canonicalize"),
        s"stored prep must not re-canonicalize the corpus:\n$scanPlan")

      // 5. the declared read schema is what every bucket's footers hold
      val buckets = new java.io.File(dir).listFiles().filter(_.getName.startsWith("__bucket="))
      assert(buckets.nonEmpty, s"no bucket directory under $dir")
      for (b <- buckets) {
        val footers = spark.read.parquet(b.toString).schema
        assert(footers == Storage.PreparedPagesSchema, s"$b: ${footers.toDDL}")
      }

      // 6. a snapshot that lost a bucket fails the read, naming the bucket
      val lost = buckets.filter(_.getName == "__bucket=1")
      assert(lost.nonEmpty, buckets.mkString(","))
      lost.flatMap(_.listFiles()).foreach(_.delete())
      lost.foreach(_.delete())
      val e = intercept[IllegalStateException](Storage.readPreparedPages(spark, dir))
      assert(e.getMessage.contains("__bucket=1"), e.getMessage)
    } finally {
      stored.unpersist()
      prep.unpersist()
    }
  }
}
