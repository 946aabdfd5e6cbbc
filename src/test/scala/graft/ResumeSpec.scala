package graft

import graft.wbot._
import graft.wbot.Schemas._
import java.nio.file.Files

/** §5.2.5: kill after superstep k, resume from the snapshot tables, final
  * (order, seen, metrics) identical to the uninterrupted run. */
class ResumeSpec extends SparkSuite {

  test("resume after interrupted superstep reproduces the uninterrupted run") {
    val spec = Fixtures.tiny
    val seeds = Fixtures.seeds(spec)
    val dir = Files.createTempDirectory("wbot_ckpt").toString
    val cfgFull = CrawlConfig(maxDepth = 3, partitions = 4, checkpointDir = Some(dir))

    val pages = SparkTestBase.pagesDf(spec)
    val pagesPrep = SparkCrawler.preparePages(pages, 4)

    // "crash" after 2 supersteps
    SparkCrawler.runPrepared(spark, pagesPrep, seeds, cfgFull.copy(maxSupersteps = 2))
    // resume to completion from the committed snapshot
    val resumed = SparkCrawler.resumePrepared(spark, pagesPrep, cfgFull)

    // ground truth: oracle
    val oracle = Oracle.run(Fixtures.oraclePages(spec), seeds, cfgFull)
    val order = resumed.order.orderBy("seq")
      .select("seq", "url", "canon", "hash", "depth").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getInt(4))).toVector
    assert(order == oracle.order.map(c => (c.seq, c.url, c.canon, c.hash, c.depth)))
    assert(resumed.seen.count() == oracle.seen.size) // no double-committed delta
    assert(resumed.seen.select("hash").collect().map(_.getString(0)).toSet == oracle.seen)
    assert(resumed.metrics == oracle.metrics)
    pagesPrep.unpersist()
  }

  test("bucketed seen commits: fold supersedes, aligned resume adds no seen-side exchange") {
    val spec = Fixtures.tiny
    val seeds = Fixtures.seeds(spec)
    val dir = Files.createTempDirectory("wbot_ckpt_fold").toString
    val pages = SparkTestBase.pagesDf(spec)
    val pagesPrep = SparkCrawler.preparePages(pages, 4)
    // calibrate the bound so step 0 commits SMALL (deferred, plain parquet)
    // and step 1 CROSSES it — exercising the full storage protocol at
    // fixture scale: small plain commit, the superseding FOLD commit
    // (seen_base_step advances), bucket-partitioned aligned commit, and the
    // zero-shuffle aligned resume
    val probe = SparkCrawler.runPrepared(spark, pagesPrep, seeds,
      CrawlConfig(maxDepth = 3, partitions = 4, maxSupersteps = 2))
    assert(probe.steps.length == 2 && probe.steps.forall(_.fresh > 0), s"${probe.steps}")
    val cfgFull = CrawlConfig(maxDepth = 3, partitions = 4, checkpointDir = Some(dir),
      smallSeenBound = probe.steps(0).fresh)
    SparkCrawler.runPrepared(spark, pagesPrep, seeds, cfgFull.copy(maxSupersteps = 2))

    // crash-point snapshot: the fold advanced the compaction point, and the
    // committed seen store reconstructs as an ALIGNED leaf at session width
    val st = new Storage(dir)
    val snap = st.readManifest().get
    assert(snap.seenBaseStep >= 0, "fold commit did not advance seen_base_step")
    val alignP = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val deltas = st.readSeenDeltas(spark, snap.lastStep, snap.seenBaseStep, alignP, 160L)
    assert(deltas.nonEmpty && deltas.forall(_.aligned),
      s"post-fold deltas must all load aligned: ${deltas.map(_.aligned)}")
    // superseded pre-fold smalls are compacted away from the layout-free view
    val seenRows = st.readSeenDeltas(spark, snap.lastStep, snap.seenBaseStep, wantP = -1,
      rowBytes = 1L).map(_.df).reduce(_ unionByName _)
    assert(seenRows.count() == seenRows.select("canon").distinct().count(),
      "superseding fold double-counts pre-fold deltas")

    // the engine's large-seen anti-join shape over the RESUMED aligned leaves:
    // exactly ONE exchange (candidate side) — the committed bucket layout
    // feeds the join with no shuffle and no sort on the seen side
    import spark.implicits._
    val u = org.apache.spark.sql.graftbridge.DatasetBridge.alignedUnion(
      deltas.map(_.df), Seq("canon"), alignP)
    val cand = (1 to 50).map(i => (s"http://x$i.example.com/", i)).toDF("canon", "v")
    val anti = cand.join(u.select("canon").hint("shuffle_hash"), Seq("canon"), "left_anti")
    assert(anti.count() == 50)
    val plan = anti.queryExecution.executedPlan.toString
    val finEnd = plan.indexOf("Initial Plan")
    val fin = plan.substring(plan.indexOf("Final Plan").max(0),
      if (finEnd < 0) plan.length else finEnd)
    assert(fin.contains("ShuffledHashJoin"), s"expected shuffled-hash anti-join:\n$fin")
    assert("Exchange".r.findAllIn(fin).size == 1, s"seen side re-shuffled:\n$fin")
    assert(!fin.contains("Sort "), s"unexpected sort in anti-join:\n$fin")

    // resume to completion: parity with the uninterrupted oracle run
    val resumed = SparkCrawler.resumePrepared(spark, pagesPrep, cfgFull)
    val oracle = Oracle.run(Fixtures.oraclePages(spec), seeds, cfgFull)
    val order = resumed.order.orderBy("seq")
      .select("seq", "url", "canon", "hash", "depth").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getInt(4))).toVector
    assert(order == oracle.order.map(c => (c.seq, c.url, c.canon, c.hash, c.depth)))
    assert(resumed.seen.count() == oracle.seen.size)
    assert(resumed.seen.select("hash").collect().map(_.getString(0)).toSet == oracle.seen)
    assert(resumed.metrics == oracle.metrics)
    pagesPrep.unpersist()
  }
}
