package graft

import org.apache.spark.sql.functions._
import graft.wbot.{Politeness, Schemas}
import graft.wbot.Schemas.{Budget, CrawlConfig}

/**
 * O2 drain-order unit properties: the frontier drains as a depth/score
 * priority queue expressed as a ranked window — higher scores occupy earlier
 * rate intervals within a host; constant score degenerates to pure FIFO.
 */
class PolitenessSpec extends SparkSuite {

  private def frontier(rows: Seq[(String, Long, Long)]) = { // (root, score, seq)
    import spark.implicits._
    rows.toDF("root", "score", "seq")
      .withColumn("depth", lit(0))
      .withColumn("hash64", xxhash64(col("seq")))
  }

  test("higher scores drain in earlier intervals within a host") {
    val cfg = CrawlConfig(rateLimits = Map("*" -> Budget(2, 1000L)))
    val f = frontier(Seq(
      ("a.com", 10L, 0L), ("a.com", 50L, 1L), ("a.com", 30L, 2L),
      ("a.com", 50L, 3L), ("a.com", 90L, 4L), ("b.com", 1L, 5L)))
    val out = Politeness.assignIntervals(f, cfg, saltFanout = 1)
      .select("root", "seq", "interval").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    // a.com drain order by (score desc, seq): 4(90), 1(50), 3(50), 2(30), 0(10)
    // budget 2 → intervals: 4,1 → 0; 3,2 → 1; 0 → 2
    assert(out == Set(
      ("a.com", 4L, 0), ("a.com", 1L, 0),
      ("a.com", 3L, 1), ("a.com", 2L, 1),
      ("a.com", 0L, 2), ("b.com", 5L, 0)))
  }

  test("constant score is exactly the FIFO drain (seq order)") {
    val cfg = CrawlConfig(rateLimits = Map("*" -> Budget(2, 1000L)))
    val rows = (0L until 10L).map(i => ("a.com", 0L, i))
    val out = Politeness.assignIntervals(frontier(rows), cfg, saltFanout = 1)
      .select("seq", "interval").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert((0L until 10L).forall(i => out(i) == (i / 2).toInt))
  }

  test("salted drain never exceeds budget and respects score within a salt") {
    val cfg = CrawlConfig(rateLimits = Map("*" -> Budget(3, 1000L)))
    val rows = (0L until 200L).map(i => ("a.com", i % 7, i))
    val out = Politeness.assignIntervals(frontier(rows), cfg, saltFanout = 16)
    val over = out.groupBy("root", "interval").count()
      .where(col("count") > 3).count()
    assert(over == 0, "salted schedule exceeded budget")
  }

  test("salt fan-out: 1 up to one task's rows, observed skew above, 16 without evidence") {
    val cfg = CrawlConfig()
    val bound = graft.wbot.SparkCrawler.rowsPerTask.value
    // the whole frontier fits one task: no salting, whatever the evidence
    assert(Politeness.saltFanout(cfg, 20L, 0L, 0, 32, bound) == 1)
    assert(Politeness.saltFanout(cfg, bound, 0L, 0, 32, bound) == 1)
    assert(Politeness.saltFanout(cfg, bound, bound / 2, 500, 32, bound) == 1)
    // above the bound with no previous superstep: the conservative 16
    assert(Politeness.saltFanout(cfg, bound + 1, 0L, 0, 32, bound) == 16)
    // above the bound, skewed: 500 intervals × budget 10 over 50k rows →
    // ≈ 10k rows of the biggest host at 100k rows vs a 3,125-row share
    assert(Politeness.saltFanout(cfg, 100000L, 50000L, 500, 32, bound) == 4)
    // above the bound, uniform hosts: one interval → no fan-out
    assert(Politeness.saltFanout(cfg, 100000L, 50000L, 1, 32, bound) == 1)
    // bound 0: every non-empty frontier is above it
    assert(Politeness.saltFanout(cfg, 1L, 0L, 0, 32, 0L) == 16)

    // the salted plan at the fan-out the rule picks for a skewed frontier
    // above the bound: same per-(host, interval) loads as the exact rank
    val cfg3 = CrawlConfig(rateLimits = Map("*" -> Budget(3, 1000L)))
    val n = bound + 5000L
    val rows = (0L until n).map(i => (if (i % 5 == 0) s"h${i % 50}.com" else "big.com", i % 7, i))
    val fanout = Politeness.saltFanout(cfg3, n, n, (n * 4 / 5 / 3).toInt, 32, bound)
    assert(fanout > 1)
    def loads(saltFanout: Int) =
      Politeness.assignIntervals(frontier(rows), cfg3, saltFanout)
        .groupBy("root", "interval").count().collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val salted = loads(fanout)
    assert(salted.values.forall(_ <= 3L), "salted schedule exceeded budget")
    assert(salted == loads(1))
  }
}
