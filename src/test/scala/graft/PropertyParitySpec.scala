package graft

import graft.wbot._
import graft.wbot.Schemas._

/** §5.2.2: randomized small site graphs — Spark engine ≡ Oracle across
  * generator seeds, shapes, depths and budgets (the quirk cluster has no
  * fixed-fixture blind spots), each with the default row bound (windowed
  * politeness ranks) and with a 1-row bound (salted ranks). */
class PropertyParitySpec extends SparkSuite {

  private def parity(spec: Fixtures.SiteSpec, seeds: Seq[String], cfg: CrawlConfig): Unit = {
    val oracle = Oracle.run(Fixtures.oraclePages(spec), seeds, cfg)
    for (bound <- Seq(SparkCrawler.rowsPerTask.value, 1L)) {
      val run = SparkCrawler.rowsPerTask.withValue(bound) {
        SparkCrawler.run(spark, SparkTestBase.pagesDf(spec), seeds, cfg)
      }
      val what = s"spec=$spec, bound=$bound"
      assert(run.steps.exists(_.saltFanout > 1) == (bound == 1L), s"$what: ${run.steps}")
      val engineOrder = run.order.orderBy("seq")
        .select("seq", "canon", "depth").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toVector
      assert(engineOrder == oracle.order.map(c => (c.seq, c.canon, c.depth)),
        s"order mismatch for $what")
      assert(run.seen.select("hash").collect().map(_.getString(0)).toSet == oracle.seen,
        s"seen mismatch for $what")
      assert(run.metrics == oracle.metrics, s"metrics mismatch for $what")
    }
  }

  test("randomized graph #1: wide fan, shallow") {
    val spec = Fixtures.SiteSpec(nHosts = 4, pagesPerHost = 12, seed = 7L, fanMin = 6, fanRand = 2)
    parity(spec, Fixtures.seeds(spec), CrawlConfig(maxDepth = 2, partitions = 4))
  }

  test("randomized graph #2: skewed host, deeper, small budget") {
    val spec = Fixtures.SiteSpec(nHosts = 3, pagesPerHost = 10, skewFactor = 4, seed = 99L)
    parity(spec, Fixtures.seeds(spec), CrawlConfig(maxDepth = 4, partitions = 4,
      rateLimits = Map("*" -> Budget(2, 1000L))))
  }

  test("randomized graph #3: many hosts all seeded, odd seed") {
    val spec = Fixtures.SiteSpec(nHosts = 6, pagesPerHost = 8, seed = 12345L, fanMin = 2, fanRand = 4)
    parity(spec, Fixtures.seedsAll(spec), CrawlConfig(maxDepth = 3, partitions = 4))
  }

  test("distributed fixture generation is bit-identical to driver-side") {
    val spec = Fixtures.SiteSpec(nHosts = 4, pagesPerHost = 15, seed = 31L)
    val dist = Fixtures.pagesDf(spark, spec)
      .select("url", "html", "text", "lang").collect()
      .map(r => (r.getString(0), new String(r.getAs[Array[Byte]](1), "UTF-8"), r.getString(2), r.getString(3)))
      .sortBy(_._1)
    val local = Fixtures.allPages(spec)
      .map(p => (p.url, new String(p.html, "UTF-8"), p.text, p.lang)).sortBy(_._1)
    assert(dist.toVector == local)
  }

  test("politeness property: salted schedule never exceeds budget per (root, interval)") {
    val spec = Fixtures.SiteSpec(nHosts = 3, pagesPerHost = 30, skewFactor = 5, seed = 5L)
    val budget = 4
    val cfg = CrawlConfig(maxDepth = 3, partitions = 4,
      rateLimits = Map("*" -> Budget(budget, 1000L)))
    // a 1-row bound salts every frontier of more than one row
    val run = SparkCrawler.rowsPerTask.withValue(1L) {
      SparkCrawler.run(spark, SparkTestBase.pagesDf(spec), Fixtures.seeds(spec), cfg)
    }
    assert(run.steps.exists(_.saltFanout > 1), run.steps.mkString("\n"))
    // reconstruct per-(superstep, root, interval) loads from the stream
    import org.apache.spark.sql.functions.col
    val over = run.order
      .withColumn("root", Udfs.parseUrl(col("url")).getField("root"))
      .groupBy("superstep", "root", "interval").count()
      .where(col("count") > budget)
    assert(over.count() == 0, "politeness budget exceeded in some interval")
  }
}
