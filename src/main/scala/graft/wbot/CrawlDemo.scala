package graft.wbot

import org.apache.spark.sql.SparkSession

/**
 * Usage example / smoke entry point: crawl a deterministic synthetic web
 * end-to-end through the public engine API and print the stream, metrics and
 * per-superstep stats.
 *
 *   sbt "runMain graft.wbot.CrawlDemo [maxDepth] [nHosts] [pagesPerHost] [seed...]"
 */
object CrawlDemo {
  def main(args: Array[String]): Unit = {
    val maxDepth = args.lift(0).map(_.toInt).getOrElse(3)
    val nHosts = args.lift(1).map(_.toInt).getOrElse(3)
    val pph = args.lift(2).map(_.toInt).getOrElse(16)
    val spec = Fixtures.SiteSpec(nHosts = nHosts, pagesPerHost = pph)
    val seeds = if (args.length > 3) args.drop(3).toSeq else Fixtures.seeds(spec)

    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("wbot-spark-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val pages = Fixtures.pagesDf(spark, spec)

    val cfg = Schemas.CrawlConfig(maxDepth = maxDepth, partitions = 4)
    // WBOT_ROBOTS=1: bootstrap robots.txt rules from the snapshot itself and
    // crawl in standard (RFC 9309) mode — the rules ride the prepared pages
    val run =
      if (sys.env.get("WBOT_ROBOTS").contains("1"))
        SparkCrawler.runWithRobots(spark, pages, seeds, cfg)
      else SparkCrawler.run(spark, pages, seeds, cfg)

    println(s"=== crawl stream (first 20 of ${run.order.count()} pages, FIFO order) ===")
    run.order.orderBy("seq").select("seq", "depth", "url", "interval").show(20, truncate = false)
    println("=== metrics (reference counter names) ===")
    run.metrics.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"  $k%-22s $v") }
    println("=== supersteps ===")
    run.steps.foreach(s => println(
      f"  depth=${s.depth} frontier=${s.frontierSize} fetched=${s.fetched} failed=${s.failed} " +
      f"cand=${s.candidates} fresh=${s.fresh} intervals=${s.intervals} wall=${s.wallMs}ms " +
      f"codegen=${s.generatedCode}"))
    spark.stop()
  }
}
