package perfbench

import graft.wbot.{Fixtures, Html, Oracle, Schemas, SparkCrawler, Storage, UrlFuncs}
import org.apache.spark.sql.DataFrame
import java.io.File
import scala.collection.mutable

/**
 * `crawl_checkpointed`: one operation = a checkpointed crawl that stops
 * after `maxSupersteps = 1` (the interrupted leg) plus `resumePrepared` to
 * completion, up to a materialized `order`, over one prepared snapshot of a
 * seed-generated web.
 *
 * Why: it is the only workload that commits every superstep and reads the
 * commits back, including the fold commit that crosses `smallSeenBound`; it
 * also runs the superstep loop with Bloom segments maintained every
 * superstep, and the per-superstep driver floor. A superstep costs about the
 * same 1.5-2 s at 10 or 3,000 frontier rows (that floor), so the operation
 * is sized in supersteps: `maxDepth 2` is the shortest crawl whose resume
 * still expands against the seen set it read back. `smallSeenBound` is
 * scaled down with the web (the default is sized for 10^5-page webs) so the
 * first superstep's commit is the fold and the resume reads it back.
 */
final class CrawlCheckpointed(ctx: Ctx) extends Workload {
  import CrawlCheckpointed._
  private val spark = ctx.spark
  val spec: Fixtures.SiteSpec = Fixtures.SiteSpec(nHosts = Hosts, pagesPerHost = PagesPerHost,
    seed = ctx.seed)
  private val seeds = Fixtures.seedsAll(spec)
  private def cfg(dir: String) = Schemas.CrawlConfig(maxDepth = MaxDepth,
    partitions = Main.Cores, recordStreams = true, checkpointDir = Some(dir),
    maxSupersteps = 1, smallSeenBound = spec.totalPages / 50)

  private var prep: DataFrame = null
  private var prepRows = 0L
  private var last: SparkCrawler.CrawlRun = null
  /** (counters, per-superstep stats, traced) of every crawl, warm-up first. */
  private val runs =
    mutable.ArrayBuffer.empty[(Map[String, Long], Vector[SparkCrawler.StepStat], Boolean)]
  private val legS = mutable.ArrayBuffer.empty[(Double, Boolean)]
  private val resumeS = mutable.ArrayBuffer.empty[(Double, Boolean)]
  private var lastDir: String = null
  private val prepS = mutable.ArrayBuffer.empty[Double]

  def buildInputs(): Unit = {
    if (prep != null) prep.unpersist(true)
    val (_, s) = Stats.timed {
      prep = ctx.span("preparePages", "wbot.SparkCrawler") {
        SparkCrawler.preparePages(Fixtures.pagesDf(spark, spec), Main.Cores)
      }
      prepRows = ctx.span("preparePages.count", "wbot.SparkCrawler")(prep.count())
    }
    prepS += s
    ctx.inputs("pages") = spec.totalRows
    ctx.inputs("prepared_rows") = prepRows
    ctx.inputs("seed_urls") = seeds.size
  }

  /** Two crawls: in a fresh JVM the first runs ~2.7x the steady state and
    * the second ~1.35x; the third and fourth, the measured ones, still run
    * ~1.15x and ~1.1x. A third warm-up crawl cost 6-7 s of a run's budget. */
  def warmUp(): Unit = (0 until 2).foreach(_ => crawl(s"${ctx.work}/ckpt/warm", traced = false))

  def minOps: Int = 2
  def heapEachOp: Boolean = true

  private def crawl(dir: String, traced: Boolean): (Double, Double) = {
    delete(new File(dir))
    val c = cfg(dir)
    val (leg, tLeg) = Stats.timed(ctx.span("runPrepared (interrupted leg)", "wbot.SparkCrawler") {
      SparkCrawler.runPrepared(spark, prep, seeds, c, saltedPoliteness = true)
    })
    val (res, tRes) = Stats.timed(ctx.span("resumePrepared", "wbot.SparkCrawler") {
      val r = SparkCrawler.resumePrepared(spark, prep, c.copy(maxSupersteps = Int.MaxValue),
        saltedPoliteness = true)
      ctx.span("order.materialize", "wbot.SparkCrawler") {
        r.order.write.format("noop").mode("overwrite").save()
      }
      r
    })
    runs += ((res.metrics, leg.steps ++ res.steps, traced))
    last = res
    lastDir = dir
    (tLeg, tRes)
  }

  def op(i: Int, traced: Boolean): OpResult = {
    // keep the previous operation's commits until this one replaces them:
    // the last operation's result is checked in full after the window
    val dir = s"${ctx.work}/ckpt/op${i % 2}"
    val (tLeg, tRes) = ctx.span(s"op $i", "workload", newTrace = true)(crawl(dir, traced))
    legS += ((tLeg, traced)); resumeS += ((tRes, traced))
    OpResult(tLeg + tRes, runs.last._1("total_requests"))
  }

  /** The `wbot.Storage` read paths a resume takes, timed on the last
    * crawl's commits after the window. */
  private def storageReads(dir: String, res: SparkCrawler.CrawlRun): Unit =
    ctx.span("storage reads", "wbot.Storage", newTrace = true) {
      val st = new Storage(dir)
      val manifestS = Stats.median((0 until 20).map(_ => Stats.timed(st.readManifest())._2))
      val snap = st.readManifest().get
      val (deltas, deltasS) = Stats.timed {
        val ds = st.readSeenDeltas(spark, snap.lastStep, snap.seenBaseStep, Main.Cores, SeenRowBytes)
        ds.foreach(_.df.count())
        ds
      }
      val rows = deltas.map(_.rows).sum.toDouble
      val files = walk(new File(dir)).filter(_.isFile)
      val seenBytes = files.filter(_.getPath.contains("seen_delta")).map(_.length).sum
      ctx.layer("storage.checkpoint_mb") = files.map(_.length).sum / 1048576.0
      ctx.layer("storage.files") = files.size
      ctx.layer("storage.bytes_per_seen_row") =
        seenBytes / math.max(1.0, res.metrics("crawled_link"))
      ctx.layer("storage.read_manifest_s") = manifestS
      ctx.layer("storage.read_seen_deltas_s") = deltasS
      ctx.layer("storage.aligned_delta_share") =
        if (rows > 0) deltas.filter(_.aligned).map(_.rows).sum / rows else 0.0
    }

  def verify(): Unit = {
    val oc = cfg("").copy(checkpointDir = None, maxSupersteps = Int.MaxValue)
    val oracle = Oracle.run(Fixtures.oraclePages(spec), seeds, oc)
    ctx.inputs("oracle_total_requests") = oracle.metrics("total_requests")
    ctx.inputs("oracle_frontier_sizes") = oracle.frontierSizes
    // every crawl (warm-up included): the 7 counters and the frontier size
    // of every depth
    runs.zipWithIndex.foreach { case ((m, steps, _), i) =>
      ctx.check(s"crawl $i counters")(m == oracle.metrics)
      ctx.check(s"crawl $i frontier sizes")(
        steps.map(_.frontierSize.toInt) == oracle.frontierSizes)
    }
    // the last resumed result in full: crawl order, seen set, attempts
    ctx.check("resumed order") {
      val got = last.order.select("seq", "url", "canon", "hash", "depth").orderBy("seq")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
          r.getInt(4))).toVector
      got == oracle.order.map(c => (c.seq, c.url, c.canon, c.hash, c.depth))
    }
    ctx.check("resumed seen set") {
      last.seen.select("hash").collect().map(_.getString(0)).toSet == oracle.seen
    }
    ctx.check("resumed attempts") {
      val got = last.attempts.select("seq", "canon", "depth", "hit").orderBy("seq").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getBoolean(3))).toVector
      got == oracle.attempts
    }
  }

  def layerMetrics(ops: Seq[Op]): Unit = {
    val stepsOf = runs.filter(_._3).map(_._2).toSeq
    (0 to MaxDepth).foreach { d =>
      ctx.layer(s"crawler.superstep_s.d$d") = med(stepsOf.map(
        _.find(_.depth == d).map(_.wallMs / 1000.0).getOrElse(0.0)))
      ctx.layer(s"crawler.frontier_rows.d$d") = med(stepsOf.map(
        _.find(_.depth == d).map(_.frontierSize.toDouble).getOrElse(0.0)))
    }
    ctx.layer("crawler.floor_s") = med(stepsOf.map(_.filter(_.depth <= 2).map(_.wallMs).sum / 1000.0))
    def ratio(f: SparkCrawler.StepStat => Long, g: SparkCrawler.StepStat => Long) =
      med(stepsOf.map(s => s.map(f).sum.toDouble / math.max(1L, s.map(g).sum)))
    ctx.layer("crawler.fresh_ratio") = ratio(_.fresh, _.candidates)
    ctx.layer("crawler.fetch_hit_ratio") = ratio(_.fetched, _.frontierSize)
    ctx.layer("crawler.filter_pass_ratio") = ratio(_.passedFilters, _.candidates)
    ctx.layer("crawl.urls_per_s") =
      ops.map(_.res.work).sum / math.max(1e-9, ops.map(_.res.wallS).sum)
    ctx.layer("crawl.interrupted_leg_s") = med(legS.filter(_._2).map(_._1).toSeq)
    ctx.layer("storage.resume_s") = med(resumeS.filter(_._2).map(_._1).toSeq)
    ctx.layer("prep.prepare_s") = med(prepS.toSeq)
    ctx.layer("prep.rows") = prepRows.toDouble
    storageReads(lastDir, last)
    Kernels.measure(ctx, (0 until KernelPages).map(k =>
      Fixtures.page(spec, (k.toLong * spec.totalPages / KernelPages).toInt)))
  }

  def release(): Unit = { if (prep != null) prep.unpersist(true); () }

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
}

object CrawlCheckpointed {
  val Hosts = 20
  val PagesPerHost = 250
  val MaxDepth = 2
  val KernelPages = 2000
  /** Estimated bytes of one seen row, the engine's own figure for delta
    * stats (SparkCrawler's private seenRowBytes). */
  val SeenRowBytes = 160L

  def walk(f: File): Seq[File] =
    if (f.isDirectory) f +: Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete(); ()
  }
}

/** The per-row link kernels the crawl's map stage runs through `Udfs`,
  * timed single-threaded over a workload's own pages. */
object Kernels {
  def measure(ctx: Ctx, pages: Seq[Fixtures.PageRow]): Unit = ctx.span("kernels", "wbot.Html") {
    val bodies = pages.map(_.html).toVector
    val parents = pages.map(p => UrlFuncs.newUrl(p.url).toOption.get.url).toVector
    val hrefs = bodies.map(Html.findLinksBytes(_, Schemas.defaultMaxBodySize))
    val links = parents.zip(hrefs).flatMap { case (p, hs) => hs.map(h => (p, h)) }
    val urls = links.flatMap { case (p, h) => UrlFuncs.candidate(p, h).map(_.urlStr) }
    // best of 5 passes per kernel: the first passes pay JIT compilation
    def perItem(n: Int)(f: => Unit): Double =
      (0 until 5).map(_ => Stats.timed(f)._2).min / math.max(1, n)
    var sink = 0L
    ctx.layer("kernel.find_links_us_per_page") = 1e6 * perItem(bodies.size) {
      bodies.foreach(b => sink += Html.findLinksBytes(b, Schemas.defaultMaxBodySize).size)
    }
    ctx.layer("kernel.candidate_ns_per_link") = 1e9 * perItem(links.size) {
      links.foreach { case (p, h) => sink += UrlFuncs.candidate(p, h).size }
    }
    ctx.layer("kernel.new_url_ns") = 1e9 * perItem(urls.size) {
      urls.foreach(u => sink += UrlFuncs.newUrl(u).fold(_ => 0, _ => 1))
    }
    // the kernels' results feed a check, so the timed loops stay live code
    require(sink > 0, "kernel batch found no links")
  }
}
