package graft

import graft.wbot._
import graft.wbot.Schemas._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/**
 * The exact-match criteria of BASELINE.json: identical crawl ordering and
 * final URL-seen set vs the reference's sequential semantics, given the same
 * seed list and politeness budget — verified by replaying the Spark engine
 * against the Oracle simulator on fixture site graphs, across configs
 * covering every quirk cluster (SURVEY.md §7.4).
 */
class CrawlerParitySpec extends SparkSuite {

  private def assertParity(spec: Fixtures.SiteSpec, seeds: Seq[String], cfg: CrawlConfig,
      salted: Boolean = false): SparkCrawler.CrawlRun = {
    val oracle = Oracle.run(Fixtures.oraclePages(spec), seeds, cfg)
    val run = SparkCrawler.run(spark, SparkTestBase.pagesDf(spec), seeds, cfg, salted)
    assertRunsEqual(oracle, run)
    run
  }

  /** Engine ≡ Oracle over a hand-built page set (url → html) — for quirk
    * shapes the fixture grammar deliberately never emits (e.g. explicit
    * ports). */
  private def assertParityRaw(pagesList: Seq[(String, String)], seeds: Seq[String],
      cfg: CrawlConfig): SparkCrawler.CrawlRun = {
    val s = spark
    import s.implicits._
    val df = pagesList.zipWithIndex.map { case ((u, h), i) =>
      (u, new java.sql.Timestamp(1704067200000L + i * 1000L), h.getBytes("UTF-8"), "", "en")
    }.toDF("url", "warc_ts", "html", "text", "lang")
    val oraclePages = pagesList.map { case (u, h) =>
      val p = UrlFuncs.newUrl(u).fold(e => sys.error(s"bad test url $u: $e"), identity)
      p.canon -> Oracle.Page(u, h.getBytes("UTF-8"), "")
    }.toMap
    val oracle = Oracle.run(oraclePages, seeds, cfg)
    val run = SparkCrawler.run(spark, df, seeds, cfg)
    assertRunsEqual(oracle, run)
    run
  }

  private def assertRunsEqual(oracle: Oracle.Result, run: SparkCrawler.CrawlRun): Unit = {
    // crawl order: engine rows sorted by seq must equal the oracle stream
    val engineOrder = run.order.orderBy("seq")
      .select("seq", "url", "canon", "hash", "depth", "ua", "proxy")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getInt(4),
        r.getString(5), r.getString(6)))
      .toVector
    val oracleOrder = oracle.order.map(c => (c.seq, c.url, c.canon, c.hash, c.depth, c.ua, c.proxy))
    assert(engineOrder == oracleOrder, "crawl order mismatch")

    // URL-seen set: exact equality
    val engineSeen = run.seen.select("hash").collect().map(_.getString(0)).toSet
    assert(engineSeen == oracle.seen, "seen set mismatch")

    // all fetch attempts (incl. failures), as (seq, canon, depth, hit)
    val engineAttempts = run.attempts.orderBy("seq")
      .select("seq", "canon", "depth", "hit").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getBoolean(3))).toVector
    assert(engineAttempts == oracle.attempts, "attempts mismatch")

    // the 7 reference metrics counters
    assert(run.metrics == oracle.metrics, "metrics mismatch")
  }

  private val tiny = Fixtures.tiny
  private val tinySeeds = Fixtures.seeds(tiny)

  test("parity: tiny site, default config, maxDepth 3") {
    assertParity(tiny, tinySeeds, CrawlConfig(maxDepth = 3, partitions = 4))
  }

  /** The start event of every job `body` starts, in start order. */
  private def jobStarts(body: => Unit): Vector[SparkListenerJobStart] = {
    val sc = spark.sparkContext
    val marker = s"call-site-marker-${System.nanoTime()}"
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          markerSeen = true
        else starts.add(e)
    }
    sc.addSparkListener(listener)
    try {
      body
      // listener events arrive in order: once the marker job's start is
      // seen, every job `body` started has been recorded
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(markerSeen, "listener never saw the marker job")
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    starts.asScala.toVector
  }

  /** The call sites of every job `body` starts: each job's `callSite.short`
    * (when set) and the names of its stages, which Spark derives from the
    * call site that created them (`<action> at <File>.scala:<line>`). */
  private def jobCallSites(body: => Unit): Vector[String] =
    jobStarts(body).flatMap { e =>
      Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short"))).toVector ++
        e.stageInfos.map(_.name)
    }

  test("frontier size is driver state: zero supersteps start no Spark job") {
    // seeds (the driver's list) and a committed manifest (`frontier_rows`)
    // both give the frontier's row count without a count job
    val pagesPrep = SparkCrawler.preparePages(SparkTestBase.pagesDf(tiny), 4)
    pagesPrep.count() // the prepared cache is this test's input, built up front
    val dir = java.nio.file.Files.createTempDirectory("wbot_zero_steps").toString
    val cfg = CrawlConfig(maxDepth = 3, partitions = 4, checkpointDir = Some(dir))
    val seedJobs = jobCallSites {
      SparkCrawler.runPrepared(spark, pagesPrep, tinySeeds, cfg.copy(maxSupersteps = 0))
    }
    assert(seedJobs.isEmpty, s"runPrepared started jobs before its first superstep: $seedJobs")
    SparkCrawler.runPrepared(spark, pagesPrep, tinySeeds, cfg.copy(maxSupersteps = 2))
    assert(new Storage(dir).readManifest().get.frontierRows.nonEmpty)
    val resumeJobs = jobCallSites {
      SparkCrawler.resumePrepared(spark, pagesPrep, cfg.copy(maxSupersteps = 0))
    }
    assert(resumeJobs.isEmpty,
      s"resumePrepared started jobs before its first superstep: $resumeJobs")
    assertRunsEqual(Oracle.run(Fixtures.oraclePages(tiny), tinySeeds, cfg),
      SparkCrawler.resumePrepared(spark, pagesPrep, cfg))
    pagesPrep.unpersist()
  }

  test("every job of a checkpointed crawl carries the caller's job group") {
    // side jobs (order checkpoint, seen alignment, commit and its table
    // writes) run on pooled threads; a pooled thread must not keep the job
    // group of the crawl that created it
    val pagesPrep = SparkCrawler.preparePages(SparkTestBase.pagesDf(tiny), 4)
    val sc = spark.sparkContext
    def groupsOfCrawl(group: String): Vector[String] = {
      val dir = java.nio.file.Files.createTempDirectory("wbot_job_group").toString
      // a tiny smallSeenBound makes every expansion's seen delta an aligned
      // side job too
      val cfg = CrawlConfig(maxDepth = 3, partitions = 4, checkpointDir = Some(dir),
        smallSeenBound = 1L)
      sc.setJobGroup(group, s"crawl in $group", interruptOnCancel = false)
      try jobStarts {
        SparkCrawler.runPrepared(spark, pagesPrep, tinySeeds, cfg.copy(maxSupersteps = 2))
        SparkCrawler.resumePrepared(spark, pagesPrep, cfg).order.count()
      }.map(e => Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
      finally sc.clearJobGroup()
    }
    // the first crawl leaves pooled side-job threads behind for the second
    groupsOfCrawl("wbot-crawl-a")
    val groups = groupsOfCrawl("wbot-crawl-b")
    assert(groups.nonEmpty)
    assert(groups.forall(_ == "wbot-crawl-b"),
      s"${groups.count(_ != "wbot-crawl-b")} of ${groups.size} jobs in another group: " +
        groups.distinct.mkString(", "))
    pagesPrep.unpersist()
  }

  test("default config builds no Bloom store: no job starts from BloomSeen") {
    // the default broadcast regime never probes the store, so neither the
    // per-superstep segment merge nor the resume rebuild may run; the
    // forced two-leg split is the control that the call sites are caught
    val pagesPrep = SparkCrawler.preparePages(SparkTestBase.pagesDf(tiny), 4)
    val oracle = Oracle.run(Fixtures.oraclePages(tiny), tinySeeds,
      CrawlConfig(maxDepth = 3, partitions = 4))
    def checkpointedCrawl(cfg: CrawlConfig): Vector[String] = {
      val dir = java.nio.file.Files.createTempDirectory("wbot_bloom_gate").toString
      val c = cfg.copy(checkpointDir = Some(dir))
      var res: SparkCrawler.CrawlRun = null
      val sites = jobCallSites {
        SparkCrawler.runPrepared(spark, pagesPrep, tinySeeds, c.copy(maxSupersteps = 2))
        res = SparkCrawler.resumePrepared(spark, pagesPrep, c)
        res.order.count()
      }
      assertRunsEqual(oracle, res)
      sites
    }
    val default = checkpointedCrawl(CrawlConfig(maxDepth = 3, partitions = 4))
    assert(default.nonEmpty)
    assert(!default.exists(_.contains("BloomSeen")),
      s"default config started Bloom jobs: ${default.filter(_.contains("BloomSeen"))}")
    val probed = checkpointedCrawl(CrawlConfig(maxDepth = 3, partitions = 4,
      bloomTwoPassProbe = true))
    assert(probed.exists(_.contains("BloomSeen")),
      s"control: the probed config's Bloom jobs were not caught: ${probed.distinct}")
    pagesPrep.unpersist()
  }

  test("parity: bloom disabled gives identical results") {
    assertParity(tiny, tinySeeds, CrawlConfig(maxDepth = 3, partitions = 4, bloomEnabled = false))
  }

  test("parity: bloom activation threshold crossed mid-crawl (catch-up build)") {
    // threshold crossed between supersteps: early depths run the bare
    // anti-join, the crossing superstep bulk-builds segments over ALL deltas,
    // later depths prefilter — results identical throughout. The forced
    // two-leg split makes the store exist (and be probed) in the broadcast
    // regime.
    assertParity(tiny, tinySeeds, CrawlConfig(maxDepth = 3, partitions = 4,
      bloomMinSeen = 60L, bloomTwoPassProbe = true))
  }

  test("parity: broadcast bloom two-leg probe split gives identical results") {
    // the default broadcast regime runs the single-pass exact anti-join;
    // forcing the two-leg split (sure rows bypass the anti-join) must be
    // result-identical — bloom has no false negatives
    assertParity(tiny, tinySeeds, CrawlConfig(maxDepth = 3, partitions = 4,
      bloomTwoPassProbe = true))
  }

  test("parity: distributed bloom segments (pid-co-partitioned join path)") {
    // broadcastMaxBytes = 0 forces the 10^10-scale strategy: candidates
    // shuffle on pid and hash-join their own segment row
    assertParity(tiny, tinySeeds,
      CrawlConfig(maxDepth = 3, partitions = 4, bloomBroadcastMaxBytes = 0L))
  }

  test("parity: score-priority drain is schedule-only (order/seen/metrics invariant)") {
    // O2: a non-constant drain priority must change interval slots but NEVER
    // crawl order, the seen set, or the counters
    assertParity(tiny, tinySeeds, CrawlConfig(maxDepth = 3, partitions = 4,
      scoreExpr = Some("length(url)"), rateLimits = Map("*" -> Budget(3, 1000L))))
    // strict mode physically drains the priority schedule — still parity
    assertParity(tiny, tinySeeds, CrawlConfig(maxDepth = 2, partitions = 4,
      scoreExpr = Some("length(url)"), strictPoliteness = true,
      rateLimits = Map("*" -> Budget(3, 1000L))))
  }

  test("parity: strict politeness (physical per-interval drain), small budget") {
    val cfg = CrawlConfig(maxDepth = 3, partitions = 4, strictPoliteness = true,
      rateLimits = Map("*" -> Budget(3, 1000L)))
    val run = assertParity(tiny, tinySeeds, cfg)
    // politeness property: no (root-interval) slot exceeds its budget
    val over = run.order.groupBy("superstep", "interval")
      .count().collect().filter(_.getLong(2) > 3L * tiny.nHosts)
    assert(over.isEmpty)
  }

  test("parity: wall-clock paced strict drain (limiter.go blocking semantics)") {
    val cfg = CrawlConfig(maxDepth = 2, partitions = 4, strictPoliteness = true,
      paceWallClock = true, rateLimits = Map("*" -> Budget(4, 150L)))
    val t0 = System.nanoTime()
    val run = assertParity(tiny, tinySeeds, cfg)
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    // every superstep with k intervals must take >= (k-1) x 150ms wall
    val minWall = run.steps.map(s => math.max(0, s.intervals - 1) * 150L).sum
    assert(minWall > 0, "fixture should produce multi-interval supersteps")
    assert(elapsedMs >= minWall, s"paced run finished too fast: $elapsedMs < $minWall")
  }

  test("parity: salted politeness schedule does not change order/seen/metrics") {
    assertParity(tiny, tinySeeds, CrawlConfig(maxDepth = 3, partitions = 4), salted = true)
  }

  test("parity: filter rules engine (default-deny-once-a-rule-exists quirk)") {
    val rules = Map(
      Fixtures.rootOf(tiny, 1) -> FilterRule(Fixtures.rootOf(tiny, 1),
        allow = List("/d1/"), disallow = List("/d2/")))
    assertParity(tiny, tinySeeds, CrawlConfig(maxDepth = 3, partitions = 4, filterRules = rules))
  }

  test("parity: wildcard filter rule applies to all hosts") {
    val rules = Map("*" -> FilterRule("*", allow = List("p[0-9]+$"), disallow = List("/d0/")))
    assertParity(tiny, tinySeeds, CrawlConfig(maxDepth = 2, partitions = 4, filterRules = rules))
  }

  test("parity: standard robots mode (host-keyed disallow prefixes)") {
    val robots = Seq(
      RobotsRule(Fixtures.hostName(tiny, 0), "*", allow = false, "/d1/"),
      RobotsRule(Fixtures.hostName(tiny, 2), "WBot", allow = false, "/d2/"),
      // RFC 9309 Allow precedence exercised inside the crawl itself
      RobotsRule(Fixtures.hostName(tiny, 0), "*", allow = true, "/d1/p7"))
    assertParity(tiny, tinySeeds, CrawlConfig(maxDepth = 3, partitions = 4,
      robots = robots, robotsStandardMode = true))
  }

  test("parity: robots rules gate PORTED urls via hostname-only (host[:port] quirk)") {
    // the fixture grammar never emits ports, so this is a hand-built web: the
    // robots rule is keyed `site0.com` (hostname-only, like the Oracle's
    // `hostnameOnly` gate) and must bite candidates on `site0.com:8080`
    val host = "site0.com:8080"
    def page(links: Seq[String]): String =
      links.map(l => s"""<a href="$l">x</a>""")
        .mkString("<html><body>\n", "\n", "\n</body></html>")
    val pages = Seq(
      s"http://$host/" -> page(Seq("/d1/a", "/d2/b", s"http://$host/c", "/d1/d.png")),
      s"http://$host/d1/a" -> page(Seq("/", "/d2/b", "/c")),
      s"http://$host/d2/b" -> page(Seq("/c", "/d1/a")),
      s"http://$host/c" -> page(Seq("/d1/a", "/d2/x")))
    val robots = Seq(RobotsRule("site0.com", "*", allow = false, "/d2/"))
    val cfg = CrawlConfig(maxDepth = 3, partitions = 4,
      robots = robots, robotsStandardMode = true)
    val run = assertParityRaw(pages, Seq(s"http://$host/"), cfg)
    // the gate actually bites on the ported host
    val urls = run.order.select("url").collect().map(_.getString(0)).toSet
    assert(!urls.exists(_.contains("/d2/")), s"robots Disallow /d2/ violated: $urls")
    assert(run.metrics("skipped_link") > 0L)
    // control: same web without rules DOES reach /d2/
    val open = assertParityRaw(pages, Seq(s"http://$host/"), cfg.copy(robots = Seq.empty))
    assert(open.order.select("url").collect().map(_.getString(0)).exists(_.contains("/d2/")))
  }

  test("parity: duplicate seed in seed list crawls twice (seeds not pre-marked)") {
    val seeds = Seq(Fixtures.pageUrl(tiny, 0, 0), Fixtures.pageUrl(tiny, 0, 0))
    assertParity(tiny, seeds, CrawlConfig(maxDepth = 2, partitions = 4))
  }

  test("parity: multiple user agents + proxies rotate per seed and stay sticky per branch") {
    val cfg = CrawlConfig(maxDepth = 2, partitions = 4,
      userAgents = Vector("UA-Alpha/1.0", "UA-Beta/2.0"),
      proxies = Vector("http://proxy1:8080", "http://proxy2:8080", "http://proxy3:8080"))
    val run = assertParity(tiny, tinySeeds, cfg)
    // both proxies in use, each branch sticky to its seed's proxy
    val used = run.order.select("proxy").collect().map(_.getString(0)).toSet
    assert(used == Set("http://proxy1:8080", "http://proxy2:8080"))
  }

  test("parity: maxBodySize truncation changes extraction identically") {
    // small cap cuts most pages mid-way: truncated-extraction parity
    assertParity(tiny, tinySeeds, CrawlConfig(maxDepth = 2, partitions = 4, maxBodySize = 400L))
  }

  test("invalid seed aborts the whole run (crawler.go:124-130)") {
    val seeds = Seq(Fixtures.pageUrl(tiny, 0, 0), "http://bad.unknowntld/x")
    intercept[IllegalArgumentException] {
      SparkCrawler.run(spark, SparkTestBase.pagesDf(tiny), seeds, CrawlConfig(maxDepth = 1))
    }
    intercept[IllegalArgumentException] { Oracle.run(Map.empty, seeds, CrawlConfig(maxDepth = 1)) }
  }

  test("zero seeds is an error (crawler.go:128-130)") {
    intercept[IllegalArgumentException] {
      SparkCrawler.run(spark, SparkTestBase.pagesDf(tiny), Seq.empty, CrawlConfig())
    }
  }
}
