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

  private def assertParity(spec: Fixtures.SiteSpec, seeds: Seq[String],
      cfg: CrawlConfig): SparkCrawler.CrawlRun = {
    val oracle = Oracle.run(Fixtures.oraclePages(spec), seeds, cfg)
    val run = SparkCrawler.run(spark, SparkTestBase.pagesDf(spec), seeds, cfg)
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
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    SparkTestBase.listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!SparkTestBase.isMarker(e)) starts.add(e)
    })(body)
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

  test("pages width comes from the cached plan: an unbuilt pages cache starts no job") {
    import org.apache.spark.sql.graftbridge.DatasetBridge.{CacheFacts, cacheFacts}
    val pagesPrep = SparkCrawler.preparePages(SparkTestBase.pagesDf(tiny), 4)
    assert(cacheFacts(pagesPrep) == CacheFacts(None, Some(4)))
    val dir = java.nio.file.Files.createTempDirectory("wbot_unbuilt_pages").toString
    val cfg = CrawlConfig(maxDepth = 3, partitions = 4, checkpointDir = Some(dir))
    val jobs = jobCallSites {
      SparkCrawler.runPrepared(spark, pagesPrep, tinySeeds, cfg.copy(maxSupersteps = 0))
    }
    assert(jobs.isEmpty, s"runPrepared started jobs before its first superstep: $jobs")
    val rows = pagesPrep.count()
    assert(cacheFacts(pagesPrep) == CacheFacts(Some(rows), Some(4)))
    assert(cacheFacts(pagesPrep.select("canon")) == CacheFacts(None, None), "not itself cached")
    pagesPrep.unpersist()
  }

  test("parity: a small checkpointed crawl with and without generated code") {
    // the same crawl and resume below the row bound (interpreted, unsalted)
    // and with the bound forced to 0 (generated code, a salted schedule and
    // full task widths in every superstep)
    val pagesPrep = SparkCrawler.preparePages(SparkTestBase.pagesDf(tiny), 4)
    pagesPrep.count()
    val oracle = Oracle.run(Fixtures.oraclePages(tiny), tinySeeds, CheckpointedTiny.cfg(""))
    for (bound <- Seq(SparkCrawler.rowsPerTask.value, 0L)) {
      val (leg, res) = CheckpointedTiny.crawl(spark, pagesPrep, bound)
      val steps = leg.steps ++ res.steps
      assert(steps.forall(_.generatedCode == (bound == 0L)), s"bound $bound")
      assert(steps.forall(s => (s.saltFanout > 1) == (bound == 0L)), s"bound $bound: $steps")
      assertRunsEqual(oracle, res)
    }
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

  /** The ids of the persisted RDDs `df` reads: each persisted RDD its
    * lineage reaches without passing through another one. */
  private def cachesRead(df: org.apache.spark.sql.DataFrame): Set[Int] = {
    def walk(r: org.apache.spark.rdd.RDD[_]): Set[Int] =
      if (r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE) Set(r.id)
      else r.dependencies.flatMap(dep => walk(dep.rdd)).toSet
    walk(df.queryExecution.toRdd)
  }

  test("a crawl leaves persisted exactly the caches its seen set and order read") {
    val sc = spark.sparkContext
    def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val base = CrawlConfig(maxDepth = 3, partitions = 4)
    val oracle = Oracle.run(Fixtures.oraclePages(tiny), tinySeeds, base)
    for ((leg, cfg) <- Seq(
        "fold, no streams" -> base.copy(recordStreams = false, smallSeenBound = 3L),
        "streams" -> base,
        "stopped after one superstep" -> base.copy(maxSupersteps = 1))) {
      val before = persisted
      val run = SparkCrawler.run(spark, SparkTestBase.pagesDf(tiny), tinySeeds, cfg)
      val left = persisted -- before
      val read = cachesRead(run.seen) ++ cachesRead(run.order)
      assert(left == read, s"$leg: ${(left -- read).size} caches nothing reads, " +
        s"${(read -- left).size} read but not persisted")
      if (cfg.maxSupersteps > 1) {
        assert(run.seen.select("hash").collect().map(_.getString(0)).toSet == oracle.seen, leg)
        assert(run.metrics == oracle.metrics, leg)
      }
      run.release()
      assert(persisted == before, s"$leg: ${(persisted -- before).size} caches left after release")
    }
  }

  test("a prepared crawl and its resume leave no CacheManager entry, released or not") {
    // the session is shared: entries other suites left go first, so that
    // `isEmpty` speaks of this crawl only
    spark.catalog.clearCache()
    val pagesPrep = SparkCrawler.preparePages(SparkTestBase.pagesDf(CheckpointedTiny.spec), 4)
    pagesPrep.count()
    // every seen delta aligned: the resume's first superstep folds, and the
    // last expansion's rank store stays behind as a seen delta
    val (leg, res) = CheckpointedTiny.crawl(spark, pagesPrep)
    assert(res.steps.nonEmpty && res.seen.count() > 0)
    pagesPrep.unpersist()
    assert(spark.sharedState.cacheManager.isEmpty, "the crawl left a cache entry")
    leg.release()
    res.release()
  }

  test("a run dropped without release() leaves no persisted RDD of its own") {
    val sc = spark.sparkContext
    // a fresh set of ids: the map's own key set would hold the RDDs
    def persisted: Set[Int] = sc.getPersistentRDDs.keysIterator.toSet
    // the run is only reachable inside this method
    def crawlAndDrop(): Set[Int] = {
      val before = persisted
      val run = SparkCrawler.run(spark, SparkTestBase.pagesDf(tiny), tinySeeds,
        CrawlConfig(maxDepth = 3, partitions = 4, smallSeenBound = 3L))
      assert(run.order.count() > 0 && run.seen.count() > 0)
      persisted -- before
    }
    val left = crawlAndDrop()
    assert(left.nonEmpty, "the run held no store")
    // as Spark's ContextCleanerSuite does: collect until the cleaner has run
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    eventually(timeout(60.seconds), interval(200.millis)) {
      System.gc()
      val kept = persisted.intersect(left)
      assert(kept.isEmpty, s"${kept.size} of the run's ${left.size} stores still persisted")
    }
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
    // at a 1-row bound every frontier of more than one row is salted
    val run = SparkCrawler.rowsPerTask.withValue(1L) {
      assertParity(tiny, tinySeeds, CrawlConfig(maxDepth = 3, partitions = 4))
    }
    assert(run.steps.exists(_.saltFanout > 1), run.steps.mkString("\n"))
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
    // more than 64 user agents: the candidate exchange ships the strings
    // instead of dictionary indexes
    assertParity(tiny, tinySeeds, cfg.copy(userAgents = Vector.tabulate(65)(i => s"UA-$i/1.0")))
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
