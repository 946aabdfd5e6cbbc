package graft

import graft.wbot._
import graft.wbot.Schemas._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlanInfo

/** The small checkpointed crawl both execution regimes are tested on: the
  * tiny web at maxDepth 3, an interrupted one-superstep leg and its resume.
  * Every seen delta is aligned (`smallSeenBound = 1`), so the fold commit,
  * the alignment side jobs and the bucketed resume run too. */
object CheckpointedTiny {
  val spec: Fixtures.SiteSpec = Fixtures.tiny
  val seeds: Seq[String] = Fixtures.seeds(spec)

  def cfg(dir: String): CrawlConfig = CrawlConfig(maxDepth = 3, partitions = 4,
    checkpointDir = Some(dir), smallSeenBound = 1L)

  /** (the interrupted leg, the resumed run) at row bound `bound`. */
  def crawl(spark: org.apache.spark.sql.SparkSession, pagesPrep: DataFrame,
      bound: Long = SparkCrawler.rowsPerTask.value)
      : (SparkCrawler.CrawlRun, SparkCrawler.CrawlRun) = {
    val dir = java.nio.file.Files.createTempDirectory("wbot_regime").toString
    SparkCrawler.rowsPerTask.withValue(bound) {
      val leg = SparkCrawler.runPrepared(spark, pagesPrep, seeds, cfg(dir).copy(maxSupersteps = 1))
      (leg, SparkCrawler.resumePrepared(spark, pagesPrep, cfg(dir)))
    }
  }
}

/** Which supersteps and operator queries run with Spark's generated code
  * and adaptive execution, and that running without them leaves the
  * session's settings as the caller had them. */
class CodegenRegimeSpec extends SparkSuite {

  private val WholeStage = "spark.sql.codegen.wholeStage"
  private val FactoryMode = "spark.sql.codegen.factoryMode"
  private val Adaptive = "spark.sql.adaptive.enabled"

  private def prepared(): DataFrame = {
    val p = SparkCrawler.preparePages(SparkTestBase.pagesDf(CheckpointedTiny.spec), 4)
    p.count() // built up front: the gate reads the cache's row count
    p
  }

  /** `body`'s result, the classes Janino compiled while it ran, and the
    * final plan of every SQL execution it started, adaptive or static. */
  private def compiling[T](body: => T): (T, Long, Seq[SparkPlanInfo]) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val (out, recorded) = SparkTestBase.recording(body)
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before, recorded.finalPlans)
  }

  /** Whole-stage codegen stages (`*(n)` in a plan string) of a plan, not
    * counting the plans inside the caches it scans. */
  private def codegenStages(p: SparkPlanInfo): Int =
    if (p.nodeName == "InMemoryTableScan") 0
    else (if (p.nodeName.startsWith("WholeStageCodegen")) 1 else 0) +
      p.children.map(codegenStages).sum

  test("regime gate: no generated code while pages, frontier and expected candidates fit one task") {
    val b = SparkCrawler.rowsPerTask.value
    // the checkpointed perfbench crawl's largest expanding superstep
    assert(!SparkCrawler.generatedCode(Some(5000L), 909L, 909L * 16, b))
    assert(!SparkCrawler.generatedCode(Some(b - 30L), 10L, 20L, b)) // at the bound
    assert(SparkCrawler.generatedCode(Some(b - 30L), 10L, 21L, b)) // one row above it
    assert(SparkCrawler.generatedCode(Some(b - 30L), 31L, 0L, b)) // a terminal superstep
    assert(SparkCrawler.generatedCode(None, 1L, 0L, b), "an unbuilt pages cache counts as large")
    // the crawl-rate spec's 100k-page corpus keeps generated code at any frontier
    assert(SparkCrawler.generatedCode(Some(100000L), 1L, 16L, b))
    assert(SparkCrawler.generatedCode(Some(1L), 1L, 0L, 0L), "bound 0: every superstep compiles")
  }

  test("a small checkpointed crawl and its resume compile no class in their supersteps") {
    val pagesPrep = prepared()
    try {
      CheckpointedTiny.crawl(spark, pagesPrep) // steady state: one crawl first
      val ((leg, res), classes, plans) = compiling(CheckpointedTiny.crawl(spark, pagesPrep))
      val steps = leg.steps ++ res.steps
      assert(steps.size == 4 && steps.forall(!_.generatedCode), steps.mkString("\n"))
      assert(classes == 0L, s"$classes classes compiled")
      assert(plans.nonEmpty)
      val compiled = plans.filter(codegenStages(_) > 0)
      assert(compiled.isEmpty, s"whole-stage codegen in:\n${compiled.map(_.simpleString).mkString("\n")}")
    } finally { pagesPrep.unpersist(); () }
  }

  test("above the row bound the same crawl keeps generated code: classes compile, plans show *( stages") {
    val pagesPrep = prepared()
    try {
      val ((leg, res), classes, plans) = compiling(CheckpointedTiny.crawl(spark, pagesPrep, bound = 0L))
      val steps = leg.steps ++ res.steps
      assert(steps.size == 4 && steps.forall(_.generatedCode), steps.mkString("\n"))
      // the same bound salts every superstep's politeness schedule
      assert(steps.forall(_.saltFanout > 1), steps.mkString("\n"))
      assert(classes > 0L)
      assert(plans.exists(codegenStages(_) > 0), "no whole-stage codegen stage in any plan")
    } finally { pagesPrep.unpersist(); () }
  }

  test("below the row bound the crawl runs static plans: no adaptive re-plan, a pinned job count") {
    val pagesPrep = prepared()
    try {
      CheckpointedTiny.crawl(spark, pagesPrep) // steady state: one crawl first
      val ((leg, res), recorded) = SparkTestBase.recording(CheckpointedTiny.crawl(spark, pagesPrep))
      assert((leg.steps ++ res.steps).forall(!_.generatedCode))
      assert(recorded.adaptiveUpdates == 0, s"${recorded.adaptiveUpdates} adaptive re-plans")
      assert(recorded.finalPlans.nonEmpty &&
        recorded.finalPlans.forall(_.nodeName != "AdaptiveSparkPlan"))
      // each action is one multi-stage job, where AQE starts one per stage
      assert(recorded.jobs == 26, s"${recorded.jobs} jobs")
    } finally { pagesPrep.unpersist(); () }
  }

  test("at bound 0 the same crawl stays adaptive") {
    val pagesPrep = prepared()
    try {
      val ((leg, res), recorded) =
        SparkTestBase.recording(CheckpointedTiny.crawl(spark, pagesPrep, bound = 0L))
      assert((leg.steps ++ res.steps).forall(_.generatedCode))
      assert(recorded.adaptiveUpdates > 0, "no adaptive re-plan")
      assert(recorded.finalPlans.exists(_.nodeName == "AdaptiveSparkPlan"))
    } finally { pagesPrep.unpersist(); () }
  }

  test("the session's codegen settings come back as the caller had them, also when a superstep throws") {
    val conf = spark.conf
    def settings: (Option[String], Option[String]) =
      (conf.getAll.get(WholeStage), conf.getAll.get(FactoryMode))
    val pagesPrep = prepared()
    try {
      // a value the caller set, and an unset one
      conf.set(WholeStage, "true"); conf.unset(FactoryMode)
      val (leg, res) = CheckpointedTiny.crawl(spark, pagesPrep)
      assert((leg.steps ++ res.steps).forall(!_.generatedCode))
      assert(settings == ((Some("true"), None)))

      // the other way round, and a commit that fails inside the first
      // superstep: the next frontier's score raises when the commit writes it
      conf.unset(WholeStage); conf.set(FactoryMode, "FALLBACK")
      val dir = java.nio.file.Files.createTempDirectory("wbot_regime_poisoned").toString
      val poisoned = CheckpointedTiny.cfg(dir).copy(
        scoreExpr = Some("if(depth >= 1, raise_error('injected commit failure'), 0)"))
      val e = intercept[Exception] {
        SparkCrawler.runPrepared(spark, pagesPrep, CheckpointedTiny.seeds, poisoned)
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => Option(c.getMessage).exists(_.contains("injected commit failure"))), e)
      assert(new Storage(dir).readManifest().isEmpty, "the poisoned step committed")
      assert(settings == ((None, Some("FALLBACK"))))
    } finally {
      conf.unset(WholeStage); conf.unset(FactoryMode)
      pagesPrep.unpersist(); ()
    }
  }

  test("another thread never sees the caller's codegen settings change while a crawl runs interpreted") {
    def settings: (Option[String], Option[String], Option[String]) =
      (spark.conf.getAll.get(WholeStage), spark.conf.getAll.get(FactoryMode),
        spark.conf.getAll.get(Adaptive))
    val before = settings
    val seen = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(Option[String], Option[String], Option[String])]()
    @volatile var running = true
    val poller = new Thread(() => do { seen.add(settings); Thread.sleep(1) } while (running))
    poller.setDaemon(true)
    val pagesPrep = prepared()
    try {
      poller.start()
      val (leg, res) = CheckpointedTiny.crawl(spark, pagesPrep)
      assert((leg.steps ++ res.steps).forall(!_.generatedCode))
    } finally {
      running = false
      poller.join()
      pagesPrep.unpersist()
    }
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSet == Set(before))
  }

  private val sf = "/root/testdata/sf0.01"

  /** The operator queries of a `query_suite` pass: all but the crawl (q24)
    * and the crawl superstep that writes side tables (q30). */
  private def passQueries: Seq[(String, SparkEntry.Query)] =
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => n == "q24_crawl_tiny" || n == "q30_crawl_step_sql" }

  private def noopPass(s: org.apache.spark.sql.SparkSession = spark): Unit =
    passQueries.foreach { case (_, q) => q(s, sf).write.format("noop").mode("overwrite").save() }

  private def leaves(df: DataFrame) = df.queryExecution.analyzed.collectLeaves()

  test("query gate: scanned bytes, each relation once; unknown size counts as large") {
    import spark.implicits._
    val events = spark.read.parquet(s"$sf/events.parquet")
    val bytes = leaves(events).map(_.stats.sizeInBytes.toLong).sum
    assert(bytes > 0L)
    assert(!SparkEntry.generatedCode(leaves(events), bytes), "at the bound")
    assert(SparkEntry.generatedCode(leaves(events), bytes - 1), "one byte above it")
    // a self-join scans the same relation twice; so does a second read of it
    val twice = events.as("a").join(events.as("b"), $"a.event_id" === $"b.event_id")
      .select($"a.event_id")
      .unionByName(spark.read.parquet(s"$sf/events.parquet").select("event_id"))
    assert(leaves(twice).size == 3)
    assert(!SparkEntry.generatedCode(leaves(twice), bytes))
    val rdd = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      org.apache.spark.sql.Row(1L))), org.apache.spark.sql.types.StructType.fromDDL("x BIGINT"))
    assert(leaves(rdd).map(_.stats.sizeInBytes) == Seq(BigInt(Long.MaxValue)))
    assert(SparkEntry.generatedCode(leaves(rdd), Long.MaxValue), "an unknown size counts as large")
    assert(SparkEntry.generatedCode(leaves(events.crossJoin(rdd)), Long.MaxValue))
  }

  test("after one warm-up pass, a pass over the operator queries compiles no class") {
    noopPass()
    val (_, classes, _) = compiling(noopPass())
    assert(classes == 0L, s"$classes classes compiled")
  }

  test("every operator query returns the same rows with and without generated code") {
    /** (whether the query runs on an interpreted copy, its rows as a multiset) */
    def run(q: SparkEntry.Query, bound: Long) = SparkEntry.interpretedBytesBound.withValue(bound) {
      val df = q(spark, sf)
      (df.sparkSession ne spark,
        df.collect().toSeq.map(_.toString).groupBy(identity).view.mapValues(_.size).toMap)
    }
    val interpreted = passQueries.map { case (name, q) => name -> run(q, SparkEntry.interpretedBytesBound.value) }
    val compiled = passQueries.map { case (name, q) => name -> run(q, 0L) }
    interpreted.zip(compiled).foreach { case ((name, (copied, rows)), (_, (copiedAt0, rowsAt0))) =>
      assert(copied, s"$name keeps generated code at sf0.01")
      assert(rows.nonEmpty, name)
      assert(!copiedAt0, s"$name runs interpreted at bound 0")
      assert(rows == rowsAt0, s"$name: rows differ between the regimes")
    }
  }

  test("a pass leaves the caller's confs as they were and runs on one interpreted copy") {
    val caller = spark.newSession()
    val before = caller.conf.getAll
    val sessions = passQueries.map { case (_, q) =>
      val df = q(caller, sf)
      df.write.format("noop").mode("overwrite").save()
      df.sparkSession
    }
    assert(caller.conf.getAll == before)
    assert(sessions.distinct.size == 1 && !sessions.contains(caller))
  }

  test("a caller session dropped after an interpreted query becomes unreachable") {
    def use(): java.lang.ref.WeakReference[org.apache.spark.sql.SparkSession] = {
      val caller = spark.newSession()
      val df = SparkEntry.queries("q07_metrics_agg")(caller, sf)
      assert(df.sparkSession ne caller, "q07 should run interpreted")
      df.write.format("noop").mode("overwrite").save()
      new java.lang.ref.WeakReference(caller)
    }
    val ref = use()
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    while (ref.get != null && System.nanoTime() < deadline) { System.gc(); Thread.sleep(100) }
    assert(ref.get == null, "the caller session is still reachable")
  }

  test("a conf the caller changes reaches the interpreted copy") {
    val caller = spark.newSession()
    val q07 = SparkEntry.queries("q07_metrics_agg")
    q07(caller, sf).collect()
    caller.conf.set("spark.sql.shuffle.partitions", "3")
    val df = q07(caller, sf)
    assert(df.sparkSession ne caller, "q07 should run interpreted")
    val plan = df.queryExecution.executedPlan.toString
    val widths = """hashpartitioning\([^)]*, (\d+)\)""".r.findAllMatchIn(plan).map(_.group(1)).toSet
    assert(widths == Set("3"), plan)
    assert(!plan.contains("*("), plan)
  }
}
