package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.wbot.Fixtures

/** Shared local SparkSession for suites (one JVM — sbt forks one test JVM). */
object SparkTestBase {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("wbotspark-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Runs `body` with `listener` registered and returns once `listener`
    * has received every event `body` posted: listeners on the shared queue
    * get events in post order, so a marker job started after `body` is seen
    * only after all of them. `listener` also sees the marker job's start
    * ([[isMarker]]). */
  def listening[T](listener: SparkListener)(body: => T): T = {
    val sc = spark.sparkContext
    val marker = s"$MarkerPrefix${System.nanoTime()}"
    val seen = new java.util.concurrent.CountDownLatch(1)
    val markerListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          seen.countDown()
    }
    sc.addSparkListener(listener)
    sc.addSparkListener(markerListener)
    try {
      val out = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the marker job")
      out
    } finally {
      sc.removeSparkListener(markerListener)
      sc.removeSparkListener(listener)
    }
  }

  private val MarkerPrefix = "listener-marker-"

  /** What a [[recording]] saw: the final plan of every SQL execution, the
    * adaptive re-plans posted and the jobs started (the marker job not
    * counted). */
  final case class Recorded(finalPlans: Seq[SparkPlanInfo], adaptiveUpdates: Int, jobs: Int)

  /** `body`'s result and what it started. An execution's final plan is, when
    * it runs adaptively, the last re-plan it posted once that reads
    * `isFinalPlan=true`; when it runs as a static plan, the plan it posted
    * at its start. */
  def recording[T](body: => T): (T, Recorded) = {
    val plans = new java.util.concurrent.ConcurrentHashMap[Long, SparkPlanInfo]()
    val updates = new java.util.concurrent.atomic.AtomicInteger()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val out = listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!isMarker(e)) jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.putIfAbsent(s.executionId, s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          updates.incrementAndGet()
          plans.put(u.executionId, u.sparkPlanInfo)
        case _ =>
      }
    })(body)
    def isFinal(p: SparkPlanInfo) =
      p.nodeName != "AdaptiveSparkPlan" || p.simpleString.contains("isFinalPlan=true")
    import scala.jdk.CollectionConverters._
    (out, Recorded(plans.values.asScala.toSeq.filter(isFinal), updates.get, jobs.get))
  }

  def isMarker(e: SparkListenerJobStart): Boolean =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .exists(_.startsWith(MarkerPrefix))

  def pagesDf(spec: Fixtures.SiteSpec): DataFrame = {
    val s = spark
    import s.implicits._
    Fixtures.allPages(spec)
      .map(p => (p.url, new java.sql.Timestamp(p.warcTsMs), p.html, p.text,
        p.lang))
      .toDF("url", "warc_ts", "html", "text", "lang")
  }
}

abstract class SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkTestBase.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The rows of `query` over `df` in each regime a column can run in, by
    * name: "local" takes `df` as given (a local Seq's rows are folded into a
    * LocalRelation, so the projection is evaluated while optimizing);
    * "compiled" and "interpreted" read the same rows behind a shuffle, with
    * generated code (asserted: a `*(n)` stage) and on the session's
    * interpreted copy (asserted: none). */
  def regimes(df: DataFrame)(query: DataFrame => DataFrame): Seq[(String, Array[Row])] = {
    val compiled = query(df.repartition(3))
    val interpreted = DatasetBridge.inSession(compiled, DatasetBridge.interpretedCopy(spark))
    val rows = Seq("local" -> query(df), "compiled" -> compiled, "interpreted" -> interpreted)
      .map { case (regime, d) => regime -> d.collect() }
    def plan(d: DataFrame) = d.queryExecution.executedPlan.toString
    assert(plan(compiled).contains("*("), s"expected a generated stage:\n${plan(compiled)}")
    assert(!plan(interpreted).contains("*("), s"expected no generated stage:\n${plan(interpreted)}")
    rows
  }
}
