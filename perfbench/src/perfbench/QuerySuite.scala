package perfbench

import graft.SparkEntry
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/**
 * `query_suite`: one operation = one operator query of `SparkEntry.queries`,
 * built and then forced through the `noop` sink (`count()` would let
 * Catalyst prune the computed columns). The closed loop runs the queries in
 * passes, each pass in its own seed-permuted order; every run measures at
 * least one whole pass.
 *
 * Why: per-query fixed costs (planning, codegen, AQE stage jobs) dominate
 * here, not data; it is the only workload that runs the `ops` layers and
 * `wbot.Politeness` (q29), and it bypasses the crawl loop, so a change to
 * the loop should leave it flat.
 *
 * Two queries are left out. q24 is a whole crawl, the loop that
 * crawl_checkpointed measures and checks against `Oracle.run`; it was the
 * pass's largest and noisiest part (2.0-3.6 s of a 9-12 s pass within one
 * run). q30 writes its side tables to a fixed path outside the benchmark's
 * working directory.
 */
final class QuerySuite(ctx: Ctx) extends Workload {
  import QuerySuite._
  private val spark = ctx.spark
  /** run.py reads the tables and the written results at these paths */
  private val dataDir = s"${ctx.work}/tables"
  private val checkDir = s"${ctx.work}/check"
  private val queries: Vector[(String, QueryFn)] =
    SparkEntry.queries.toVector.filterNot(q => LeftOut(q._1)).sortBy(_._1)
  /** per query: its runs in traced passes */
  private val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[QRun]]

  def buildInputs(): Unit = {
    val sizes = QueryData.write(spark, dataDir, ctx.seed)
    sizes.foreach { case (k, v) => ctx.inputs(s"$k.rows") = v }
    ctx.inputs("queries") = queries.size
  }

  /** The warm-up: one pass in name order through the `noop` sink, as the
    * measured passes run. (A second warm-up pass added 8 s of set-up and
    * left latency_s as spread across runs.) */
  def warmUp(): Unit =
    queries.foreach { case (_, fn) => fn(spark, dataDir).write.format("noop").mode("overwrite").save() }

  def minOps: Int = queries.size
  override def traceStride: Int = queries.size
  def heapEachOp: Boolean = false

  private def order(pass: Int) =
    new scala.util.Random(ctx.seed * 1000003L + pass).shuffle(queries)
  private var orderCache = (-1, Vector.empty[(String, QueryFn)])

  def op(i: Int, traced: Boolean): OpResult = {
    val pass = i / queries.size
    if (orderCache._1 != pass) orderCache = (pass, order(pass))
    val (name, fn) = orderCache._2(i % queries.size)
    val startMs = System.currentTimeMillis()
    val g = group(name)
    val (df, wall) = Stats.timed(ctx.span(s"$name (op $i)", g, newTrace = true) {
      val df = ctx.span(s"$name build", g)(fn(spark, dataDir))
      ctx.span(s"$name execute", g)(df.write.format("noop").mode("overwrite").save())
      df
    })
    if (traced) ctx.tracer.foreach { t =>
      t.drain()
      val w = t.window(startMs, System.currentTimeMillis())
      // the returned DataFrame's own phases; touching executedPlan runs its
      // optimizer and planner (outside the timed wall)
      val qe = df.queryExecution
      qe.executedPlan
      val planS = qe.tracker.phases.values.map(_.durationMs).sum / 1000.0
      perQuery.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
        QRun(wall, w.jobs, planS, w.tasks, (w.shuffleRead + w.shuffleWrite) / 1048576.0)
    }
    OpResult(wall, 1, name)
  }

  /** The geometric mean over the queries of each query's median wall: every
    * query weighs the same, whatever its size, and a run that measures a
    * few queries of a second pass gets no more weight for them. */
  override def latency(ops: Seq[Op]): Double = {
    val perQ = ops.groupBy(_.res.key).values.map(os => Stats.median(os.map(_.res.wallS)))
    math.exp(perQ.map(math.log).sum / perQ.size)
  }

  /** After the window, one more pass writes every result, and run.py
    * checks each against DuckDB: results of queries that have already run
    * many times in this JVM, so state carried across calls shows. It runs in
    * name order, as the warm-up does, so the heap sample after it (this
    * workload's peak_heap_mb, with the one after set-up) always follows the
    * same query: a few queries leave ~20 MB until the next one runs, and
    * after a seed-permuted pass the sample depended on which ran last.
    * Sampling after every query instead added ~10 s to the run. */
  def verify(): Unit = {
    // written first and atomically: run.py starts the DuckDB checks as soon
    // as it appears, and checks each query's result once its commit is there
    val sqls = SparkEntry.oracleSql.filter { case (k, _) => queries.exists(_._1 == k) }
    Files.createDirectories(Paths.get(checkDir))
    val tmp = Paths.get(s"$checkDir/oracle_sql.json.tmp")
    Files.writeString(tmp, Main.toJson(sqls))
    Files.move(tmp, Paths.get(s"$checkDir/oracle_sql.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    queries.foreach { case (name, fn) =>
      ctx.check(s"$name executes") {
        fn(spark, dataDir).write.mode("overwrite").option("compression", "none")
          .parquet(s"$checkDir/$name")
        true
      }
    }
    // a query whose write failed leaves no commit; this tells the checks to
    // stop waiting for one
    Files.writeString(Paths.get(s"$checkDir/done"), "")
    ctx.heapSamples += Mem.oldGenAfterGc()
  }

  def layerMetrics(ops: Seq[Op]): Unit = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    perQuery.foreach { case (name, runs) =>
      ctx.layer(s"query.$name.wall_s") = med(runs.map(_.wallS).toSeq)
      ctx.layer(s"query.$name.jobs") = med(runs.map(_.jobs.toDouble).toSeq)
    }
    Groups.foreach { g =>
      val qs = perQuery.filter { case (n, _) => group(n) == g }.values.toSeq
      // the group's sum over its queries of each query's median
      def sum(f: QRun => Double) = qs.map(rs => med(rs.map(f).toSeq)).sum
      ctx.layer(s"$g.plan_s") = sum(_.planS)
      ctx.layer(s"$g.tasks") = sum(_.tasks.toDouble)
      ctx.layer(s"$g.shuffle_mb") = sum(_.shuffleMb)
    }
    // one pass: the sum over queries of each query's median wall
    ctx.layer("query.suite_s") = perQuery.values.map(rs => med(rs.map(_.wallS).toSeq)).sum
  }

  def release(): Unit = ()
}

object QuerySuite {
  type QueryFn = (org.apache.spark.sql.SparkSession, String) => DataFrame
  final case class QRun(wallS: Double, jobs: Int, planS: Double, tasks: Long, shuffleMb: Double)

  val LeftOut: Set[String] = Set("q24_crawl_tiny", "q30_crawl_step_sql")

  /** Module each query exercises (the layer its cost is reported under). */
  def group(name: String): String = name.take(3) match {
    case "q01" | "q02" | "q03" | "q04" | "q05" | "q06" | "q07" | "q08" | "q09" | "q10" => "SparkEntry"
    case "q11" | "q19" | "q20" | "q21" | "q22" => "ops.TextAnalysis"
    case "q12" | "q13" | "q14" | "q15" | "q16" | "q17" | "q25" | "q28" => "ops.Dedup"
    case "q18" | "q26" => "ops.Similarity"
    case "q23" | "q27" | "q31" => "ops.Multimodal"
    case "q29" => "wbot.Politeness"
    case _ => "SparkEntry"
  }
  val Groups: Seq[String] = Seq("SparkEntry", "ops.TextAnalysis", "ops.Dedup", "ops.Similarity",
    "ops.Multimodal", "wbot.Politeness")
}
