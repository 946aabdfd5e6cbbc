package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/**
 * The benchmark's JVM side: one workload, one seed, one client thread, a
 * closed loop (the next call starts when the previous one returns) for the
 * given number of seconds.
 *
 *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <resultFile>
 *
 * Writes one JSON result file; `run.py` adds the DuckDB oracle checks and
 * prints the final line. Only the engine's public functions are called.
 */
object Main {
  /** local[4]: the benchmark's fixed parallelism (one partition per core). */
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, resultFile) = args
    val seed = seedS.toLong
    val traced = traceS == "1"
    val (spark, sessionS) = Stats.timed(session(work))
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (traced) {
      val t = new Tracer(spark)
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None
    val ctx = new Ctx(spark, seed, secondsS.toDouble, tracer, work)
    val w: Workload = workload match {
      case "crawl_checkpointed" => new CrawlCheckpointed(ctx)
      case "query_suite" => new QuerySuite(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val result = try Harness.run(ctx, w, sessionS)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        Map[String, Any]("fatal" -> s"${e.getClass.getName}: ${e.getMessage}")
    }
    Files.writeString(Paths.get(resultFile), toJson(result))
    spark.stop()
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  /** The result and oracle files: maps keep their insertion order. */
  def toJson(v: Any): String = mapper.writeValueAsString(v)

  def session(work: String): SparkSession = SparkSession.builder()
    .master(s"local[$Cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", Cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.memory.offHeap.enabled", "true")
    .config("spark.memory.offHeap.size", "1536m")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/spark-local")
    // the status store keeps per-query plan graphs and per-job data; with
    // the smallest retention the driver heap measures the engine, not which
    // queries ran last
    .config("spark.sql.ui.retainedExecutions", "1")
    .config("spark.ui.retainedJobs", "1")
    .config("spark.ui.retainedStages", "1")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()
}

/** Per-run state shared by the measurement loop and the workloads. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val tracer: Option[Tracer], val work: String) {
  def traced: Boolean = tracer.isDefined
  /** Per-layer metrics (reported by traced runs). */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Generated input sizes, printed with the result. */
  val inputs = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]
  /** Heap samples a workload takes outside the measured window (MB). */
  val heapSamples = mutable.ArrayBuffer.empty[Double]

  def span[A](name: String, layer: String, newTrace: Boolean = false)(f: => A): A =
    tracer match {
      case Some(t) => t.span(name, layer, newTrace)(f)
      case None => f
    }

  /** One checked outcome: a false result or a throw counts as a failure. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch {
      case e: Throwable => errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"; false
    }
    if (!pass) {
      failed += 1
      if (!errors.lastOption.exists(_.startsWith(what))) errors += s"$what: mismatch"
    }
  }
}

/** One operation of a workload's closed loop: its wall time, the work it
  * completed (URL fetch attempts, or queries) and what it ran (the query). */
final case class OpResult(wallS: Double, work: Long, key: String = "")

/** An operation as the measurement loop saw it; `cpuS` is the JVM's CPU time
  * (every thread) over the operation. */
final case class Op(res: OpResult, traced: Boolean, startMs: Long, endMs: Long, cpuS: Double)

trait Workload {
  /** One repetition of input set-up: generate the inputs from the seed and
    * prepare them (timed; repeated, the median is reported). */
  def buildInputs(): Unit
  /** Runs before timing, operations of the workload's own shape; timed into
    * setup_s. */
  def warmUp(): Unit
  /** Operations every run measures, however long they take. */
  def minOps: Int
  /** A traced run alternates untraced and traced blocks of this many
    * operations. */
  def traceStride: Int = 1
  /** Whether the heap is sampled after every operation (each sample is two
    * full collections, so only for operations that take seconds). */
  def heapEachOp: Boolean
  /** One operation; `traced` says whether the tracer records it. */
  def op(i: Int, traced: Boolean): OpResult
  /** latency_s over the measured operations: by default their median. */
  def latency(ops: Seq[Op]): Double = Stats.median(ops.map(_.res.wallS))
  /** Untimed checks against the oracle, after the measured window; may add
    * heap samples to `ctx.heapSamples`. */
  def verify(): Unit
  /** Workload-specific per-layer metrics from the measured operations. */
  def layerMetrics(ops: Seq[Op]): Unit
  /** Releases the benchmark's own inputs (so retained cache = engine's). */
  def release(): Unit
}

/** Set-up, the measured closed loop, checks and metrics of one run. */
object Harness {
  val SetupReps = 3

  def run(ctx: Ctx, w: Workload, sessionS: Double): Map[String, Any] = {
    val spark = ctx.spark
    val t = ctx.tracer
    // --- set-up: input build repeated (median), then one warm-up operation.
    // In a traced run the repetitions alternate untraced/traced so the
    // difference is the tracing overhead on set-up.
    val reps = (0 until SetupReps).map { r =>
      val tr = ctx.traced && r % 2 == 1
      t.foreach(_.recording = tr)
      val (_, s) = Stats.timed(ctx.span("setup.inputs", "prep", newTrace = true)(w.buildInputs()))
      (s, tr)
    }
    t.foreach(_.recording = false)
    val (_, warmS) = Stats.timed(w.warmUp())
    val setupS = sessionS + Stats.median(reps.map(_._1)) + warmS
    val heap0 = Mem.oldGenAfterGc()

    // --- measured window: closed loop, one client
    val ops = mutable.ArrayBuffer.empty[Op]
    val heaps = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val t0 = System.nanoTime()
    var i = 0
    // operations start until the window has elapsed, and at least minOps; a
    // traced run measures as many untraced operations as traced ones
    val stride = w.traceStride
    val minOps = if (ctx.traced) 2 * math.max(w.minOps, stride) else w.minOps
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (i < minOps || elapsed < ctx.seconds) {
      val tr = ctx.traced && (i / stride) % 2 == 1
      t.foreach(_.recording = tr)
      val startMs = System.currentTimeMillis()
      val cpu0 = Mem.processCpuS()
      ctx.attempted += 1
      val r = try Some(w.op(i, tr)) catch {
        case e: Throwable =>
          ctx.failed += 1
          ctx.errors += s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}"
          e.printStackTrace()
          None
      }
      t.foreach(_.recording = false)
      r.foreach(x => ops += Op(x, tr, startMs, System.currentTimeMillis(), Mem.processCpuS() - cpu0))
      if (w.heapEachOp) heaps += ((Mem.oldGenAfterGc(), tr))
      i += 1
    }
    val windowS = elapsed
    if (ops.isEmpty) throw new IllegalStateException("no operation completed")

    val (_, verifyS) = Stats.timed(w.verify())
    w.release()
    val cachedRdds = spark.sparkContext.getPersistentRDDs.size
    val retainedMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0

    // the peak over a fixed number of operations, so it does not grow with
    // how many fit the window (the engine retains heap across crawls; that
    // growth is reported on its own as memory.heap_growth_mb_per_op)
    val peakOps = heaps.take(minOps)
    def e2e(traced: Boolean): Map[String, Double] = Map(
      "latency_s" -> w.latency(ops.filter(_.traced == traced).toSeq),
      "peak_heap_mb" -> (heap0 +: (peakOps.filter(_._2 == traced).map(_._1) ++ ctx.heapSamples)
        .toSeq).max)
    val untraced = e2e(traced = false)
    val end2end = mutable.LinkedHashMap[String, Double]("setup_s" -> setupS) ++= untraced

    ctx.layer("spark.cached_rdds") = cachedRdds
    ctx.layer("memory.retained_cache_mb") = retainedMb
    if (heaps.size >= 2)
      ctx.layer("memory.heap_growth_mb_per_op") = (heaps.last._1 - heaps.head._1) / (heaps.size - 1)
    t.foreach { tr =>
      val traced = ops.filter(_.traced).toVector
      tr.recording = true
      w.layerMetrics(traced)
      tr.recording = false
      tr.drain()
      schedulerMetrics(ctx, tr, traced)
      ctx.layer("jvm.cpu_s") = if (traced.isEmpty) 0.0 else Stats.median(traced.map(_.cpuS))
      if (traced.nonEmpty) {
        val te = e2e(traced = true)
        te.foreach { case (k, v) => ctx.layer(s"trace.overhead.$k") = v - untraced(k) }
        // the first repetition runs JIT-cold: compare the later ones only
        val tReps = reps.filter(_._2).map(_._1); val uReps = reps.drop(1).filterNot(_._2).map(_._1)
        ctx.layer("trace.overhead.setup_s") = Stats.median(tReps) - Stats.median(uReps)
      }
    }
    Map(
      "end_to_end" -> end2end,
      "per_layer" -> ctx.layer,
      "setup" -> Map("session_s" -> sessionS, "input_reps_s" -> reps.map(_._1),
        "warm_up_s" -> warmS),
      "ops" -> ops.map(o => Map("wall_s" -> o.res.wallS, "cpu_s" -> o.cpuS,
        "work" -> o.res.work, "traced" -> o.traced)),
      "window_s" -> windowS,
      "verify_s" -> verifyS,
      "inputs" -> ctx.inputs,
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "errors" -> ctx.errors,
      "spans" -> t.map(_.allSpans).getOrElse(Vector.empty),
      "self_time_s" -> t.map(_.selfTimeByLayer).getOrElse(Map.empty))
  }

  /** Spark scheduler counters per traced operation (mean over operations). */
  private def schedulerMetrics(ctx: Ctx, t: Tracer, ops: Seq[Op]): Unit = {
    val n = math.max(1, ops.size).toDouble
    val ws = ops.map(o => (o, t.window(o.startMs, o.endMs)))
    def mean(f: (Op, Tracer.Window) => Double): Double = ws.map(f.tupled).sum / n
    val mb = 1048576.0
    ctx.layer("spark.jobs") = mean((_, w) => w.jobs)
    ctx.layer("spark.stages") = mean((_, w) => w.stages)
    ctx.layer("spark.tasks") = mean((_, w) => w.tasks.toDouble)
    ctx.layer("spark.shuffle_write_mb") = mean((_, w) => w.shuffleWrite / mb)
    ctx.layer("spark.shuffle_read_mb") = mean((_, w) => w.shuffleRead / mb)
    ctx.layer("spark.spill_mb") = mean((_, w) => w.spill / mb)
    ctx.layer("spark.task_busy_s") = mean((_, w) => w.busyMs / 1000.0)
    ctx.layer("spark.gc_s") = mean((_, w) => w.gcMs / 1000.0)
    ctx.layer("spark.driver_gap_s") =
      mean((o, w) => (o.endMs - o.startMs - w.jobCoveredMs) / 1000.0)
    ctx.layer("spark.core_util") =
      mean((o, w) => w.busyMs.toDouble / math.max(1L, o.endMs - o.startMs) / Main.Cores)
    ctx.layer("spark.stale_group_jobs") = mean((_, w) => w.staleGroupJobs)
  }
}

object Mem {
  /** CPU time of every thread of this JVM so far, in seconds. Time the host
    * steals from the VM is not charged to it. */
  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  private lazy val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  /** Old-generation occupancy right after a full collection, in MB. The
    * first collection lets Spark's ContextCleaner release the shuffle and
    * broadcast state of collected RDDs; the second measures what is left. */
  def oldGenAfterGc(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    oldGen.map(_.getUsage.getUsed / 1048576.0).getOrElse(
      (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) / 1048576.0)
  }
}
