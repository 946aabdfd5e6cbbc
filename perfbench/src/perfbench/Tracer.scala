package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/**
 * Spans and Spark scheduler counters for the traced run.
 *
 * The benchmark opens a span around each public call it makes (workload →
 * operation → call); every span sets its own Spark job group, and the
 * listener adds the two lower levels (Spark job → stage). Jobs are
 * attributed to spans by TIME WINDOW, not by group: the engine's
 * `wbot-sidejob` threads inherit a job group from whichever caller created
 * the pooled thread, so their group is stale or missing. Such jobs are
 * counted (`staleGroupJobs`) so the attribution is visible.
 *
 * While `recording` is false the spans are pass-through and no job group is
 * set: that is the untraced half of a traced run, used to report tracing
 * overhead. The listener records every event regardless (the bus delivers
 * them asynchronously, after the flag may have changed); counters are read
 * per wall window.
 */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  @volatile var recording = false
  private val sc = spark.sparkContext

  val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  private var stack = List.empty[Span]
  private var nextId = 1
  private var nextTrace = 1

  /** Run `f` inside a span. `newTrace` starts a fresh trace id (one per
    * operation); nested spans inherit their parent's. */
  def span[A](name: String, layer: String, newTrace: Boolean = false)(f: => A): A = {
    if (!recording) return f
    val parent = stack.headOption
    val trace =
      if (newTrace || parent.isEmpty) { nextTrace += 1; nextTrace - 1 } else parent.get.trace
    val s = Span(nextId, parent.map(_.id).getOrElse(0), trace, name, layer,
      System.currentTimeMillis(), -1L, s"perfbench-$nextId")
    nextId += 1
    spans += s
    stack = s :: stack
    sc.setJobGroup(s.group, name, interruptOnCancel = false)
    try f
    finally {
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = JobRec(e.jobId, group.getOrElse(""), e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val tm = i.taskMetrics
    val (run, gc, rd, wr, spill) =
      if (tm == null) (0L, 0L, 0L, 0L, 0L)
      else (tm.executorRunTime, tm.jvmGCTime,
        tm.shuffleReadMetrics.remoteBytesRead + tm.shuffleReadMetrics.localBytesRead,
        tm.shuffleWriteMetrics.bytesWritten, tm.memoryBytesSpilled + tm.diskBytesSpilled)
    stages(i.stageId) = StageRec(i.stageId, i.name.takeWhile(_ != '\n'), i.numTasks,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), run, gc, rd, wr, spill)
  }

  /** Deliver every queued listener event before counters are read. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(sc)

  /** Scheduler counters of the jobs that STARTED inside [startMs, endMs]. */
  def window(startMs: Long, endMs: Long): Window = synchronized {
    val js = jobs.values.filter(j => j.startMs >= startMs && j.startMs <= endMs).toVector
    val st = js.flatMap(_.stageIds).distinct.flatMap(stages.get)
    Window(js.size, st.size, st.map(_.tasks.toLong).sum, st.map(_.runMs).sum,
      st.map(_.gcMs).sum, st.map(_.shuffleRead).sum, st.map(_.shuffleWrite).sum,
      st.map(_.spill).sum,
      coveredMs(js.map(j => (j.startMs, if (j.endMs < 0) endMs else j.endMs)), startMs, endMs),
      staleGroupJobs(js))
  }

  /** Jobs whose group is not the group of the innermost span open when the
    * job started (engine side-job threads). */
  private def staleGroupJobs(js: Seq[JobRec]): Int = js.count { j =>
    val open = spans.filter(s => s.startMs <= j.startMs && (s.endMs < 0 || j.startMs <= s.endMs))
    open.nonEmpty && open.maxBy(_.id).group != j.group
  }

  /** All four span levels as one list: benchmark spans, then the Spark jobs
    * that started inside one (parent = the innermost benchmark span open at
    * job start) and their stages (parent = their job). */
  def allSpans: Vector[Map[String, Any]] = synchronized {
    def innermost(t: Long): Option[Span] =
      spans.filter(s => s.startMs <= t && (s.endMs < 0 || t <= s.endMs)).maxByOption(_.id)
    val bench = spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
      "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs)).toVector
    val jobSpans = for {
      j <- jobs.values.toVector
      p <- innermost(j.startMs).toVector
      jid = 1000000 + j.id
      span <- Map("id" -> jid, "parent" -> p.id, "trace" -> p.trace, "name" -> s"job ${j.id}",
          "layer" -> "spark.job", "start_ms" -> j.startMs, "end_ms" -> j.endMs,
          "group" -> j.group) +:
        j.stageIds.flatMap(stages.get).map(s => Map("id" -> (2000000 + s.id), "parent" -> jid,
          "trace" -> p.trace, "name" -> s"stage ${s.id}: ${s.name}", "layer" -> "spark.stage",
          "start_ms" -> s.submitMs, "end_ms" -> s.doneMs, "tasks" -> s.tasks))
    } yield span
    bench ++ jobSpans
  }

  /** Self time per layer: a span's wall minus the part its direct children
    * cover (children = nested benchmark spans, or the Spark jobs that
    * started inside it; a job's children are its stages). */
  def selfTimeByLayer: Map[String, Double] = {
    val all = allSpans
    val byParent = all.groupBy(_("parent").asInstanceOf[Int])
    def cover(kids: Seq[Map[String, Any]], s: Long, e: Long): Long = coveredMs(
      kids.map(k => (k("start_ms").asInstanceOf[Long], k("end_ms").asInstanceOf[Long])), s, e)
    all.filter(_("end_ms").asInstanceOf[Long] >= 0).groupBy(_("layer").asInstanceOf[String])
      .map { case (layer, ss) =>
        layer -> ss.map { s =>
          val st = s("start_ms").asInstanceOf[Long]; val en = s("end_ms").asInstanceOf[Long]
          (en - st - cover(byParent.getOrElse(s("id").asInstanceOf[Int], Nil), st, en)) / 1000.0
        }.sum
      }
  }
}

object Tracer {
  /** Milliseconds of [s, e] covered by the union of the intervals. */
  def coveredMs(ivs: Seq[(Long, Long)], s: Long, e: Long): Long = {
    var c = 0L; var cs = -1L; var ce = -1L
    ivs.map { case (a, b) => (math.max(a, s), math.min(b, e)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (a > ce) { if (ce > cs) c += ce - cs; cs = a; ce = b } else ce = math.max(ce, b)
      }
    if (ce > cs) c += ce - cs
    c
  }

  final case class Span(id: Int, parent: Int, trace: Int, name: String, layer: String,
      startMs: Long, var endMs: Long, group: String)
  final case class JobRec(id: Int, group: String, startMs: Long, var endMs: Long,
      stageIds: Seq[Int])
  final case class StageRec(id: Int, name: String, tasks: Int, submitMs: Long, doneMs: Long,
      runMs: Long, gcMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long)

  /** Scheduler counters over a wall window. */
  final case class Window(jobs: Int, stages: Int, tasks: Long, busyMs: Long, gcMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long, jobCoveredMs: Long,
      staleGroupJobs: Int)
}
