package graft.wbot

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Per-host politeness scheduling (SURVEY.md §2.5 R1) — the reference's
 * blocking token bucket (`/root/reference/limiter.go:22-59`) re-expressed as
 * a ranked-window drain: within a depth level, each URL is assigned a rate
 * interval `⌊(rank_within_host − 1) / budget⌋`; interval i may start no
 * earlier than i × interval-length. The rank itself is the O2 drain order —
 * a depth/score PRIORITY queue (higher `score` drains first, `seq` breaks
 * ties), degenerating to the reference's exact FIFO at constant score. At
 * `WithParallel(1)` the reference's bucket never reorders the FIFO (it only
 * delays), so interval assignment affects SCHEDULE, never crawl order —
 * order lives in `seq`.
 *
 * Two physical strategies:
 *  - windowed: exact per-host FIFO rank (`row_number` over `partitionBy(root)`).
 *    One shuffle by root; a skewed host = one big partition.
 *  - salted: two-phase skew-defused variant — rank within (root, salt),
 *    offset by the cumulative counts of lower salts (tiny aggregate, computed
 *    with a window over ≤ hosts×S rows). Still ≤ budget per interval, with
 *    intra-host order permuted across salts (schedule-equivalent, not
 *    rank-identical; valid because the bucket is order-free across a depth).
 */
object Politeness {

  /** The O2 drain order: a depth/score priority queue expressed as a ranked
    * window — shallower first, then higher score, then FIFO seq (the unique
    * tiebreak). With constant score this is exactly the reference's FIFO. */
  private def drainOrder: Seq[org.apache.spark.sql.Column] =
    Seq(col("depth").asc, col("score").desc, col("seq").asc)

  /** Rows one task is sized to hold. The crawl loop sizes its task widths
    * from it (order-stream checkpoint, rank buckets), and [[saltFanout]]
    * salts no frontier that fits one such task. */
  val RowsPerTask: Long = 25000L

  /** Salt fan-out for a salted frontier of `frontierSize` rows, given the
    * previous superstep's frontier size and interval span (0 when there is
    * none) and the shuffle `width` the host windows are spread over.
    *
    *  - Up to [[RowsPerTask]] rows: 1. No host's window partition can exceed
    *    a task's share when the whole frontier fits one task, so salting
    *    buys no balance — and it costs a `groupBy(root, __salt)`, an offsets
    *    window and a merge-join exchange ahead of the fetch (three extra AQE
    *    stage jobs). Measured on the checkpointed perfbench crawl (4-core
    *    host), whose leg and resume each start with a salted 20- or 253-row
    *    superstep: 4.95 → 4.24 s per operation, ≈ 0.35 s per superstep.
    *  - Above it, from the OBSERVED skew: the previous interval span bounds
    *    the max-host share (≈ intervals × budget, scaled to this frontier),
    *    and s is sized so the biggest (host, salt) partition is about one
    *    balanced share. Uniform hosts get 1 (no offsets-row inflation), true
    *    skew fans out, at most 16.
    *  - Above it with no previous superstep (no evidence yet): 16.
    *
    * Any s ≥ 1 yields the same per-interval budgets, so the choice is purely
    * a balance knob: crawl order, seen set and counters never depend on it. */
  def saltFanout(cfg: Schemas.CrawlConfig, frontierSize: Long, prevFrontierSize: Long,
      prevIntervals: Int, width: Int): Int =
    if (frontierSize <= RowsPerTask) 1
    else if (prevFrontierSize > 0 && prevIntervals > 0) {
      val maxBudget = if (cfg.rateLimits.isEmpty) 10 else cfg.rateLimits.values.map(_.n).max
      val estMaxHost = prevIntervals.toLong * maxBudget * frontierSize / prevFrontierSize
      val balancedShare = math.max(1L, frontierSize / width)
      math.max(1, math.min(16, math.ceil(estMaxHost.toDouble / balancedShare).toInt))
    } else 16

  /** Adds `interval` (int, 0-based rate slot within this depth).
    *
    * `saltFanout` (salted mode): how many salt shards split each host's
    * window; the crawl loop picks it per superstep with [[saltFanout]].
    * Any s ≥ 1 yields the same per-interval budgets (schedule-equivalent;
    * the budget property holds by construction), and s = 1 is the exact
    * windowed rank. */
  def assignIntervals(frontier: DataFrame, cfg: Schemas.CrawlConfig, salted: Boolean,
      saltFanout: Int = 16): DataFrame = {
    val budget = Udfs.budgetCol(cfg, col("root"))
    if (!salted || saltFanout <= 1) {
      val w = Window.partitionBy(col("root")).orderBy(drainOrder: _*)
      frontier
        .withColumn("__rn", row_number().over(w))
        .withColumn("interval", floor((col("__rn") - 1) / budget).cast("int"))
        .drop("__rn")
    } else {
      val s = saltFanout
      val salted0 = frontier.withColumn("__salt", pmod(col("hash64"), lit(s)).cast("int"))
      // per-(root,salt) counts → cumulative offset of earlier salts (tiny)
      val offsets = salted0.groupBy(col("root"), col("__salt")).count()
        .withColumn("__off",
          coalesce(sum(col("count")).over(
            Window.partitionBy(col("root")).orderBy(col("__salt"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("root").as("__oroot"), col("__salt").as("__osalt"), col("__off"))
      val w = Window.partitionBy(col("root"), col("__salt")).orderBy(drainOrder: _*)
      // merge, NOT broadcast: the window output is already partitioned AND
      // sorted on the join keys, so a sort-merge join re-shuffles/sorts ONLY
      // the hosts×salts-sized offsets side — whereas a broadcast relation
      // must materialize through the executor's contended execution pool
      // (measured: deep-frontier supersteps died deserializing exactly this
      // broadcast while the rank/politeness sorts held the off-heap pool).
      salted0
        .withColumn("__rn", row_number().over(w))
        .join(offsets.hint("merge"),
          col("root") === col("__oroot") && col("__salt") === col("__osalt"), "left")
        .withColumn("interval",
          floor((col("__rn") + coalesce(col("__off"), lit(0L)) - 1) / budget).cast("int"))
        .drop("__rn", "__salt", "__oroot", "__osalt", "__off")
    }
  }
}
