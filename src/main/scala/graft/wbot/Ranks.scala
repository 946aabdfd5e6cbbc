package graft.wbot

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Scalable deterministic global ranking — reifies the reference's FIFO queue
 * order (`/root/reference/pkg/services/queue/queue.go:37-49`) as an explicit
 * `seq` column WITHOUT a single-partition window (which would serialize the
 * whole frontier through one task at 10^10 scale).
 *
 * Pattern: range-partition by the leading sort key, rank within partitions,
 * then add per-partition offsets (the tiny per-partition counts are the only
 * thing that crosses the driver). Wall-clock cost is one range shuffle + one
 * narrow window per call; every stage is fully parallel.
 */
object Ranks {

  /** Ranked output plus the total row count (free from the offset pass).
    * `cached` is the lineage-cut leaf over the range-partitioned bucket
    * store (`DatasetBridge.store`) — `df` and any further views read it
    * without their plans compounding. The store's blocks belong to that
    * leaf: `DatasetBridge.release(cached)` frees them once nothing reads
    * `df` or `cached` any more, and Spark's ContextCleaner frees them once
    * neither is reachable. */
  final case class RankResult(df: DataFrame, total: Long, cached: DataFrame)

  /**
   * SAMPLING-FREE global rank for sort keys led by a dense integer column
   * whose value range [lo, hi) is already known (the crawl frontier: parent
   * seqs are consecutive by construction, so the range is driver state, not a
   * sampling job), so no repartitionByRange sampling pass is needed:
   *
   *   - bucket = monotone linear map of `seqCol` over its known range (a
   *     range partitioning with ZERO sampling — the bucket id is a codegen'd
   *     arithmetic expression, so the expensive upstream runs exactly ONCE,
   *     into one spill-safe serialized store);
   *   - per-bucket counts, tallied per partition by the job that fills the
   *     store (no aggregation stage) → cumulative offsets as a literal-map
   *     expression (≤ `buckets` longs cross the driver — the only
   *     non-distributed state);
   *   - rank = per-bucket `row_number` + offset over the cached buckets.
   *
   * (A fully in-plan variant — counts via a reused exchange + broadcast
   * cumulative offsets — was measured and rejected: Catalyst column-prunes
   * the counts branch into a DIFFERENT exchange, so the UDF-heavy upstream
   * would execute twice. One bounded store + its in-job tally is strictly
   * cheaper.)
   *
   * Balance note: buckets are value-ranges of `seqCol`, so fan-out
   * concentrated on few parents can imbalance buckets; `8×` more buckets than
   * shuffle tasks smooths hash placement, and window sorts spill — imbalance
   * costs time, never memory safety.
   */
  def denseRangeRank(df: DataFrame, seqCol: Column, lo: Long, hi: Long,
      tieKeys: Seq[Column], outCol: String, numPartitions: Int): RankResult = {
    val p = math.max(1, numPartitions)
    val buckets = 8 * p // several value-buckets per shuffle task: evens out hash collisions
    val span = math.max(1L, hi - lo)
    val pidExpr = ((seqCol.cast("long") - lit(lo)) * lit(buckets.toLong) / lit(span)).cast("int")
    // ONE job over the upstream: fills the bucket store and tallies the
    // per-bucket counts (≤ `buckets` rows cross the driver). A store, not a
    // cache or a localCheckpoint: see DatasetBridge's header.
    val store = org.apache.spark.sql.graftbridge.DatasetBridge.store(
      df.withColumn("__pid", pidExpr).repartition(p, col("__pid")),
      SparkCrawler.bulkLevel, countBy = Some("__pid"))
    val parted = store.leaf()
    var total = 0L
    val offsets: Map[Int, Long] =
      store.counts.toSeq.sortBy(_._1).map { case (pid, c) => val o = (pid, total); total += c; o }
        .toMap
    // literal-map lookup: stays inside whole-stage codegen (no scala UDF)
    val offsetExpr =
      if (offsets.isEmpty) lit(0L)
      else coalesce(element_at(typedlit(offsets), col("__pid")), lit(0L))
    val w = Window.partitionBy(col("__pid")).orderBy((seqCol +: tieKeys): _*)
    val out = parted
      .withColumn(outCol, row_number().over(w).cast("long") + offsetExpr)
      .drop("__pid")
    RankResult(out, total, parted)
  }
}
