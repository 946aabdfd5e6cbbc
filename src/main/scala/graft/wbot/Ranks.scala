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
    * store — `df` and any further views read it without their plans
    * compounding; `persisted` is the Dataset that holds the store's blocks:
    * `persisted.unpersist()` frees them once nothing reads `df` or `cached`
    * any more (`cached` is a leaf, not a cached plan, so unpersisting it
    * frees nothing). */
  final case class RankResult(df: DataFrame, total: Long, cached: DataFrame,
      persisted: DataFrame)

  /**
   * SAMPLING-FREE global rank for sort keys led by a dense integer column
   * whose value range [lo, hi) is already known (the crawl frontier: parent
   * seqs are consecutive by construction, so the range is driver state, not a
   * sampling job), so no repartitionByRange sampling pass is needed:
   *
   *   - bucket = monotone linear map of `seqCol` over its known range (a
   *     range partitioning with ZERO sampling — the bucket id is a codegen'd
   *     arithmetic expression, so the expensive upstream runs exactly ONCE,
   *     into one spill-safe serialized cache);
   *   - per-bucket counts → cumulative offsets as a literal-map expression
   *     (≤ `buckets` longs cross the driver — the only non-distributed state);
   *   - rank = per-bucket `row_number` + offset over the cached buckets.
   *
   * (A fully in-plan variant — counts via a reused exchange + broadcast
   * cumulative offsets — was measured and rejected: Catalyst column-prunes
   * the counts branch into a DIFFERENT exchange, so the UDF-heavy upstream
   * would execute twice. One bounded cache + one tiny collect is strictly
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
    val offHeap = org.apache.spark.sql.SparkSession.active.conf
      .getOption("spark.memory.offHeap.enabled").contains("true")
    // persist + explicit lineage cut, NOT localCheckpoint: the counts action
    // below fills the blocks, and DatasetBridge.lineageCut turns the cache
    // scan into a leaf plan — so callers can keep the ranked output (and
    // views over `cached`) alive across further iterations without their
    // plans compounding, the bytes stay in the ACCOUNTED spill-safe pool
    // (localCheckpoint silently forces blocks on-heap — see the bridge's
    // scaladoc), and a lost partition recomputes instead of failing the job.
    val parted0 = df.withColumn("__pid", pidExpr)
      .repartition(p, col("__pid"))
      .persist(
        if (offHeap) org.apache.spark.storage.StorageLevel.OFF_HEAP
        else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // ONE pass over the upstream: fills the bucket blocks and collects the
    // per-bucket counts (≤ `buckets` rows cross the driver)
    val counts = parted0.groupBy(col("__pid")).count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val parted = org.apache.spark.sql.graftbridge.DatasetBridge.lineageCut(parted0)
    var total = 0L
    val offsets: Map[Int, Long] =
      counts.map { case (pid, c) => val o = (pid, total); total += c; o }.toMap
    // literal-map lookup: stays inside whole-stage codegen (no scala UDF)
    val offsetExpr =
      if (offsets.isEmpty) lit(0L)
      else coalesce(element_at(typedlit(offsets), col("__pid")), lit(0L))
    val w = Window.partitionBy(col("__pid")).orderBy((seqCol +: tieKeys): _*)
    val out = parted
      .withColumn(outCol, row_number().over(w).cast("long") + offsetExpr)
      .drop("__pid")
    RankResult(out, total, parted, parted0)
  }
}
