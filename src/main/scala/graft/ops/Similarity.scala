package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Approximate-nearest-neighbor search over an embedding column
 * (`Array[Float]`).
 *
 * - [[bruteForceTopK]]: exact baseline — broadcast the (small) query set,
 *   one pass over the corpus, per-query top-k via ranked window. Linear in
 *   corpus size; the right-answer oracle and still the best plan when the
 *   query set is small and the corpus scan is the floor anyway.
 * - [[lshBucketTopK]]: the scale path — sign-random-projection LSH (SimHash
 *   for vectors, Charikar 2002): hash every vector to a b-bit bucket key
 *   with deterministic pseudo-random hyperplanes, join queries to only their
 *   bucket, rank within bucket. Corpus-side work drops from O(N·Q) to
 *   O(N + Q·bucket).
 *
 * Everything here is ENGINE-PORTABLE so DuckDB oracles can replay it
 * exactly: vectors quantize to ×1000-floored int64 (integer sums are
 * order-independent, unlike float reductions), and hyperplane signs derive
 * from md5("plane-<p>-<i>") — sign = +1 iff the first hex char is >= '8'.
 * The signs are computed ONCE on the driver and enter the plan as literal
 * arrays: the per-row work is pure codegen'd integer arithmetic, no hashing.
 */
object Similarity {

  /** Deterministic ±1 hyperplane signs for plane `p` over `dims` dimensions:
    * sign_i = +1 iff md5("plane-p-i") starts with a hex char >= '8'. Exactly
    * reproducible in any engine with md5. */
  def planeSigns(p: Int, dims: Int): Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dims) { i =>
      md.reset()
      val d = md.digest(s"plane-$p-$i".getBytes("UTF-8"))
      if ((d(0) & 0x80) != 0) 1L else -1L // high bit of first byte = first hex char >= '8'
    }
  }

  /** ×1000 floor-quantized int64 view of the embedding (exact, portable). */
  def quantized(vecCol: String): Column =
    expr(s"transform($vecCol, x -> cast(floor(cast(x as double) * 1000) as bigint))")

  /** As [[quantized]] but errors on a length mismatch instead of letting
    * `zip_with`'s null padding silently misbucket the vector: a wrong `dims`
    * (or a ragged embedding column) must fail loudly, not land in bucket 0. */
  def quantizedChecked(vecCol: String, dims: Int): Column =
    when(size(col(vecCol)) === dims, quantized(vecCol))
      .otherwise(raise_error(concat(
        lit(s"embedding length != dims=$dims: got "), size(col(vecCol)).cast("string"))))

  /** Banded LSH keys for near-dup candidate generation: `bands` independent
    * keys of `bitsPerBand` planes each (band b uses planes b·w..b·w+w-1),
    * exploded to (id, band, bucket) rows — a pair is a candidate iff it
    * shares ANY band's bucket (OR-amplification, as in MinHash banding).
    * All keys come from ONE codegen'd [[exprs.LshBandKeys]] pass over the
    * quantized vector: the per-plane HOF form (`aggregate(zip_with(qv,
    * <dims-element literal>))` × bands·bitsPerBand) ran interpreted per row
    * AND carried the giant literal trees through planning/codegen — q17's
    * first run measured 5.6 s mostly compiling that plan. Key values are
    * pinned identical in OpsExprSpec and by the q17/q26 DuckDB oracles. */
  def withBandKeys(df: DataFrame, idCol: String, vecCol: String,
      bands: Int, bitsPerBand: Int, dims: Int): DataFrame = {
    df.withColumn("__qv", quantizedChecked(vecCol, dims))
      .select(col(idCol),
        posexplode(graft.ops.exprs.OpsExprs.lshBandKeys(col("__qv"), bands, bitsPerBand, dims)))
      .select(col(idCol), col("pos").as("band"), col("col").as("bucket"))
  }

  /** Exact top-k: corpus × broadcast(queries), ranked window per query. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val c = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("nvec"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("nbr_id") =!= col("query_id"))
      .select(col("query_id"), col("nbr_id"),
        Dedup.quantizedDot(col("qvec"), col("nvec")).as("qdot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("qdot").desc, col("nbr_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** ANN via multi-band LSH (OR-amplification, same banding as the near-dup
    * path): a corpus vector is a candidate for a query iff they share ANY of
    * `bands` independent `bitsPerBand`-bit sign-projection buckets —
    * candidates are unioned across bands (distinct pairs) and ranked ONCE by
    * exact quantized dot. A single-table b-bit key (the round-2 shape, recall
    * ~0.4 on planted NNs) keeps missing true neighbors that land one bit off
    * in the one bucket; with 6×4-bit bands a planted near-dup (cos ≈ 0.875)
    * matches some band w.p. ≈ 0.98 — the recall floor test pins ≥ 0.9.
    *
    * Scale shape: corpus band keys stream (one pass, exploded); query bands
    * broadcast; only bucket-colliding pairs are scored, and vectors are
    * joined back only for candidates.
    *
    * CONTRACT: every embedding must have exactly `dims` elements — a ragged
    * or wrong-dims row raises a runtime error and FAILS THE JOB (via
    * [[quantizedChecked]]) rather than silently landing in bucket 0 with
    * zeroed planes. Callers on uncurated data should pre-filter
    * (`size(col(vecCol)) === dims`) if degraded rows are expected. */
  def lshBucketTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, bands: Int, bitsPerBand: Int, dims: Int): DataFrame = {
    val cb = withBandKeys(corpus, idCol, vecCol, bands, bitsPerBand, dims)
      .select(col(idCol).as("nbr_id"), col("band"), col("bucket"))
    val qb = withBandKeys(queries, idCol, vecCol, bands, bitsPerBand, dims)
      .select(col(idCol).as("query_id"), col("band"), col("bucket"))
    val pairs = cb.join(broadcast(qb), Seq("band", "bucket"))
      .where(col("nbr_id") =!= col("query_id"))
      .select(col("query_id"), col("nbr_id")).distinct() // union across bands
    val cv = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("nvec"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val scored = pairs.join(cv, Seq("nbr_id")).join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("nbr_id"),
        Dedup.quantizedDot(col("qvec"), col("nvec")).as("qdot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("qdot").desc, col("nbr_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }
}
