package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Similarity}

/**
 * Recall/precision properties of the LSH-bucketed embedding paths against
 * their exact brute-force oracles — everything is deterministic (md5
 * hyperplanes + fixed test vectors), so the measured recall is a constant
 * the assertions pin a floor under.
 */
class EmbeddingLshSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  /** vec_id<n originals plus sign-flip near-dups (cosine ≈ 0.875) at id+1000. */
  private def planted(n: Int) = {
    val base = emb.where(col("vec_id") < n).select(col("vec_id"), col("embedding"))
    base.unionByName(base.select((col("vec_id") + 1000).as("vec_id"),
      expr("concat(transform(slice(embedding, 1, 4), x -> -x), slice(embedding, 5, 60))")
        .as("embedding")))
  }

  test("banded near-dup pairs: precision 1 vs exact, recall >= 0.85 on planted dups") {
    val corpus = planted(80)
    val lsh = Dedup.embeddingNearDupPairs(corpus, "vec_id", "embedding",
      minQdot = 600000L, bands = 6, bitsPerBand = 6, dims = 64)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.embeddingNearDupPairsExact(corpus, "vec_id", "embedding", 600000L)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture must contain planted near-dups")
    assert(lsh.subsetOf(exact), "verify stage must make precision exactly 1")
    val recall = lsh.size.toDouble / exact.size
    info(s"banded recall = $recall (${lsh.size}/${exact.size})")
    assert(recall >= 0.85, s"recall too low: $recall")
  }

  test("lsh ANN: every returned neighbor is bucket-exact; recall@1 on planted NNs") {
    // queries = flipped copies; each query's TRUE nearest neighbor is its
    // original vector (cosine ≈ 0.875 vs ≤ ~0.5 background)
    val corpus = emb.select(col("vec_id"), col("embedding"))
    val queries = planted(40).where(col("vec_id") >= 1000)
    val k = 3
    // multi-band OR-amplification: a planted NN (cos ≈ 0.875) shares some
    // 4-bit band w.p. ≈ 0.98 — vs ~0.4 recall for the single-key round-2 shape
    val lsh = Similarity.lshBucketTopK(corpus, queries, "vec_id", "embedding", k,
      bands = 6, bitsPerBand = 4, dims = 64)
      .select("query_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 1)
      .select("query_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // sanity: brute force finds the planted originals
    assert(bf.count { case (q, n) => n == q - 1000 } >= 38,
      "brute-force oracle should recover nearly all planted NNs")
    val hit = bf.count { case (q, n) => lsh.contains((q, n)) }
    val recall = hit.toDouble / bf.length
    info(s"lsh recall@$k of true-NN = $recall ($hit/${bf.length})")
    assert(recall >= 0.9, s"LSH ANN recall below multi-band floor: $recall")
  }

  test("bucket-size cap drops degenerate buckets from pair generation") {
    import spark.implicits._
    // one mega-bucket (shared by ids 0..99) + selective buckets pairing (0,1)
    val bands = (0L until 100L).map(i => (i, 0, "MEGA")).toDF("id", "band", "bucket")
      .unionByName(Seq((0L, 1, "sel-a"), (1L, 1, "sel-a")).toDF("id", "band", "bucket"))
    val unguarded = Dedup.bandedPairs(bands, None).count()
    assert(unguarded == 100L * 99 / 2) // mega bucket explodes into all pairs
    val guarded = Dedup.bandedPairs(bands, Some(10)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded == Set((0L, 1L)), "cap must keep only the selective band's pair")
    // observability hook reports the blowup
    val stats = Dedup.bandBucketStats(bands).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(stats(0) == 100L && stats(1) == 2L)
  }

  test("nearDupClusters: multi-round convergence with flat cache footprint (no checkpoint)") {
    import spark.implicits._
    // a 64-node chain: ONE component whose min-label needs ~log2(64) doubling
    // rounds... min-label propagation moves the min ONE hop per round, so the
    // chain forces many rounds — exactly the shape whose per-round
    // localCheckpoint used to pin every round's labels on-heap forever
    val pairs = (0 until 63).map(i => (f"d$i%03d", f"d${i + 1}%03d")).toDF("id_a", "id_b")
    val before = spark.sparkContext.getPersistentRDDs.size
    val out = Dedup.nearDupClusters(pairs, maxIter = 100)
    val rows = out.collect()
    assert(rows.length == 64 && rows.forall(_.getString(1) == "d000"),
      "chain must converge to one cluster rooted at the min id")
    assert(rows.count(_.getInt(2) == 1) == 1, "exactly one representative kept")
    // flat memory across rounds: every intermediate round's cache (and the
    // edges cache) is released — only the final round's labels cache survives
    // to back the returned view
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 1, s"cluster loop leaked caches: $before -> $after")
  }

  test("nearDupClusters: small-graph fast path is row-identical to the partitioned path") {
    import spark.implicits._
    // mixed shape: a 41-node chain (long diameter), isolated pairs/triples
    // (the LSH-dominant shape) and a star — exercises jump + delta machinery
    val pairs = ((0 until 40).map(i => (f"c$i%03d", f"c${i + 1}%03d")) ++
      Seq(("x1", "x2"), ("y1", "y2"), ("y2", "y3"),
        ("s0", "s1"), ("s0", "s2"), ("s0", "s3"))).toDF("id_a", "id_b")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val small = rows(Dedup.nearDupClusters(pairs, maxIter = 100))
    // the partitioned path
    val big = Dedup.smallGraphEdges.withValue(0L)(rows(Dedup.nearDupClusters(pairs, maxIter = 100)))
    assert(small == big, "fast path must reach the identical fixpoint")
    assert(small.count(_._3 == 1) == 4, "one representative per component")
  }
}
