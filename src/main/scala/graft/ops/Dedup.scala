package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Document deduplication operators for large-scale training-data pipelines —
 * each expressed as declarative DataFrame transforms (Catalyst-optimizable;
 * shuffles only on the dedup keys, map-side partial aggregation free).
 *
 * Scale notes (100 TB): every operator here keys its shuffle on a
 * fixed-width hash (or short fingerprint) rather than raw text, so shuffle
 * payload stays O(rows × key), not O(corpus). MinHash/LSH follows the
 * classic shingle → signature → band-bucket-join construction (Broder 1997;
 * Leskovec–Rajaraman–Ullman ch. 3), which replaces the O(n²) pair space
 * with per-bucket candidate pairs.
 */
object Dedup {

  /** Exact dedup: hash-groupBy on content digest; keeps the smallest id per
    * group (deterministic winner). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Cheap near-dup candidate key: digest of the first k tokens (prefix
    * fingerprint). */
  def prefixKey(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol),
      md5(concat_ws(" ", slice(split(col(textCol), " "), 1, k))).as("prefix_key"))

  /** Character shingles with positions: (id, shingle) — distributed via
    * explode(sequence), no driver loop. */
  def charShingles(df: DataFrame, idCol: String, textCol: String, width: Int): DataFrame =
    df.select(col(idCol), col(textCol))
      .where(length(col(textCol)) >= width)
      .select(col(idCol),
        explode(sequence(lit(1), length(col(textCol)) - (width - 1))).as("pos"),
        col(textCol))
      .select(col(idCol), expr(s"substring($textCol, pos, $width)").as("shingle"))

  /**
   * MinHash signatures over character shingles: `numHashes` independent
   * permutations simulated as min over md5(shingle ⊕ seed) (hex strings
   * order lexicographically — engine-portable, no platform hash needed).
   * Output: id, sig_0..sig_{k-1}.
   */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleWidth: Int, numHashes: Int): DataFrame = {
    // A signature is a PER-DOCUMENT value: min over the doc's own shingles —
    // so it needs no explode and no shuffle at all. The previous shape
    // (explode shingles → groupBy(id) min, round 5's "aggregate before you
    // shuffle" refinement) still generated ~|text| rows per doc and paid one
    // exchange + two aggregate stages; the codegen'd
    // [[graft.ops.exprs.MinhashDocSigs]] computes the identical sig values
    // (same code-point shingles, same md5 ⊕ "#h" mins — pinned ≡ the explode
    // construction in OpsExprSpec, plus the q14/q15/q28 DuckDB oracles) in
    // one map-only pass: ZERO exchanges, and downstream banding starts from
    // one row per doc. Contract note: rows with duplicate ids now yield one
    // signature row each (the groupBy form merged them); ids are corpus keys
    // — unique — everywhere this operator is used.
    df.select(col(idCol), col(textCol))
      .where(length(col(textCol)) >= shingleWidth)
      .withColumn("__sigs",
        graft.ops.exprs.OpsExprs.minhashDocSigs(col(textCol), shingleWidth, numHashes))
      .select(col(idCol) +: (0 until numHashes).map(i =>
        element_at(col("__sigs"), i + 1).as(s"sig_$i")): _*)
  }

  /**
   * LSH banding: group signature columns into bands, bucket-join docs sharing
   * a band value → candidate near-dup pairs (a < b). The join is per-bucket:
   * no O(n²) blowup as long as bucket sizes stay bounded — which
   * `maxBucketSize` enforces: a degenerate bucket (e.g. a boilerplate shingle
   * shared by millions of docs) would silently re-create the all-pairs space,
   * so oversized buckets are dropped from pair GENERATION (their members
   * still pair through their other, more selective bands). None = unguarded.
   */
  def minhashBandPairs(sigs: DataFrame, idCol: String, numHashes: Int, bandSize: Int,
      maxBucketSize: Option[Int] = None): DataFrame = {
    // all bands in ONE projection + explode (like Similarity.withBandKeys):
    // a single pass over the signature table instead of one union leg — and
    // one upstream signature computation — per band
    val bandCols = (0 until numHashes / bandSize).map { b =>
      val cols = (b * bandSize until (b + 1) * bandSize).map(i => col(s"sig_$i"))
      struct(lit(b).as("band"), md5(concat_ws("|", cols: _*)).as("bucket"))
    }
    val bands = sigs
      .select(col(idCol).as("id"), explode(array(bandCols: _*)).as("__bk"))
      .select(col("id"), col("__bk.band").as("band"), col("__bk.bucket").as("bucket"))
    bandedPairs(bands, maxBucketSize)
  }

  /** Self-join (band, bucket) rows into candidate pairs, with the oversized-
    * bucket guard. Shared by MinHash banding and embedding LSH banding. */
  def bandedPairs(bands: DataFrame, maxBucketSize: Option[Int]): DataFrame = {
    val guarded = maxBucketSize match {
      case None => bands
      case Some(cap) =>
        val sizes = bands.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("__bucket_n"))
        bands.join(sizes, Seq("band", "bucket"))
          .where(col("__bucket_n") <= cap).drop("__bucket_n")
    }
    val a = guarded.select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = guarded.select(col("band"), col("bucket"), col("id").as("id_b"))
    a.join(b, Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Bucket-size distribution for a banded view — the observability hook for
    * tuning `maxBucketSize` (log before a large pair-generation run). */
  def bandBucketStats(bands: DataFrame): DataFrame =
    bands.groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("n"))
      .groupBy(col("band")).agg(
        count(lit(1)).as("n_buckets"), max(col("n")).as("max_bucket"),
        sum(col("n") * (col("n") - 1) / 2).as("pairs_upper_bound"))

  /** Token-n-gram Jaccard similarity for candidate pairs (exact verify stage
    * after LSH): |A∩B| / |A∪B| over distinct token n-grams. */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String, n: Int,
      pairs: DataFrame): DataFrame = {
    val grams = df.select(col(idCol).as("id"), split(col(textCol), " ").as("toks"))
      .where(size(col("toks")) >= n)
      .select(col("id"), explode(expr(
        s"transform(sequence(0, size(toks) - $n), i -> array_join(slice(toks, i + 1, $n), ' '))"))
        .as("gram"))
      .distinct()
    val sizes = grams.groupBy("id").agg(count(lit(1)).as("n_grams"))
    val ga = grams.select(col("id").as("id_a"), col("gram"))
    val gb = grams.select(col("id").as("id_b"), col("gram"))
    val common = pairs.join(ga, Seq("id_a")).join(gb, Seq("id_b", "gram"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("id").as("id_a"), col("n_grams").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n_grams").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("n_common"), col("n_a"), col("n_b"),
        (col("n_common") / (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))
  }

  /** The edge count up to which [[nearDupClusters]] takes the single-task
    * path: 4M edges, ~64 MB of edge rows in one task. Tests set it per call
    * (`withValue(0L)`) to run small graphs on the partitioned path. */
  private[graft] val smallGraphEdges = new scala.util.DynamicVariable[Long](4000000L)

  /**
   * Near-dup clusters: connected components over the candidate-pair graph
   * (the keep-one-per-cluster stage after MinHash/LSH + verify). Iterative
   * min-label propagation with ADAPTIVE pointer jumping — each round takes
   * every node's min over its neighbors' labels; once the per-round change
   * count stops halving (the long-chain signal: on a path component the
   * min label creeps one hop per round, so changes stay flat), subsequent
   * rounds also follow one label indirection (label ← label(label), the
   * Shiloach–Vishkin shortcut), making convergence O(log diameter) rounds
   * instead of O(diameter) — at corpus scale the difference between ~8 and
   * ~thousands of full-table shuffles. The jump join is NOT paid while
   * convergence is already geometric: LSH near-dup graphs are dominated by
   * tiny-diameter components (pairs/triples) that plain propagation
   * finishes in 2-3 rounds, and an unconditional jump join was measured
   * +59% on the sf0.1 bench for zero round savings.
   *
   * Shuffle discipline (the 100 TB traffic bound): the symmetrized edge
   * table — the loop's biggest input — is hash-partitioned by `src` ONCE at
   * birth and read through a partitioning-declaring leaf
   * ([[DatasetBridge.lineageCutPartitioned]]), so no round ever re-exchanges
   * it; and propagation is DELTA-driven: only labels that changed last round
   * can lower a neighbor, so each round's neighbor-min join ships just the
   * shrinking frontier (round 0: all nodes) instead of the full label table.
   * At quiescence (zero changes) every edge has delivered its endpoint's
   * final label in both directions (edges are symmetrized), which forces
   * labels constant per component — i.e. the same fixpoint as full
   * re-delivery, reached with O(frontier) instead of O(nodes) traffic per
   * round.
   *
   * Per-round state discipline (the 100 TB memory bound): the labels table
   * is corpus-sized, so each round's result is held as an accounted
   * `persist` (spill-safe, off-heap when the session has an off-heap pool)
   * with its lineage cut by [[DatasetBridge.lineageCut]], and the PREVIOUS
   * round's cache is explicitly released — flat memory across rounds.
   * `localCheckpoint` (the previous shape) force-pins every round's blocks
   * ON-HEAP for the loop's lifetime and fails the job on a lost block
   * (DatasetBridge's scaladoc documents the measured hazard); the cut leaf
   * instead recomputes a lost partition from its one-round-deep plan. The
   * final round's cache backs the returned view and stays live for the
   * caller (Spark evicts it LRU; `unpersist` it via `.unpersist()` on the
   * result's source if the caller needs deterministic release).
   *
   * Output: (id, cluster_id = min id in component, keep = 1 iff the
   * representative).
   */
  def nearDupClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    import org.apache.spark.sql.graftbridge.DatasetBridge
    val bulk = graft.wbot.SparkCrawler.bulkLevel
    val p = org.apache.spark.sql.SparkSession.active.conf.get("spark.sql.shuffle.partitions").toInt
    // symmetrize in ONE pass over the pair pipeline (explode of the two
    // directions) — the previous two-leg union executed the upstream
    // MinHash/band plan once per leg
    val edgesCache = pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .repartition(p, col("src")) // partitioned ONCE; every round joins in place
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tEdges0 = System.nanoTime()
    val nEdges = edgesCache.count() // materialize; decides the path below
    if (sys.env.contains("SPARK_GRAFT_CC_LOG"))
      System.err.println(f"[cc] edges=$nEdges built in ${(System.nanoTime() - tEdges0) / 1e6}%.0fms")
    // Small-graph fast path: the per-round persist + count + lineage-cut
    // discipline exists to bound memory and traffic on corpus-sized graphs —
    // on a graph whose edges fit ONE task it costs ~8 driver round-trips and
    // ~8 multi-stage jobs for microseconds of compute. Below the bound,
    // [[smallGraphClusters]] computes the exact fixpoint in one single-task
    // job instead; result rows are identical (equivalence pinned by
    // EmbeddingLshSpec's small≡big test and the q28 oracle).
    if (nEdges <= smallGraphEdges.value) {
      // edgesCache stays persisted: it backs the (lazy) result — releasing it
      // here would recompute the whole pair pipeline at consumption time.
      // Like the big path's final labels cache, it is the one surviving cache
      // (Spark evicts LRU; callers needing deterministic release unpersist).
      return smallGraphClusters(edgesCache, nEdges)
    }
    var labelsCache = edgesCache.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).persist(bulk)
    val n = labelsCache.count() // materialize + exact row stats for the leaf
    // no stats on the edges leaf: default-infinite size also guarantees the
    // planner never tries to broadcast the corpus-sized side
    val edges = DatasetBridge.lineageCutPartitioned(edgesCache, Seq("src"), p)
    var labels = DatasetBridge.lineageCut(labelsCache, Some((n, math.max(1L, n * 64L))))
    var frontier = labels // round 0: every node's label is fresh
    var converged = false
    var i = 0
    var jumpOn = false
    var prevChanges = Long.MaxValue
    while (!converged && i < maxIter) {
      // joins pinned to SHUFFLED hash: at corpus scale neither side fits a
      // broadcast, and each round's exchanges are also the lineage
      // boundaries that keep the per-stage serialized RDD graph one round
      // deep (ShuffleDependency's parent is driver-only). The edges side
      // satisfies the join's distribution from its declared leaf — only the
      // frontier (shrinking) is exchanged here.
      val nbrMin = edges.join(frontier.hint("shuffle_hash"), edges("src") === frontier("id"))
        .groupBy(col("dst")).agg(min(col("label")).as("nbr_label"))
      val stepped = labels.join(nbrMin.hint("shuffle_hash"), labels("id") === nbrMin("dst"), "left")
        .select(labels("id"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("mid_label"),
          col("label").as("old_label"))
      // pointer jump (adaptive, see scaladoc): label ← label(label). Labels
      // only ever hold ids of same-component nodes, so the indirection stays
      // in-component and monotonically non-increasing; at the joint fixpoint
      // labels are constant per component and idempotent, hence the
      // component min. Skipping it on geometric rounds changes per-round
      // cost, never the fixpoint.
      val updatedCache = (
        if (jumpOn) {
          val jump = labels.select(col("id").as("j_id"), col("label").as("j_label"))
          stepped.join(jump.hint("shuffle_hash"), col("mid_label") === col("j_id"), "left")
            .select(col("id"),
              least(col("mid_label"), coalesce(col("j_label"), col("mid_label"))).as("new_label"),
              col("old_label"))
        } else stepped.select(col("id"), col("mid_label").as("new_label"), col("old_label"))
      ).persist(bulk)
      // one action: decides convergence AND materializes EVERY partition of
      // the round's cache (a take(1)-style isEmpty could leave partitions
      // unbuilt, whose later compute would chain through the caches this
      // loop is about to release)
      val changes = updatedCache.where(col("new_label") < col("old_label")).count()
      converged = changes == 0L
      // changes not halving round-over-round ⇒ labels are creeping along
      // long chains ⇒ pay the shortcut NEXT round. The signal is evaluated
      // fresh each round (NOT sticky): a single stall — one component's
      // frontier pausing while the rest converge geometrically — engages the
      // jump for exactly one round; a true long chain keeps failing the
      // halving test, so its jump stays on round after round and convergence
      // stays O(log diameter) (worst case the on/off oscillation doubles the
      // round count — still logarithmic). Rounds 0-1 are exempt: star/pair
      // components (the LSH-dominant shape) legitimately lower comparable
      // counts in rounds 0 and 1, then converge. Measured: the old STICKY
      // engage turned one 33→32 stall on the sf0.1 bench graph into six
      // jump-join rounds (+0.9 s) while the changes sequence (32→16→8→2→1)
      // was already halving without help.
      jumpOn = !converged && i >= 2 && changes * 2 > prevChanges
      prevChanges = changes
      if (sys.env.contains("SPARK_GRAFT_CC_LOG"))
        System.err.println(s"[cc] round=$i changes=$changes nextJump=$jumpOn")
      val cut = DatasetBridge.lineageCut(updatedCache, Some((n, math.max(1L, n * 64L))))
      labels = cut.select(col("id"), col("new_label").as("label"))
      // next round's delta: exactly the rows this round lowered (whether by
      // neighbor min or by pointer jump — both must be re-delivered)
      frontier = cut.where(col("new_label") < col("old_label"))
        .select(col("id"), col("new_label").as("label"))
      labelsCache.unpersist() // previous round fully consumed — release
      labelsCache = updatedCache
      i += 1
    }
    edgesCache.unpersist()
    labels.select(col("id"), col("label").as("cluster_id"),
      when(col("id") === col("label"), 1).otherwise(0).as("keep"))
  }

  /** Single-task union-find for graphs below the small-graph edge bound
    * (see [[nearDupClusters]]). The per-round dataflow machinery exists to
    * bound memory/traffic on corpus-sized graphs; below the bound its cost is
    * pure driver overhead (measured ~0.6-1.5 s PER ROUND of planning + job
    * round-trip for microseconds of compute, x ~8 rounds on the sf0.1 bench
    * graph). Here the whole edge list fits one task, so compute the exact
    * fixpoint in ONE job: coalesce the symmetrized edges to a single
    * partition and run path-compressed union-find inside `mapPartitions`
    * (executor-side — nothing is collected to the driver). The result is
    * row-identical to the converged iterative path: component representative
    * = minimum id, `keep` = 1 iff representative (min under the JVM's
    * Comparable order, which matches Catalyst's `least` for the numeric and
    * ASCII-string ids this operator accepts); `maxIter` does not apply — the
    * answer is exact by construction. */
  private def smallGraphClusters(edgesCache: DataFrame, nEdges: Long): DataFrame = {
    val spark = edgesCache.sparkSession
    val idType = edgesCache.schema("src").dataType
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType, nullable = true),
      org.apache.spark.sql.types.StructField("cluster_id", idType, nullable = true),
      org.apache.spark.sql.types.StructField("keep", org.apache.spark.sql.types.IntegerType,
        nullable = false)))
    val one = edgesCache.coalesce(1).rdd.mapPartitions { it =>
      val parent = new java.util.HashMap[Any, Any]()
      def find(x: Any): Any = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.get(c) != r) { val nxt = parent.get(c); parent.put(c, r); c = nxt }
        r
      }
      def lt(a: Any, b: Any): Boolean = a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
      it.foreach { row =>
        val s = row.get(0); val d = row.get(1)
        if (!parent.containsKey(s)) parent.put(s, s)
        if (!parent.containsKey(d)) parent.put(d, d)
        val rs = find(s); val rd = find(d)
        if (rs != rd) { // union under min-id root, so the root IS the min
          if (lt(rs, rd)) parent.put(rd, rs) else parent.put(rs, rd)
        }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      val keys = parent.keySet().iterator()
      while (keys.hasNext) {
        val id = keys.next()
        val root = find(id)
        out += org.apache.spark.sql.Row(id, root, if (id == root) 1 else 0)
      }
      out.iterator
    }
    // one row per endpoint, and every edge is stored both ways: at most
    // nEdges rows. Declared, so the result reports a size like a file scan
    // does (an RDD leaf's default size is unknown)
    org.apache.spark.sql.graftbridge.DatasetBridge.lineageCut(spark.createDataFrame(one, outSchema),
      Some((nEdges, math.max(1L, nEdges * outSchema.defaultSize))))
  }

  /**
   * SimHash-64 over tokens: per-document signed bit-vote using xxhash64 token
   * hashes (codegen'd built-in). Near-dups = small hamming distance.
   */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("tok"))
      .where(col("tok") =!= "")
      .withColumn("h", xxhash64(col("tok")))
    val votes = (0 until 64).map(i =>
      sum(when(expr(s"(h >> $i) & 1") === 1, 1).otherwise(-1)).as(s"v_$i"))
    val voted = toks.groupBy("id").agg(votes.head, votes.tail: _*)
    val bits = (0 until 64).map(i =>
      when(col(s"v_$i") > 0, expr(s"cast(1 as bigint) << $i")).otherwise(lit(0L)))
    voted.select(col("id"), bits.reduce((a, b) => a.bitwiseOR(b)).as("simhash"))
  }

  /**
   * ENGINE-PORTABLE SimHash-64 (oracle-checkable, unlike [[simhash64]]'s
   * xxhash64): token bit i = high bit of hex char of md5 — chars 0..31 of
   * md5(tok || "#a") give bits 0..31, md5(tok || "#b") bits 32..63. Output is
   * the 16-hex-char signature string (nibble j = bits 4j..4j+3 as 8·b+4·b+2·b+b),
   * avoiding engines' differing bigint shift-overflow behavior at bit 63.
   */
  def simhashMd5(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // A SimHash is a PER-DOCUMENT value (votes over the doc's own tokens), so
    // like [[minhashSignatures]] it needs no explode and no shuffle: the
    // codegen'd [[graft.ops.exprs.SimhashDocHex]] tokenizes, votes and
    // assembles the 16-hex-char signature in one map-only pass — identical
    // output to the explode-tokens → 64-sum groupBy → nibble-CASE
    // construction (pinned in OpsExprSpec; the q25 DuckDB oracle replays the
    // formula end to end), with zero exchanges where the previous shape paid
    // one plus the 64-aggregate codegen. The `trim != ''` filter reproduces
    // the groupBy's row drop for token-free texts exactly (a non-space char
    // ⟺ at least one non-empty token). Contract note: duplicate-id rows now
    // yield one signature row each (the groupBy merged them); ids are corpus
    // keys — unique — everywhere this operator is used.
    df.select(col(idCol).as("id"), col(textCol).as("__text"))
      .where(trim(col("__text")) =!= "")
      .select(col("id"), graft.ops.exprs.OpsExprs.simhashDocHex(col("__text")).as("simhash_hex"))
  }

  /** Hamming distance between simhashes (for verify-stage pairing). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /**
   * Embedding near-dup / similarity via QUANTIZED integer dot product:
   * floor(x·1000) per component → exact int64 arithmetic, engine-portable
   * (no float-summation-order ambiguity). Output pairs with qdot ≥ minQdot.
   * Computed by the codegen'd native [[graft.ops.exprs.QuantizedDot]] — the
   * previous `aggregate(zip_with(...))` form ran interpreted lambdas per
   * element per row (q18 scores corpus×queries pairs through this). Value-
   * and null-semantics pinned ≡ the HOF form in OpsExprSpec, plus the
   * q17/q18/q26 DuckDB oracles end-to-end.
   */
  def quantizedDot(vecA: Column, vecB: Column): Column =
    graft.ops.exprs.OpsExprs.quantizedDot(vecA, vecB)

  /**
   * Embedding near-dup pairs, THE SCALE PATH: sign-random-projection LSH
   * bands generate candidates (a pair is a candidate iff it shares any
   * band's bucket — see [[Similarity.withBandKeys]]), then the exact
   * quantized dot verifies within candidates only. Work is
   * O(N·bands + Σ bucket²) instead of the all-pairs O(N²); recall vs the
   * exact cross-join is property-tested (EmbeddingNearDupSpec).
   *
   * CONTRACT: every embedding must have exactly `dims` elements — a ragged
   * row fails the job loudly ([[Similarity.quantizedChecked]]); pre-filter
   * `size(col(vecCol)) === dims` on uncurated data.
   */
  def embeddingNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      minQdot: Long, bands: Int, bitsPerBand: Int, dims: Int,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val keyed = Similarity.withBandKeys(emb, idCol, vecCol, bands, bitsPerBand, dims)
      .withColumnRenamed(idCol, "id")
    val cands = bandedPairs(keyed, maxBucketSize)
    val va = emb.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val vb = emb.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    cands.join(va, Seq("id_a")).join(vb, Seq("id_b"))
      .select(col("id_a"), col("id_b"), quantizedDot(col("vec_a"), col("vec_b")).as("qdot"))
      .where(col("qdot") >= minQdot)
  }

  /** The exact all-pairs variant — O(n²) cross join, the small-N verify
    * ORACLE for [[embeddingNearDupPairs]] (recall tests); never the scale
    * path. */
  def embeddingNearDupPairsExact(emb: DataFrame, idCol: String, vecCol: String,
      minQdot: Long): DataFrame = {
    val a = emb.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), quantizedDot(col("vec_a"), col("vec_b")).as("qdot"))
      .where(col("qdot") >= minQdot)
  }
}
