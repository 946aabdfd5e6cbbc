package graft.wbot

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.graftbridge.DatasetBridge
import scala.collection.mutable
import Schemas._

/**
 * The Spark-native crawl engine: the reference's concurrent pull loop
 * (`/root/reference/crawler.go:195-291`) re-architected as an iterative
 * frontier-expansion pipeline of batch supersteps (one superstep = one BFS
 * depth level), per SURVEY.md §3.2. All state is tabular:
 *
 *   frontier(depth d)  —[politeness ranked-window drain]→  rate intervals
 *     —[left join pages on canon (the "fetch")]→  crawled_d + failures
 *     —[extractLinks ∘ posexplode → resolve → Q1 ∧ Q2 ∧ Q3]→ candidates
 *     —[in-batch first-occurrence window + anti-join seen]→ fresh
 *     —[scalable global rank → seq]→ frontier(d+1);  seen ∪= fresh
 *
 * Exact-match guarantees vs the reference at WithParallel(1):
 *   crawl order = `seq` ascending (seq reifies the FIFO, assigned in
 *   discovery order: within a depth by (parent_seq, link_pos), depths
 *   stratified — identical to the FIFO's BFS order);
 *   seen set = test-and-set semantics split into its two halves: in-batch
 *   first-occurrence (`row_number`=1 over hash) + cross-batch anti-join,
 *   with seeds never pre-marked (`crawler.go:173-194` skips the store) and
 *   candidates marked seen even when their later fetch fails (Q4a/Q4b quirks).
 */
object SparkCrawler {

  /** One superstep's counts and wall time; `generatedCode` records its
    * execution regime (false: run interpreted, see [[generatedCode]]). */
  final case class StepStat(depth: Int, frontierSize: Long, fetched: Long, failed: Long,
      candidates: Long, passedFilters: Long, fresh: Long, intervals: Int, wallMs: Long,
      generatedCode: Boolean = true)

  final case class CrawlRun(
      order: DataFrame, // seq,url,canon,hash,depth,status,superstep,interval,ua — sort by seq = reference order
      attempts: DataFrame, // every fetch attempt incl. misses
      seen: DataFrame, // hash, hash64
      metrics: Map[String, Long], // the reference's 7 counters (metrics.go:45-55)
      steps: Vector[StepStat])

  /** Prepare the pages side of the fetch join once: canonical key + hash64,
    * hash-partitioned (the Iceberg-table layout stand-in; on a real cluster
    * this is the bucketed/partitioned Iceberg table, SURVEY.md §7.6). */
  def preparePages(pages: DataFrame, partitions: Int): DataFrame = {
    // canon uniqueness is a store invariant (the reference holds ONE page per
    // URL, store/in_memory.go); enforcing it here makes the regular left-join
    // hit count and the fast-terminal semi-join count provably equivalent.
    // The winner per canon is DETERMINISTIC — latest snapshot wins (max
    // warc_ts, max url on ties), not dropDuplicates' arbitrary first-seen —
    // so duplicate-canon snapshots (www aliases, re-crawled WARC segments)
    // produce the same crawl on every run. Fixture webs never emit duplicate
    // canons, so the Oracle's Map semantics coincide trivially there.
    val ordCol =
      if (pages.columns.contains("warc_ts")) struct(col("warc_ts"), col("url"))
      else struct(col("url"))
    pages
      // native codegen'd expression (exprs.CanonicalizeUrl) — stays inside
      // whole-stage codegen on the biggest scan of the pipeline
      .withColumn("canon", exprs.UrlExprs.canonicalizeUrl(col("url")))
      .where(col("canon").isNotNull)
      // fetch-join payload only: the engine never reads page_url/text/lang
      // downstream, and every byte here rides through the per-superstep join
      .select(col("canon"), col("html"), ordCol.as("__ord"))
      .repartition(partitions, col("canon"))
      // rides the repartition's clustering — no extra shuffle
      .groupBy(col("canon"))
      .agg(max_by(col("html"), col("__ord")).as("html"))
      .withColumn("hash64", xxhash64(col("canon")))
      .select(col("canon"), col("hash64"), col("html"))
      // sorted-within-buckets layout (what the bucketed+sorted Iceberg table
      // gives on a real cluster): the per-superstep sort-merge fetch join
      // then sorts ONLY the frontier side — the 10^10-row pages side is
      // sort-free at query time
      .sortWithinPartitions(col("canon"))
      // html-heavy: serialized cache keeps GC sane; when the session has
      // off-heap memory configured, keep the (large) pages snapshot off-heap
      // so it neither thrashes the GC nor spills to disk between supersteps
      .persist(
        if (org.apache.spark.sql.SparkSession.active.conf
          .getOption("spark.memory.offHeap.enabled").contains("true")) StorageLevel.OFF_HEAP
        else StorageLevel.MEMORY_AND_DISK_SER)
  }


  /** Declared read schema of a [[writePreparedPages]] bucket — exactly what
    * the write leaves in the footers (PrepSnapshotSpec pins it). */
  val PreparedPagesSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL("canon STRING, hash64 BIGINT, html BINARY")

  /** Persist a [[preparePages]] snapshot to disk as one bucket directory per
    * partition (`__bucket=<pid>`, pid ≡ `pmod(hash(canon), P)`), rows inside
    * each bucket file sorted by canon — the pages-side analogue of the
    * bucket-aligned seen commit. A later session reconstructs the exact
    * prepared layout with [[readPreparedPages]]: ZERO shuffle, zero
    * canonicalize pass over the corpus — the per-session prep
    * (canonicalize + repartition + dedup + sort of the FULL corpus, the
    * largest remaining one-time cost at the 10^10 design point) is paid once
    * per corpus snapshot instead of once per session. On a real cluster this
    * is writing/reading the bucketed+sorted Iceberg pages table (SURVEY §7.6).
    * Returns the row count (also persisted in the side-car properties). */
  def writePreparedPages(pagesPrep: DataFrame, dir: String): Long = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val p = pagesPrep.rdd.getNumPartitions
    val rows = pagesPrep.count()
    val tmp = dir + ".tmp"
    // __bucket is constant per task, so sortWithinPartitions(__bucket, canon)
    // re-sorts each partition by canon — satisfying the dynamic-partition
    // writer's required ordering EXPLICITLY. Without this the writer plans
    // its own sort on __bucket alone, which is not stability-guaranteed and
    // could scramble the canon order the fetch join's sort-free pages side
    // depends on.
    pagesPrep.withColumn("__bucket", spark_partition_id())
      .sortWithinPartitions(col("__bucket"), col("canon"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("__bucket").parquet(tmp)
    val dst = new java.io.File(dir)
    if (dst.exists()) { def del(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(del); f.delete(); () }; del(dst) }
    Files.move(Paths.get(tmp), Paths.get(dir), StandardCopyOption.ATOMIC_MOVE)
    val props = new java.util.Properties()
    props.setProperty("partitions", p.toString)
    props.setProperty("rows", rows.toString)
    val ptmp = Paths.get(s"$dir/_prep.properties.tmp")
    val out = Files.newOutputStream(ptmp)
    try props.store(out, "prepared pages snapshot meta") finally out.close()
    Files.move(ptmp, Paths.get(s"$dir/_prep.properties"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    rows
  }

  /** Reconstruct a [[writePreparedPages]] snapshot as a zero-shuffle aligned
    * leaf: `HashPartitioning(canon, P)` + per-partition canon ordering
    * DECLARED (the fetch join adds no pages-side exchange or sort, identical
    * to the in-session prep), cached at the same storage level
    * [[preparePages]] uses. No stats are declared — the pages side must never
    * broadcast, and the session-default (effectively infinite) size
    * guarantees that. Every bucket is read with [[PreparedPagesSchema]], so
    * no bucket pays a footer-inference job. Drop-in for
    * [[runPrepared]]/[[resumePrepared]]. */
  def readPreparedPages(spark: SparkSession, dir: String): DataFrame = {
    val pf = new java.io.File(s"$dir/_prep.properties")
    require(pf.exists(), s"no prepared-pages snapshot at $dir")
    val props = new java.util.Properties()
    val in = java.nio.file.Files.newInputStream(pf.toPath)
    try props.load(in) finally in.close()
    val p = props.getProperty("partitions").toInt
    val buckets = (0 until p).map { b =>
      val bdir = new java.io.File(s"$dir/__bucket=$b")
      if (bdir.exists()) Some(spark.read.schema(PreparedPagesSchema).parquet(bdir.toString))
      else None
    }
    org.apache.spark.sql.graftbridge.DatasetBridge
      .bucketSourcesAligned(buckets, Seq("canon"), None, orderedBy = Seq("canon"))
      .persist(bulkLevel)
  }

  /** Executor for per-superstep side jobs (order-stream checkpoint, seen-delta
    * alignment, snapshot commit and its table writes): they are independent
    * of the main superstep plan and of each other, so running them as
    * concurrent Spark jobs collapses sequential driver round-trips into
    * ~max(one). Daemon threads, unbounded (a side job may itself fan out and
    * await, as the commit does); all futures are awaited inside the
    * superstep that spawned them. Submit through [[sideJob]] only. */
  private lazy val sideEc: scala.concurrent.ExecutionContextExecutor =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newCachedThreadPool { r =>
        val t = new Thread(r, "wbot-sidejob"); t.setDaemon(true); t
      })

  /** Run `body` on the side-job pool as the SUBMITTING thread would: its
    * Spark local properties (job group, description, scheduler pool, job
    * tags) and active session are captured here and set in the task, then
    * restored — what Spark's `SQLExecution.withThreadLocalCaptured` does.
    * Local properties are inheritable thread-locals, so a pooled thread
    * otherwise keeps those of whichever thread created it: the caller's
    * `cancelJobGroup` would miss the side job, and a stale group would be
    * credited with it. */
  private[wbot] def sideJob[A](spark: SparkSession)(body: => A): scala.concurrent.Future[A] = {
    import org.apache.spark.sql.graftbridge.DatasetBridge.{localProperties, setLocalProperties}
    val sc = spark.sparkContext
    val props = localProperties(sc)
    scala.concurrent.Future {
      val prevProps = localProperties(sc)
      val prevSession = SparkSession.getActiveSession
      setLocalProperties(sc, props)
      SparkSession.setActiveSession(spark)
      try body
      finally {
        setLocalProperties(sc, prevProps)
        prevSession.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
      }
    }(sideEc)
  }

  /** Storage level for the engine's bulk caches: off-heap when the session
    * has an off-heap pool (columnar bytes stay out of the GC'd heap — the
    * executor heap only pays the transient batch-build buffers), serialized
    * on-heap + disk otherwise. */
  private def bulkLevel: StorageLevel =
    if (org.apache.spark.sql.SparkSession.active.conf
      .getOption("spark.memory.offHeap.enabled").contains("true")) StorageLevel.OFF_HEAP
    else StorageLevel.MEMORY_AND_DISK_SER

  /** Seed frontier (crawler.go:109-147): parse all, abort on ANY invalid,
    * error on zero valid; seeds enqueued in argument order at depth 0 with
    * round-robin UA; the seen store is NOT pre-marked (Q4a quirk). */
  def seedFrontier(spark: SparkSession, seeds: Seq[String], cfg: CrawlConfig): DataFrame = {
    import spark.implicits._
    val parsed = seeds.map(s => s -> UrlFuncs.newUrl(s))
    val errs = parsed.collect { case (s, Left(e)) => s"$s: $e" }
    if (errs.nonEmpty) throw new IllegalArgumentException(s"invalid links: ${errs.mkString("; ")}")
    if (parsed.isEmpty) throw new IllegalArgumentException("no valid links")
    val rows = parsed.zipWithIndex.collect { case ((_, Right(p)), i) =>
      (p.urlStr, p.canon, p.hash, p.host, p.root, 0, i.toLong, cfg.uaFor(i), cfg.proxyFor(i))
    }
    spark.createDataset(rows)
      .toDF("url", "canon", "hash", "host", "root", "depth", "seq", "ua", "proxy")
      .withColumn("hash64", xxhash64(col("canon")))
      .withColumn("score", scoreCol(cfg))
  }

  /** O2 drain priority as a Catalyst column over the frontier fields; the
    * default (no scoreExpr) is the reference's pure FIFO. */
  private def scoreCol(cfg: CrawlConfig) =
    cfg.scoreExpr.map(e => coalesce(expr(e).cast("long"), lit(0L))).getOrElse(lit(0L))

  /** The loop's starting point. `frontierSize` is the frontier's exact row
    * count, known on the driver wherever a frontier is born (seed list,
    * previous superstep's fresh count, manifest), so no count job measures
    * it. */
  private final case class State(
      frontier: DataFrame, frontierSize: Long, loadedDeltas: Seq[Storage.LoadedDelta],
      metrics: mutable.Map[String, Long], seqBase: Long, startDepth: Int,
      orderParts: mutable.ArrayBuffer[DataFrame],
      attemptParts: mutable.ArrayBuffer[DataFrame],
      seenBaseStep: Int = -1)

  def run(spark: SparkSession, pages: DataFrame, seeds: Seq[String], cfg: CrawlConfig,
      saltedPoliteness: Boolean = false): CrawlRun = {
    val pagesPrep = preparePages(pages, cfg.partitions)
    try {
      // built here, not by the first superstep: the regime gate
      // ([[generatedCode]]) reads the built cache's row count
      pagesPrep.count()
      runPrepared(spark, pagesPrep, seeds, cfg, saltedPoliteness)
    } finally { pagesPrep.unpersist(); () }
  }

  /** Standard-robots crawl: bootstrap the RFC 9309 rule table from the SAME
    * prepared snapshot the fetch join uses (`Robots.rulesFromPages(pagesPrep)`
    * — the robots-body side reads the cached canon-keyed prep, so the
    * bootstrap costs one hosts-dimension pass, not a second full-snapshot
    * canonicalization), then crawl with the rules enforced. */
  def runWithRobots(spark: SparkSession, pages: DataFrame, seeds: Seq[String],
      cfg: CrawlConfig, saltedPoliteness: Boolean = false): CrawlRun = {
    val pagesPrep = preparePages(pages, cfg.partitions)
    try {
      val rules = Robots.rulesFromPages(spark, pages, Some(pagesPrep))
      runPrepared(spark, pagesPrep, seeds,
        cfg.copy(robots = rules, robotsStandardMode = true), saltedPoliteness)
    } finally { pagesPrep.unpersist(); () }
  }

  /** Crawl against an already-prepared pages snapshot.
    *
    * LAYOUT CONTRACT: `pagesPrep` must be laid out as [[preparePages]]
    * produces it — `HashPartitioning(canon, P)` (Murmur3, `pmod(hash(canon),
    * P)` = partition id) with partitions sorted by canon and ONE row per
    * canon. The fetch join itself only needs the canon key; the
    * frontier-bucket PRUNING of the cache additionally relies on the hash
    * layout, so the loop validates it on a sampled prefix the first time
    * pruning would fire and falls back to unpruned scans (correct, just
    * slower) on a mismatched external snapshot. */
  def runPrepared(spark: SparkSession, pagesPrep: DataFrame, seeds: Seq[String],
      cfg: CrawlConfig, saltedPoliteness: Boolean = false): CrawlRun = {
    // seedFrontier keeps every seed or throws: its row count is seeds.size
    val frontier = seedFrontier(spark, seeds, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    val seqBase = seeds.size.toLong
    val m = mutable.Map(
      "total_requests" -> 0L, "successful_requests" -> 0L, "failed_requests" -> 0L,
      "total_link" -> 0L, "crawled_link" -> 0L, "skipped_link" -> 0L,
      "duplicated_link" -> 0L)
    crawlLoop(spark, pagesPrep, cfg, saltedPoliteness,
      State(frontier, seqBase, Nil, m, seqBase, 0,
        mutable.ArrayBuffer.empty, mutable.ArrayBuffer.empty))
  }

  /** Resume from the last committed superstep in cfg.checkpointDir: reload
    * frontier/seen/metrics/seq watermark and continue the loop; previously
    * committed crawled/attempt deltas are folded into the result.
    *
    * The seen set comes back as a LIST of per-commit deltas
    * ([[Storage.readSeenDeltas]]): deltas the engine committed BUCKETED at
    * this session's alignment width reconstruct as zero-shuffle aligned
    * leaves (the first post-resume anti-join adds no exchange on the seen
    * side), and only the unaligned residue — small pre-fold deltas, the
    * final expansion's unaligned commit, width-mismatched layouts — pays a
    * re-shuffle, O(residue) not O(seen). */
  def resumePrepared(spark: SparkSession, pagesPrep: DataFrame, cfg: CrawlConfig,
      saltedPoliteness: Boolean = false): CrawlRun = {
    val st = new Storage(cfg.checkpointDir.getOrElse(
      throw new IllegalArgumentException("resume requires checkpointDir")))
    val snap = st.readManifest().getOrElse(
      throw new IllegalStateException("no committed snapshot to resume from"))
    val frontier = st.readFrontier(spark, snap.lastStep).persist(StorageLevel.MEMORY_AND_DISK)
    // a manifest written before `frontier_rows` existed pays one count
    val frontierSize = snap.frontierRows.getOrElse(frontier.count())
    val alignP = cfg.seenAlignPartitions.getOrElse(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val deltas = st.readSeenDeltas(spark, snap.lastStep, snap.seenBaseStep, alignP, seenRowBytes)
    val orderParts = mutable.ArrayBuffer.empty[DataFrame]
    st.readCrawled(spark, snap.lastStep).foreach(orderParts += _)
    val attemptParts = mutable.ArrayBuffer.empty[DataFrame]
    st.readAttempts(spark, snap.lastStep).foreach(attemptParts += _)
    crawlLoop(spark, pagesPrep, cfg, saltedPoliteness,
      State(frontier, frontierSize, deltas, mutable.Map(snap.metrics.toSeq: _*),
        snap.seqBase, snap.lastStep + 1, orderParts, attemptParts, snap.seenBaseStep))
  }

  /** Materialize a seen delta HASH-PARTITIONED on its join key: one
    * O(delta) repartition + accounted persist at birth, lineage-cut with the
    * partitioning DECLARED on the leaf. Every later anti-join then reads the
    * accumulated union with zero exchange on the seen side (the in-memory
    * analogue of appending to a bucketed seen table — SURVEY §1.1/§4.3),
    * where the unaligned design re-shuffled the FULL seen set every
    * superstep: O(seen) per superstep, quadratic cumulative. */
  /** Estimated unsafe-row bytes of a (canon, hash, hash64) seen row — feeds
    * the leaf stats so a small seen side stays broadcastable. */
  private val seenRowBytes = 160L

  /** The seen set is keyed by CANON, not by the sha-256 `hash`: hash is a
    * deterministic function of canon (`UrlFuncs.sha256hex(canon)` ≡
    * `sha2(canon, 256)`), so grouping by canon is dedup-equivalent while the
    * 64-char hex hash — incompressible, ~30% of the candidate shuffle's wire
    * bytes — stays OUT of the per-superstep window shuffle and is recomputed
    * by a codegen'd `sha2` on the (much smaller) post-dedup fresh set. The
    * one formal divergence from the reference's hash-keyed store — two
    * DISTINCT canons sharing a sha-256 digest would dedup there and not here
    * — requires a sha-256 collision. */
  private def alignDelta(delta: DataFrame, p: Int): DataFrame = {
    val parted = delta.repartition(p, col("canon")).persist(bulkLevel)
    val n = parted.count()
    org.apache.spark.sql.graftbridge.DatasetBridge.lineageCutPartitioned(
      parted, Seq("canon"), p, Some((n, math.max(1L, n * seenRowBytes))))
  }

  /** Whether a superstep runs with Spark's generated code. It runs
    * interpreted when everything it reads fits one task: the pages cache,
    * the frontier and, when it expands, the expected candidates — at most
    * `bound` rows together ([[interpretedRowsBound]]). Below that, Janino
    * time for the ~100 classes of a small crawl's plans, which Spark's
    * codegen cache cannot keep from one run to the next
    * (`DatasetBridge.withoutGeneratedCode`), is a large share of each
    * superstep, and interpretation costs little on so few rows. A pages
    * cache that is not built yet (`pagesRows` None) counts as large. */
  private[graft] def generatedCode(pagesRows: Option[Long], frontierSize: Long,
      expectedCandidates: Long, bound: Long): Boolean =
    pagesRows.forall(_ + frontierSize + expectedCandidates > bound)

  /** The row bound of [[generatedCode]]: [[Politeness.RowsPerTask]]. Tests
    * set it per crawl (`withValue(0L)`) to run small crawls with generated
    * code. */
  private[graft] val interpretedRowsBound =
    new scala.util.DynamicVariable[Long](Politeness.RowsPerTask)

  private def crawlLoop(spark: SparkSession, pagesPrep: DataFrame, cfg: CrawlConfig,
      saltedPoliteness: Boolean, st0: State): CrawlRun = {
    import spark.implicits._
    var frontier = st0.frontier
    // join-width alignment: deltas are partitioned at cfg.seenAlignPartitions
    // (default: the session's shuffle width) so the anti-join's candidate
    // side (the first-occurrence window's shuffle) and the seen side line up
    // with no extra exchange; see CrawlConfig for the at-scale sizing rule
    val alignP = cfg.seenAlignPartitions.getOrElse(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    // seen-set size below which the anti-join's seen side broadcasts — also
    // the bound below which per-superstep delta ALIGNMENT is deferred (a
    // broadcast side needs no layout, so tiny supersteps skip the alignP-wide
    // side job entirely; the accumulated smalls are folded into one aligned
    // store the first time the bound is crossed)
    val smallSeenBound = cfg.smallSeenBound
    // ALIGNED deltas (canon-hash-partitioned at alignP — the aligned-union
    // view's inputs) and DEFERRED small deltas (unaligned stats-bearing
    // leaves over tiny persisted projections: while the accumulated seen set
    // fits the broadcast bound nothing needs a layout, so shallow supersteps
    // skip the alignP-wide alignment side job — the round-4 d0–d2 floor paid
    // one 160-task job per tiny superstep for a layout no join ever used)
    val seenDeltas = mutable.ArrayBuffer.empty[DataFrame]
    val smallDeltas = mutable.ArrayBuffer.empty[DataFrame]
    val smallCaches = mutable.ArrayBuffer.empty[DataFrame]
    if (st0.loadedDeltas.nonEmpty && st0.metrics.getOrElse("crawled_link", 0L) > 0L) {
      def proj(df: DataFrame) = df.select(col("canon"), col("hash"), col("hash64"))
      if (st0.metrics("crawled_link") > smallSeenBound) {
        // invariant past the bound: every delta aligned. Bucket-committed
        // deltas already reconstruct as zero-shuffle aligned leaves
        // (Storage.readSeenDeltas); only the unaligned residue — small
        // pre-fold deltas, the final expansion's plain commit — pays one
        // O(residue) re-shuffle, where the pre-round-5 resume re-aligned
        // the FULL seen set.
        val (ok, residue) = st0.loadedDeltas.partition(_.aligned)
        seenDeltas ++= ok.map(_.df)
        if (residue.nonEmpty)
          seenDeltas += alignDelta(residue.map(ld => proj(ld.df)).reduce(_ unionByName _), alignP)
      } else {
        // below the broadcast bound nothing needs a layout: every loaded
        // delta stays a small parquet leaf (file stats make it
        // broadcastable), and seenDeltas stays EMPTY so a later crossing
        // fold genuinely covers all seen rows (supersedesPrior contract)
        smallDeltas ++= st0.loadedDeltas.map(ld => proj(ld.df))
      }
    }
    def emptySeen: DataFrame =
      spark.emptyDataset[(String, String, Long)].toDF("canon", "hash", "hash64")
    def seen: DataFrame =
      (seenDeltas ++ smallDeltas).reduceOption(_ unionByName _).getOrElse(emptySeen)
    // the anti-join view past the broadcast bound: partition-wise union of
    // the aligned deltas — ONE leaf with the canon partitioning still
    // visible to Catalyst. Invariant: when seenTotal > smallSeenBound every
    // delta is aligned (smalls are folded at the crossing superstep).
    def seenForJoin(totalRows: Long): DataFrame =
      if (seenDeltas.isEmpty) emptySeen
      else org.apache.spark.sql.graftbridge.DatasetBridge
        .alignedUnion(seenDeltas.toSeq, Seq("canon"), alignP,
          Some((totalRows, math.max(1L, totalRows * seenRowBytes))))
    val m = st0.metrics
    var seqBase = st0.seqBase
    // the step whose committed seen delta supersedes all earlier ones (the
    // bound-crossing fold's compaction point); -1 until a fold commits
    var seenBaseStep = st0.seenBaseStep
    val orderParts = st0.orderParts
    val attemptParts = st0.attemptParts
    val steps = mutable.ArrayBuffer.empty[StepStat]
    val storage = cfg.checkpointDir.map(new Storage(_))
    storage.foreach(_.init())

    // pages-cache bucket count: the fetch join's pruning granularity (equals
    // cfg.partitions when the prep came from this config; derived from the
    // actual layout so externally-prepared snapshots are safe). The cached
    // plan declares it, so no job reads it; only a pages side that is not a
    // hash-partitioned cache pays `.rdd`, which under AQE runs its shuffle.
    val pagesP = DatasetBridge.cacheFacts(pagesPrep).hashPartitions
      .getOrElse(pagesPrep.rdd.getNumPartitions)
    val codegenBound = interpretedRowsBound.value
    // runPrepared's layout contract, machine-checked on a sampled prefix the
    // first time pruning would fire (lazy: one tiny job per crawl, and only
    // when pruning matters): every sampled row must sit in partition
    // pmod(hash(canon), P). An externally-prepared snapshot with a matching
    // partition COUNT but a different layout would otherwise be silently
    // pruned into failed fetches; instead it crawls unpruned (correct).
    lazy val pagesLayoutOk: Boolean = {
      val bad = pagesPrep
        .select(spark_partition_id().as("__pid"),
          pmod(hash(col("canon")), lit(pagesP)).cast("int").as("__want"))
        .limit(1000).where(col("__pid") =!= col("__want")).count()
      if (bad > 0)
        System.err.println(s"[wbot] pagesPrep layout is not HashPartitioning(canon, $pagesP) " +
          s"($bad of <=1000 sampled rows misplaced) — frontier-bucket pruning disabled")
      bad == 0L
    }

    // the NEXT frontier's distinct pages-cache bucket ids, harvested for
    // free from the rank job's map stage (an observation) — so shallow
    // supersteps prune the fetch join without a dedicated driver round-trip
    var nextPids: Set[Int] = null
    // a bucket store doubling as an (un-aligned) seen delta — never unpersist
    var protectedStore: DataFrame = null

    var d = st0.startDepth
    var stepsRun = 0
    // the current frontier's UNRANKED bucket store (rank-invariant consumers
    // — the terminal hit count — read this and skip the seq-window sort);
    // null when the frontier didn't come from an expansion (seeds, resume)
    var frontierRaw: DataFrame = null
    var frontierSize = st0.frontierSize
    // size of the seen set == crawled_link (every fresh candidate is marked
    // seen; seeds are not) — picks the seen side's shape without extra actions
    var seenTotal = m("crawled_link")
    while (d <= cfg.maxDepth && frontierSize > 0 && stepsRun < cfg.maxSupersteps) {
      stepsRun += 1
      val t0 = System.nanoTime()
      // expected candidates per frontier row: the previous superstep's
      // observed fan-out, default 16
      val fanoutEst = steps.lastOption match {
        case Some(p) if p.frontierSize > 0 && p.candidates > 0 =>
          math.max(1.0, p.candidates.toDouble / p.frontierSize)
        case _ => 16.0
      }
      // execution regime, from sizes the driver holds: a superstep whose
      // rows fit one task runs without generated code (the whole superstep,
      // side jobs included — each is awaited inside it)
      val withCodegen = generatedCode(DatasetBridge.cacheFacts(pagesPrep).rows, frontierSize,
        if (d < cfg.maxDepth) (frontierSize * fanoutEst).toLong else 0L, codegenBound)
      def superstep(): Unit = {

      // FAST TERMINAL SUPERSTEP: no expansion, no recorded streams, no
      // strict drains — nothing downstream consumes the join payload, so the
      // hit count is a column-pruned SEMI join (the html bytes never ride a
      // cache) and politeness intervals (schedule-only metadata nothing
      // records) are skipped entirely. Metrics are identical by definition.
      // The count is also RANK-invariant, so it reads the raw bucket store
      // when one exists — the biggest frontier of the whole crawl skips its
      // seq-window sort entirely.
      if (d >= cfg.maxDepth && !cfg.recordStreams && !cfg.strictPoliteness) {
        m("total_requests") += frontierSize
        val hitSrc = if (frontierRaw != null) frontierRaw else frontier
        // count-only semi join: ship ONE column through the frontier-side
        // exchange (canon, ~4x fewer bytes than the full store row) and pin
        // the join shuffled-hash — the build is one aligned pages partition
        // (corpus/P rows, no exchange, no sort on the cache side) and the
        // probe side skips its sort too. On the biggest frontier of the crawl
        // (the terminal depth is the geometric peak) SMJ's two sorts are pure
        // waste: nothing downstream consumes an ordering.
        val fetched = hitSrc.select("canon")
          .join(pagesPrep.select("canon").hint("shuffle_hash"), Seq("canon"), "left_semi")
          .count()
        m("successful_requests") += fetched
        m("failed_requests") += frontierSize - fetched
        val oldFrontier = frontier
        frontier = spark.emptyDataset[FrontierRow].toDF
        // terminal count done (unless the store doubles as a seen delta)
        if (frontierRaw != null && (frontierRaw ne protectedStore))
          frontierRaw.unpersist()
        frontierRaw = null
        oldFrontier.unpersist()
        storage.foreach { s =>
          s.commitStep(d, frontier, 0L, None, emptyOrder(spark), emptyAttempts(spark),
            m.toMap, seqBase, seenBaseStep)
        }
        steps += StepStat(d, frontierSize, fetched, frontierSize - fetched, 0L, 0L, 0L, 0,
          (System.nanoTime() - t0) / 1000000L, withCodegen)
        frontierSize = 0L
        d += 1
      } else {

      // R1: politeness schedule — rate-interval slots within this depth.
      // Job-count discipline: every driver action is a scheduling round-trip,
      // so the per-superstep counters (interval span, hit count, candidate
      // count, pass count) ride `observe()` metrics on jobs the loop must run
      // anyway; only strict drains need the interval span EAGERLY (to build
      // the per-interval union) and keep a real agg. frontierSize is carried
      // exactly from the previous superstep's fresh count.
      //
      // CACHE DISCIPLINE (the 100 TB memory bound): on the default batch path
      // (!strictPoliteness, !recordStreams) the whole superstep is ONE plan
      // with ONE consumer, so NOTHING per-superstep is persisted — the fetch
      // payload (html) streams through the extract map stage and is never
      // cached, candidates live only in spill-safe shuffle files, and the
      // rank is a zero-action range bucket (Ranks.denseRangeRank). Caches
      // exist only where a second consumer does: `scheduled` when the order
      // stream or strict drains re-read it, `joined` only under strict
      // drains (whose per-slot unions are expensive to recompute).
      val ivObs = new org.apache.spark.sql.Observation(s"iv_d${d}_s$stepsRun")
      val cacheScheduled = cfg.strictPoliteness || cfg.recordStreams
      // salt fan-out (salted mode only): 1 while the frontier fits one
      // task, else from the previous superstep's observed skew
      val prev = steps.lastOption
      val saltFanout = Politeness.saltFanout(cfg, frontierSize,
        prev.fold(0L)(_.frontierSize), prev.fold(0)(_.intervals), alignP)
      val scheduled0 = Politeness.assignIntervals(frontier, cfg, saltedPoliteness, saltFanout)
      val scheduled = {
        val s = if (cfg.strictPoliteness) scheduled0
          else scheduled0.observe(ivObs, max(col("interval")).as("max_iv"))
        if (cacheScheduled) s.persist(StorageLevel.MEMORY_AND_DISK) else s
      }
      m("total_requests") += frontierSize
      val strictIntervals =
        if (cfg.strictPoliteness) {
          val r = scheduled.agg(max(col("interval"))).first()
          (if (r.isNullAt(0)) 0 else r.getInt(0)) + 1
        } else 0

      // FRONTIER-BUCKET PRUNING of the pages cache — the in-engine analogue
      // of Iceberg bucket pruning (on a real cluster the bucketed pages
      // table gives this via storage-partitioned joins; the reference
      // analogue is that an HTTP GET touches ONE url, http_client.go:99-106,
      // never the corpus). The cache is hash-partitioned on canon, so the
      // frontier's distinct partition ids (a tiny agg over the cached
      // frontier store — ≤ P ints cross the driver) bound which cache
      // partitions the fetch join can possibly hit; the rest become empty
      // scan tasks that never decompress a batch. Shallow supersteps (the
      // per-superstep floor's biggest term) then cost ~O(frontier-buckets),
      // not O(corpus). Only worthwhile while the frontier can miss buckets:
      // past ~4·P random keys expected coverage is ≈ 98%, so skip the probe.
      val pagesSide: DataFrame =
        if (frontierSize < 4L * pagesP && pagesLayoutOk) {
          // pid set from the previous rank job's observation when available
          // (zero extra jobs); else one tiny distinct-collect over the
          // cached frontier (seeds, resume)
          val pids =
            if (nextPids != null) nextPids
            else {
              val src = if (frontierRaw != null) frontierRaw else frontier
              src.select(pmod(hash(col("canon")), lit(pagesP)).cast("int").as("__p"))
                .distinct().collect().map(_.getInt(0)).toSet
            }
          if (pids.size < pagesP)
            org.apache.spark.sql.graftbridge.DatasetBridge.prunedCacheScan(
              pagesPrep, pids, Seq("canon"), pagesP, Seq("canon"))
          else pagesPrep
        } else pagesPrep
      nextPids = null // consumed (applies to THIS frontier only)

      // S2: the fetch = left join against the pages snapshot on canonical key.
      // strictPoliteness physically drains one rate interval at a time
      // (schedule-faithful); default joins the whole depth at once (the
      // interval column still records the schedule).
      //
      // PINNED SORT-MERGE at every frontier size: a left join that keeps the
      // frontier can only build its RIGHT side, so the only broadcast AQE can
      // pick here is the pages cache itself — chosen from its COMPRESSED
      // cached size, then built decompressed, html included, on the driver
      // and every executor (BENCH/BASELINE.md: the whole corpus on every
      // fetch join of a small crawl; peak heap halves once pinned). The
      // merge join reads the hash-partitioned, canon-sorted pages side in
      // place — no exchange, no sort — and exchanges and sorts only the
      // frontier.
      def fetchJoin(fr: DataFrame): DataFrame =
        fr.hint("merge").join(pagesSide.drop("hash64"), Seq("canon"), "left")
      val fetchObs = new org.apache.spark.sql.Observation(s"fetch_d${d}_s$stepsRun")
      val joined0 = (
        if (cfg.strictPoliteness && strictIntervals > 1) {
          // wall-clock pacing (limiter.go:52-59 semantics): slot i's fetch is
          // MATERIALIZED no earlier than i × slot-length; safe slot length =
          // the longest configured budget interval
          val slotMs =
            if (cfg.paceWallClock) cfg.rateLimits.values.map(_.intervalMs).max else 0L
          val tPace0 = System.nanoTime()
          (0 until strictIntervals).map { i =>
            val part = fetchJoin(scheduled.where(col("interval") === i))
            if (cfg.paceWallClock) {
              val sleepMs = (tPace0 + i * slotMs * 1000000L - System.nanoTime()) / 1000000L
              if (sleepMs > 0) Thread.sleep(sleepMs)
              part.localCheckpoint(true) // fetch happens NOW, inside its slot
            } else part
          }.reduce(_ unionByName _)
        } else fetchJoin(scheduled)
      ).observe(fetchObs,
          sum(when(col("html").isNotNull, 1L).otherwise(0L)).as("fetched"))
      // html payload is cached ONLY under strict drains; everywhere else it
      // streams through its single pass (a second consumer — the order-stream
      // checkpoint — recomputes the fetch join from the cached schedule
      // CONCURRENTLY instead of holding frontier×html bytes in memory)
      val joined = if (cfg.strictPoliteness) joined0.persist(bulkLevel) else joined0

      val hits = joined.where(col("html").isNotNull)
      var actionRan = false
      // The order-stream checkpoint runs as a CONCURRENT job: it shares the
      // cached schedule (and the pages cache) with the main expansion plan,
      // so the two jobs overlap instead of serializing two driver
      // round-trips. The main thread awaits it before touching the stream
      // buffers (no cross-thread mutation).
      val ckFut: Option[scala.concurrent.Future[DataFrame]] =
        if (cfg.recordStreams) {
          actionRan = true
          val ckDf = joined.select(col("seq"), col("url"), col("canon"), col("hash"),
            col("depth"), col("interval"), col("ua"), col("proxy"),
            col("html").isNotNull.as("hit"), lit(d).as("superstep"))
          // checkpoint width sized from the EXACT frontier row count (same
          // rows-per-task rule as the rank width below): the stream rows are
          // a pure side output — unioned and seq-sorted at crawl end, never
          // joined back — so partitioning is only a task-count knob, and the
          // uncoalesced plan inherits the politeness window's full shuffle
          // width (32 tasks materializing a 24-row superstep on the tiny
          // bench crawl). coalesce never widens, so corpus-scale supersteps
          // keep their parallelism.
          val ckW = math.max(1,
            math.min(cfg.partitions, (frontierSize / Politeness.RowsPerTask).toInt + 1))
          Some(sideJob(spark)(ckDf.coalesce(ckW).localCheckpoint(true)))
        } else None

      var freshCount = 0L
      var candTotal = 0L
      var passedCount = 0L
      var seenCommit: Option[Storage.SeenCommit] = None
      // in-flight hash-alignment of this superstep's seen delta (reads the
      // materialized bucket store); when it lands, the COMMITTED delta is the aligned store itself
      // (bucket-partitioned on disk → zero-shuffle resume), superseding all
      // earlier commits when it folded the deferred smalls in
      var alignFut: scala.concurrent.Future[DataFrame] = null
      var alignSupersedes = false
      // the store backing the frontier this superstep consumes: releasable
      // once every consumer (main plan, order checkpoint, commit) is done
      val consumedStore = frontierRaw
      if (d < cfg.maxDepth) { // Q5: expand only when depth+1 ≤ maxDepth
        // F4+F5+F1+F3: extract (on the MaxBodySize-truncated body,
        // http_client.go:117-123) → resolve → validate; drops are silent
        val exploded = hits.select(
          col("seq").as("parent_seq"), col("url").as("parent_url"),
          col("root").as("parent_root"), col("ua"), col("proxy"),
          posexplode(Udfs.extractLinks(col("html"), lit(cfg.maxBodySize))).as(Seq("link_pos", "href")))
        // Q1: substring same-root (crawler.go:252-255 — contains, not suffix)
        var passCond = col("host").contains(col("parent_root"))
        // Q2: robots. Reference parity = allow-all no-op (robot.go:35-38);
        // standard mode enforces hostname-keyed prefix rules on the candidate
        // — the PORT-STRIPPED hostname (Go URL.Hostname()), matching the
        // Oracle's `target.url.hostnameOnly` gate: a rule for `site.com`
        // applies to `http://site.com:8080/...` too.
        if (cfg.robotsStandardMode && cfg.robots.nonEmpty) {
          val allowed = Udfs.robotsAllowedUdf(cfg.robots)
          passCond = passCond && allowed(col("hostname"), col("path"), col("ua"))
        }
        // Q3: bad-extension (+ rule engine when configured) — filter.go:30-57
        passCond = passCond && (
          if (cfg.filterRules.isEmpty) !col("path").rlike(badExtRegex)
          else Udfs.filterAllowUdf(cfg.filterRules)(col("root"), col("path"), col("url")))

        // Candidate counters ride an observation BELOW the first-occurrence
        // window's shuffle: the metric fires exactly once, in that shuffle's
        // map stage (downstream branches re-read shuffle/cached output, never
        // this node) — accumulator-exact, zero extra jobs.
        val candObs = new org.apache.spark.sql.Observation(s"cand_d${d}_s$stepsRun")
        val cands = exploded
          .withColumn("cand", Udfs.resolveCandidate(col("parent_url"), col("href")))
          .where(col("cand").isNotNull)
          .select(col("parent_seq"), col("link_pos"), col("ua"), col("proxy"), col("parent_root"),
            col("cand.url").as("url"), col("cand.canon").as("canon"),
            col("cand.host").as("host"),
            col("cand.hostname").as("hostname"),
            col("cand.root").as("root"), col("cand.path").as("path"))
          .withColumn("pass", passCond)
          .observe(candObs, count(lit(1)).as("n_cands"),
            sum(when(col("pass"), 1L).otherwise(0L)).as("n_passed"))
        // SHUFFLE-SLIM PROJECTION (the round-4 profile's reduce-stage
        // remote-read CPU term): everything entering the first-occurrence
        // window's exchange — the biggest shuffle of the crawl, 26.8M rows
        // on the deep bench's d4 — is cut to the 6 columns no later stage
        // can derive. `hash` (64 hex chars), `hash64`, `host` and `root`
        // are all pure functions of (canon | url): hash64 is re-derived
        // right after the window, hash/host/root by
        // codegen'd exprs (sha2, UrlHost, HostRoot — byte-equality with the
        // UDF-side values pinned by UrlExprSpec) over the POST-dedup fresh
        // set, which on a geometric crawl is a fraction of the candidate
        // volume. hostname/path/parent_root are consumed by passCond above
        // and ship nowhere.
        // SHUFFLE-SLIM v2 (when both rotation lists have ≤ 64 entries; longer
        // lists ship the strings): of the 6 shipped columns,
        // `ua`/`proxy` are drawn from the config's small rotation lists
        // (request build P1 / sticky child build P2 — every candidate's
        // value is provably a list member), so they cross the exchange as a
        // dictionary INDEX and are re-materialized by a codegen'd literal
        // CASE right after the dedup; `url` equals `canon` for the large
        // majority of web links (already-canonical URLs), so it ships as a
        // null-when-equal delta and is rebuilt with one coalesce. Raw row
        // width through the crawl's biggest shuffle drops ~2x (the wide
        // strings were most of it), which is paid on the N>1 remote-read
        // path per-byte: shuffle-write serialize, netty fetch, decompress,
        // deserialize, and the window sort's spill all scale with it.
        // Winner selection is by the globally unique (parent_seq, link_pos)
        // — payload re-encoding can never change which row wins, so order,
        // seen set, and counters stay byte-identical (parity suites pin it).
        val slim2 = cfg.userAgents.length <= 64 && cfg.proxies.length <= 64
        val uaVals = cfg.userAgents
        val proxyVals = if (cfg.proxies.isEmpty) Vector("") else cfg.proxies
        def dictIx(c: Column, vs: Vector[String]): Column =
          vs.zipWithIndex.foldLeft(lit(-1)) { case (acc, (v, i)) =>
            when(c === lit(v), lit(i)).otherwise(acc) }
        def dictVal(c: Column, vs: Vector[String]): Column =
          vs.zipWithIndex.foldLeft(lit(vs.head)) { case (acc, (v, i)) =>
            if (i == 0) acc else when(c === lit(i), lit(v)).otherwise(acc) }
        val passed =
          if (slim2) cands.where(col("pass"))
            .select(col("parent_seq"), col("link_pos"),
              dictIx(col("ua"), uaVals).as("ua_ix"),
              dictIx(col("proxy"), proxyVals).as("proxy_ix"),
              when(col("url") === col("canon"), lit(null).cast("string"))
                .otherwise(col("url")).as("url_d"),
              col("canon"))
          else cands.where(col("pass"))
            .select(col("parent_seq"), col("link_pos"), col("ua"), col("proxy"),
              col("url"), col("canon"))

        // Q4a: in-batch first occurrence — discovery order (parent_seq, link_pos).
        // NOT persisted: downstream legs read it through the aggregation's
        // shuffle, which Catalyst reuses — spill-safe at any candidate
        // volume, unlike a 26.8M-row cache. Keyed by canon (dedup-equivalent
        // to the reference's hash key — see alignDelta's scaladoc). A window,
        // not a min-struct aggregate: duplicates of a link almost never share
        // a map partition, so a map-side partial aggregate measured no gain
        // (BENCH/BASELINE.md).
        val firsts0 = {
          val w = Window.partitionBy(col("canon"))
            .orderBy(col("parent_seq"), col("link_pos"))
          passed.withColumn("__rn", row_number().over(w))
            .where(col("__rn") === 1).drop("__rn")
        }
        // slim2 payload re-materialized HERE, on the post-dedup set (a
        // fraction of candidate volume): literal-CASE dictionary lookups
        // (codegen'd, same pattern as the politeness budget map) and the
        // url delta's one coalesce — downstream sees the exact pre-slim2
        // schema, so every later plan is unchanged.
        val firsts1 =
          if (slim2) firsts0.select(col("parent_seq"), col("link_pos"),
            dictVal(col("ua_ix"), uaVals).as("ua"),
            dictVal(col("proxy_ix"), proxyVals).as("proxy"),
            coalesce(col("url_d"), col("canon")).as("url"), col("canon"))
          else firsts0
        // hash64 re-derived ABOVE the dedup (not shipped through it): next
        // superstep's politeness salt
        val firsts = firsts1.withColumn("hash64", xxhash64(col("canon")))

        // Q4b: cross-superstep dedup — the exact anti-join against the seen
        // set. The seen side is the partition-wise union of the hash-aligned
        // deltas: NO exchange, NO sort on it, at any seen size. Below the
        // broadcast bound a broadcast of the (small) seen set stays allowed;
        // above it the join is pinned to a shuffled-hash join whose BUILD is
        // one aligned partition (seen/P rows per task — P is sized so that
        // fits, ~60 MB at 10^10 keys with P=16384), and whose probe side
        // reuses the first-occurrence window's hash partitioning. AQE's
        // compressed-size broadcast estimates (the round-3 OOM) never see an
        // exchange to convert.
        //
        // small seen: a PLAIN union of the (stats-bearing) delta leaves —
        // broadcastable, and crucially NOT a fixed-P sibling, so AQE stays
        // free to coalesce the shallow supersteps' tiny candidate stages (a
        // fixed-partition leaf next to the join pins the probe side to full
        // width — measured on the deep bench's d0-d3 floor). large seen: the
        // partition-aligned union leaf + shuffled-hash build — zero exchange,
        // zero sort on the seen side.
        val seenHinted =
          if (seenTotal <= smallSeenBound)
            (seenDeltas ++ smallDeltas).map(_.select("canon"))
              .reduceOption(_ unionByName _)
              .getOrElse(emptySeen.select("canon"))
          else seenForJoin(seenTotal).select("canon").hint("shuffle_hash")
        val fresh0pre = firsts.join(seenHinted, Seq("canon"), "left_anti")
        // the identity/addressing columns are recomputed HERE, post-dedup,
        // so only fresh-set rows pay them: sha-256 (F3) via the codegen'd
        // sha2 ≡ UrlFuncs.sha256hex; host via ONE GoUrl re-parse of the
        // resolved url (exact by the round-trip identity CandidateFastPathSpec
        // pins); root from host by pure label arithmetic — all pinned
        // byte-equal to the UDF-side Parsed values in UrlExprSpec.
        val fresh0 = fresh0pre
          .withColumn("hash", sha2(col("canon"), 256))
          .withColumn("host", exprs.UrlExprs.urlHost(col("url")))
          .withColumn("root", exprs.UrlExprs.hostRoot(col("host")))

        // O1: reify FIFO order — ONE action for the whole superstep. Parent
        // seqs are dense in [seqBase − frontierSize, seqBase) by construction,
        // so the rank needs no sampling pass (Ranks.denseRangeRank): the whole
        // dataflow up to here — schedule → fetch join → extract → filters →
        // first-occurrence → anti-join — executes ONCE into one
        // spill-safe, lineage-cut bucket store (the superstep's only
        // candidate-sized state), and the per-bucket counts cross the driver
        // as ≤ 8·P longs, giving the fresh count for free. The next frontier
        // and the seen delta are LAZY views over those blocks: the rank window
        // re-sorts the (materialized, bucketed) blocks on each downstream
        // scan instead of paying a second materialization job per superstep,
        // and the seen delta is a plain projection (no window at all).
        // ride the rank job's map stage: the fresh set's distinct pages-
        // cache bucket ids (≤ pagesP ints) — next superstep's prune set
        val pidObs = new org.apache.spark.sql.Observation(s"pids_d${d}_s$stepsRun")
        val fresh0Obs = fresh0.observe(pidObs,
          collect_set(pmod(hash(col("canon")), lit(pagesP)).cast("int")).as("pids"))
        // rank width sized from the EXPECTED candidate volume (previous
        // superstep's observed fan-out, default 16), not pinned to the full
        // cfg.partitions: a 200-row seed superstep ranks through 1 bucket
        // task instead of 160 — repartition(n, col) is a fixed-width
        // exchange AQE cannot coalesce, and those empty task launches were
        // the round-4 d0–d2 floor's biggest fixed term. Only a balance
        // knob: denseRangeRank's offsets are exact at any width, and an
        // underestimate merely means fuller (spill-safe) buckets.
        val rankP = math.max(1, math.min(cfg.partitions,
          (frontierSize * fanoutEst / Politeness.RowsPerTask).toInt + 1))
        // INVARIANT: denseRangeRank's counts job MATERIALIZES its input plan
        // (it repartitions fresh0Obs into the bucket store and counts the
        // buckets), so pidObs below is guaranteed to have fired — if Ranks
        // ever computes counts without traversing the input plan, the
        // blocking pidObs.get would hang the driver (the empty-map fallback
        // only covers AQE collapsing the plan, not a never-run observation).
        val rank = Ranks.denseRangeRank(fresh0Obs, col("parent_seq"),
          seqBase - frontierSize, seqBase, Seq(col("link_pos")), "__rank", rankP)
        freshCount = rank.total
        nextPids = {
          val m0 = pidObs.get // already fired (the rank's counts job ran)
          if (m0.isEmpty) null
          else Option(m0("pids")).map(_.asInstanceOf[Seq[Int]].toSet).orNull
        }
        val fresh = rank.df
          .withColumn("seq", col("__rank") - 1 + lit(seqBase))
          .withColumn("depth", lit(d + 1))
          .withColumn("score", scoreCol(cfg))
          .select(col("url"), col("canon"), col("hash"), col("hash64"),
            col("host"), col("root"), col("depth"), col("score"), col("seq"),
            col("ua"), col("proxy"))
        actionRan = true
        // filled by this superstep's jobs. CAVEAT: when the expansion yields
        // ZERO fresh rows, AQE's empty-relation propagation can rewrite the
        // whole collapsed subtree to an empty LocalTableScan and DROP the
        // CollectMetrics node — the observation then completes with an EMPTY
        // row. Rare (an expanding superstep where every candidate is a dup),
        // and the recount below is exact because the pipeline is
        // deterministic.
        val candStats = candObs.get
        if (candStats.isEmpty) {
          val r = cands.agg(count(lit(1)),
            sum(when(col("pass"), 1L).otherwise(0L))).first()
          candTotal = r.getLong(0)
          passedCount = if (r.isNullAt(1)) 0L else r.getLong(1)
        } else {
          candTotal = candStats("n_cands").asInstanceOf[Long]
          passedCount = Option(candStats("n_passed")).fold(0L)(_.asInstanceOf[Long])
        }
        m("total_link") += candTotal
        m("skipped_link") += candTotal - passedCount
        m("duplicated_link") += passedCount - freshCount
        m("crawled_link") += freshCount
        seqBase += freshCount

        // the seen set is a LIST of canon-aligned materialized deltas: the
        // alignment costs one O(fresh) repartition per superstep (concurrent
        // side job), and every later anti-join reads the union with zero
        // shuffle on the seen side. On a real cluster this is an append to
        // the bucketed seen table (Storage writes exactly these aligned
        // deltas when a checkpointDir is configured).
        // Three exemptions from per-superstep alignment:
        //  - the LAST expansion's delta has no anti-join consumer (the next
        //    superstep only fetches — Q5): skip entirely, the single biggest
        //    delta of a geometric crawl rides the bucket store;
        //  - while the accumulated seen fits the broadcast bound, the delta
        //    stays a DEFERRED small leaf (tiny persisted projection, no side
        //    job, no alignP-wide stage — the next anti-join broadcasts it);
        //  - the superstep that CROSSES the bound folds every deferred small
        //    plus its own delta into one aligned store (one O(bound) job).
        val lastExpansion = d + 1 >= cfg.maxDepth
        if (!lastExpansion) {
          val freshDelta = rank.cached.select(col("canon"), col("hash"), col("hash64"))
          if (seenTotal + freshCount > smallSeenBound) {
            val toFold = smallDeltas.toVector
            val toRelease = smallCaches.toVector
            smallDeltas.clear(); smallCaches.clear()
            // the fold covers every seen row so far (seenDeltas is empty
            // while smalls exist), so its commit SUPERSEDES all earlier
            // seen commits — the manifest's seen_base_step advances and a
            // resume reads one bucketed store instead of d small parquets
            alignSupersedes = toFold.nonEmpty
            alignFut = sideJob(spark) {
              val aligned = alignDelta(
                (toFold :+ freshDelta).reduce(_ unionByName _), alignP)
              toRelease.foreach(_.unpersist())
              aligned
            }
          } else {
            val cache = freshDelta.persist(bulkLevel)
            val leaf = org.apache.spark.sql.graftbridge.DatasetBridge.lineageCut(
              cache, Some((freshCount, math.max(1L, freshCount * seenRowBytes))))
            smallDeltas += leaf
            smallCaches += cache
            if (freshCount > 0L)
              seenCommit = Some(Storage.SeenCommit(leaf, None, freshCount,
                supersedesPrior = false))
          }
        } else {
          val d0 = rank.cached.select(col("canon"), col("hash"), col("hash64"))
          seenDeltas += d0
          if (freshCount > 0L)
            seenCommit = Some(Storage.SeenCommit(d0, None, freshCount,
              supersedesPrior = false))
          protectedStore = rank.cached
        }
        seenTotal += freshCount

        val oldFrontier = frontier
        frontier = fresh
        frontierRaw = rank.cached
        oldFrontier.unpersist()
      } else {
        val oldFrontier = frontier
        frontier = spark.emptyDataset[FrontierRow].toDF
        frontierRaw = null
        oldFrontier.unpersist()
      }
      // harvest the concurrent order-stream checkpoint (main thread owns the
      // stream buffers)
      ckFut.foreach { f =>
        val ck = scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)
        attemptParts += ck.select(col("seq"), col("canon"), col("depth"), col("hit"),
          col("superstep"))
        orderParts += ck.where(col("hit")).select(col("seq"), col("url"), col("canon"),
          col("hash"), col("depth"), lit(200).as("status"), col("superstep"),
          col("interval"), col("ua"), col("proxy"))
      }
      if (!actionRan) joined.count() // ensure the fetch observation fired
      // same empty-row hazard as candObs (see above): recount on the rare
      // collapsed-plan path
      val fetched = {
        val m0 = fetchObs.get
        if (m0.isEmpty) {
          val r = joined.agg(sum(when(col("html").isNotNull, 1L).otherwise(0L))).first()
          if (r.isNullAt(0)) 0L else r.getLong(0)
        } else Option(m0("fetched")).fold(0L)(_.asInstanceOf[Long])
      }
      val failed = frontierSize - fetched
      m("successful_requests") += fetched
      m("failed_requests") += failed
      val nIntervals =
        if (cfg.strictPoliteness) strictIntervals
        else {
          val m0 = ivObs.get
          if (m0.isEmpty) {
            val r = scheduled.agg(max(col("interval"))).first()
            (if (r.isNullAt(0)) -1 else r.getInt(0)) + 1
          } else Option(m0("max_iv")).fold(0)(_.asInstanceOf[Int] + 1)
        }

      // harvest the concurrent delta alignment: the NEXT superstep's
      // anti-join (and this superstep's commit) read the aligned store
      if (alignFut != null) {
        val aligned = scala.concurrent.Await.result(alignFut,
          scala.concurrent.duration.Duration.Inf)
        seenDeltas += aligned
        // commit the ALIGNED store (one bucket dir per partition — resume
        // reconstructs the layout with zero shuffle); a fold carries every
        // seen row (seenTotal, already updated above) and advances the
        // compaction point, a plain post-bound delta carries just the fresh
        val alignedRows = if (alignSupersedes) seenTotal else freshCount
        if (alignedRows > 0L)
          seenCommit = Some(Storage.SeenCommit(aligned, Some(alignP), alignedRows,
            supersedesPrior = alignSupersedes))
        if (alignSupersedes) seenBaseStep = d
        alignFut = null
      }
      // exact: the fresh set is the next frontier (none past maxDepth)
      val nextFrontierSize = if (d < cfg.maxDepth) freshCount else 0L
      // atomic superstep commit: frontier, seen delta, crawled delta,
      // attempts delta (written concurrently by Storage.commitStep), then
      // metrics, seq watermark and the next frontier's row count — awaited
      // before the superstep closes (the next superstep unpersists the
      // previous frontier this commit reads)
      val commitFut = storage.map { s =>
        val fr = frontier; val frRows = nextFrontierSize; val sd = seenCommit
        val od = orderParts.lastOption.getOrElse(emptyOrder(spark))
        val at = attemptParts.lastOption.getOrElse(emptyAttempts(spark))
        val mSnap = m.toMap; val sb = seqBase; val sbase = seenBaseStep
        sideJob(spark)(s.commitStep(d, fr, frRows, sd, od, at, mSnap, sb, sbase))
      }
      commitFut.foreach(f =>
        scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))

      val wallMs = (System.nanoTime() - t0) / 1000000L
      steps += StepStat(d, frontierSize, fetched, failed, candTotal, passedCount, freshCount,
        nIntervals, wallMs, withCodegen)
      if (cacheScheduled) scheduled.unpersist()
      if (cfg.strictPoliteness) joined.unpersist()
      // every consumer of the PREVIOUS superstep's bucket store (this
      // superstep's main plan, order checkpoint, commit) has finished, and
      // the seen delta no longer aliases it (hash-aligned copy) — release.
      // Before the alignment, deltas pinned every store for the crawl's
      // lifetime: Σ O(full frontier rows) off-heap, vs Σ O(hash rows) now.
      if (consumedStore != null && (consumedStore ne frontierRaw) &&
          (consumedStore ne protectedStore))
        consumedStore.unpersist()

      frontierSize = nextFrontierSize
      d += 1
      } // end full superstep
      } // superstep()
      if (withCodegen) superstep() else DatasetBridge.withoutGeneratedCode(spark)(superstep())
    }

    val order = orderParts.reduceOption(_ unionByName _).getOrElse(emptyOrder(spark))
    val attempts = attemptParts.reduceOption(_ unionByName _)
      .getOrElse(spark.emptyDataset[(Long, String, Int, Boolean, Int)]
        .toDF("seq", "canon", "depth", "hit", "superstep"))
    CrawlRun(order, attempts, seen, m.toMap, steps.toVector)
  }

  private def emptyOrder(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[(Long, String, String, String, Int, Int, Int, Int, String, String)]
      .toDF("seq", "url", "canon", "hash", "depth", "status", "superstep", "interval", "ua", "proxy")
  }

  private def emptyAttempts(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[(Long, String, Int, Boolean, Int)]
      .toDF("seq", "canon", "depth", "hit", "superstep")
  }
}
