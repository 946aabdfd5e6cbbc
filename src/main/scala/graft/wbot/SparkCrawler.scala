package graft.wbot

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.graftbridge.DatasetBridge
import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
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

  /** One superstep's counts and wall time, and its regimes: `generatedCode`
    * (false: run as a static, interpreted plan, see [[generatedCode]]) and
    * its schedule's `saltFanout` ([[Politeness.saltFanout]]; 1: the
    * windowed rank). */
  final case class StepStat(depth: Int, frontierSize: Long, fetched: Long, failed: Long,
      candidates: Long, passedFilters: Long, fresh: Long, intervals: Int, wallMs: Long,
      generatedCode: Boolean = true, saltFanout: Int = 1)

  /** A crawl's results. The only caches a run leaves registered are the
    * ones these views read: for `seen`, its in-memory deltas (the small
    * persisted projections, the canon-aligned stores and the last
    * expansion's rank bucket store), held as `caches`; for `order` and
    * `attempts`, one order-stream checkpoint per superstep when
    * `recordStreams` is on, held as `checkpoints`. Parts reloaded by a resume
    * are parquet reads. The pages cache stays the caller's ([[runPrepared]])
    * or is released ([[run]]). */
  final case class CrawlRun(
      order: DataFrame, // seq,url,canon,hash,depth,status,superstep,interval,ua — sort by seq = reference order
      attempts: DataFrame, // every fetch attempt incl. misses
      seen: DataFrame, // hash, hash64
      metrics: Map[String, Long], // the reference's 7 counters (metrics.go:45-55)
      steps: Vector[StepStat])(caches: Seq[DataFrame], checkpoints: Seq[DataFrame]) {

    /** Frees every cache the run left registered, once nothing reads its
      * views any more: `order`, `attempts` and `seen` must not be read
      * after it (an order-stream checkpoint has no lineage to recompute
      * from). */
    def release(): Unit = {
      caches.foreach(_.unpersist())
      checkpoints.foreach(DatasetBridge.releaseCheckpoint)
    }
  }

  /** Prepare the pages side of the fetch join once: canonical key + hash64,
    * hash-partitioned (the Iceberg-table layout stand-in; on a real cluster
    * this is the bucketed/partitioned Iceberg table, SURVEY.md §7.6).
    * [[Storage.writePreparedPages]] keeps it on disk for later sessions. */
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
      // one static-evaluator call (exprs.UrlExprs.canon) — stays inside
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

  /** Storage level for the engine's bulk caches (the pages snapshot, seen
    * deltas, rank bucket stores, connected-components labels): off-heap when
    * the active session has an off-heap pool (columnar bytes stay out of the
    * GC'd heap — the executor heap only pays the transient batch-build
    * buffers), serialized on-heap + disk otherwise. */
  private[graft] def bulkLevel: StorageLevel =
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

  def run(spark: SparkSession, pages: DataFrame, seeds: Seq[String], cfg: CrawlConfig): CrawlRun = {
    val pagesPrep = preparePages(pages, cfg.partitions)
    try {
      // built here, not by the first superstep: the regime gate
      // ([[generatedCode]]) reads the built cache's row count
      pagesPrep.count()
      runPrepared(spark, pagesPrep, seeds, cfg)
    } finally { pagesPrep.unpersist(); () }
  }

  /** Standard-robots crawl: bootstrap the RFC 9309 rule table from the SAME
    * prepared snapshot the fetch join uses (`Robots.rulesFromPages(pagesPrep)`
    * — the robots-body side reads the cached canon-keyed prep, so the
    * bootstrap costs one hosts-dimension pass, not a second full-snapshot
    * canonicalization), then crawl with the rules enforced. */
  def runWithRobots(spark: SparkSession, pages: DataFrame, seeds: Seq[String],
      cfg: CrawlConfig): CrawlRun = {
    val pagesPrep = preparePages(pages, cfg.partitions)
    try {
      val rules = Robots.rulesFromPages(spark, pages, Some(pagesPrep))
      runPrepared(spark, pagesPrep, seeds,
        cfg.copy(robots = rules, robotsStandardMode = true))
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
    * slower) on a mismatched external snapshot. `saltedPoliteness` is read
    * by nothing (the frontier's size picks the salt fan-out); it stays only
    * because the frozen `graft.Bench` and perfbench harnesses pass it. */
  def runPrepared(spark: SparkSession, pagesPrep: DataFrame, seeds: Seq[String],
      cfg: CrawlConfig, saltedPoliteness: Boolean = false): CrawlRun = {
    // seedFrontier keeps every seed or throws: its row count is seeds.size
    val frontier = Frontier.persisted(seedFrontier(spark, seeds, cfg), Some(seeds.size.toLong))
    val metrics = Seq("total_requests", "successful_requests", "failed_requests",
      "total_link", "crawled_link", "skipped_link", "duplicated_link").map(_ -> 0L).toMap
    crawlLoop(spark, pagesPrep, cfg,
      Crawl(0, frontier, SeenSet.load(spark, cfg, Nil, 0L, -1), seeds.size.toLong, metrics,
        Vector.empty, Vector.empty, Vector.empty, Vector.empty))
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
    * re-shuffle, O(residue) not O(seen). `saltedPoliteness` is read by
    * nothing, as in [[runPrepared]]. */
  def resumePrepared(spark: SparkSession, pagesPrep: DataFrame, cfg: CrawlConfig,
      saltedPoliteness: Boolean = false): CrawlRun = {
    val st = new Storage(cfg.checkpointDir.getOrElse(
      throw new IllegalArgumentException("resume requires checkpointDir")))
    val snap = st.readManifest().getOrElse(
      throw new IllegalStateException("no committed snapshot to resume from"))
    // a manifest written before `frontier_rows` existed pays one count
    val frontier = Frontier.persisted(st.readFrontier(spark, snap.lastStep), snap.frontierRows)
    val deltas = st.readSeenDeltas(spark, snap.lastStep, snap.seenBaseStep,
      SeenSet.width(spark, cfg), seenRowBytes)
    val seen = SeenSet.load(spark, cfg, deltas, snap.metrics.getOrElse("crawled_link", 0L),
      snap.seenBaseStep)
    crawlLoop(spark, pagesPrep, cfg,
      Crawl(snap.lastStep + 1, frontier, seen, snap.seqBase, snap.metrics,
        st.readCrawled(spark, snap.lastStep).toVector,
        st.readAttempts(spark, snap.lastStep).toVector, Vector.empty, Vector.empty))
  }

  /** Estimated unsafe-row bytes of a (canon, hash, hash64) seen row — feeds
    * the leaf stats so a small seen side stays broadcastable. */
  private val seenRowBytes = 160L

  /** Materialize a seen delta HASH-PARTITIONED on its join key: one
    * O(delta) repartition + accounted persist at birth, lineage-cut with the
    * partitioning DECLARED on the leaf. Every later anti-join then reads the
    * accumulated union with zero exchange on the seen side (the in-memory
    * analogue of appending to a bucketed seen table — SURVEY §1.1/§4.3),
    * where the unaligned design re-shuffled the FULL seen set every
    * superstep: O(seen) per superstep, quadratic cumulative. Returns the
    * leaf and the persisted store behind it. */
  private def alignDelta(delta: DataFrame, p: Int): (DataFrame, DataFrame) = {
    val parted = delta.repartition(p, col("canon")).persist(bulkLevel)
    val n = parted.count()
    (DatasetBridge.lineageCutPartitioned(
      parted, Seq("canon"), p, Some((n, math.max(1L, n * seenRowBytes)))), parted)
  }

  /** Rows one task is sized to hold: the one bound behind a crawl's regime
    * ([[generatedCode]]), salt fan-out ([[Politeness.saltFanout]]) and task
    * widths ([[width]]). Tests set it per crawl (`withValue(0L)`: generated
    * code, salted, full widths). A crawl reads it once, on the caller's
    * thread: pooled side-job threads keep their creator's value. */
  private[graft] val rowsPerTask = new scala.util.DynamicVariable[Long](25000L)

  /** Tasks for `rows` rows at `bound` rows per task: between 1 and
    * `partitions`, and `partitions` at bound 0. The order-stream checkpoint
    * and the rank size their widths with it: at a pinned `partitions`, a
    * small superstep launches mostly empty tasks (32 for a 24-row superstep
    * of the tiny bench crawl; empty rank tasks were the round-4 d0–d2
    * floor's biggest fixed term). Only a task-count knob: no result depends on it. */
  private def width(rows: Long, partitions: Int, bound: Long): Int =
    if (bound <= 0L) partitions
    else math.max(1L, math.min(partitions.toLong, rows / bound + 1)).toInt

  /** Whether a superstep runs with Spark's generated code and adaptive
    * execution, in the caller's session. It runs as a static, interpreted
    * plan (`DatasetBridge.staticCopy`) when everything it reads fits one
    * task: the pages cache, the frontier and, when it expands, the expected
    * candidates — at most `bound` rows together ([[rowsPerTask]]). Below
    * that, Janino time for the ~100 classes of a small crawl's plans, which
    * Spark's codegen cache cannot keep from one run to the next
    * (`DatasetBridge.interpretedCopy`), is a large share of each
    * superstep, and interpretation costs little on so few rows; and AQE,
    * which submits each query stage as its own job and re-plans after it,
    * has nothing to coalesce or convert when no exchange holds a task's
    * worth of rows. A pages cache that is not built yet (`pagesRows` None)
    * counts as large. */
  private[graft] def generatedCode(pagesRows: Option[Long], frontierSize: Long,
      expectedCandidates: Long, bound: Long): Boolean =
    pagesRows.forall(_ + frontierSize + expectedCandidates > bound)

  /** What one superstep hands the next: the depth it runs at, its frontier,
    * the seen set, the seq watermark, the 7 counters, the recorded order and
    * attempts streams (committed parts first on a resume), the order-stream
    * checkpoints they read and the stats of the supersteps run so far. */
  private final case class Crawl(depth: Int, frontier: Frontier, seen: SeenSet, seqBase: Long,
      metrics: Map[String, Long], order: Vector[DataFrame], attempts: Vector[DataFrame],
      checkpoints: Vector[DataFrame], steps: Vector[StepStat])

  /** The frontier a superstep consumes. `rows` is its exact row count, known
    * on the driver wherever a frontier is born (seed list, previous
    * superstep's fresh count, manifest), so no count job measures it. `raw`
    * is the UNRANKED bucket store an expansion left: rank-invariant
    * consumers (the prune probe, the terminal hit count) read it and skip
    * the seq-window sort. `owned` is the persisted Dataset the frontier
    * releases once the superstep that consumes it is done: the seed or
    * resumed frontier itself, or the rank bucket store — None when that store
    * doubles as a seen delta, which the [[SeenSet]] then owns. `prunePids`
    * are the frontier's distinct pages-cache bucket ids when the rank job
    * that made it observed them (zero extra jobs). */
  private final case class Frontier(df: DataFrame, rows: Long, raw: Option[DataFrame] = None,
      owned: Option[DataFrame] = None, prunePids: Option[Set[Int]] = None) {
    def release(): Unit = owned.foreach(_.unpersist())

    /** This frontier read by `session`'s jobs: every job a superstep starts
      * reads it, so they all run in that session's regime. */
    def in(session: SparkSession): Frontier = copy(df = DatasetBridge.inSession(df, session),
      raw = raw.map(DatasetBridge.inSession(_, session)))
  }

  private object Frontier {
    /** A seed or resumed frontier of `rows` rows (counted when None):
      * persisted here, owned by the frontier. */
    def persisted(df: DataFrame, rows: Option[Long]): Frontier = {
      val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
      Frontier(cached, rows.getOrElse(cached.count()), owned = Some(cached))
    }

    def empty(spark: SparkSession): Frontier = {
      import spark.implicits._
      Frontier(spark.emptyDataset[FrontierRow].toDF, 0L)
    }
  }

  /** The crawl's seen set, and the one place that knows its layout.
    *
    * It is a LIST of materialized deltas. While the accumulated set fits the
    * broadcast bound (`CrawlConfig.smallSeenBound`), each delta stays a
    * SMALL stats-bearing leaf over a tiny persisted projection, and the
    * anti-join broadcasts their plain union: nothing needs a layout, so
    * shallow supersteps skip the alignP-wide alignment side job, and no
    * fixed-partition leaf next to the join pins the probe side to full
    * width (which stops AQE coalescing the shallow supersteps' tiny
    * candidate stages — measured on the deep bench's d0-d3 floor). The
    * superstep that crosses the bound FOLDS every small delta plus its own
    * into one store hash-aligned on canon at `alignP` ([[alignDelta]]);
    * past the bound each delta is aligned at birth as a concurrent side
    * job. On a real cluster this is an append to the bucketed seen table,
    * and `Storage` commits exactly these aligned deltas. Invariant: past
    * the bound every delta is aligned. The LAST expansion's delta has no
    * anti-join consumer (the next superstep only fetches — Q5), so it is
    * the rank bucket store itself (`last`), never aligned: the single
    * biggest delta of a geometric crawl is not copied.
    *
    * @param rows its size == crawled_link (every fresh candidate is marked
    *   seen; seeds are not)
    * @param smallCaches the persisted projections behind `small`, released
    *   by the fold
    * @param stores the persisted stores behind `aligned` and `last`, held
    *   until the run is released
    * @param baseStep the step whose committed delta supersedes all earlier
    *   ones (the fold's compaction point); -1 until a fold commits */
  private final case class SeenSet(aligned: Vector[DataFrame], small: Vector[DataFrame],
      smallCaches: Vector[DataFrame], stores: Vector[DataFrame], last: Option[DataFrame],
      rows: Long, baseStep: Int, alignP: Int, bound: Long) {

    /** Every persisted Dataset the deltas read. */
    def caches: Vector[DataFrame] = smallCaches ++ stores

    /** The anti-join's seen side. Small: the PLAIN union of the delta
      * leaves, broadcastable. Past the bound: the partition-wise union of
      * the aligned deltas — ONE leaf with the canon partitioning still
      * visible to Catalyst — pinned to a shuffled-hash join whose BUILD is
      * one aligned partition (seen/P rows per task; P is sized so that fits,
      * ~60 MB at 10^10 keys with P=16384) and whose probe side reuses the
      * first-occurrence window's hash partitioning: no exchange and no sort
      * on the seen side at any seen size, and AQE's compressed-size
      * broadcast estimates (the round-3 OOM) never see an exchange to
      * convert. */
    def joinSide(spark: SparkSession): DataFrame =
      if (rows <= bound)
        (aligned ++ small).map(_.select("canon")).reduceOption(_ unionByName _)
          .getOrElse(SeenSet.empty(spark).select("canon"))
      else {
        val union =
          if (aligned.isEmpty) SeenSet.empty(spark)
          else DatasetBridge.alignedUnion(aligned.map(DatasetBridge.inSession(_, spark)),
            Seq("canon"), alignP,
            Some((rows, math.max(1L, rows * seenRowBytes))))
        union.select("canon").hint("shuffle_hash")
      }

    /** The layout-free union of every delta: `CrawlRun.seen`. */
    def view(spark: SparkSession): DataFrame =
      (aligned ++ last ++ small).reduceOption(_ unionByName _).getOrElse(SeenSet.empty(spark))

    /** Adds one expansion's fresh rows, read from its rank bucket store
      * `rank`, at superstep `step`. */
    def add(spark: SparkSession, rank: Ranks.RankResult, lastExpansion: Boolean,
        step: Int): SeenUpdate = {
      val delta = rank.cached.select(col("canon"), col("hash"), col("hash64"))
      val fresh = rank.total
      val total = rows + fresh
      def commit(df: DataFrame, p: Option[Int], n: Long, supersedes: Boolean) =
        if (n > 0L) Some(Storage.SeenCommit(df, p, n, supersedes)) else None
      if (lastExpansion)
        SeenUpdate(Future.successful((copy(last = Some(delta),
          stores = stores :+ rank.persisted, rows = total),
          commit(delta, None, fresh, supersedes = false))), ownsStore = true)
      else if (total > bound) {
        // a fold covers every seen row so far (`aligned` is empty while
        // smalls exist), so its commit SUPERSEDES all earlier seen commits:
        // the manifest's seen_base_step advances and a resume reads one
        // bucketed store instead of d small parquets. The commit is the
        // ALIGNED store itself (one bucket dir per partition — resume
        // reconstructs the layout with zero shuffle).
        val supersedes = small.nonEmpty
        SeenUpdate(sideJob(spark) {
          // the fold runs in this superstep's session, not in that of the
          // superstep whose delta heads the union
          val (a, store) = alignDelta(
            DatasetBridge.inSession((small :+ delta).reduce(_ unionByName _), spark), alignP)
          smallCaches.foreach(_.unpersist())
          (copy(aligned = aligned :+ a, small = Vector.empty, smallCaches = Vector.empty,
            stores = stores :+ store,
            rows = total, baseStep = if (supersedes) step else baseStep),
            commit(a, Some(alignP), if (supersedes) total else fresh, supersedes))
        }, ownsStore = false)
      } else {
        val cache = delta.persist(bulkLevel)
        val leaf = DatasetBridge.lineageCut(cache,
          Some((fresh, math.max(1L, fresh * seenRowBytes))))
        SeenUpdate(Future.successful((copy(small = small :+ leaf,
          smallCaches = smallCaches :+ cache, rows = total),
          commit(leaf, None, fresh, supersedes = false))), ownsStore = false)
      }
    }
  }

  private object SeenSet {
    /** The alignment width: `CrawlConfig.seenAlignPartitions`, by default
      * the session's shuffle width, so the anti-join's candidate side (the
      * first-occurrence window's shuffle) and the seen side line up with no
      * extra exchange; see CrawlConfig for the at-scale sizing rule. */
    def width(spark: SparkSession, cfg: CrawlConfig): Int =
      cfg.seenAlignPartitions.getOrElse(spark.conf.get("spark.sql.shuffle.partitions").toInt)

    def empty(spark: SparkSession): DataFrame = {
      import spark.implicits._
      spark.emptyDataset[(String, String, Long)].toDF("canon", "hash", "hash64")
    }

    /** The seen set of `rows` rows committed as `loaded` (empty for a new
      * crawl). Past the bound every delta must be aligned: bucket-committed
      * deltas already reconstruct as zero-shuffle aligned leaves
      * (Storage.readSeenDeltas), and only the unaligned residue — small
      * pre-fold deltas, the final expansion's plain commit — pays one
      * O(residue) re-shuffle. Below it every loaded delta stays a small
      * parquet leaf (file stats make it broadcastable), and `aligned` stays
      * EMPTY so a later crossing fold genuinely covers all seen rows. */
    def load(spark: SparkSession, cfg: CrawlConfig, loaded: Seq[Storage.LoadedDelta],
        rows: Long, baseStep: Int): SeenSet = {
      val empty = SeenSet(Vector.empty, Vector.empty, Vector.empty, Vector.empty, None, rows,
        baseStep, width(spark, cfg), cfg.smallSeenBound)
      def proj(df: DataFrame) = df.select(col("canon"), col("hash"), col("hash64"))
      if (loaded.isEmpty || rows <= 0L) empty
      else if (rows > cfg.smallSeenBound) {
        val (ok, residue) = loaded.partition(_.aligned)
        val realigned = residue.map(ld => proj(ld.df)).reduceOption(_ unionByName _)
          .map(alignDelta(_, empty.alignP))
        empty.copy(aligned = ok.map(_.df).toVector ++ realigned.map(_._1),
          stores = realigned.map(_._2).toVector)
      } else empty.copy(small = loaded.map(ld => proj(ld.df)).toVector)
    }
  }

  /** One expansion's seen-set update. `landed` completes with the new set
    * and the delta this superstep commits, once a concurrent alignment (if
    * any) is done; `ownsStore`: the rank bucket store is now a seen delta,
    * so its frontier must not release it. */
  private final case class SeenUpdate(
      landed: Future[(SeenSet, Option[Storage.SeenCommit])], ownsStore: Boolean)

  /** The fetch join's pages side: the prepared cache and its bucket count,
    * the fetch join's pruning granularity (equal to cfg.partitions when the
    * prep came from this config; derived from the actual layout so
    * externally-prepared snapshots are safe). The cached plan declares it,
    * so no job reads it; only a pages side that is not a hash-partitioned
    * cache pays `.rdd`, which under AQE runs its shuffle. */
  private final class Pages(val prep: DataFrame) {
    val buckets: Int = DatasetBridge.cacheFacts(prep).hashPartitions
      .getOrElse(prep.rdd.getNumPartitions)

    /** The row count of the built cache (None before it is built). */
    def rows: Option[Long] = DatasetBridge.cacheFacts(prep).rows

    /** The pages-cache partition a canon hashes to. */
    def bucketOf(canon: Column): Column = pmod(hash(canon), lit(buckets)).cast("int")

    // runPrepared's layout contract, machine-checked on a sampled prefix the
    // first time pruning would fire (one tiny job per crawl, and only when
    // pruning matters): every sampled row must sit in partition
    // pmod(hash(canon), P). An externally-prepared snapshot with a matching
    // partition COUNT but a different layout would otherwise be silently
    // pruned into failed fetches; instead it crawls unpruned (correct).
    private var layoutChecked: Option[Boolean] = None

    private def layoutOk(session: SparkSession): Boolean = layoutChecked.getOrElse {
      val bad = DatasetBridge.inSession(prep, session)
        .select(spark_partition_id().as("__pid"), bucketOf(col("canon")).as("__want"))
        .limit(1000).where(col("__pid") =!= col("__want")).count()
      if (bad > 0)
        System.err.println(s"[wbot] pagesPrep layout is not HashPartitioning(canon, $buckets) " +
          s"($bad of <=1000 sampled rows misplaced) — frontier-bucket pruning disabled")
      layoutChecked = Some(bad == 0L)
      bad == 0L
    }

    /** FRONTIER-BUCKET PRUNING of the pages cache — the in-engine analogue
      * of Iceberg bucket pruning (on a real cluster the bucketed pages table
      * gives this via storage-partitioned joins; the reference analogue is
      * that an HTTP GET touches ONE url, http_client.go:99-106, never the
      * corpus). The cache is hash-partitioned on canon, so the frontier's
      * distinct partition ids bound which cache partitions the fetch join
      * can possibly hit; the rest become empty scan tasks that never
      * decompress a batch. Shallow supersteps (the per-superstep floor's
      * biggest term) then cost ~O(frontier-buckets), not O(corpus). Only
      * worthwhile while the frontier can miss buckets: past ~4·P random keys
      * expected coverage is ≈ 98%, so skip the probe. The ids come from the
      * previous rank job's observation when available (zero extra jobs),
      * else from one tiny distinct-collect over the cached frontier (seeds,
      * resume; ≤ P ints cross the driver). The probe and the pruned scan's
      * plan run in `session`, the superstep's. */
    def sideFor(frontier: Frontier, session: SparkSession): DataFrame =
      if (frontier.rows < 4L * buckets && layoutOk(session)) {
        val pids = frontier.prunePids.getOrElse(
          frontier.raw.getOrElse(frontier.df).select(bucketOf(col("canon")).as("__p"))
            .distinct().collect().map(_.getInt(0)).toSet)
        if (pids.size < buckets)
          DatasetBridge.prunedCacheScan(DatasetBridge.inSession(prep, session), pids,
            Seq("canon"), buckets, Seq("canon"))
        else prep
      } else prep
  }

  /** Counters that ride a job the superstep runs anyway, as an observation:
    * zero extra jobs. */
  private final class Counters(name: String, aggs: (String, Column)*) {
    private val obs = new org.apache.spark.sql.Observation(name)
    private val cols = aggs.map { case (n, c) => c.as(n) }

    def on(df: DataFrame): DataFrame = df.observe(obs, cols.head, cols.tail: _*)

    /** The counters in `aggs` order (null where an aggregate saw no rows),
      * once a job over `on`'s output has run. When the whole observed
      * subtree is empty, AQE's empty-relation propagation can rewrite it to
      * an empty LocalTableScan and DROP the CollectMetrics node; the
      * observation then completes with an EMPTY row, and the counters are
      * recounted from `observed` (`on`'s output, or a view of it): exact,
      * because the pipeline is deterministic, and one job on that rare
      * path. That rewrite happens only in supersteps above the row bound:
      * the small ones run static plans ([[generatedCode]]), which keep the
      * node. */
    def get(observed: DataFrame): Seq[Any] = {
      val m = obs.get
      if (m.isEmpty) observed.agg(cols.head, cols.tail: _*).first().toSeq
      else aggs.map { case (n, _) => m(n) }
    }
  }

  /** Expected candidates per frontier row: the previous superstep's observed
    * fan-out, default 16. */
  private def fanout(steps: Vector[StepStat]): Double = steps.lastOption match {
    case Some(p) if p.frontierSize > 0 && p.candidates > 0 =>
      math.max(1.0, p.candidates.toDouble / p.frontierSize)
    case _ => 16.0
  }

  /** One superstep per BFS depth until maxDepth, an empty frontier or
    * maxSupersteps. */
  private def crawlLoop(spark: SparkSession, pagesPrep: DataFrame, cfg: CrawlConfig,
      start: Crawl): CrawlRun = {
    val storage = cfg.checkpointDir.map(new Storage(_))
    storage.foreach(_.init())
    val pages = new Pages(pagesPrep)
    val bound = rowsPerTask.value
    lazy val small = DatasetBridge.staticCopy(spark)
    @scala.annotation.tailrec
    def loop(s: Crawl, stepsRun: Int): Crawl =
      if (s.depth > cfg.maxDepth || s.frontier.rows <= 0L || stepsRun >= cfg.maxSupersteps) s
      else {
        // execution regime, from sizes the driver holds: a superstep whose
        // rows fit one task runs on the static, interpreted copy of the
        // caller's session (no generated code, no adaptive re-planning:
        // each action is one multi-stage job). The whole superstep follows
        // its frontier there, side jobs and commit included. Above the
        // bound it runs on the caller's session: generated code and AQE.
        val rows = s.frontier.rows
        val expected = if (s.depth < cfg.maxDepth) (rows * fanout(s.steps)).toLong else 0L
        val withCodegen = generatedCode(pages.rows, rows, expected, bound)
        val session = if (withCodegen) spark else small
        loop(superstep(session, cfg, pages, storage, s.copy(frontier = s.frontier.in(session)),
          stepsRun + 1, bound, expected, withCodegen), stepsRun + 1)
      }
    val end = loop(start, 0)
    // a crawl stopped by maxSupersteps (or by an empty expansion) leaves a
    // live frontier that no result reads
    end.frontier.release()
    // the results are the caller's: read in its session's regime
    def own(df: DataFrame) = DatasetBridge.inSession(df, spark)
    CrawlRun(own(end.order.reduceOption(_ unionByName _).getOrElse(emptyOrder(spark))),
      own(end.attempts.reduceOption(_ unionByName _).getOrElse(emptyAttempts(spark))),
      own(end.seen.view(spark)), end.metrics, end.steps)(end.seen.caches, end.checkpoints)
  }

  private def bump(m: Map[String, Long], deltas: (String, Long)*): Map[String, Long] =
    deltas.foldLeft(m) { case (acc, (k, v)) => acc.updated(k, acc(k) + v) }

  /** Superstep `d` = `s.depth` (the `n`th this call runs): schedule → fetch
    * → expand (when d < maxDepth, Q5) → commit, then release the caches the
    * superstep consumed.
    *
    * Job-count discipline: every driver action is a scheduling round-trip,
    * so the per-superstep counters (interval span, hit count, candidate and
    * pass counts) ride `observe()` metrics on jobs the superstep runs anyway.
    *
    * CACHE DISCIPLINE (the 100 TB memory bound): on the default batch path
    * (!strictPoliteness, !recordStreams) the whole superstep is ONE plan
    * with ONE consumer, so nothing per-superstep is persisted but the rank
    * bucket store — the fetch payload (html) streams through the extract map
    * stage and is never cached, and candidates live only in spill-safe
    * shuffle files. Caches exist only where a second consumer does:
    * `scheduled` when the order stream or strict drains re-read it, the
    * fetch join only under strict drains (whose per-slot unions are
    * expensive to recompute). Each has one owner that releases the Dataset
    * it persisted once every consumer (main plan, order stream, commit) is
    * done; the seen set owns its own deltas. */
  private def superstep(spark: SparkSession, cfg: CrawlConfig, pages: Pages,
      storage: Option[Storage], s: Crawl, n: Int, bound: Long, expected: Long,
      withCodegen: Boolean): Crawl = {
    val t0 = System.nanoTime()
    val d = s.depth
    val fr = s.frontier
    def wallMs = (System.nanoTime() - t0) / 1000000L
    if (d >= cfg.maxDepth && !cfg.recordStreams && !cfg.strictPoliteness) {
      val fetched = terminalCount(pages, fr)
      val m = bump(s.metrics, "total_requests" -> fr.rows, "successful_requests" -> fetched,
        "failed_requests" -> (fr.rows - fetched))
      val next = Frontier.empty(spark)
      commit(storage, d, next, None, emptyOrder(spark), emptyAttempts(spark), m, s.seqBase,
        s.seen.baseStep)
      fr.release()
      s.copy(depth = d + 1, frontier = next, metrics = m, steps = s.steps :+
        StepStat(d, fr.rows, fetched, fr.rows - fetched, 0L, 0L, 0L, 0, wallMs, withCodegen))
    } else {
      val sched = schedule(cfg, s, n, bound)
      val f = fetch(spark, cfg, pages, fr, sched, d, n, bound)
      val exp = Option.when(d < cfg.maxDepth)(
        expand(spark, cfg, pages, s, f.joined, n, expected, bound))
      // the main thread owns the stream buffers: harvest the concurrent
      // order-stream checkpoint here
      val streams = f.stream.map { fut =>
        val ck = Await.result(fut, Duration.Inf)
        (ck.where(col("hit")).select(col("seq"), col("url"), col("canon"), col("hash"),
          col("depth"), lit(200).as("status"), col("superstep"), col("interval"), col("ua"),
          col("proxy")),
          ck.select(col("seq"), col("canon"), col("depth"), col("hit"), col("superstep")), ck)
      }
      if (streams.isEmpty && exp.isEmpty) f.joined.count() // fires the fetch observation
      val fetched = f.fetched
      val intervals = sched.intervals
      // the NEXT superstep's anti-join (and this superstep's commit) read the
      // landed seen set
      val (seen, seenCommit) = exp.fold((s.seen, Option.empty[Storage.SeenCommit]))(e =>
        Await.result(e.seen.landed, Duration.Inf))
      val next = exp.fold(Frontier.empty(spark))(_.frontier)
      val (cands, passed) = exp.fold((0L, 0L))(e => (e.candidates, e.passed))
      val m = bump(s.metrics, "total_requests" -> fr.rows, "successful_requests" -> fetched,
        "failed_requests" -> (fr.rows - fetched), "total_link" -> cands,
        "skipped_link" -> (cands - passed), "duplicated_link" -> (passed - next.rows),
        "crawled_link" -> next.rows)
      val seqBase = s.seqBase + next.rows
      commit(storage, d, next, seenCommit, streams.fold(emptyOrder(spark))(_._1),
        streams.fold(emptyAttempts(spark))(_._2), m, seqBase, seen.baseStep)
      val stat = StepStat(d, fr.rows, fetched, fr.rows - fetched, cands, passed, next.rows,
        intervals, wallMs, withCodegen, sched.saltFanout)
      sched.release()
      f.release()
      fr.release()
      Crawl(d + 1, next, seen, seqBase, m, s.order ++ streams.map(_._1),
        s.attempts ++ streams.map(_._2), s.checkpoints ++ streams.map(_._3), s.steps :+ stat)
    }
  }

  /** The FAST TERMINAL SUPERSTEP's hit count (no expansion, no recorded
    * streams, no strict drains): nothing downstream consumes the join
    * payload, so the hit count is a column-pruned SEMI join (the html bytes
    * never ride a cache) and politeness intervals (schedule-only metadata
    * nothing records) are skipped entirely. Metrics are identical by
    * definition. The count is RANK-invariant, so it reads the raw bucket
    * store when one exists — the biggest frontier of the whole crawl skips
    * its seq-window sort. It ships ONE column through the frontier-side
    * exchange (canon, ~4x fewer bytes than the full store row) and pins the
    * join shuffled-hash: the build is one aligned pages partition (corpus/P
    * rows, no exchange, no sort on the cache side) and the probe side skips
    * its sort too — on the terminal depth, the geometric peak, SMJ's two
    * sorts are pure waste. */
  private def terminalCount(pages: Pages, frontier: Frontier): Long =
    frontier.raw.getOrElse(frontier.df).select("canon")
      .join(pages.prep.select("canon").hint("shuffle_hash"), Seq("canon"), "left_semi")
      .count()

  /** A superstep's politeness schedule: `df` (cached when `cached`), its
    * salt fan-out, and its interval count — eager under strict drains,
    * which need it to build the per-interval union, else observed. */
  private final case class Schedule(df: DataFrame, saltFanout: Int, cached: Boolean,
      strictIntervals: Int, counters: Option[Counters]) {
    def intervals: Int = counters.fold(strictIntervals)(c =>
      Option(c.get(df).head).fold(0)(_.asInstanceOf[Int] + 1))

    def release(): Unit = if (cached) { df.unpersist(); () }
  }

  /** R1: politeness schedule — rate-interval slots within this depth, salted
    * as [[Politeness.saltFanout]] picks from sizes at `bound` rows per task. */
  private def schedule(cfg: CrawlConfig, s: Crawl, n: Int, bound: Long): Schedule = {
    val prev = s.steps.lastOption
    val saltFanout = Politeness.saltFanout(cfg, s.frontier.rows,
      prev.fold(0L)(_.frontierSize), prev.fold(0)(_.intervals), s.seen.alignP, bound)
    val scheduled0 = Politeness.assignIntervals(s.frontier.df, cfg, saltFanout)
    val counters =
      if (cfg.strictPoliteness) None
      else Some(new Counters(s"iv_d${s.depth}_s$n", "max_iv" -> max(col("interval"))))
    val cached = cfg.strictPoliteness || cfg.recordStreams
    val df = {
      val o = counters.fold(scheduled0)(_.on(scheduled0))
      if (cached) o.persist(StorageLevel.MEMORY_AND_DISK) else o
    }
    val strictIntervals =
      if (cfg.strictPoliteness) {
        val r = df.agg(max(col("interval"))).first()
        (if (r.isNullAt(0)) 0 else r.getInt(0)) + 1
      } else 0
    Schedule(df, saltFanout, cached, strictIntervals, counters)
  }

  /** A superstep's fetch join (cached when `cached`), its hit counter and
    * the concurrent order-stream checkpoint when streams are recorded. */
  private final case class Fetch(joined: DataFrame, cached: Boolean, counters: Counters,
      stream: Option[Future[DataFrame]]) {
    def fetched: Long = Option(counters.get(joined).head).fold(0L)(_.asInstanceOf[Long])

    def release(): Unit = if (cached) { joined.unpersist(); () }
  }

  /** S2: the fetch = left join against the pages snapshot on canonical key.
    * strictPoliteness physically drains one rate interval at a time
    * (schedule-faithful); default joins the whole depth at once (the
    * interval column still records the schedule).
    *
    * PINNED SORT-MERGE at every frontier size: a left join that keeps the
    * frontier can only build its RIGHT side, so the only broadcast AQE can
    * pick here is the pages cache itself — chosen from its COMPRESSED cached
    * size, then built decompressed, html included, on the driver and every
    * executor (BENCH/BASELINE.md: the whole corpus on every fetch join of a
    * small crawl; peak heap halves once pinned). The merge join reads the
    * hash-partitioned, canon-sorted pages side in place — no exchange, no
    * sort — and exchanges and sorts only the frontier.
    *
    * The html payload is cached ONLY under strict drains; everywhere else it
    * streams through its single pass. The order-stream checkpoint, its
    * second consumer, runs as a CONCURRENT job that recomputes the fetch join
    * from the cached schedule (and the pages cache) instead of holding
    * frontier×html bytes in memory, so the two jobs overlap instead of
    * serializing two driver round-trips. */
  private def fetch(spark: SparkSession, cfg: CrawlConfig, pages: Pages, fr: Frontier,
      sched: Schedule, d: Int, n: Int, bound: Long): Fetch = {
    val pagesSide = pages.sideFor(fr, spark)
    def fetchJoin(f: DataFrame): DataFrame =
      f.hint("merge").join(pagesSide.drop("hash64"), Seq("canon"), "left")
    val counters = new Counters(s"fetch_d${d}_s$n",
      "fetched" -> sum(when(col("html").isNotNull, 1L).otherwise(0L)))
    val joined0 = counters.on(
      if (cfg.strictPoliteness && sched.strictIntervals > 1) {
        // wall-clock pacing (limiter.go:52-59 semantics): slot i's fetch is
        // MATERIALIZED no earlier than i × slot-length; safe slot length =
        // the longest configured budget interval
        val slotMs =
          if (cfg.paceWallClock) cfg.rateLimits.values.map(_.intervalMs).max else 0L
        val tPace0 = System.nanoTime()
        (0 until sched.strictIntervals).map { i =>
          val part = fetchJoin(sched.df.where(col("interval") === i))
          if (cfg.paceWallClock) {
            val sleepMs = (tPace0 + i * slotMs * 1000000L - System.nanoTime()) / 1000000L
            if (sleepMs > 0) Thread.sleep(sleepMs)
            part.localCheckpoint(true) // fetch happens NOW, inside its slot
          } else part
        }.reduce(_ unionByName _)
      } else fetchJoin(sched.df))
    val joined = if (cfg.strictPoliteness) joined0.persist(bulkLevel) else joined0
    val stream =
      if (!cfg.recordStreams) None
      else {
        val ckDf = joined.select(col("seq"), col("url"), col("canon"), col("hash"),
          col("depth"), col("interval"), col("ua"), col("proxy"),
          col("html").isNotNull.as("hit"), lit(d).as("superstep"))
        // [[width]] from the EXACT frontier row count: the stream rows are
        // a pure side output, unioned and seq-sorted at crawl end, never
        // joined back. coalesce never widens, so corpus-scale supersteps
        // keep their parallelism.
        Some(sideJob(spark)(
          ckDf.coalesce(width(fr.rows, cfg.partitions, bound)).localCheckpoint(true)))
      }
    Fetch(joined, cfg.strictPoliteness, counters, stream)
  }

  /** An expansion's next frontier, its candidate counts and its seen-set
    * update. */
  private final case class Expansion(frontier: Frontier, candidates: Long, passed: Long,
      seen: SeenUpdate)

  /** extract → Q1-Q3 → first occurrence → seen anti-join → rank: the next
    * frontier.
    *
    * O1: reify FIFO order — ONE action for the whole superstep. Parent seqs
    * are dense in [seqBase − frontier rows, seqBase) by construction, so the
    * rank needs no sampling pass (Ranks.denseRangeRank): the whole dataflow
    * up to here — schedule → fetch join → extract → filters →
    * first-occurrence → anti-join — executes ONCE into one spill-safe,
    * lineage-cut bucket store (the superstep's only candidate-sized state),
    * and the per-bucket counts cross the driver as ≤ 8·P longs, giving the
    * fresh count for free. The next frontier and the seen delta are LAZY
    * views over those blocks: the rank window re-sorts the (materialized,
    * bucketed) blocks on each downstream scan instead of paying a second
    * materialization job per superstep, and the seen delta is a plain
    * projection (no window at all). */
  private def expand(spark: SparkSession, cfg: CrawlConfig, pages: Pages, s: Crawl,
      joined: DataFrame, n: Int, expected: Long, bound: Long): Expansion = {
    val d = s.depth
    val candCounters = new Counters(s"cand_d${d}_s$n", "n_cands" -> count(lit(1)),
      "n_passed" -> sum(when(col("pass"), 1L).otherwise(0L)))
    val cands = extract(cfg, joined.where(col("html").isNotNull), candCounters)
    val fresh0 = dedup(cfg, cands, s.seen.joinSide(spark))
    // rides the rank job's map stage: the fresh set's distinct pages-cache
    // bucket ids (≤ P ints) — the next superstep's prune set
    val pidObs = new org.apache.spark.sql.Observation(s"pids_d${d}_s$n")
    val fresh0Obs = fresh0.observe(pidObs, collect_set(pages.bucketOf(col("canon"))).as("pids"))
    // [[width]] from the EXPECTED candidate volume: a 200-row seed
    // superstep ranks through 1 bucket task instead of 160, since
    // repartition(n, col) is a fixed-width exchange AQE cannot coalesce.
    // denseRangeRank's offsets are exact at any width; an underestimate
    // merely means fuller (spill-safe) buckets.
    val rankP = width(expected, cfg.partitions, bound)
    // INVARIANT: denseRangeRank's counts job MATERIALIZES its input plan (it
    // repartitions fresh0Obs into the bucket store and counts the buckets),
    // so pidObs below is guaranteed to have fired — if Ranks ever computes
    // counts without traversing the input plan, the blocking pidObs.get
    // would hang the driver (the empty fallback only covers AQE collapsing
    // the plan, not a never-run observation).
    val rank = Ranks.denseRangeRank(fresh0Obs, col("parent_seq"),
      s.seqBase - s.frontier.rows, s.seqBase, Seq(col("link_pos")), "__rank", rankP)
    val pids = {
      val m0 = pidObs.get // already fired (the rank's counts job ran)
      if (m0.isEmpty) None else Option(m0("pids")).map(_.asInstanceOf[Seq[Int]].toSet)
    }
    val fresh = rank.df
      .withColumn("seq", col("__rank") - 1 + lit(s.seqBase))
      .withColumn("depth", lit(d + 1))
      .withColumn("score", scoreCol(cfg))
      .select(col("url"), col("canon"), col("hash"), col("hash64"),
        col("host"), col("root"), col("depth"), col("score"), col("seq"),
        col("ua"), col("proxy"))
    val Seq(nCands, nPassed) = candCounters.get(cands)
    val seen = s.seen.add(spark, rank, lastExpansion = d + 1 >= cfg.maxDepth, step = d)
    Expansion(Frontier(fresh, rank.total, raw = Some(rank.cached),
      owned = if (seen.ownsStore) None else Some(rank.persisted), prunePids = pids),
      nCands.asInstanceOf[Long], Option(nPassed).fold(0L)(_.asInstanceOf[Long]), seen)
  }

  /** F4+F5+F1+F3: extract (on the MaxBodySize-truncated body,
    * http_client.go:117-123) → resolve → validate, drops silent; then the
    * Q1-Q3 filters as the `pass` flag. The candidate counters ride an
    * observation BELOW the first-occurrence window's shuffle: the metric
    * fires exactly once, in that shuffle's map stage (downstream branches
    * re-read shuffle/cached output, never this node) — accumulator-exact,
    * zero extra jobs. */
  private def extract(cfg: CrawlConfig, hits: DataFrame, counters: Counters): DataFrame = {
    val exploded = hits.select(
      col("seq").as("parent_seq"), col("url").as("parent_url"),
      col("root").as("parent_root"), col("ua"), col("proxy"),
      posexplode(Udfs.extractLinks(col("html"), lit(cfg.maxBodySize))).as(Seq("link_pos", "href")))
    // Q1: substring same-root (crawler.go:252-255 — contains, not suffix)
    val sameRoot = col("host").contains(col("parent_root"))
    // Q2: robots. Reference parity = allow-all no-op (robot.go:35-38);
    // standard mode enforces hostname-keyed prefix rules on the candidate —
    // the PORT-STRIPPED hostname (Go URL.Hostname()), matching the Oracle's
    // `target.url.hostnameOnly` gate: a rule for `site.com` applies to
    // `http://site.com:8080/...` too.
    val robots =
      if (cfg.robotsStandardMode && cfg.robots.nonEmpty)
        Some(Udfs.robotsAllowedUdf(cfg.robots)(col("hostname"), col("path"), col("ua")))
      else None
    // Q3: bad-extension (+ rule engine when configured) — filter.go:30-57
    val extension =
      if (cfg.filterRules.isEmpty) !col("path").rlike(badExtRegex)
      else Udfs.filterAllowUdf(cfg.filterRules)(col("root"), col("path"), col("url"))
    val passCond = (sameRoot +: robots.toSeq :+ extension).reduce(_ && _)
    counters.on(exploded
      .withColumn("cand", Udfs.resolveCandidate(col("parent_url"), col("href")))
      .where(col("cand").isNotNull)
      .select(col("parent_seq"), col("link_pos"), col("ua"), col("proxy"), col("parent_root"),
        col("cand.url").as("url"), col("cand.canon").as("canon"),
        col("cand.host").as("host"),
        col("cand.hostname").as("hostname"),
        col("cand.root").as("root"), col("cand.path").as("path"))
      .withColumn("pass", passCond))
  }

  /** Q4: the candidates that passed, deduplicated in two halves —
    * in-batch first occurrence (Q4a) and the exact anti-join against the
    * seen set (Q4b) — with the identity columns the fresh set needs.
    *
    * The seen key is CANON, not the sha-256 `hash`: hash is a deterministic
    * function of canon (`UrlFuncs.sha256hex(canon)` ≡ `sha2(canon, 256)`),
    * so grouping by canon is dedup-equivalent while the 64-char hex hash —
    * incompressible, ~30% of the candidate shuffle's wire bytes — stays OUT
    * of the per-superstep window shuffle and is recomputed by a codegen'd
    * `sha2` on the (much smaller) post-dedup fresh set. The one formal
    * divergence from the reference's hash-keyed store — two DISTINCT canons
    * sharing a sha-256 digest would dedup there and not here — requires a
    * sha-256 collision. */
  private def dedup(cfg: CrawlConfig, cands: DataFrame, seenSide: DataFrame): DataFrame = {
    // SHUFFLE-SLIM PROJECTION (the round-4 profile's reduce-stage
    // remote-read CPU term): everything entering the first-occurrence
    // window's exchange — the biggest shuffle of the crawl, 26.8M rows on
    // the deep bench's d4 — is cut to the 6 columns no later stage can
    // derive. `hash` (64 hex chars), `hash64`, `host` and `root` are all
    // pure functions of (canon | url): hash64 is re-derived right after the
    // window, hash/host/root by sha2 and the urlHost/hostRoot evaluator calls
    // (byte-equality with the UDF-side values pinned by UrlExprSpec) over the
    // POST-dedup fresh set, which on a geometric crawl is a fraction of the
    // candidate volume. hostname/path/parent_root are consumed by the pass
    // condition and ship nowhere.
    // SHUFFLE-SLIM v2 (when both rotation lists have ≤ 64 entries; longer
    // lists ship the strings): of the 6 shipped columns, `ua`/`proxy` are
    // drawn from the config's small rotation lists (request build P1 /
    // sticky child build P2 — every candidate's value is provably a list
    // member), so they cross the exchange as a dictionary INDEX and are
    // re-materialized by a codegen'd literal CASE right after the dedup;
    // `url` equals `canon` for the large majority of web links
    // (already-canonical URLs), so it ships as a null-when-equal delta and
    // is rebuilt with one coalesce. Raw row width through the crawl's
    // biggest shuffle drops ~2x (the wide strings were most of it), which is
    // paid on the N>1 remote-read path per-byte: shuffle-write serialize,
    // netty fetch, decompress, deserialize, and the window sort's spill all
    // scale with it. Winner selection is by the globally unique
    // (parent_seq, link_pos) — payload re-encoding can never change which
    // row wins, so order, seen set, and counters stay byte-identical (parity
    // suites pin it).
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

    // Q4a: in-batch first occurrence — discovery order (parent_seq,
    // link_pos). NOT persisted: downstream legs read it through the
    // aggregation's shuffle, which Catalyst reuses — spill-safe at any
    // candidate volume, unlike a 26.8M-row cache. A window, not a
    // min-struct aggregate: duplicates of a link almost never share a map
    // partition, so a map-side partial aggregate measured no gain
    // (BENCH/BASELINE.md).
    val firsts0 = {
      val w = Window.partitionBy(col("canon"))
        .orderBy(col("parent_seq"), col("link_pos"))
      passed.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1).drop("__rn")
    }
    // slim2 payload re-materialized HERE, on the post-dedup set (a fraction
    // of candidate volume): literal-CASE dictionary lookups (codegen'd, same
    // pattern as the politeness budget map) and the url delta's one
    // coalesce — downstream sees the exact pre-slim2 schema, so every later
    // plan is unchanged.
    val firsts1 =
      if (slim2) firsts0.select(col("parent_seq"), col("link_pos"),
        dictVal(col("ua_ix"), uaVals).as("ua"),
        dictVal(col("proxy_ix"), proxyVals).as("proxy"),
        coalesce(col("url_d"), col("canon")).as("url"), col("canon"))
      else firsts0
    // hash64 re-derived ABOVE the dedup (not shipped through it): next
    // superstep's politeness salt
    val firsts = firsts1.withColumn("hash64", xxhash64(col("canon")))

    // Q4b: cross-superstep dedup — the exact anti-join against the seen set
    // (its side: SeenSet.joinSide). The identity/addressing columns are
    // recomputed after it, so only fresh-set rows pay them: sha-256 (F3) via
    // the codegen'd sha2 ≡ UrlFuncs.sha256hex; host via ONE GoUrl re-parse
    // of the resolved url (exact by the round-trip identity
    // CandidateFastPathSpec pins); root from host by pure label arithmetic —
    // all pinned byte-equal to the UDF-side Parsed values in UrlExprSpec.
    firsts.join(seenSide, Seq("canon"), "left_anti")
      .withColumn("hash", sha2(col("canon"), 256))
      .withColumn("host", exprs.UrlExprs.urlHost(col("url")))
      .withColumn("root", exprs.UrlExprs.hostRoot(col("host")))
  }

  /** Atomic superstep commit: frontier, seen delta, crawled delta, attempts
    * delta (written concurrently by Storage.commitStep), then metrics, seq
    * watermark and the next frontier's row count. It returns before the
    * superstep releases the caches it reads. */
  private def commit(storage: Option[Storage], d: Int, next: Frontier,
      seen: Option[Storage.SeenCommit], order: DataFrame, attempts: DataFrame,
      metrics: Map[String, Long], seqBase: Long, seenBase: Int): Unit =
    storage.foreach(_.commitStep(d, next.df, next.rows, seen, order, attempts, metrics,
      seqBase, seenBase))

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
