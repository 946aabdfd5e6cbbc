package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.{PartitionCoalescer, PartitionGroup, RDD, UnionRDD}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution
import org.apache.spark.storage.StorageLevel

/** Catalyst-lineage cuts: a DataFrame's physical RDD under a fresh
  * `LogicalRDD` leaf, exactly like `Dataset.checkpoint` builds one internally
  * (`private[sql]`, hence this one-hop bridge — same pattern as
  * [[ColumnBridge]]).
  *
  * The crawl's long-lived state lives in [[store]]s: the Dataset's own
  * physical RDD, persisted at the caller's level and filled inside the
  * Dataset's own SQL execution, under such a leaf. Its blocks belong to the
  * leaf. Spark's ContextCleaner frees them, with the shuffles and plans under
  * them, once nothing reaches the leaf; [[release]] frees them eagerly. Two
  * other ways to hold a materialized Dataset were measured and rejected:
  *  - `persist` + cut: a CacheManager entry. The manager keeps the plan and
  *    a clone of the session it was persisted in until `unpersist`, so a
  *    caller that drops its results without releasing them leaks every
  *    superstep's state (BENCH/BASELINE.md: 4.75 MB of heap per
  *    interrupted-and-resumed perfbench crawl).
  *  - `localCheckpoint(eager, storageLevel)`: its level transform FORCES the
  *    blocks on-heap — `localCheckpoint(false, OFF_HEAP)` measures as
  *    `StorageLevel(disk, memory, ser)` (no off-heap), so a crawl holding
  *    every superstep's fresh set as checkpoint blocks slowly fills the
  *    executor HEAP with serialized bytes and dies re-caching evicted blocks
  *    (observed at the 11.5M-request deep bench). A store keeps the bytes in
  *    the accounted off-heap pool when asked (disk-backed eviction,
  *    direct-buffer re-cache), AND, unlike checkpoint blocks, a lost
  *    partition recomputes from its one-superstep-deep physical plan instead
  *    of failing the job.
  */
object DatasetBridge {
  /** @param sizeHint (rowCount, sizeInBytes) when known: without stats the
    *   cut leaf reports the session default size (effectively infinite), so a
    *   genuinely small side would never broadcast (the round-4 lost-pair
    *   lesson). Partitioning is NOT declared here — use
    *   [[lineageCutPartitioned]] when the layout matters. */
  def lineageCut(df: DataFrame, sizeHint: Option[(Long, Long)] = None): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    sizeHint match {
      case None =>
        cdf.sparkSession.internalCreateDataFrame(cdf.queryExecution.toRdd, cdf.schema)
      case hint => leaf(cdf, cdf.queryExecution.toRdd, Nil, Nil, hint)
    }
  }

  /** As [[lineageCut]] but DECLARING the leaf's hash partitioning: a cut
    * `repartition(p, key)` store keeps reporting `HashPartitioning(key, p)`,
    * so downstream joins/aggregations on `key` add NO exchange over it.
    *
    * The partitioning is declared, not captured: `LogicalRDD.fromDataset`
    * (Dataset.checkpoint's capture path) reads the origin's
    * `executedPlan.outputPartitioning`, which an AQE-wrapped or cached plan
    * reports as `UnknownPartitioning` — measured, hence this explicit form.
    * The CALLER asserts the data really is laid out that way (i.e. this df
    * is exactly a `repartition(numPartitions, keyCols)` output); the only
    * machine-checkable part — the partition count — is required here.
    *
    * @param sizeHint (rowCount, sizeInBytes) when known — WITHOUT stats the
    *   leaf reports the session default size (effectively infinite), so a
    *   genuinely small side would never be broadcast by the planner. */
  def lineageCutPartitioned(df: DataFrame, keyCols: Seq[String],
      numPartitions: Int, sizeHint: Option[(Long, Long)] = None): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    val rdd = cdf.queryExecution.toRdd
    require(rdd.getNumPartitions == numPartitions,
      s"declared $numPartitions partitions, rdd has ${rdd.getNumPartitions}")
    leaf(cdf, rdd, keyCols, Nil, sizeHint)
  }

  /** Partition-pruned scan of a hash-partitioned (cached) DataFrame: keeps
    * only `keepPids` partitions; pruned partitions become EMPTY iterators
    * that never touch the cache (no batch decompression, no block fetch,
    * no computation), while the partition COUNT — and hence the declared
    * `HashPartitioning(keyCols, numPartitions)` and per-partition ordering —
    * stays intact, so a join on the key still adds no exchange and no sort
    * over the scan. This is the in-engine equivalent of Iceberg/bucketed-
    * table bucket pruning: a frontier that hashes into k of P buckets reads
    * k/P of the corpus instead of streaming all of it through the join.
    *
    * The caller's contract (as in [[lineageCutPartitioned]]): `df` really is
    * laid out as `HashPartitioning(keyCols, numPartitions)` with partitions
    * sorted by `orderedBy` — and every row whose key hashes into a pruned
    * partition must be irrelevant to the query (for a join: no probe-side
    * key hashes there). */
  def prunedCacheScan(df: DataFrame, keepPids: Set[Int], keyCols: Seq[String],
      numPartitions: Int, orderedBy: Seq[String]): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    val rdd = cdf.queryExecution.toRdd
    require(rdd.getNumPartitions == numPartitions,
      s"declared $numPartitions partitions, rdd has ${rdd.getNumPartitions}")
    val groups = Seq.tabulate(numPartitions)(i => if (keepPids(i)) Seq(i) else Nil)
    leaf(cdf, regroup(rdd.sparkContext, Seq(rdd), groups), keyCols, orderedBy, None)
  }

  /** Reconstructs a hash-partitioned leaf from PER-BUCKET sources WITHOUT a
    * shuffle: output partition i is the concatenation of every partition of
    * `buckets(i)` (None = empty bucket), declared as
    * `HashPartitioning(keyCols, buckets.size)`. All dependencies are narrow.
    *
    * This is the read half of `Storage`'s bucketed tables (the aligned seen
    * deltas and the prepared pages): each is written as one directory per
    * partition (`__bucket=<pid>`, pid = `spark_partition_id()` of the
    * aligned leaf, ≡ `pmod(hash(keys), p)`), and each bucket directory is
    * read back into its declared partition — so the first post-resume
    * anti-join adds NO exchange on the seen side, where re-aligning a plain
    * parquet load costs one O(seen) shuffle. On a real cluster this is
    * simply reading a bucketed table.
    *
    * Caller's contract: every row in `buckets(i)` really hashes to bucket i
    * under `HashPartitioning(keyCols, buckets.size)` (guaranteed when the
    * directories were written from an aligned leaf at the same width); all
    * bucket DataFrames share the leaf's schema.
    *
    * @param orderedBy columns each bucket's rows are ALREADY sorted by
    *   (ascending) — declared on the leaf so consumers (e.g. a sort-merge
    *   join on the key) add no sort over it. Caller's contract, like the
    *   partitioning: holds when the bucket directories were written from a
    *   per-partition-sorted leaf and each bucket is one file (or splits of
    *   one file, which scan in offset order). */
  def bucketSourcesAligned(buckets: Seq[Option[DataFrame]], keyCols: Seq[String],
      sizeHint: Option[(Long, Long)] = None, orderedBy: Seq[String] = Nil): DataFrame = {
    val reads = buckets.map(_.map(_.asInstanceOf[classic.Dataset[Row]]))
    val defined = reads.flatten
    require(defined.nonEmpty, "bucketSourcesAligned: all buckets empty")
    val head = defined.head
    require(defined.forall(_.schema == head.schema),
      "bucketSourcesAligned: bucket schemas diverge")
    val rdds = reads.map(_.map(_.queryExecution.toRdd))
    // bucket i's partitions sit at [offsets(i), offsets(i + 1)) of the union
    val offsets = rdds.map(_.fold(0)(_.getNumPartitions)).scanLeft(0)(_ + _)
    val groups = buckets.indices.map(i => offsets(i) until offsets(i + 1))
    leaf(head, regroup(head.sparkSession.sparkContext, rdds.flatten, groups), keyCols,
      orderedBy, sizeHint)
  }

  /** What the cache entry of a persisted DataFrame already knows, read with no
    * job: `rows` once every partition of the cache is built (None before
    * that, or when `df` is not itself a cached plan), and `hashPartitions`,
    * the width of the `HashPartitioning` its cached plan declares (None when
    * it declares none). The width is the plan's claim: a caller that relies
    * on the rows' placement checks it, as the crawl's pages layout check
    * does. */
  final case class CacheFacts(rows: Option[Long], hashPartitions: Option[Int])

  def cacheFacts(df: DataFrame): CacheFacts = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    cdf.sparkSession.sharedState.cacheManager.lookupCachedData(cdf)
      .map(_.cachedRepresentation) match {
        case Some(r) =>
          val b = r.cacheBuilder
          val rows =
            if (b.isCachedColumnBuffersLoaded) Some(b.rowCountStats.value.longValue) else None
          // an adaptive cached plan reports its partitioning once final
          // (what InMemoryTableScanExec reads); before that, the plan it
          // starts from declares it
          val plan = r.cachedPlan match {
            case a: execution.adaptive.AdaptiveSparkPlanExec =>
              if (a.isFinalPlan) a.executedPlan else a.inputPlan
            case p => p
          }
          val width = plan.outputPartitioning match {
            case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
              Some(h.numPartitions)
            case _ => None
          }
          CacheFacts(rows, width)
        case None => CacheFacts(None, None)
      }
  }

  /** An interpreted copy of `caller`: a session with the caller's confs in
    * which whole-stage codegen is disabled (`spark.sql.codegen.wholeStage=
    * false`) and every expression-level projection, predicate and ordering
    * is interpreted (`spark.sql.codegen.factoryMode=NO_CODEGEN`, an internal
    * conf — hence here). The physical operators stay the same; only how they
    * execute changes. For small inputs this skips Janino compilation that
    * costs more than the rows it would speed up: Spark 4.1's codegen cache is
    * static, 100 entries, and keyed by (class loader, code), so in local mode
    * the driver's and the tasks' copies of a small crawl's ~100 classes
    * evict each other and are recompiled by every run.
    *
    * There are two copies per caller, this one and [[staticCopy]], because
    * adaptive execution pays off for one kind of small input and not for the
    * other. This copy keeps adaptive execution as the caller has it: the
    * small operator queries (`SparkEntry`) join relations whose sizes the
    * planner only learns at run time, and AQE's broadcast conversions are
    * worth more to them than its re-planning costs (turning AQE off for them
    * measured 13% slower set-up on `query_suite`, local[4] on 4 vCPUs).
    *
    * No conf of the caller changes, so the caller's other queries keep their
    * regime. A copy shares the caller's SparkContext and cache manager:
    * jobs on it carry the calling thread's job group and local properties,
    * but the copy's own session tag, so the caller's `interruptAll` does not
    * reach them.
    *
    * One copy per caller and set of confs, not one per DataFrame: executors
    * keep per-session state with its own class loader, and generated classes
    * are cached per class loader, so a copy per query recompiled the few
    * classes interpreted plans still generate in tasks (10 per pass over the
    * queries). A copy is made again once the caller's confs have changed. It
    * is a new session given the caller's confs, not a clone: a clone keeps
    * its parent's session state, which would keep the weak key alive as long
    * as the map holds the copy. */
  def interpretedCopy(caller: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    Interpreted.copyOf(caller.asInstanceOf[classic.SparkSession], Interpreted.Keys)

  /** [[interpretedCopy]] with adaptive query execution off as well
    * (`spark.sql.adaptive.enabled=false`): a static, interpreted plan. Each
    * action runs as ONE multi-stage job, where AQE submits one job per query
    * stage and re-plans the rest of the plan after each (perfbench's
    * checkpointed crawl, an interrupted leg and its resume: 43 jobs with
    * AQE, 18 without). That re-planning buys
    * nothing when every exchange holds less than one task's rows, which is
    * exactly when the crawl runs a superstep interpreted; so the crawl's
    * small supersteps run here, and its supersteps above the bound keep the
    * caller's session, AQE included. Same lifetime rules as
    * [[interpretedCopy]]: one per caller and set of confs. */
  def staticCopy(caller: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    Interpreted.copyOf(caller.asInstanceOf[classic.SparkSession], Interpreted.StaticKeys)

  /** `df`'s analyzed plan as a DataFrame of `session`: it runs in that
    * session's regime wherever the caller later executes it (a write, a
    * count, a collect). Caches are shared across the sessions of one
    * SparkContext, so a persisted `df` is still read from its cache. Jobs
    * that built `df` have already run in its own session. */
  def inSession(df: DataFrame, session: org.apache.spark.sql.SparkSession): DataFrame =
    if (df.sparkSession eq session) df
    else classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].logicalPlan)

  private object Interpreted {
    /** The confs of the regime without generated code. */
    val Keys: Seq[(String, String)] = Seq(
      org.apache.spark.sql.internal.SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
      org.apache.spark.sql.internal.SQLConf.CODEGEN_FACTORY_MODE.key -> "NO_CODEGEN")

    /** ... and without adaptive re-planning. */
    val StaticKeys: Seq[(String, String)] =
      Keys :+ (org.apache.spark.sql.internal.SQLConf.ADAPTIVE_EXECUTION_ENABLED.key -> "false")

    /** Per caller session and set of keys: the caller's runtime confs and
      * the copy made with them. */
    private val copies = new java.util.WeakHashMap[classic.SparkSession,
      Map[Seq[(String, String)], (Map[String, String], classic.SparkSession)]]

    def copyOf(caller: classic.SparkSession, keys: Seq[(String, String)]): classic.SparkSession =
      synchronized {
        val confs = caller.sessionState.conf.getAllConfs
        val held = Option(copies.get(caller)).getOrElse(Map.empty)
        held.get(keys).filter(_._1 == confs).map(_._2).getOrElse {
          val copy = caller.newSession()
          (confs ++ keys).foreach { case (k, v) => copy.sessionState.conf.setConfString(k, v) }
          copies.put(caller, held.updated(keys, (confs, copy)))
          copy
        }
      }
  }

  /** A store of `df`, filled now: `df`'s own physical RDD, its rows copied
    * out of Spark's reused buffers and persisted at `level`, built and
    * filled by ONE job inside `df`'s own SQL execution — as
    * `Dataset.checkpoint` does, so the observations in its plan fire. That
    * job also counts the rows: per value of the int column `countBy`, or
    * all under key 0 when None. No CacheManager entry is made; see this
    * object's header for who frees the blocks. */
  def store(df: DataFrame, level: StorageLevel, countBy: Option[String] = None): Stored = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    val qe = cdf.queryExecution
    val ord = countBy.map { c =>
      val i = qe.analyzed.output.indexWhere(_.name == c)
      require(i >= 0, s"column $c not in output ${qe.analyzed.output.map(_.name)}")
      i
    }
    execution.SQLExecution.withNewExecutionId(qe, Some("store")) {
      val rdd = blocks(cdf, level)
      val tallies = rdd.sparkContext.runJob(rdd, (rows: Iterator[InternalRow]) => tally(ord, rows))
      val counts = tallies.foldLeft(Map.empty[Int, Long])((acc, t) =>
        t.foldLeft(acc) { case (m, (k, n)) => m.updated(k, m.getOrElse(k, 0L) + n) })
      new Stored(cdf, rdd, counts)
    }
  }

  /** A filled store and its row counts ([[store]]). */
  final class Stored private[DatasetBridge] (src: classic.Dataset[Row], rdd: RDD[InternalRow],
      val counts: Map[Int, Long]) {
    def rows: Long = counts.values.sum

    /** The store's leaf. It declares `HashPartitioning(keyCols, <partitions>)`
      * — the caller asserts the rows are laid out that way, as in
      * [[lineageCutPartitioned]] — and `SinglePartition` when it has no key
      * and one partition, as `localCheckpoint` does: a global sort over it
      * then adds no exchange. `sizeHint` (rowCount, sizeInBytes) becomes its
      * statistics. */
    def leaf(keyCols: Seq[String] = Nil, sizeHint: Option[(Long, Long)] = None): DataFrame =
      DatasetBridge.leaf(src, rdd, keyCols, Nil, sizeHint, single = true)
  }

  /** [[store]]'s leaf, filled by the first job that reads it instead of
    * now: for a `df` whose plan runs no job of its own to start (no
    * exchange), such as a projection of another store. */
  def storeLazily(df: DataFrame, level: StorageLevel,
      sizeHint: Option[(Long, Long)] = None): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    leaf(cdf, blocks(cdf, level), Nil, Nil, sizeHint, single = true)
  }

  private def blocks(src: classic.Dataset[Row], level: StorageLevel): RDD[InternalRow] =
    src.queryExecution.toRdd.map(_.copy()).persist(level)

  private def tally(ord: Option[Int], rows: Iterator[InternalRow]): Map[Int, Long] = ord match {
    case None => Map(0 -> rows.size.toLong)
    case Some(i) =>
      val m = scala.collection.mutable.HashMap.empty[Int, Long]
      rows.foreach { r => val k = r.getInt(i); m(k) = m.getOrElse(k, 0L) + 1L }
      m.toMap
  }

  /** Frees the blocks `df` holds, eagerly: the persisted RDD under each
    * `LogicalRDD` leaf of its plan (each [[store]] it reads), and its
    * CacheManager entry when `df` is a persisted Dataset. Nothing may
    * read `df` afterwards: it would recompute every store it reads. */
  def release(df: DataFrame): Unit = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    cdf.unpersist()
    cdf.logicalPlan.collectLeaves().foreach {
      case r: execution.LogicalRDD if r.rdd.getStorageLevel != StorageLevel.NONE =>
        r.rdd.unpersist()
      case _ =>
    }
  }

  /** A copy of the calling thread's Spark local properties (job group,
    * description, scheduler pool, job tags); `SparkContext` keeps the
    * accessors `private[spark]`. */
  def localProperties(sc: org.apache.spark.SparkContext): java.util.Properties =
    org.apache.spark.util.Utils.cloneProperties(sc.getLocalProperties)

  /** Replace the calling thread's Spark local properties with `props`. */
  def setLocalProperties(sc: org.apache.spark.SparkContext, props: java.util.Properties): Unit =
    sc.setLocalProperties(props)

  /** Partition-wise union of same-partitioning DataFrames: output partition i
    * is the concatenation of every input's partition i, declared with the
    * FIRST input's physical partitioning/ordering-free layout. Unlike
    * `Dataset.union` (whose physical `UnionExec` reports unknown
    * partitioning), the result keeps `HashPartitioning` visible — the
    * mechanism behind the crawl's accumulated seen set: each superstep's
    * delta is hash-partitioned ONCE at birth (O(delta)), and every later
    * anti-join reads the union with zero exchange on the seen side, instead
    * of re-shuffling the full accumulated set per superstep (O(seen),
    * quadratic cumulative). On a real cluster this is the in-memory analogue
    * of appending to a bucketed Iceberg table and storage-partitioned joins.
    *
    * Requirements: identical schemas, identical partition counts, and all
    * inputs ACTUALLY partitioned by the same key layout (the caller's
    * contract — this bridge only asserts count equality). Ordering is NOT
    * preserved (concatenated sorted runs are not sorted). */
  def alignedUnion(parts: Seq[DataFrame], keyCols: Seq[String],
      numPartitions: Int, sizeHint: Option[(Long, Long)] = None): DataFrame = {
    require(parts.nonEmpty, "alignedUnion of nothing")
    if (parts.size == 1) return parts.head
    val cparts = parts.map(_.asInstanceOf[classic.Dataset[Row]])
    val rdds = cparts.map(_.queryExecution.toRdd)
    require(rdds.forall(_.getNumPartitions == numPartitions),
      s"alignedUnion inputs must all have $numPartitions partitions: " +
        rdds.map(_.getNumPartitions).mkString(","))
    val groups = Seq.tabulate(numPartitions)(i => rdds.indices.map(_ * numPartitions + i))
    val head = cparts.head
    leaf(head, regroup(head.sparkSession.sparkContext, rdds, groups), keyCols, Nil, sizeHint)
  }

  /** The RDD whose partition i concatenates, in order, the partitions
    * `groups(i)` of `parents`' flat partition list (every partition of
    * `parents(0)`, then of `parents(1)`, …); an empty group is an empty
    * partition that computes nothing. Spark's own `UnionRDD` under a
    * `CoalescedRDD`: narrow dependencies only, and each parent partition is
    * captured on the driver, which a file scan needs. `new UnionRDD`, not
    * `sc.union`: that switches to the partition-wise
    * `PartitionerAwareUnionRDD` when every parent reports one partitioner. */
  private def regroup(sc: org.apache.spark.SparkContext, parents: Seq[RDD[InternalRow]],
      groups: Seq[Seq[Int]]): RDD[InternalRow] =
    new UnionRDD(sc, parents).coalesce(groups.length, shuffle = false, Some(FixedGroups(groups)))

  /** Output partition i = the parent partitions `groups(i)`, in order. The
    * groups name no preferred location, so the scheduler takes the parent
    * partitions' own (cache blocks, file splits). */
  private final case class FixedGroups(groups: Seq[Seq[Int]]) extends PartitionCoalescer {
    override def coalesce(maxPartitions: Int, parent: RDD[_]): Array[PartitionGroup] =
      groups.map { g =>
        val pg = new PartitionGroup(None)
        pg.partitions ++= g.map(parent.partitions(_))
        pg
      }.toArray
  }

  /** The leaf every constructor above builds: `rdd`, whose rows are in
    * `src`'s output layout, as a `LogicalRDD` over `src`'s output attributes.
    * It declares `HashPartitioning(keyCols, <rdd's partition count>)`
    * (when `keyCols` is empty: `SinglePartition` for a one-partition `rdd`
    * when `single`, else unknown partitioning), each partition sorted
    * ascending by `orderedBy`, and `sizeHint` (rowCount, sizeInBytes) as its
    * statistics. */
  private def leaf(src: classic.Dataset[Row], rdd: RDD[InternalRow],
      keyCols: Seq[String], orderedBy: Seq[String], sizeHint: Option[(Long, Long)],
      single: Boolean = false): DataFrame = {
    val output = src.queryExecution.analyzed.output
    def attrOf(k: String) = output.find(_.name == k).getOrElse(
      sys.error(s"column $k not in output ${output.map(_.name)}"))
    val part =
      if (keyCols.isEmpty && single && rdd.getNumPartitions == 1)
        org.apache.spark.sql.catalyst.plans.physical.SinglePartition
      else if (keyCols.isEmpty)
        org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning(rdd.getNumPartitions)
      else org.apache.spark.sql.catalyst.plans.physical.HashPartitioning(
        keyCols.map(attrOf), rdd.getNumPartitions)
    val ordering = orderedBy.map(k => org.apache.spark.sql.catalyst.expressions.SortOrder(
      attrOf(k), org.apache.spark.sql.catalyst.expressions.Ascending))
    val stats = sizeHint.map { case (rows, bytes) =>
      org.apache.spark.sql.catalyst.plans.logical.Statistics(
        sizeInBytes = BigInt(bytes), rowCount = Some(BigInt(rows)))
    }
    classic.Dataset.ofRows(src.sparkSession,
      execution.LogicalRDD(output, rdd, part, ordering, isStreaming = false)(
        src.sparkSession, stats, None))
  }
}
