package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution

/** Catalyst-lineage cut WITHOUT `localCheckpoint`: wraps a (cached)
  * DataFrame's physical RDD in a fresh LogicalRDD leaf, exactly like
  * `Dataset.checkpoint` does internally (`private[sql]`, hence this one-hop
  * bridge — same pattern as [[ColumnBridge]]).
  *
  * Why not `localCheckpoint(eager, storageLevel)`: its level transform
  * FORCES the blocks on-heap — `localCheckpoint(false, OFF_HEAP)` measures
  * as `StorageLevel(disk, memory, ser)` (no off-heap), so a crawl holding
  * every superstep's fresh set as checkpoint blocks slowly fills the
  * executor HEAP with serialized bytes and dies re-caching evicted blocks
  * (observed at the 11.5M-request deep bench). A `persist(OFF_HEAP)` +
  * this cut keeps the bytes in the accounted off-heap pool (disk-backed
  * eviction, direct-buffer re-cache), AND, unlike checkpoint blocks, the
  * cache scan can recompute a lost partition from its one-superstep-deep
  * physical plan instead of failing the job.
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
      case Some((rows, bytes)) =>
        val rdd = cdf.queryExecution.toRdd
        val output = cdf.queryExecution.analyzed.output
        val stats = org.apache.spark.sql.catalyst.plans.logical.Statistics(
          sizeInBytes = BigInt(bytes), rowCount = Some(BigInt(rows)))
        classic.Dataset.ofRows(cdf.sparkSession,
          execution.LogicalRDD(output, rdd,
            org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning(
              rdd.getNumPartitions),
            Nil, isStreaming = false)(cdf.sparkSession, Some(stats), None))
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
    * machine-checkable part — the partition count — is required here. */
  /** @param sizeHint (rowCount, sizeInBytes) when known — WITHOUT stats the
    *   leaf reports the session default size (effectively infinite), so a
    *   genuinely small side would never be broadcast by the planner. */
  def lineageCutPartitioned(df: DataFrame, keyCols: Seq[String],
      numPartitions: Int, sizeHint: Option[(Long, Long)] = None): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    val rdd = cdf.queryExecution.toRdd
    require(rdd.getNumPartitions == numPartitions,
      s"declared $numPartitions partitions, rdd has ${rdd.getNumPartitions}")
    val output = cdf.queryExecution.analyzed.output
    val attrs = keyCols.map(k => output.find(_.name == k).getOrElse(
      sys.error(s"partition key $k not in output ${output.map(_.name)}")))
    val part = org.apache.spark.sql.catalyst.plans.physical.HashPartitioning(attrs, numPartitions)
    val stats = sizeHint.map { case (rows, bytes) =>
      org.apache.spark.sql.catalyst.plans.logical.Statistics(
        sizeInBytes = BigInt(bytes), rowCount = Some(BigInt(rows)))
    }
    classic.Dataset.ofRows(cdf.sparkSession,
      execution.LogicalRDD(output, rdd, part, Nil, isStreaming = false)(
        cdf.sparkSession, stats, None))
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
    val keep = Array.tabulate(numPartitions)(keepPids.contains)
    val pruned = new PartitionPrunedRDD(rdd, keep)
    val output = cdf.queryExecution.analyzed.output
    def attrOf(k: String) = output.find(_.name == k).getOrElse(
      sys.error(s"column $k not in output ${output.map(_.name)}"))
    val part = org.apache.spark.sql.catalyst.plans.physical.HashPartitioning(
      keyCols.map(attrOf), numPartitions)
    val ordering = orderedBy.map(k => org.apache.spark.sql.catalyst.expressions.SortOrder(
      attrOf(k), org.apache.spark.sql.catalyst.expressions.Ascending))
    classic.Dataset.ofRows(cdf.sparkSession,
      execution.LogicalRDD(output, pruned, part, ordering, isStreaming = false)(
        cdf.sparkSession, None, None))
  }

  /** Reconstructs a hash-partitioned leaf from PER-BUCKET sources WITHOUT a
    * shuffle: output partition i is the concatenation of every partition of
    * `buckets(i)` (None = empty bucket), declared as
    * `HashPartitioning(keyCols, buckets.size)`. All dependencies are narrow.
    *
    * This is the resume half of the bucket-aligned seen store: `Storage`
    * commits each aligned seen delta as one directory per partition
    * (`__bucket=<pid>`, pid = `spark_partition_id()` of the aligned leaf, ≡
    * `pmod(hash(keys), p)`), and a resumed crawl reads each bucket directory
    * back into its declared partition — so the first post-resume anti-join
    * adds NO exchange on the seen side, where re-aligning a plain parquet
    * load costs one O(seen) shuffle. On a real cluster this is simply
    * reading a bucketed table.
    *
    * Caller's contract: every row in `buckets(i)` really hashes to bucket i
    * under `HashPartitioning(keyCols, buckets.size)` (guaranteed when the
    * directories were written from an aligned leaf at the same width); all
    * bucket DataFrames share the leaf's schema. */
  /** @param orderedBy columns each bucket's rows are ALREADY sorted by
    *   (ascending) — declared on the leaf so consumers (e.g. a sort-merge
    *   join on the key) add no sort over it. Caller's contract, like the
    *   partitioning: holds when the bucket directories were written from a
    *   per-partition-sorted leaf and each bucket is one file (or splits of
    *   one file, which scan in offset order). */
  def bucketSourcesAligned(buckets: Seq[Option[DataFrame]], keyCols: Seq[String],
      sizeHint: Option[(Long, Long)] = None, orderedBy: Seq[String] = Nil): DataFrame = {
    val defined = buckets.flatten
    require(defined.nonEmpty, "bucketSourcesAligned: all buckets empty")
    val cdefined = defined.map(_.asInstanceOf[classic.Dataset[Row]])
    val head = cdefined.head
    val schema = head.schema
    require(cdefined.forall(_.schema == schema),
      "bucketSourcesAligned: bucket schemas diverge")
    val rddByBucket: Array[Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]]] =
      buckets.map(_.map(_.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd)).toArray
    val rdd = new BucketAlignedRDD(head.sparkSession.sparkContext, rddByBucket)
    val output = head.queryExecution.analyzed.output
    def attrOf(k: String) = output.find(_.name == k).getOrElse(
      sys.error(s"partition key $k not in output ${output.map(_.name)}"))
    val part = org.apache.spark.sql.catalyst.plans.physical.HashPartitioning(
      keyCols.map(attrOf), buckets.size)
    val ordering = orderedBy.map(k => org.apache.spark.sql.catalyst.expressions.SortOrder(
      attrOf(k), org.apache.spark.sql.catalyst.expressions.Ascending))
    val stats = sizeHint.map { case (rows, bytes) =>
      org.apache.spark.sql.catalyst.plans.logical.Statistics(
        sizeInBytes = BigInt(bytes), rowCount = Some(BigInt(rows)))
    }
    classic.Dataset.ofRows(head.sparkSession,
      execution.LogicalRDD(output, rdd, part, ordering, isStreaming = false)(
        head.sparkSession, stats, None))
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

  /** Runs `body` with the session's generated code off: whole-stage codegen
    * disabled (`spark.sql.codegen.wholeStage=false`) and every
    * expression-level projection, predicate and ordering interpreted
    * (`spark.sql.codegen.factoryMode=NO_CODEGEN`, an internal conf — hence
    * here). The physical operators stay the same; only how they execute
    * changes. For small inputs this skips Janino compilation that costs more
    * than the rows it would speed up: Spark 4.1's codegen cache is static,
    * 100 entries, and keyed by (class loader, code), so in local mode the
    * driver's and the tasks' copies of a small crawl's ~100 classes evict
    * each other and are recompiled by every run.
    *
    * The confs are session-wide, so nested or concurrent calls on one
    * session share one regime: the first entry saves the caller's values
    * (set or unset) and the last exit restores them, also when `body`
    * throws. Other queries of the session that run meanwhile run
    * interpreted too; results are the same either way. */
  def withoutGeneratedCode[A](spark: org.apache.spark.sql.SparkSession)(body: => A): A = {
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    Interpreted.enter(conf)
    try body finally Interpreted.exit(conf)
  }

  /** `df` rebound to an interpreted copy of its session: the same analyzed
    * plan, run wherever the caller later executes it (a write, a count, a
    * collect) with generated code off, as in [[withoutGeneratedCode]]. The
    * regime travels with the DataFrame, so no conf of the caller's session
    * changes. Jobs that built `df` have already run in the caller's regime. */
  def interpreted(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(Interpreted.copyOf(cdf.sparkSession), cdf.logicalPlan)
  }

  private object Interpreted {
    /** The confs of the regime without generated code. */
    val Keys = Seq(
      org.apache.spark.sql.internal.SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
      org.apache.spark.sql.internal.SQLConf.CODEGEN_FACTORY_MODE.key -> "NO_CODEGEN")

    /** Per caller session: the caller's runtime confs and the interpreted
      * copy made with them. One copy per caller, not one per DataFrame:
      * executors keep per-session state with its own class loader, and
      * generated classes are cached per class loader, so a copy per query
      * recompiled the few classes interpreted plans still generate in tasks
      * (10 per pass over the queries). The copy is a new session given the
      * caller's confs, not a clone: a clone keeps its parent's session state,
      * which would keep the weak key alive as long as the map holds the
      * copy. */
    private val copies =
      new java.util.WeakHashMap[classic.SparkSession, (Map[String, String], classic.SparkSession)]

    /** The caller's copy, made again once the caller's confs have changed. */
    def copyOf(caller: classic.SparkSession): classic.SparkSession = synchronized {
      val confs = caller.sessionState.conf.getAllConfs
      Option(copies.get(caller)).filter(_._1 == confs).map(_._2).getOrElse {
        val copy = caller.newSession()
        (confs ++ Keys).foreach { case (k, v) => copy.sessionState.conf.setConfString(k, v) }
        copies.put(caller, (confs, copy))
        copy
      }
    }

    /** Per session conf: (entries, the caller's values of [[Keys]]). */
    private val active =
      new java.util.IdentityHashMap[org.apache.spark.sql.internal.SQLConf, (Int, Seq[Option[String]])]

    def enter(conf: org.apache.spark.sql.internal.SQLConf): Unit = synchronized {
      val (n, saved) = Option(active.get(conf)).getOrElse {
        val caller = Keys.map { case (k, _) =>
          if (conf.contains(k)) Some(conf.getConfString(k)) else None }
        Keys.foreach { case (k, v) => conf.setConfString(k, v) }
        (0, caller)
      }
      active.put(conf, (n + 1, saved))
    }

    def exit(conf: org.apache.spark.sql.internal.SQLConf): Unit = synchronized {
      val (n, saved) = active.get(conf)
      if (n > 1) active.put(conf, (n - 1, saved))
      else {
        active.remove(conf)
        Keys.map(_._1).zip(saved).foreach {
          case (k, Some(v)) => conf.setConfString(k, v)
          case (k, None) => conf.unsetConf(k)
        }
      }
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
    val head = cparts.head
    val union = new PartitionAlignedUnionRDD(head.sparkSession.sparkContext, rdds)
    val output = head.queryExecution.analyzed.output
    val attrs = keyCols.map(k => output.find(_.name == k).getOrElse(
      sys.error(s"partition key $k not in output ${output.map(_.name)}")))
    val part = org.apache.spark.sql.catalyst.plans.physical.HashPartitioning(attrs, numPartitions)
    val stats = sizeHint.map { case (rows, bytes) =>
      org.apache.spark.sql.catalyst.plans.logical.Statistics(
        sizeInBytes = BigInt(bytes), rowCount = Some(BigInt(rows)))
    }
    classic.Dataset.ofRows(head.sparkSession,
      execution.LogicalRDD(output, union, part, Nil, isStreaming = false)(
        head.sparkSession, stats, None))
  }
}

/** Same partitions as the parent; pruned ones compute to empty without ever
  * touching the parent iterator (the cache block is neither fetched nor
  * decompressed, and an uncomputed partition stays uncomputed). */
private final class PartitionPrunedRDD(
    parent: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
    keep: Array[Boolean])
  extends org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow](parent) {

  override def getPartitions: Array[org.apache.spark.Partition] = parent.partitions

  override def compute(split: org.apache.spark.Partition,
      context: org.apache.spark.TaskContext): Iterator[org.apache.spark.sql.catalyst.InternalRow] =
    if (keep(split.index)) firstParent[org.apache.spark.sql.catalyst.InternalRow].iterator(split, context)
    else Iterator.empty

  override def getPreferredLocations(split: org.apache.spark.Partition): Seq[String] =
    if (keep(split.index)) parent.preferredLocations(split) else Nil
}

/** A split that CAPTURES its parent RDDs' Partition objects driver-side:
  * `RDD.partitions` may only be computable on the driver (FileScanRDD's
  * partition list is `@transient` — recomputing it inside a task NPEs), so
  * any compute() that iterates a parent's partitions must carry them in the
  * split, exactly as Spark's own `UnionRDD` does. */
private final class CapturedParentsPart(
    override val index: Int,
    val parentParts: Array[org.apache.spark.Partition]) extends org.apache.spark.Partition

/** Output partition i = concatenation of ALL partitions of parent RDD i
  * (None = empty). Narrow dependencies only: the dependency on parent i maps
  * output partition i to every partition of that parent, and every other
  * output partition to none — no shuffle, and a lost output partition
  * recomputes only its own bucket's file scan. */
private final class BucketAlignedRDD(
    sc: org.apache.spark.SparkContext,
    parents: Array[Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]]])
  extends org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow](
    sc, BucketAlignedRDD.mkDeps(parents)) {

  override def getPartitions: Array[org.apache.spark.Partition] =
    Array.tabulate(parents.length)(i =>
      new CapturedParentsPart(i, parents(i).map(_.partitions).getOrElse(Array.empty)))

  override def compute(split: org.apache.spark.Partition,
      context: org.apache.spark.TaskContext): Iterator[org.apache.spark.sql.catalyst.InternalRow] =
    parents(split.index) match {
      case Some(p) => split.asInstanceOf[CapturedParentsPart].parentParts.iterator
        .flatMap(pp => p.iterator(pp, context))
      case None => Iterator.empty
    }

  override def getPreferredLocations(split: org.apache.spark.Partition): Seq[String] =
    parents(split.index).toSeq.flatMap(p =>
      p.partitions.flatMap(pp => p.preferredLocations(pp))).distinct
}

private object BucketAlignedRDD {
  /** Built here, not inline in the superclass constructor call: a partial-
    * function literal there is an anon class nested in the RDD — premature
    * access to the not-yet-initialized outer class. */
  def mkDeps(
      parents: Array[Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]]])
      : IndexedSeq[org.apache.spark.Dependency[_]] =
    parents.zipWithIndex.collect {
      case (Some(p), i) => new BucketNarrowDep(p, i)
    }.toIndexedSeq
}

/** Dependency of [[BucketAlignedRDD]]'s output partition `bucket` on EVERY
  * partition of its per-bucket parent; all other output partitions depend on
  * none of them. Top-level (not an anon class inside the RDD) because Scala
  * forbids anonymous classes in superclass constructor arguments. */
private final class BucketNarrowDep(
    p: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
    bucket: Int)
  extends org.apache.spark.NarrowDependency[org.apache.spark.sql.catalyst.InternalRow](p) {
  override def getParents(pid: Int): Seq[Int] =
    if (pid == bucket) p.partitions.indices else Nil
}

/** Partition-wise union of RDDs with identical partition counts (and, by the
  * caller's contract, identical partitioners): narrow dependencies only —
  * partition i depends on every parent's partition i. */
private final class PartitionAlignedUnionRDD(
    sc: org.apache.spark.SparkContext,
    parents: Seq[org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]])
  extends org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow](
    sc, parents.map(p => new org.apache.spark.NarrowDependency(p) {
      override def getParents(pid: Int): Seq[Int] = Seq(pid)
    })) {

  override def getPartitions: Array[org.apache.spark.Partition] =
    Array.tabulate(parents.head.getNumPartitions)(i =>
      new CapturedParentsPart(i, parents.map(_.partitions(i)).toArray))

  override def compute(split: org.apache.spark.Partition,
      context: org.apache.spark.TaskContext): Iterator[org.apache.spark.sql.catalyst.InternalRow] =
    parents.iterator.zip(split.asInstanceOf[CapturedParentsPart].parentParts.iterator)
      .flatMap { case (p, pp) => p.iterator(pp, context) }

  override def getPreferredLocations(split: org.apache.spark.Partition): Seq[String] =
    parents.flatMap(p => p.preferredLocations(p.partitions(split.index))).distinct
}
