package graft.wbot

import org.apache.spark.sql.{DataFrame, SparkSession, SaveMode}
import org.apache.spark.sql.functions.{coalesce, col, lit, spark_partition_id}
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.types.StructType
import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

/**
 * Snapshot-table checkpoint layer (SURVEY.md §7.6) — the sandbox stand-in for
 * the Iceberg tables of the target deployment: Parquet directories plus an
 * atomic manifest (commit-by-rename), giving the Iceberg properties the crawl
 * actually uses — atomic per-superstep append, snapshot resume, and
 * per-superstep lineage (frontier, seen-delta, crawled-delta, attempts-delta,
 * metrics, seq watermark). On a real cluster the same call sites become
 * `writeTo(catalog.table).append()` on a bucketed Iceberg table.
 *
 * Layout:
 *   <dir>/manifest.properties      — committed step, seqBase, metrics,
 *                                    frontier row count (atomic rename)
 *   <dir>/step=<d>/{frontier,seen_delta,crawled,attempts}/  — parquet
 *   <dir>/step=<d>/seen_delta.properties — the seen delta's width and rows
 *
 * Two tables are BUCKETED — one `__bucket=<pid>` directory per partition of
 * a leaf hash-partitioned on canon, read back as that leaf with no shuffle:
 * the aligned seen deltas, and the prepared pages snapshot
 * ([[Storage.writePreparedPages]]; `_prep.properties` side-car). Every
 * bucket directory and properties side-car is written and read here.
 */
object Storage {
  /** A seen delta handed to [[Storage.commitStep]].
    * @param alignedP Some(p) when `df` is ALREADY hash-partitioned on canon
    *   at width p (the engine's aligned leaf): the commit then writes one
    *   bucket directory per partition (`__bucket=<pid>`), so a resume can
    *   reconstruct the exact layout with zero shuffle
    *   ([[org.apache.spark.sql.graftbridge.DatasetBridge.bucketSourcesAligned]]
    *   — the sandbox analogue of appending to a bucketed Iceberg table).
    * @param supersedesPrior true for the bound-crossing FOLD: this delta
    *   contains every seen row so far, so earlier steps' (small, unaligned)
    *   deltas are compacted away — the manifest's `seen_base_step` advances
    *   and resumes read from here. */
  final case class SeenCommit(df: DataFrame, alignedP: Option[Int], rows: Long,
      supersedesPrior: Boolean)

  /** A committed seen delta loaded on resume. `aligned` = the on-disk layout
    * matches the width the resuming engine asked for, and `df` is a leaf
    * with that HashPartitioning DECLARED (anti-joins add no seen-side
    * exchange over it). Otherwise `df` is a plain parquet read. */
  final case class LoadedDelta(df: DataFrame, aligned: Boolean, rows: Long)

  /** A committed manifest. `frontierRows` is the committed frontier's row
    * count (`frontier_rows`); None for a manifest written before the key
    * existed, which the resume then counts. */
  final case class Snapshot(lastStep: Int, seqBase: Long, metrics: Map[String, Long],
      seenBaseStep: Int, frontierRows: Option[Long])

  /** Declared read schemas, one per committed table — exactly what the
    * engine's commits write (StorageSpec pins each against the schema Spark
    * infers from the written footers). Reads never infer: an inferring
    * parquet read launches one footer-reading Spark job per call, a fixed
    * driver round-trip per table on the resume path. */
  val FrontierSchema: StructType = StructType.fromDDL(
    "url STRING, canon STRING, hash STRING, hash64 BIGINT, host STRING, root STRING, " +
      "depth INT, score BIGINT, seq BIGINT, ua STRING, proxy STRING")
  val SeenSchema: StructType = StructType.fromDDL("canon STRING, hash STRING, hash64 BIGINT")
  val CrawledSchema: StructType = StructType.fromDDL(
    "seq BIGINT, url STRING, canon STRING, hash STRING, depth INT, status INT, " +
      "superstep INT, interval INT, ua STRING, proxy STRING")
  val AttemptsSchema: StructType = StructType.fromDDL(
    "seq BIGINT, canon STRING, depth INT, hit BOOLEAN, superstep INT")

  /** Declared read schema of a [[writePreparedPages]] bucket — exactly what
    * the write leaves in the footers (PrepSnapshotSpec pins it). */
  val PreparedPagesSchema: StructType =
    StructType.fromDDL("canon STRING, hash64 BIGINT, html BINARY")

  /** Persist a [[SparkCrawler.preparePages]] snapshot to disk as one bucket
    * directory per partition (`__bucket=<pid>`, pid ≡ `pmod(hash(canon), P)`),
    * rows inside each bucket file sorted by canon — the pages-side analogue
    * of the bucket-aligned seen commit. A later session reconstructs the
    * exact prepared layout with [[readPreparedPages]]: ZERO shuffle, zero
    * canonicalize pass over the corpus — the per-session prep
    * (canonicalize + repartition + dedup + sort of the FULL corpus, the
    * largest remaining one-time cost at the 10^10 design point) is paid once
    * per corpus snapshot instead of once per session. On a real cluster this
    * is writing/reading the bucketed+sorted Iceberg pages table (SURVEY §7.6).
    * Returns the row count (also persisted in the side-car properties). */
  def writePreparedPages(pagesPrep: DataFrame, dir: String): Long = {
    val p = pagesPrep.rdd.getNumPartitions
    val rows = pagesPrep.count()
    writeBuckets(pagesPrep, dir, sortedBy = Seq("canon"))
    writeProps(s"$dir/_prep.properties", "prepared pages snapshot meta",
      Map("partitions" -> p.toString, "rows" -> rows.toString))
    rows
  }

  /** Reconstruct a [[writePreparedPages]] snapshot as a zero-shuffle aligned
    * leaf: `HashPartitioning(canon, P)` + per-partition canon ordering
    * DECLARED (the fetch join adds no pages-side exchange or sort, identical
    * to the in-session prep), cached at the same storage level
    * [[SparkCrawler.preparePages]] uses. No stats are declared — the pages
    * side must never broadcast, and the session-default (effectively
    * infinite) size guarantees that. Every bucket is read with
    * [[PreparedPagesSchema]], so no bucket pays a footer-inference job.
    * Drop-in for [[SparkCrawler.runPrepared]]/[[SparkCrawler.resumePrepared]]. */
  def readPreparedPages(spark: SparkSession, dir: String): DataFrame = {
    val p = readProps(s"$dir/_prep.properties").map(_("partitions").toInt)
    require(p.isDefined, s"no prepared-pages snapshot at $dir")
    readBuckets(spark, dir, p.get, PreparedPagesSchema, None, orderedBy = Seq("canon"))
      .persist(SparkCrawler.bulkLevel)
  }

  /** Write `df` as the parquet table at `path`, through `path.tmp`. */
  private def writeAtomic(df: DataFrame, path: String): Unit = {
    df.write.mode(SaveMode.Overwrite).parquet(path + ".tmp")
    promote(path + ".tmp", path)
  }

  /** Write `df`, a leaf hash-partitioned on canon, as the bucketed table at
    * `path` (through `path.tmp`): one directory `__bucket=<pid>` per
    * non-empty partition, pid = the leaf's physical partition id ≡
    * `pmod(hash(canon), p)`. The dynamic-partition write adds only a
    * per-task constant-column sort (each task holds exactly one bucket) — no
    * shuffle. With `sortedBy`, each bucket's rows are sorted by those
    * columns: `__bucket` is constant per task, so sorting by `__bucket` and
    * then `sortedBy` sorts each partition by `sortedBy`, which meets the
    * writer's required ordering EXPLICITLY. Without it the writer plans its
    * own sort on `__bucket` alone, which is not stability-guaranteed and
    * could scramble an order the reader declares. */
  private def writeBuckets(df: DataFrame, path: String, sortedBy: Seq[String]): Unit = {
    val tagged = df.withColumn("__bucket", spark_partition_id())
    val sorted =
      if (sortedBy.isEmpty) tagged
      else tagged.sortWithinPartitions(("__bucket" +: sortedBy).map(col): _*)
    sorted.write.mode(SaveMode.Overwrite).partitionBy("__bucket").parquet(path + ".tmp")
    promote(path + ".tmp", path)
  }

  /** The [[writeBuckets]] table at `path`, written from a leaf of `p`
    * partitions, as that leaf: `HashPartitioning(canon, p)` declared, each
    * bucket read with `schema` into its own partition (a missing bucket
    * directory — an empty partition — is an empty one), each partition
    * declared sorted by `orderedBy`. */
  private def readBuckets(spark: SparkSession, path: String, p: Int, schema: StructType,
      sizeHint: Option[(Long, Long)], orderedBy: Seq[String]): DataFrame = {
    val buckets = (0 until p).map { b =>
      val bdir = new File(s"$path/__bucket=$b")
      if (bdir.exists()) Some(spark.read.schema(schema).parquet(bdir.toString)) else None
    }
    DatasetBridge.bucketSourcesAligned(buckets, Seq("canon"), sizeHint, orderedBy)
  }

  /** Whether `path` holds any [[writeBuckets]] bucket directory. */
  private def hasBuckets(path: String): Boolean =
    Option(new File(path).list()).exists(_.exists(_.startsWith("__bucket=")))

  private def promote(tmp: String, path: String): Unit = {
    val dst = new File(path)
    if (dst.exists()) delete(dst)
    Files.move(Paths.get(tmp), Paths.get(path), StandardCopyOption.ATOMIC_MOVE)
  }

  private def delete(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(delete)
    f.delete(); ()
  }

  /** Write `entries` as the properties file `path`, atomically: stored to
    * `path.tmp`, then renamed over `path`. */
  private def writeProps(path: String, comment: String, entries: Map[String, String]): Unit = {
    val props = new java.util.Properties()
    entries.foreach { case (k, v) => props.setProperty(k, v) }
    val tmp = Paths.get(path + ".tmp")
    val out = Files.newOutputStream(tmp)
    try props.store(out, comment) finally out.close()
    Files.move(tmp, Paths.get(path),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The properties file `path`; None when there is none. */
  private def readProps(path: String): Option[Map[String, String]] = {
    val f = new File(path)
    if (!f.exists()) None
    else {
      val props = new java.util.Properties()
      val in = Files.newInputStream(f.toPath)
      try props.load(in) finally in.close()
      Some(props.asScala.toMap)
    }
  }
}

final class Storage(dir: String) {
  import Storage._

  def init(): Unit = new File(dir).mkdirs()

  private def stepDir(d: Int) = s"$dir/step=$d"

  private def writeSeenDelta(d: Int, sc: SeenCommit): Unit = {
    val path = s"${stepDir(d)}/seen_delta"
    if (sc.alignedP.isDefined) writeBuckets(sc.df, path, sortedBy = Nil)
    else writeAtomic(sc.df, path)
    writeProps(s"$path.properties", "seen delta meta",
      sc.alignedP.map(p => "aligned_p" -> p.toString).toMap + ("rows" -> sc.rows.toString))
  }

  /** Commit superstep d: all tables first, manifest rename last (the commit
    * point — a crash mid-write leaves the previous manifest authoritative).
    * The table writes are independent directories, so they run as concurrent
    * Spark jobs on the engine's side-job pool; all of them are awaited, and
    * the first failure (in table order) is rethrown before any manifest is
    * written. `frontierRows` = `frontier`'s exact row count, which the
    * caller knows (the manifest records it, so a resume needs no count
    * job). `seenBase` = the step whose seen delta supersedes all earlier
    * ones (-1 = none; maintained by the crawl loop across fold commits). */
  def commitStep(d: Int, frontier: DataFrame, frontierRows: Long, seenDelta: Option[SeenCommit],
      crawledDelta: DataFrame, attemptsDelta: DataFrame,
      metrics: Map[String, Long], seqBase: Long, seenBase: Int = -1): Unit = {
    // a step past the manifest's is uncommitted: clear what a torn earlier
    // attempt at this step left, so no stale table outlives the retry
    val sdir = new File(stepDir(d))
    if (sdir.exists()) delete(sdir)
    sdir.mkdirs()
    val writes: Seq[() => Unit] = Seq(
      () => writeAtomic(frontier, s"${stepDir(d)}/frontier"),
      () => seenDelta.foreach(writeSeenDelta(d, _)),
      () => writeAtomic(crawledDelta, s"${stepDir(d)}/crawled"),
      () => writeAtomic(attemptsDelta, s"${stepDir(d)}/attempts"))
    writes.map(w => SparkCrawler.sideJob(frontier.sparkSession)(w()))
      .map(f => Await.ready(f, Duration.Inf).value.get)
      .foreach(_.get)
    writeProps(s"$dir/manifest.properties", "wbot-spark snapshot manifest",
      Map("committed_step" -> d.toString, "seq_base" -> seqBase.toString,
        "seen_base_step" -> seenBase.toString, "frontier_rows" -> frontierRows.toString) ++
        metrics.map { case (k, v) => s"metric.$k" -> v.toString })
  }

  def readManifest(): Option[Snapshot] =
    readProps(s"$dir/manifest.properties").map { props =>
      val metrics = props.collect {
        case (k, v) if k.startsWith("metric.") => k.stripPrefix("metric.") -> v.toLong
      }
      Snapshot(props("committed_step").toInt, props("seq_base").toLong, metrics,
        props.get("seen_base_step").fold(-1)(_.toInt), props.get("frontier_rows").map(_.toLong))
    }

  /** Frontier snapshot, with forward migration: snapshots written before the
    * O2 `score` column existed read `score` as null under the declared
    * schema, and resume as pure FIFO (score = 0). The engine always writes a
    * non-null score, so the coalesce is the identity on its own commits. */
  def readFrontier(spark: SparkSession, d: Int): DataFrame =
    spark.read.schema(FrontierSchema).parquet(s"${stepDir(d)}/frontier")
      .withColumn("score", coalesce(col("score"), lit(0L)))

  /** Pre-round-5 seen deltas were keyed by `hash` alone; the declared schema
    * would read their `canon` as all-null and silently treat every seen URL
    * as fresh. One driver-side footer read per delta (no Spark job) makes
    * that a loud error instead. */
  private def requireCanonKeyed(deltaDir: File): Unit = {
    def firstParquet(f: File): Option[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName)
        .iterator.flatMap(firstParquet).nextOption()
      else Some(f).filter(_.getName.endsWith(".parquet"))
    firstParquet(deltaDir).foreach { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        new org.apache.parquet.io.LocalInputFile(f.toPath))
      val keyed = try r.getFileMetaData.getSchema.containsField("canon") finally r.close()
      require(keyed, s"seen snapshot $deltaDir predates the canon-keyed format " +
        "(pre-round-5); cannot resume")
    }
  }

  /** The committed seen deltas as of step `upTo`, one [[LoadedDelta]] per
    * surviving commit (compacted-away steps before `seenBase` are skipped).
    * Deltas whose on-disk bucket layout matches `wantP` come back as
    * zero-shuffle aligned leaves with stats (`rows`, `rows × rowBytes`);
    * anything else (pre-fold smalls, width-mismatched layouts, legacy plain
    * commits) comes back as a plain parquet read for the engine to treat as
    * small or re-align. Every read uses [[SeenSchema]]. A bucketed commit
    * whose side-car records rows but whose bucket directories are gone
    * throws `IllegalStateException`: resuming without it would crawl every
    * URL it holds again as fresh. */
  def readSeenDeltas(spark: SparkSession, upTo: Int, seenBase: Int, wantP: Int,
      rowBytes: Long): Seq[LoadedDelta] =
    (math.max(0, seenBase) to upTo).flatMap { i =>
      val path = s"${stepDir(i)}/seen_delta"
      if (!new File(path).exists()) None
      else {
        requireCanonKeyed(new File(path))
        val props = readProps(s"$path.properties").getOrElse(Map.empty)
        val rows = props.get("rows").fold(-1L)(_.toLong)
        props.get("aligned_p").map(_.toInt) match {
          case Some(p) if !hasBuckets(path) =>
            if (rows > 0L) throw new IllegalStateException(s"seen delta of step $i " +
              s"records $rows rows in $p buckets, but $path holds no __bucket= directory; " +
              "cannot resume")
            None
          case Some(p) if p == wantP && rows > 0L =>
            Some(LoadedDelta(readBuckets(spark, path, p, SeenSchema,
              Some((rows, math.max(1L, rows * rowBytes))), orderedBy = Nil), aligned = true, rows))
          case Some(_) =>
            // width mismatch: flat read across the bucket dirs (partition
            // discovery adds __bucket — drop it), engine re-aligns
            Some(LoadedDelta(spark.read.schema(SeenSchema).parquet(path).drop("__bucket"),
              aligned = false, rows))
          case None =>
            if (rows == 0L) None
            else Some(LoadedDelta(spark.read.schema(SeenSchema).parquet(path),
              aligned = false, rows))
        }
      }
    }

  def readCrawled(spark: SparkSession, upTo: Int): Option[DataFrame] =
    readSteps(spark, upTo, "crawled", CrawledSchema)

  def readAttempts(spark: SparkSession, upTo: Int): Option[DataFrame] =
    readSteps(spark, upTo, "attempts", AttemptsSchema)

  private def readSteps(spark: SparkSession, upTo: Int, table: String,
      schema: StructType): Option[DataFrame] = {
    val paths = (0 to upTo).map(i => s"${stepDir(i)}/$table").filter(p => new File(p).exists())
    if (paths.isEmpty) None else Some(spark.read.schema(schema).parquet(paths: _*))
  }
}
