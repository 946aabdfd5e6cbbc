package graft.wbot

import org.apache.spark.sql.{DataFrame, SparkSession, SaveMode}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.types.StructType
import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.concurrent.Await
import scala.concurrent.duration.Duration

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
}

final class Storage(dir: String) {
  import Storage._

  def init(): Unit = new File(dir).mkdirs()

  private def stepDir(d: Int) = s"$dir/step=$d"

  private def writeAtomic(df: DataFrame, path: String): Unit = {
    val tmp = path + ".tmp"
    df.write.mode(SaveMode.Overwrite).parquet(tmp)
    promote(tmp, path)
  }

  private def promote(tmp: String, path: String): Unit = {
    val dst = new File(path)
    if (dst.exists()) delete(dst)
    Files.move(Paths.get(tmp), Paths.get(path), StandardCopyOption.ATOMIC_MOVE)
  }

  private def delete(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(delete)
    f.delete(); ()
  }

  private def writeSeenDelta(d: Int, sc: SeenCommit): Unit = {
    val path = s"${stepDir(d)}/seen_delta"
    val tmp = path + ".tmp"
    sc.alignedP match {
      case Some(_) =>
        // one directory per aligned partition: __bucket = the leaf's physical
        // partition id ≡ pmod(hash(canon), p). The dynamic-partition write
        // adds only a per-task constant-column sort (each task holds exactly
        // one bucket) — no shuffle.
        sc.df.withColumn("__bucket", org.apache.spark.sql.functions.spark_partition_id())
          .write.mode(SaveMode.Overwrite).partitionBy("__bucket").parquet(tmp)
      case None =>
        sc.df.write.mode(SaveMode.Overwrite).parquet(tmp)
    }
    promote(tmp, path)
    val props = new java.util.Properties()
    sc.alignedP.foreach(p => props.setProperty("aligned_p", p.toString))
    props.setProperty("rows", sc.rows.toString)
    val ptmp = Paths.get(s"${stepDir(d)}/seen_delta.properties.tmp")
    val out = Files.newOutputStream(ptmp)
    try props.store(out, "seen delta meta") finally out.close()
    Files.move(ptmp, Paths.get(s"${stepDir(d)}/seen_delta.properties"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
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
    val props = new java.util.Properties()
    props.setProperty("committed_step", d.toString)
    props.setProperty("seq_base", seqBase.toString)
    props.setProperty("seen_base_step", seenBase.toString)
    props.setProperty("frontier_rows", frontierRows.toString)
    metrics.foreach { case (k, v) => props.setProperty(s"metric.$k", v.toString) }
    val tmp = Paths.get(s"$dir/manifest.properties.tmp")
    val out = Files.newOutputStream(tmp)
    try props.store(out, "wbot-spark snapshot manifest") finally out.close()
    Files.move(tmp, Paths.get(s"$dir/manifest.properties"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def readManifest(): Option[Snapshot] = {
    val f = new File(s"$dir/manifest.properties")
    if (!f.exists()) return None
    val props = new java.util.Properties()
    val in = Files.newInputStream(f.toPath)
    try props.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    val metrics = props.stringPropertyNames().asScala.toSeq
      .filter(_.startsWith("metric."))
      .map(k => k.stripPrefix("metric.") -> props.getProperty(k).toLong).toMap
    Some(Snapshot(props.getProperty("committed_step").toInt,
      props.getProperty("seq_base").toLong, metrics,
      Option(props.getProperty("seen_base_step")).map(_.toInt).getOrElse(-1),
      Option(props.getProperty("frontier_rows")).map(_.toLong)))
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
    * small or re-align. Every read uses [[SeenSchema]]. */
  def readSeenDeltas(spark: SparkSession, upTo: Int, seenBase: Int, wantP: Int,
      rowBytes: Long): Seq[LoadedDelta] = {
    (math.max(0, seenBase) to upTo).flatMap { i =>
      val path = s"${stepDir(i)}/seen_delta"
      if (!new File(path).exists()) None
      else {
        requireCanonKeyed(new File(path))
        val (alignedP, rows) = {
          val pf = new File(s"${stepDir(i)}/seen_delta.properties")
          if (!pf.exists()) (None, -1L)
          else {
            val props = new java.util.Properties()
            val in = Files.newInputStream(pf.toPath)
            try props.load(in) finally in.close()
            (Option(props.getProperty("aligned_p")).map(_.toInt),
              Option(props.getProperty("rows")).map(_.toLong).getOrElse(-1L))
          }
        }
        alignedP match {
          case Some(p) if p == wantP && rows > 0L =>
            val buckets = (0 until p).map { b =>
              val bdir = new File(s"$path/__bucket=$b")
              if (bdir.exists()) Some(spark.read.schema(SeenSchema).parquet(bdir.toString))
              else None
            }
            if (buckets.forall(_.isEmpty)) None
            else Some(LoadedDelta(
              org.apache.spark.sql.graftbridge.DatasetBridge.bucketSourcesAligned(
                buckets, Seq("canon"), Some((rows, math.max(1L, rows * rowBytes)))),
              aligned = true, rows))
          case Some(_) =>
            // width mismatch: flat read across the bucket dirs (partition
            // discovery adds __bucket — drop it), engine re-aligns
            if (!new File(path).listFiles().exists(_.getName.startsWith("__bucket="))) None
            else Some(LoadedDelta(spark.read.schema(SeenSchema).parquet(path).drop("__bucket"),
              aligned = false, rows))
          case None =>
            if (rows == 0L) None
            else Some(LoadedDelta(spark.read.schema(SeenSchema).parquet(path),
              aligned = false, rows))
        }
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
