package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import java.time.LocalDateTime

/**
 * Seed-generated stand-ins for the operator queries' three input tables
 * (`documents`, `events`, `embeddings`), with the row counts, value ranges
 * and column types of the sf0.1 test set: 5,000 documents over a 31-word
 * vocabulary with planted exact and near duplicates, 100,000 events over 30
 * days and 1,500 users, 2,000 unit-norm 64-dimensional embeddings. Every
 * row is a pure function of (seed, row index), generated inside Spark tasks
 * and written as one parquet file per table under `<dir>/<table>.parquet/`.
 */
object QueryData {
  val Documents = 5000
  val Events = 100000
  val Embeddings = 2000
  val Dim = 64

  private val vocab = Vector("query", "row", "stream", "the", "spark", "line", "small", "fast",
    "group", "customer", "batch", "sort", "value", "hash", "filter", "big", "data", "dup",
    "part", "column", "order", "scan", "a", "slow", "agg", "key", "window", "table", "merge",
    "vector", "join")
  private val langs = Vector("en", "en", "en", "de", "fr", "es", "zh")
  private val eventTypes = Vector("view", "click", "purchase", "signup", "error")

  // splitmix64 per (seed, index, salt)
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def bits(seed: Long, i: Long, salt: Long): Long = mix(mix(mix(seed) ^ i) ^ salt)
  private def below(seed: Long, i: Long, salt: Long, n: Long): Long =
    Math.floorMod(bits(seed, i, salt), n)
  private def u01(seed: Long, i: Long, salt: Long): Double =
    (bits(seed, i, salt) >>> 11) * (1.0 / (1L << 53))

  /** Document i's text: mostly fresh word draws; ~1/600 exact and ~1/40
    * one-word-swapped copies of an earlier document. */
  def text(seed: Long, i: Long): String =
    if (i > 50 && below(seed, i, 1, 600) == 0) text(seed, below(seed, i, 2, i))
    else if (i > 50 && below(seed, i, 3, 40) == 0) {
      val w = text(seed, below(seed, i, 4, i)).split(' ')
      w(below(seed, i, 5, w.length).toInt) = "dup"
      w.mkString(" ")
    } else (0 until 8 + below(seed, i, 6, 93).toInt)
      .map(k => vocab(below(seed, i, 100 + k, vocab.size).toInt)).mkString(" ")

  def write(spark: SparkSession, dir: String, seed: Long): Map[String, Long] = {
    save(spark, Documents, s"$dir/documents.parquet",
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT") { i =>
      val t = text(seed, i)
      Row(i, t, langs(below(seed, i, 7, langs.size).toInt), s"src${i % 20}", t.length.toLong)
    }
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val stepUs = 30L * 86400L * 1000000L / Events
    save(spark, Events, s"$dir/events.parquet", "event_id BIGINT, ts TIMESTAMP_NTZ, " +
      "user_id BIGINT, event_type STRING, value DOUBLE, props STRING") { i =>
      val value = math.round(-math.log(1.0 - u01(seed, i, 10)) * 5000.0) / 100.0
      Row(i, t0.plusNanos((i * stepUs + below(seed, i, 11, stepUs)) * 1000L),
        below(seed, i, 12, 1500), eventTypes(below(seed, i, 13, eventTypes.size).toInt),
        math.min(value, 999.99), s"""{"k": ${below(seed, i, 14, 100)}}""")
    }
    save(spark, Embeddings, s"$dir/embeddings.parquet",
      "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT") { i =>
      // Box-Muller normals, scaled to unit length
      val v = Array.tabulate(Dim) { k =>
        math.sqrt(-2.0 * math.log(1.0 - u01(seed, i, 200 + 2 * k))) *
          math.cos(2.0 * math.Pi * u01(seed, i, 201 + 2 * k))
      }
      val n = math.sqrt(v.map(x => x * x).sum)
      Row(i, v.map(x => (x / n).toFloat).toSeq, below(seed, i, 15, 10).toInt)
    }
    Map("documents" -> Documents.toLong, "events" -> Events.toLong,
      "embeddings" -> Embeddings.toLong)
  }

  /** One file per table, as in the test sets, in row groups of at most
    * 256 KB so the DuckDB oracle can scan a table on several threads. */
  private def save(spark: SparkSession, n: Int, path: String, ddl: String)(row: Long => Row): Unit =
    spark.createDataFrame(spark.sparkContext.range(0L, n.toLong, 1L, Main.Cores).map(row),
      StructType.fromDDL(ddl)).repartition(1).write.mode("overwrite")
      .option("parquet.block.size", 256 * 1024).parquet(path)
}
