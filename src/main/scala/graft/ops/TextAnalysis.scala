package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text analysis operators for training-data pipelines — language ID
 * (marker-token heuristic), quality scoring (length/punctuation/stopword
 * ratios), token counting, and document fingerprinting. All pure Catalyst
 * expressions (codegen'd, no UDFs): each is a single narrow projection or
 * hash-agg — scales linearly, no shuffle except the final aggregations.
 */
object TextAnalysis {

  private val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is"),
    "de" -> Seq("der", "die", "und", "ist"),
    "fr" -> Seq("le", "la", "et", "est"),
    "es" -> Seq("el", "los", "y", "es"))

  // Marker counting is ONE pass over the text for ALL sets
  // (graft.ops.exprs.OpsExprs.tokenSetCounts): the round-5 shape — one `filter` HOF
  // with a set predicate per call — still ran interpreted lambdas per row
  // (higher-order functions do not codegen) and built a filtered array per
  // set; the native pass splits once and counts every set's hits together.
  // Count values are pinned ≡ the HOF form in OpsExprSpec.

  /** Marker-token language ID: argmax of per-language marker counts with a
    * deterministic preference order on ties; 'und' when no markers hit. */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val langs0 = markers.keys.toSeq.sorted
    val scored = df
      .withColumn("__mc", graft.ops.exprs.OpsExprs.tokenSetCounts(
        col(textCol), langs0.map(markers)))
      .select(col(idCol) +: langs0.zipWithIndex.map { case (l, k) =>
        element_at(col("__mc"), k + 1).as(s"score_$l") }: _*)
    val langs = markers.keys.toSeq.sorted
    val best = langs.map(l => col(s"score_$l")).reduce((a, b) => greatest(a, b))
    // alphabetical-first tie-break: first lang reaching the max wins
    val predAlpha = langs.foldRight(lit("und"): Column) { (l, acc) =>
      when(col(s"score_$l") === best && best > 0, lit(l)).otherwise(acc)
    }
    scored.withColumn("pred_lang", predAlpha)
      .select(col(idCol), col("pred_lang"),
        (langs.map(l => col(s"score_$l")) :+ lit(0L)).reduce(_ + _).as("n_markers"))
  }

  /** Quality features + a composite score, engine-portable arithmetic only. */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = split(col(textCol), " ")
    val nChars = length(col(textCol)).cast("long")
    val nToks = size(toks).cast("long")
    val stop = element_at(graft.ops.exprs.OpsExprs.tokenSetCounts(
      col(textCol), Seq(markers.values.flatten.toSeq)), 1)
    df.select(
      col(idCol),
      nChars.as("n_chars"),
      nToks.as("n_tokens"),
      stop.as("n_stopwords"),
      // ×1000 floor-quantized ratios: exact in any engine
      floor(nChars * 1000.0 / greatest(nToks, lit(1L))).cast("long").as("chars_per_token_x1000"),
      floor(stop * 1000.0 / greatest(nToks, lit(1L))).cast("long").as("stopword_ratio_x1000"),
      when(nChars >= 100 && nChars <= 10000, lit(1)).otherwise(lit(0)).as("length_ok"))
  }

  /** BPE-style pre-tokenization pieces (the GPT-2 pattern's portable subset:
    * contractions, space-prefixed letter runs, digit runs, punctuation runs —
    * NO lookahead, so the identical pattern runs on Java regex (Spark) and
    * RE2 (DuckDB/engines that ban backtracking)). */
  val bpePiecePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+"

  /** All BPE-ish pieces of a text column, as an array. */
  def bpePieces(textCol: Column): Column =
    regexp_extract_all(textCol, lit(bpePiecePattern), lit(0))

  /** Token statistics: whitespace tokens + the BPE-ish piece split. */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val wsToks = split(col(textCol), " ")
    val pieces = bpePieces(col(textCol))
    df.select(
      col(idCol),
      size(wsToks).cast("long").as("n_ws_tokens"),
      size(array_distinct(wsToks)).cast("long").as("n_distinct_tokens"),
      size(pieces).cast("long").as("n_bpe_pieces"),
      size(array_distinct(pieces)).cast("long").as("n_distinct_pieces"),
      length(col(textCol)).cast("long").as("n_chars"))
  }

  /** Corpus-level token frequency (the explode/agg path — one hash shuffle
    * on the token, partial aggregation map-side). */
  def tokenFrequencies(df: DataFrame, textCol: String, minCount: Long): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("token"))
      .where(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)

  /** Document fingerprint: digest of whitespace-normalized lowercased text
    * (content identity robust to whitespace variance). */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      md5(lower(regexp_replace(col(textCol), "\\s+", " "))).as("fingerprint"),
      sha2(col(textCol), 256).as("exact_hash"))
}
