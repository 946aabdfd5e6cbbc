package graft.wbot.exprs

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import graft.wbot.UrlFuncs

/**
 * Scalar functions for the URL-identity hot path (SURVEY.md §4.3): static
 * evaluators on UTF8String, and column handles that call them through
 * Spark's `StaticInvoke` ([[ColumnBridge.staticCall]]). Compared to a Scala
 * UDF there is no encoder/deserializer round-trip per row and no Option
 * boxing; generated code calls the evaluators directly.
 */
object UrlExprs {

  /** Static evaluator: canonical form of a raw URL, null when invalid
    * (scheme/TLD/parse rejection — `NewURL` semantics). */
  def canon(raw: UTF8String): UTF8String =
    if (raw == null) null
    else UrlFuncs.newUrl(raw.toString) match {
      case Right(p) => UTF8String.fromString(p.canon)
      case Left(_)  => null
    }

  /** Static evaluator: registrable domain (Hostname semantics), null invalid. */
  def root(raw: UTF8String): UTF8String =
    if (raw == null) null
    else UrlFuncs.hostnameRoot(raw.toString) match {
      case Right(r) => UTF8String.fromString(r)
      case Left(_)  => null
    }

  /** Static evaluator: `host[:port]` of a parseable absolute URL (Go
    * `URL.Host`), null when unparseable. For URLs produced by the engine's
    * own resolver this equals `Parsed.host` exactly (the round-trip identity
    * `parse(str(u)) == u`, property-pinned by CandidateFastPathSpec) — which
    * is what lets the crawl loop recompute `host` on the post-dedup fresh
    * set instead of shipping it through the candidate window shuffle. */
  def hostPort(raw: UTF8String): UTF8String =
    if (raw == null) null
    else graft.wbot.GoUrl.parse(raw.toString) match {
      case Right(u) => UTF8String.fromString(u.host)
      case Left(_)  => null
    }

  /** Static evaluator: registrable domain of a bare `host[:port]` string —
    * `registrableDomain(stripPort(host))`, the exact value `validateResolved`
    * assigns to `Parsed.root` (`UrlFuncs.scala:176-187`; the TLD whitelist
    * gate there only VALIDATES — it never alters the value — so for rows
    * that already passed validation this recompute is identical). No URL
    * parse: pure label arithmetic on an already-extracted host. */
  def hostRoot(host: UTF8String): UTF8String =
    if (host == null) null
    else UrlFuncs.registrableDomain(graft.wbot.GoUrl.stripPort(host.toString)) match {
      case Right(r) => UTF8String.fromString(r)
      case Left(_)  => null
    }

  private def call(method: String, c: Column): Column =
    ColumnBridge.staticCall(this, method, StringType, Seq(c -> StringType))

  /** `canon(url)` — the hashLink pre-hash transform (wbot.go:219-238) over the
    * full NewURL validation (wbot.go:132-164). */
  def canonicalizeUrl(c: Column): Column = call("canon", c)

  /** `root(url)` — registrable-domain extraction (Hostname, wbot.go:198-217). */
  def urlRoot(c: Column): Column = call("root", c)

  /** Go `URL.Host` (host[:port]) of an absolute URL. */
  def urlHost(c: Column): Column = call("hostPort", c)

  /** Registrable domain of a bare host[:port] (no parse). */
  def hostRoot(c: Column): Column = call("hostRoot", c)

  /** Register SQL names: `wbot_canon(url)`, `wbot_root(url)`. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction("wbot_canon",
      exprs => ColumnBridge.expression(canonicalizeUrl(ColumnBridge.column(exprs.head))),
      "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction("wbot_root",
      exprs => ColumnBridge.expression(urlRoot(ColumnBridge.column(exprs.head))),
      "scala_udf")
  }
}
