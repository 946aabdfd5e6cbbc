package graft.wbot

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/**
 * Spark UDF surface (SURVEY.md §2.11) — thin wrappers over the pure core in
 * [[UrlFuncs]] / [[Html]] so the Spark engine, the Oracle simulator and the
 * fixture generator share one implementation of URL identity and HTML
 * scanning. Everything downstream of these (joins, windows, dedup, hashing
 * for partitioning) stays in built-in Catalyst expressions.
 */
object Udfs {

  /** Candidate link after resolve + validate (`http_client.go:125-136`):
    * null when silently dropped. `path` is the decoded path (the operand of
    * the bad-extension filter, `filter.go:31`). `host` is the raw host[:port]
    * (the Q1 operand, `crawler.go:252`); `hostname` is the port-stripped
    * hostname (Go `URL.Hostname()` — the robots-gate operand, matching
    * `Oracle`'s `target.url.hostnameOnly`). */
  final case class Cand(url: String, canon: String, hash: String, host: String,
      hostname: String, root: String, path: String)

  /** Parsed seed / frontier URL. */
  final case class ParsedUrl(url: String, canon: String, hash: String, host: String,
      root: String, valid: Boolean, err: String)

  // one-slot memo: rows for the same parent page arrive adjacent post-explode
  private val lastParent = new ThreadLocal[(String, UrlFuncs.Parsed)]

  private def parseParent(parentUrl: String): Option[UrlFuncs.Parsed] = {
    val memo = lastParent.get()
    if (memo != null && memo._1 == parentUrl) return Some(memo._2)
    UrlFuncs.newUrl(parentUrl).toOption.map { p => lastParent.set((parentUrl, p)); p }
  }

  val extractLinksFn: (Array[Byte], Long) => Seq[String] =
    (html, maxBody) => if (html == null) Seq.empty else Html.findLinksBytes(html, maxBody)

  val resolveCandidateFn: (String, String) => Cand = (parentUrl, href) => {
    (for {
      parent <- parseParent(parentUrl)
      cand <- UrlFuncs.candidate(parent.url, href)
    } yield Cand(cand.urlStr, cand.canon, cand.hash, cand.host, cand.url.hostnameOnly,
      cand.root, cand.url.path)).orNull
  }

  val parseUrlFn: String => ParsedUrl = raw =>
    UrlFuncs.newUrl(raw) match {
      case Right(p) => ParsedUrl(p.urlStr, p.canon, p.hash, p.host, p.root, valid = true, "")
      case Left(e)  => ParsedUrl(raw, null, null, null, null, valid = false, e)
    }

  val canonicalizeFn: String => String = raw =>
    UrlFuncs.newUrl(raw).toOption.map(_.canon).orNull

  // Column-level handles (functions.udf keeps them usable without registration)
  val extractLinks = udf(extractLinksFn)
  val resolveCandidate = udf(resolveCandidateFn)
  val parseUrl = udf(parseUrlFn)
  val canonicalize = udf(canonicalizeFn)

  def robotsAllowedUdf(rules: Seq[Schemas.RobotsRule]) =
    udf((host: String, path: String, ua: String) => Schemas.robotsAllowed(rules, host, path, ua))

  def filterAllowUdf(rules: Map[String, Schemas.FilterRule]) =
    udf((root: String, path: String, urlStr: String) =>
      Schemas.filterAllow(rules, root, path, urlStr))

  /** Budget lookup as a literal map expression (tiny config): codegen-friendly
    * `element_at` on a map literal — no per-row Scala UDF in the politeness
    * window projection. Exactly `cfg.budgetFor(root).n`. */
  def budgetCol(cfg: Schemas.CrawlConfig, rootCol: Column): Column = {
    import org.apache.spark.sql.functions.{coalesce, element_at, lit, typedlit}
    val m: Map[String, Int] = cfg.rateLimits.map { case (k, v) => k -> v.n }
    val dflt = cfg.rateLimits.get("*").map(_.n).getOrElse(10)
    if (m.isEmpty) lit(dflt)
    else coalesce(element_at(typedlit(m), rootCol), lit(dflt))
  }
}
