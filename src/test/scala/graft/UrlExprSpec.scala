package graft

import org.apache.spark.sql.functions._
import graft.wbot.{Fixtures, Udfs}
import graft.wbot.exprs.UrlExprs

/** The URL column handles (static evaluators called through `StaticInvoke`)
  * ≡ the UDF path (same pure core) on local rows, with generated code and
  * interpreted ([[SparkSuite.regimes]]), and they stay inside whole-stage
  * codegen. */
class UrlExprSpec extends SparkSuite {

  test("CanonicalizeUrl expression ≡ canonicalize UDF on fixture + junk URLs") {
    val sp = spark
    import sp.implicits._
    val urls = Fixtures.allPages(Fixtures.tiny).map(_.url) ++ Seq(
      "http://www.google.com/", "ftp://nope.com/x", "http://bad.unknowntld/x",
      "http://a.com/a%2520b", "http://a.com/%zz", "not a url", "")
    regimes(urls.toDF("url"))(_.select(
      UrlExprs.canonicalizeUrl(col("url")).as("expr_canon"),
      Udfs.canonicalize(col("url")).as("udf_canon"),
      UrlExprs.urlRoot(col("url")).as("expr_root"),
      col("url"))
    ).foreach { case (regime, both) =>
      assert(both.length == urls.length, regime)
      both.foreach { r =>
        assert(r.getString(0) == r.getString(1), s"$regime: expr vs udf mismatch: $r")
        assert(r.getString(2) == graft.wbot.UrlFuncs.hostnameRoot(r.getString(3)).toOption.orNull,
          s"$regime: root mismatch: $r")
      }
    }
  }

  test("expression participates in whole-stage codegen") {
    val df = spark.range(3)
      .select(concat(lit("http://a.com/p"), col("id")).as("url"))
      .select(UrlExprs.canonicalizeUrl(col("url")).as("c"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"expected codegen stage:\n$plan")
    assert(df.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("a.com/p0", "a.com/p1", "a.com/p2"))
  }

  test("SQL registration: wbot_canon / wbot_root") {
    UrlExprs.register(spark)
    val r = spark.sql(
      "SELECT wbot_canon('http://www.a.com/p/') AS c, wbot_root('http://sub.b.net/x') AS r").first()
    assert(r.getString(0) == "a.com/p")
    assert(r.getString(1) == "b.net")
  }

  test("UrlHost/HostRoot ≡ Parsed.host/root — the engine's post-dedup host/root recompute") {
    // the crawl loop ships only (url, canon) through the candidate window
    // shuffle and re-derives host/root on the fresh set; these exprs must be
    // byte-equal to the resolveCandidate UDF's Parsed values on every
    // candidate the fixture grammar can produce
    val sp = spark
    import sp.implicits._
    val cands = Fixtures.allPages(Fixtures.small).flatMap { p =>
      val parsed = graft.wbot.UrlFuncs.newUrl(p.url).toOption.get
      graft.wbot.Html.findLinksBytes(p.html, graft.wbot.Schemas.defaultMaxBodySize)
        .flatMap(href => graft.wbot.UrlFuncs.candidate(parsed.url, href))
    }.map(c => (c.urlStr, c.host, c.root)) ++
      Seq(("http://user@site9.com:8080/p?q=1", "site9.com:8080", "site9.com"))
    assert(cands.nonEmpty)
    regimes(cands.map(_._1).distinct.toDF("url"))(_
      .select(col("url"),
        graft.wbot.exprs.UrlExprs.urlHost(col("url")).as("h"),
        graft.wbot.exprs.UrlExprs.hostRoot(
          graft.wbot.exprs.UrlExprs.urlHost(col("url"))).as("r"))
    ).foreach { case (regime, out) =>
      val got = out.map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
      cands.foreach { case (url, host, root) =>
        val (h, r) = got(url)
        assert(h == host, s"$regime: UrlHost diverges on '$url': got $h want $host")
        assert(r == root, s"$regime: HostRoot diverges on '$url': got $r want $root")
      }
    }
  }

  test("sha2(canon, 256) ≡ UrlFuncs.sha256hex — the engine's post-dedup hash recompute") {
    // SparkCrawler no longer ships the 64-char sha through the candidate
    // shuffle: the F3 identity is recomputed by the built-in sha2 on the
    // fresh set, which must be byte-identical to the UDF-side sha256hex
    val sp = spark
    import sp.implicits._
    val canons = Fixtures.allPages(Fixtures.tiny).map(_.url)
      .flatMap(u => graft.wbot.UrlFuncs.newUrl(u).toOption.map(_.canon)) ++
      Seq("", "a", "héllo/wörld", "a.com/p?q=1&r=2", "x" * 300)
    val got = canons.toDF("canon").repartition(3)
      .select(col("canon"), sha2(col("canon"), 256).as("h")).collect()
    got.foreach { r =>
      assert(r.getString(1) == graft.wbot.UrlFuncs.sha256hex(r.getString(0)),
        s"sha2 diverges from sha256hex on '${r.getString(0)}'")
    }
  }
}
