package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ops.{Multimodal, Similarity}
import graft.ops.exprs.OpsExprs

/** Pins the ops kernels (`OpsExprs`: byte histogram, LSH band keys,
  * SimHash, MinHash, token-set counts, quantized dot) value- and
  * null-identical to the HOF/translate/explode constructions they replaced —
  * on the same inputs, including the edge shapes the HOF null algebra
  * produces (ragged vectors, null elements, empty arrays, blank text), and
  * in every regime ([[SparkSuite.regimes]]): local rows, generated code and
  * interpreted. The end-to-end q17/q18/q26/q31 DuckDB oracles pin the same
  * semantics against a third engine. */
class OpsExprSpec extends SparkSuite {

  // the exact HOF forms the natives replaced (kept here as the reference)
  private def hofQuantizedDot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        floor(x.cast("double") * 1000).cast("long") * floor(y.cast("double") * 1000).cast("long")),
      lit(0L), (acc, x) => acc + x)

  private def hofSignedDot(qv: Column, signs: Array[Long]): Column =
    aggregate(zip_with(qv, typedlit(signs), (q, s) => q * s), lit(0L), (acc, x) => acc + x)

  private def hofBandKey(qv: Column, b: Int, w: Int, dims: Int): Column =
    (0 until w).map { j =>
      when(hofSignedDot(qv, Similarity.planeSigns(b * w + j, dims)) > 0,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)

  private def rng(seed: Long) = new scala.util.Random(seed)

  test("ByteHistCounts ≡ translate twin ≡ Scala decoder counts") {
    val s = spark
    import s.implicits._
    val r = rng(31L)
    val rows: Seq[(Long, Array[Byte])] = Seq(
      0L -> Array.empty[Byte],
      1L -> Array.tabulate(256)(_.toByte),
      2L -> "hello wbot — höhößü".getBytes("UTF-8")) ++
      (3L to 40L).map(i => i -> Array.fill(r.nextInt(400))(r.nextInt(256).toByte))
    val df = rows.toDF("id", "payload")
    val twin = df
      .withColumn("__high", Multimodal.highNibbles(hex(col("payload"))))
      .select(col("id") +: (0 until 8).map(j =>
        Multimodal.byteHistCountCol("__high", j).as(s"b$j")): _*)
      .collect().map(row => row.getLong(0) -> (1 to 8).map(row.getLong).toVector).toMap
    regimes(df)(_
      .withColumn("__hist", OpsExprs.byteHistCounts(col("payload")))
      .select(col("id") +: (0 until 8).map(j => element_at(col("__hist"), j + 1).as(s"b$j")): _*)
    ).foreach { case (regime, out) =>
      val native = out.map(row => row.getLong(0) -> (1 to 8).map(row.getLong).toVector).toMap
      rows.foreach { case (id, bytes) =>
        val cnt = new Array[Long](8)
        bytes.foreach(b => cnt((b & 0xff) >>> 5) += 1)
        assert(native(id) == cnt.toVector, s"$regime: native vs Scala, id=$id")
        assert(native(id) == twin(id), s"$regime: native vs translate twin, id=$id")
      }
    }
  }

  test("LshBandKeys ≡ per-plane HOF band keys (q17 and q26 shapes)") {
    val s = spark
    import s.implicits._
    for ((bands, w, dims) <- Seq((6, 6, 64), (6, 4, 64), (3, 5, 16))) {
      val r = rng(1000L * bands + w)
      val vecs = (0L until 40L).map(i =>
        i -> Array.fill(dims)((r.nextDouble() * 2 - 1).toFloat))
      val df = vecs.toDF("id", "vec")
        .withColumn("__qv", Similarity.quantizedChecked("vec", dims))
      val hof = df
        .select(col("id") +: (0 until bands).map(b =>
          hofBandKey(col("__qv"), b, w, dims).as(s"k$b")): _*)
        .collect().flatMap(row =>
          (0 until bands).map(b => (row.getLong(0), b) -> row.getLong(1 + b))).toMap
      regimes(df)(_
        .select(col("id"), posexplode(OpsExprs.lshBandKeys(col("__qv"), bands, w, dims)))
        .select(col("id"), col("pos").as("band"), col("col").as("bucket"))
      ).foreach { case (regime, out) =>
        val native = out.map(row => (row.getLong(0), row.getInt(1)) -> row.getLong(2)).toMap
        assert(native == hof, s"$regime: bands=$bands w=$w dims=$dims")
      }
    }
  }

  test("SimhashDocHex ≡ explode-tokens 64-vote groupBy construction") {
    val s = spark
    import s.implicits._
    val r = rng(77L)
    val words = Seq("wbot", "crawl", "héllo", "ß", "a", "xyz0", "—", "\tq", "\nz")
    // single-token documents: every vote is ±1, so the doc hex is exactly
    // that token's 64 md5-derived bits
    val r1 = rng(99L)
    val singles = Seq("a", "wbot", "héllo", "ü—ß", "0", "#a", "x" * 50) ++
      (0 until 50).map(_ => r1.alphanumeric.take(1 + r1.nextInt(12)).mkString)
    val texts = Seq("", " ", "   ", "one", " lead", "trail ", "a  b", "\t", "\n \n") ++
      (0 until 40).map(_ =>
        (0 until (1 + r.nextInt(30))).map(_ => words(r.nextInt(words.length)))
          .mkString(" ")) ++ singles
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // the previous construction, verbatim
    val toks = df.select(col("doc_id").as("id"), explode(split(col("text"), " ")).as("tok"))
      .where(col("tok") =!= "")
      .withColumn("ma", md5(concat(col("tok"), lit("#a"))))
      .withColumn("mb", md5(concat(col("tok"), lit("#b"))))
    def bitAt(i: Int): Column = {
      val src = if (i < 32) col("ma") else col("mb")
      substring(src, (i % 32) + 1, 1) >= "8"
    }
    val votes = (0 until 64).map(i => sum(when(bitAt(i), 1).otherwise(-1)).as(s"v_$i"))
    val voted = toks.groupBy("id").agg(votes.head, votes.tail: _*)
    val nibbles = (0 until 16).map { j =>
      val d = (0 until 4).map(b =>
        s"(CASE WHEN v_${4 * j + b} > 0 THEN ${8 >> b} ELSE 0 END)").mkString(" + ")
      expr(s"substr('0123456789abcdef', ($d) + 1, 1)")
    }
    val ref = voted.select(col("id"), concat(nibbles: _*).as("simhash_hex"))
      .collect().map(row => row.getLong(0) -> row.getString(1)).toMap
    regimes(df)(graft.ops.Dedup.simhashMd5(_, "doc_id", "text")).foreach { case (regime, out) =>
      assert(out.map(row => row.getLong(0) -> row.getString(1)).toMap == ref, regime)
    }
  }

  test("MinhashDocSigs ≡ explode-shingles groupBy-min construction") {
    val s = spark
    import s.implicits._
    val r = rng(55L)
    val alphabet = "abc defé—😀xyz"
    val texts = Seq("", "abcde", "abcdef", "ßßßßßß—😀😀😀", "a" * 200) ++
      (0 until 40).map(_ =>
        (0 until (r.nextInt(120))).map(_ => alphabet(r.nextInt(alphabet.length))).mkString)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for ((w, k) <- Seq((6, 4), (3, 2))) {
      // the previous construction, verbatim
      val sh = graft.ops.Dedup.charShingles(df, "doc_id", "text", w)
      val aggs = (0 until k).map(i =>
        min(md5(concat(col("shingle"), lit(s"#$i")))).as(s"sig_$i"))
      val ref = sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
        .collect().map(row => row.getLong(0) -> (1 to k).map(row.getString).toVector).toMap
      regimes(df)(graft.ops.Dedup.minhashSignatures(_, "doc_id", "text", w, k))
        .foreach { case (regime, out) =>
          val got = out.map(row => row.getLong(0) -> (1 to k).map(row.getString).toVector).toMap
          assert(got == ref, s"$regime: width=$w numHashes=$k")
        }
    }
  }

  test("TokenSetCounts ≡ per-set filter-HOF marker counts") {
    val s = spark
    import s.implicits._
    val r = rng(42L)
    val sets = Seq(Seq("the", "and", "of", "is"), Seq("der", "die", "und", "ist"),
      Seq("le", "é—ß"))
    val vocab = sets.flatten ++ Seq("zzz", "", "thee", "a", "é—ß!")
    val texts = Seq("", " ", "the the the", " the  and ", "é—ß é—ß") ++
      (0 until 40).map(_ =>
        (0 until r.nextInt(25)).map(_ => vocab(r.nextInt(vocab.length))).mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val hof = df.select(col("id") +: sets.zipWithIndex.map { case (ws, k) =>
        size(filter(split(col("text"), " "), t => t.isin(ws: _*))).cast("long").as(s"c$k") }: _*)
      .collect().map(row => row.getLong(0) -> (1 to sets.size).map(row.getLong).toVector).toMap
    regimes(df)(_
      .withColumn("__mc", OpsExprs.tokenSetCounts(col("text"), sets))
      .select(col("id") +: sets.indices.map(k => element_at(col("__mc"), k + 1).as(s"c$k")): _*)
    ).foreach { case (regime, out) =>
      val native = out.map(row => row.getLong(0) -> (1 to sets.size).map(row.getLong).toVector).toMap
      assert(native == hof, regime)
    }
    // the sets travel as one `|`/space-separated literal: words holding
    // either separator are refused, not split
    for (bad <- Seq(Seq(Seq("a|b")), Seq(Seq("a b")), Seq.empty[Seq[String]]))
      intercept[IllegalArgumentException](OpsExprs.tokenSetCounts(col("text"), bad))
  }

  test("QuantizedDot ≡ HOF form, including the null algebra") {
    val s = spark
    import s.implicits._
    val r = rng(7L)
    val dims = 64
    val pairs: Seq[(Long, Array[java.lang.Float], Array[java.lang.Float])] =
      (0L until 30L).map { i =>
        (i,
          Array.fill[java.lang.Float](dims)((r.nextDouble() * 2 - 1).toFloat),
          Array.fill[java.lang.Float](dims)((r.nextDouble() * 2 - 1).toFloat))
      } ++ Seq(
        (100L, Array.empty[java.lang.Float], Array.empty[java.lang.Float]), // both empty → 0
        (101L, Array.fill[java.lang.Float](3)(0.5f), Array.fill[java.lang.Float](5)(0.5f)), // ragged → null
        (102L, Array[java.lang.Float](0.5f, null, 0.25f), Array.fill[java.lang.Float](3)(1.0f)), // null elem → null
        (103L, null, Array.fill[java.lang.Float](3)(1.0f))) // null vector → null
    val df = pairs.toDF("id", "a", "b")
    def byId(rows: Array[org.apache.spark.sql.Row]): Map[Long, java.lang.Long] =
      rows.map(row => row.getLong(0) ->
        (if (row.isNullAt(1)) null else java.lang.Long.valueOf(row.getLong(1)))).toMap
    // a HOF keeps its projection out of generated code, so it runs apart
    val hof = byId(df.select(col("id"), hofQuantizedDot(col("a"), col("b"))).collect())
    regimes(df)(_.select(col("id"), OpsExprs.quantizedDot(col("a"), col("b"))))
      .foreach { case (regime, rows) =>
        val native = byId(rows)
        pairs.foreach { case (id, _, _) =>
          assert(native(id) == hof(id), s"$regime: id=$id: native=${native(id)} hof=${hof(id)}")
        }
        // the documented edge shapes hold
        assert(native(100L) == 0L, regime)
        assert(native(101L) == null, regime)
        assert(native(102L) == null, regime)
        assert(native(103L) == null, regime)
      }
    // the evaluator reads array<float> only: analysis casts a double vector
    // to it (never a raw read of its doubles as floats)
    val dbl = df.select(col("id"), OpsExprs.quantizedDot(col("a").cast("array<double>"), col("b")))
    assert(dbl.queryExecution.analyzed.toString.contains("as array<float>)"),
      dbl.queryExecution.analyzed.toString)
    assert(byId(dbl.collect()) == hof)
  }
}
