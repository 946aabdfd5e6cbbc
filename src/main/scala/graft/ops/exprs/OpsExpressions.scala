package graft.ops.exprs

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Static evaluators for the ops/ hot paths, called from generated code (or by
 * reflection when interpreted) through the [[OpsExprs]] column handles.
 * Spark's array higher-order functions (`aggregate`, `zip_with`,
 * `transform`) do not participate in whole-stage codegen — each row pays
 * interpreted lambda dispatch per element — and the per-plane LSH trees
 * additionally bloat the plan (36 `aggregate(zip_with(qv, <64-element
 * literal>))` subtrees for q17), which is pure planning/codegen latency.
 * Each evaluator here is a single call doing primitive-array arithmetic, and
 * each is pinned semantically equal to the HOF construction it replaces
 * (OpsExprSpec) on top of the end-to-end DuckDB oracles (q17/q18/q26/q31).
 */
object OpsExprEval {

  /** 8-bin byte histogram counts: bin j = number of payload bytes whose top
    * 3 bits equal j — the exact counts of `Multimodal.byteHistCountCol`'s
    * translate-over-high-nibbles construction, in ONE pass over the raw
    * bytes (no hex string, no regex). */
  def byteHist(bytes: Array[Byte]): ArrayData = {
    val cnt = new Array[Long](8)
    var i = 0
    while (i < bytes.length) { cnt((bytes(i) & 0xff) >>> 5) += 1; i += 1 }
    new GenericArrayData(cnt)
  }

  // deterministic md5-derived hyperplane signs, flat [plane*dims + i],
  // built once per (planes, dims) per JVM — the same values the HOF path
  // embeds as per-plane literal arrays
  private val signsCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Long]]()
  def signsFlat(planes: Int, dims: Int): Array[Long] =
    signsCache.computeIfAbsent((planes, dims), _ => {
      val out = new Array[Long](planes * dims)
      var p = 0
      while (p < planes) {
        System.arraycopy(graft.ops.Similarity.planeSigns(p, dims), 0, out, p * dims, dims)
        p += 1
      }
      out
    })

  /** All `bands` LSH band keys of a ×1000-quantized vector in one pass:
    * key_b = Σ_j [dot(plane b·w+j) > 0]·2^j with dot = Σ_i qv_i·sign_i.
    * Faithful to the HOF construction's null algebra: a null element (or a
    * length ≠ dims, which `zip_with` pads with null) nulls every dot, and
    * `when(dot > 0, …).otherwise(0)` maps a null dot to bit 0 — so those
    * rows yield ALL-ZERO keys, exactly as before (unreachable in practice:
    * `quantizedChecked` raises on ragged rows first). */
  def bandKeys(qv: ArrayData, bands: Int, w: Int, dims: Int): ArrayData = {
    val keys = new Array[Long](bands)
    val n = qv.numElements()
    var degenerate = n != dims
    var i = 0
    while (!degenerate && i < n) { degenerate = qv.isNullAt(i); i += 1 }
    if (!degenerate) {
      val q = qv.toLongArray()
      val signs = signsFlat(bands * w, dims)
      var b = 0
      while (b < bands) {
        var key = 0L
        var j = 0
        while (j < w) {
          val off = (b * w + j) * dims
          var dot = 0L
          var k = 0
          while (k < dims) { dot += q(k) * signs(off + k); k += 1 }
          if (dot > 0) key |= (1L << j)
          j += 1
        }
        keys(b) = key
        b += 1
      }
    }
    new GenericArrayData(keys)
  }

  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
  private val suffixA = "#a".getBytes("UTF-8")
  private val suffixB = "#b".getBytes("UTF-8")

  /** All 64 engine-portable SimHash bit votes of the token `b[off, off+len)`
    * as ONE int64: bit i (i < 32) = high bit of hex char i of md5(tok ⊕
    * "#a"), bit 32+i = same over md5(tok ⊕ "#b") — exactly
    * `substring(md5hex, i+1, 1) >= "8"` of the per-bit construction
    * (lowercase hex: char ≥ '8' ⟺ the nibble's high bit; hex char 2k is byte
    * k's bit 7, char 2k+1 its bit 3). md5 over the UTF-8 bytes ≡ Spark's
    * `md5(concat(tok, lit("#x")))` (UTF-8 string concat is byte concat). */
  private def tokenBits(b: Array[Byte], off: Int, len: Int): Long = {
    val md = md5Local.get()
    md.reset(); md.update(b, off, len); md.update(suffixA)
    val da = md.digest()
    md.reset(); md.update(b, off, len); md.update(suffixB)
    val db = md.digest()
    var bits = 0L
    var i = 0
    while (i < 32) {
      val sh = if ((i & 1) == 0) 7 else 3
      if (((da(i >> 1) >> sh) & 1) == 1) bits |= (1L << i)
      if (((db(i >> 1) >> sh) & 1) == 1) bits |= (1L << (32 + i))
      i += 1
    }
    bits
  }

  /** The whole engine-portable SimHash-64 of one document as its 16-hex-char
    * signature, in one pass: tokens = the text split on single spaces
    * (byte 0x20 — never part of a UTF-8 multi-byte sequence, so byte
    * splitting ≡ Spark's `split(text, " ")`), empty tokens skipped; vote_i =
    * Σ_tokens (bit_i ? +1 : −1) with bit_i from [[tokenBits]]; nibble j =
    * Σ_b [vote_{4j+b} > 0]·(8>>b). Identical to the explode-tokens →
    * 64-sum groupBy → 16-nibble-CASE construction (OpsExprSpec pins it; the
    * q25 DuckDB oracle replays it). Returns null when the text has no
    * non-empty token (callers filter `trim(text) != ''` first, matching the
    * explode form's row drop). */
  def simhashDocHex(text: UTF8String): UTF8String = {
    val b = text.getBytes
    val n = b.length
    val votes = new Array[Int](64)
    var any = false
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || b(i) == 0x20) {
        if (i > start) {
          any = true
          val bits = tokenBits(b, start, i - start)
          var k = 0
          while (k < 64) {
            votes(k) += (((bits >>> k) & 1L).toInt << 1) - 1
            k += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    if (!any) return null
    val hexDigits = "0123456789abcdef"
    val cs = new Array[Char](16)
    var j = 0
    while (j < 16) {
      var d = 0
      var bb = 0
      while (bb < 4) {
        if (votes(4 * j + bb) > 0) d += (8 >> bb)
        bb += 1
      }
      cs(j) = hexDigits.charAt(d)
      j += 1
    }
    UTF8String.fromString(new String(cs))
  }

  /** All `numHashes` MinHash signatures of one document in one pass over its
    * text: sig_h = min over character shingles s of md5hex(s ⊕ "#h") — the
    * identical values of the explode-shingles → `min(md5(concat(...)))`
    * groupBy construction (shingle = code-point substring of width `width`,
    * matching Spark's `substring`; min over lowercase-hex strings ≡ unsigned
    * byte order of the digests, so the min is tracked on raw digests and
    * hex-encoded once). Returns null when the text has fewer than `width`
    * characters (callers filter `length(text) >= width` first, as the
    * explode form did). */
  def minhashDocSigs(text: UTF8String, width: Int, numHashes: Int): ArrayData = {
    val b = text.getBytes
    val n = b.length
    val nc = text.numChars()
    if (nc < width) return null
    // char-start byte offsets: Spark substring indexes by code point
    val offs = new Array[Int](nc + 1)
    var i = 0
    var c = 0
    while (i < n) {
      offs(c) = i
      i += UTF8String.numBytesForFirstByte(b(i))
      c += 1
    }
    offs(c) = n
    val suffixes = Array.tabulate(numHashes)(h => s"#$h".getBytes("UTF-8"))
    val mins = new Array[Array[Byte]](numHashes)
    val md = md5Local.get()
    var s = 0
    while (s <= nc - width) {
      val off = offs(s)
      val len = offs(s + width) - off
      var h = 0
      while (h < numHashes) {
        md.reset(); md.update(b, off, len); md.update(suffixes(h))
        val d = md.digest()
        if (mins(h) == null || unsignedLess(d, mins(h))) mins(h) = d
        h += 1
      }
      s += 1
    }
    val hexDigits = "0123456789abcdef".toCharArray
    new GenericArrayData(mins.map { d =>
      val cs = new Array[Char](32)
      var k = 0
      while (k < 16) {
        cs(2 * k) = hexDigits((d(k) >> 4) & 0xf)
        cs(2 * k + 1) = hexDigits(d(k) & 0xf)
        k += 1
      }
      UTF8String.fromString(new String(cs))
    }.asInstanceOf[Array[Any]])
  }

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  // parsed word sets per literal, built once per JVM; keys are copies, so a
  // caller's buffer can never alter one
  private val wordSetsCache =
    new java.util.concurrent.ConcurrentHashMap[UTF8String, Array[Array[Array[Byte]]]]()

  /** The UTF-8 words of each set of `spec`: sets separated by `|`, words by
    * spaces (empty words dropped — a token is never empty). */
  private def wordSets(spec: UTF8String): Array[Array[Array[Byte]]] = {
    val hit = wordSetsCache.get(spec)
    if (hit != null) hit
    else {
      val parsed = spec.toString.split("\\|", -1)
        .map(_.split(" ").filter(_.nonEmpty).map(_.getBytes("UTF-8")))
      wordSetsCache.putIfAbsent(spec.copy(), parsed)
      parsed
    }
  }

  /** Per-set counts of space-separated tokens that equal one of the set's
    * words, all sets in ONE pass over the text: counts(k) = |{tokens t : t ∈
    * sets(k)}| (multiset count — each occurrence counts, exactly
    * `size(filter(split(text, " "), t -> t.isin(ws)))`), over the sets of
    * [[wordSets]]`(setsSpec)`. Byte splitting on 0x20 ≡ Spark's
    * split-on-space; matching is UTF-8 byte equality ≡ string equality. */
  def tokenSetCounts(text: UTF8String, setsSpec: UTF8String): ArrayData = {
    val sets = wordSets(setsSpec)
    val b = text.getBytes
    val n = b.length
    val counts = new Array[Long](sets.length)
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || b(i) == 0x20) {
        val len = i - start
        if (len > 0) {
          var k = 0
          while (k < sets.length) {
            val ws = sets(k)
            var w = 0
            var hit = false
            while (!hit && w < ws.length) {
              val wb = ws(w)
              if (wb.length == len) {
                var j = 0
                while (j < len && wb(j) == b(start + j)) j += 1
                hit = j == len
              }
              w += 1
            }
            if (hit) counts(k) += 1
            k += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(counts)
  }

  /** Exact ×1000-floor-quantized dot product of two float vectors:
    * Σ floor(a_i·1000)·floor(b_i·1000) as int64. Null algebra faithful to
    * `aggregate(zip_with(a, b, …), 0L, +)`: length mismatch (zip_with null
    * padding) or any null element → null; two empty vectors → 0. */
  def quantizedDot(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += math.floor(a.getFloat(i).toDouble * 1000d).toLong *
        math.floor(b.getFloat(i).toDouble * 1000d).toLong
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }
}

/** Column handles for the ops kernels: each is one call into an
  * [[OpsExprEval]] evaluator ([[ColumnBridge.staticCall]]); plan constants
  * are literal arguments. */
object OpsExprs {
  private val longs = ArrayType(LongType, containsNull = false)

  /** array<bigint> of the 8 top-3-bit bin counts of a binary payload. */
  def byteHistCounts(bin: Column): Column =
    ColumnBridge.staticCall(OpsExprEval, "byteHist", longs, Seq(bin -> BinaryType),
      returnNullable = false)

  /** array<bigint> of `bands` sign-projection band buckets of a
    * ×1000-quantized vector (band b over planes b·bitsPerBand …
    * b·bitsPerBand+bitsPerBand-1, the `Similarity.planeSigns` md5
    * hyperplanes). */
  def lshBandKeys(qv: Column, bands: Int, bitsPerBand: Int, dims: Int): Column =
    ColumnBridge.staticCall(OpsExprEval, "bandKeys", longs,
      Seq(qv -> ArrayType(LongType), lit(bands) -> IntegerType,
        lit(bitsPerBand) -> IntegerType, lit(dims) -> IntegerType),
      returnNullable = false)

  /** bigint Σ floor(a_i·1000)·floor(b_i·1000) of two array<float> vectors
    * (analysis casts another numeric array, e.g. array<double>, to
    * array<float>). */
  def quantizedDot(a: Column, b: Column): Column =
    ColumnBridge.staticCall(OpsExprEval, "quantizedDot", LongType,
      Seq(a -> ArrayType(FloatType), b -> ArrayType(FloatType)))

  /** array<string> of `numHashes` MinHash signatures over width-`width`
    * character shingles; null when the text is shorter than `width`. */
  def minhashDocSigs(text: Column, width: Int, numHashes: Int): Column =
    ColumnBridge.staticCall(OpsExprEval, "minhashDocSigs",
      ArrayType(StringType, containsNull = false),
      Seq(text -> StringType, lit(width) -> IntegerType, lit(numHashes) -> IntegerType))

  /** The document's 16-hex-char SimHash-64 signature; null when the text has
    * no non-empty space-separated token. */
  def simhashDocHex(text: Column): Column =
    ColumnBridge.staticCall(OpsExprEval, "simhashDocHex", StringType, Seq(text -> StringType))

  /** array<bigint> of per-set counts of the text's space-separated tokens
    * that are words of the set. The sets travel as one string literal
    * ([[OpsExprEval.tokenSetCounts]]), so no word may contain a space or
    * `|`. */
  def tokenSetCounts(text: Column, wordSets: Seq[Seq[String]]): Column = {
    require(wordSets.nonEmpty && wordSets.flatten.forall(w => !w.exists(c => c == ' ' || c == '|')),
      s"word sets must be non-empty and their words free of ' ' and '|': $wordSets")
    ColumnBridge.staticCall(OpsExprEval, "tokenSetCounts", longs,
      Seq(text -> StringType, lit(wordSets.map(_.mkString(" ")).mkString("|")) -> StringType),
      returnNullable = false)
  }
}
