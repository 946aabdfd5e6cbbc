package graft.ops.exprs

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/**
 * Native Catalyst expressions for the ops/ hot paths (same promotion the
 * crawl loop got in round 4 with `UrlExprs`): Spark's array higher-order
 * functions (`aggregate`, `zip_with`, `transform`) do not participate in
 * whole-stage codegen — each row pays interpreted lambda dispatch per
 * element — and the per-plane LSH trees additionally bloat the plan (36
 * `aggregate(zip_with(qv, <64-element literal>))` subtrees for q17), which
 * is pure planning/codegen latency. Each expression here is a single
 * generated call into a static evaluator doing primitive-array arithmetic,
 * and each is pinned semantically equal to the HOF construction it replaces
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
  def simhashDocHex(text: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
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
    org.apache.spark.unsafe.types.UTF8String.fromString(new String(cs))
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
  def minhashDocSigs(text: org.apache.spark.unsafe.types.UTF8String,
      width: Int, numHashes: Int): ArrayData = {
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
      i += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte(b(i))
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
      org.apache.spark.unsafe.types.UTF8String.fromString(new String(cs))
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

  /** Per-set counts of space-separated tokens that equal one of the set's
    * words, all sets in ONE pass over the text: counts(k) = |{tokens t : t ∈
    * sets(k)}| (multiset count — each occurrence counts, exactly
    * `size(filter(split(text, " "), t -> t.isin(ws)))`). Byte splitting on
    * 0x20 ≡ Spark's split-on-space; matching is UTF-8 byte equality ≡
    * string equality. */
  def tokenSetCounts(text: org.apache.spark.unsafe.types.UTF8String,
      sets: Array[Array[Array[Byte]]]): ArrayData = {
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

  /** Exact ×1000-floor-quantized dot product of two float/double vectors:
    * Σ floor(a_i·1000)·floor(b_i·1000) as int64. Null algebra faithful to
    * `aggregate(zip_with(a, b, …), 0L, +)`: length mismatch (zip_with null
    * padding) or any null element → null; two empty vectors → 0. */
  def quantizedDot(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val av = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val bv = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += math.floor(av * 1000d).toLong * math.floor(bv * 1000d).toLong
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }
}

/** Column handles for the native ops expressions. */
object OpsExprs {
  def byteHistCounts(bin: Column): Column =
    ColumnBridge.column(ByteHistCounts(ColumnBridge.expression(bin)))

  def lshBandKeys(qv: Column, bands: Int, bitsPerBand: Int, dims: Int): Column =
    ColumnBridge.column(LshBandKeys(ColumnBridge.expression(qv), bands, bitsPerBand, dims))

  def quantizedDot(a: Column, b: Column): Column =
    ColumnBridge.column(QuantizedDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def minhashDocSigs(text: Column, width: Int, numHashes: Int): Column =
    ColumnBridge.column(MinhashDocSigs(ColumnBridge.expression(text), width, numHashes))

  def simhashDocHex(text: Column): Column =
    ColumnBridge.column(SimhashDocHex(ColumnBridge.expression(text)))

  def tokenSetCounts(text: Column, wordSets: Seq[Seq[String]]): Column =
    ColumnBridge.column(TokenSetCounts(ColumnBridge.expression(text), wordSets))
}

/** `byte_hist(binary)` → array<bigint> of the 8 top-3-bit bin counts. */
case class ByteHistCounts(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a binary argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    OpsExprEval.byteHist(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ops.exprs.OpsExprEval.byteHist($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "byte_hist"
}

/** `lsh_band_keys(qv)` → array<bigint> of `bands` sign-projection band
  * buckets (band b over planes b·bitsPerBand … b·bitsPerBand+bitsPerBand-1,
  * the `Similarity.planeSigns` md5 hyperplanes). */
case class LshBandKeys(child: Expression, bands: Int, bitsPerBand: Int, dims: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> (a ×1000-quantized vector), got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    OpsExprEval.bandKeys(input.asInstanceOf[ArrayData], bands, bitsPerBand, dims)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ops.exprs.OpsExprEval.bandKeys($c, $bands, $bitsPerBand, $dims);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "lsh_band_keys"
}

/** `token_set_counts(text)` → array<bigint> of per-set marker-token counts
  * (see [[OpsExprEval.tokenSetCounts]]); word sets are plan constants. */
case class TokenSetCounts(child: Expression, wordSets: Seq[Seq[String]])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  @transient private lazy val setBytes: Array[Array[Array[Byte]]] =
    wordSets.map(_.map(_.getBytes("UTF-8")).toArray).toArray

  override protected def nullSafeEval(input: Any): Any =
    OpsExprEval.tokenSetCounts(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], setBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordSets", setBytes, "byte[][][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ops.exprs.OpsExprEval.tokenSetCounts($c, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "token_set_counts"
}

/** `simhash_doc_hex(text)` → the document's 16-hex-char SimHash-64
  * signature (see [[OpsExprEval.simhashDocHex]]); null when the text has no
  * non-empty space-separated token. */
case class SimhashDocHex(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def nullable: Boolean = true // token-free text → null

  override protected def nullSafeEval(input: Any): Any =
    OpsExprEval.simhashDocHex(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.ops.exprs.OpsExprEval.simhashDocHex($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "simhash_doc_hex"
}

/** `minhash_doc_sigs(text)` → array<string> of `numHashes` MinHash
  * signatures over width-`width` character shingles (see
  * [[OpsExprEval.minhashDocSigs]]); null when the text is shorter than
  * `width` characters. */
case class MinhashDocSigs(child: Expression, width: Int, numHashes: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true // short text → null

  override protected def nullSafeEval(input: Any): Any =
    OpsExprEval.minhashDocSigs(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], width, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.ops.exprs.OpsExprEval.minhashDocSigs($c, $width, $numHashes);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "minhash_doc_sigs"
}

/** `quantized_dot(a, b)` → bigint Σ floor(a_i·1000)·floor(b_i·1000). */
case class QuantizedDot(left: Expression, right: Expression) extends BinaryExpression {
  private def elemOk(t: DataType): Option[Boolean] = t match {
    case ArrayType(FloatType, _) => Some(true)
    case ArrayType(DoubleType, _) => Some(false)
    case _ => None
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType).isDefined && elemOk(right.dataType).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> arguments, got " +
        s"${left.dataType} and ${right.dataType}")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  private lazy val aFloat = elemOk(left.dataType).get
  private lazy val bFloat = elemOk(right.dataType).get

  override protected def nullSafeEval(a: Any, b: Any): Any =
    OpsExprEval.quantizedDot(a.asInstanceOf[ArrayData], aFloat, b.asInstanceOf[ArrayData], bFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("qdot")
      s"""
        java.lang.Long $r = graft.ops.exprs.OpsExprEval.quantizedDot($a, $aFloat, $b, $bFloat);
        if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
      """
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "quantized_dot"
}
