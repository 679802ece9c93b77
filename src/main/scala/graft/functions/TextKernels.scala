package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Native Catalyst expressions for the two hottest per-row text scans
  * (SURVEY §4 tier b, the [[CosineSimilarity]] / [[JaccardSimilarity]]
  * pattern): the minhash band-key signature and the quality counts.
  * Both previously ran as compiled Scala UDFs, whose remaining cost at
  * crawl scale was the per-row UTF8String → java.lang.String transcode
  * (decode + toLowerCase copy + per-token substrings + re-encode to
  * UTF-8 for hashing). These kernels walk the raw UTF-8 BYTES for the
  * dominant all-ASCII case and fall back to the exact String-based
  * kernel the moment a non-ASCII byte appears, so results stay
  * byte-identical on every input (a Kelvin sign U+212A lowercases to
  * ASCII 'k' — byte-walking such text would change tokenization, so
  * such rows take the slow path; parity is spec-asserted in LlmOpsSpec
  * including unicode rows).
  */
object TextKernels {

  private val hexd = "0123456789abcdef".toCharArray

  private[graft] def hexOf(d: Array[Byte]): String = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexd((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexd(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  private[graft] def lessUnsigned(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val ai = a(i) & 0xff; val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    false
  }

  /** shingle byte arrays -> band-key strings: the seeded md5-min
    * signature + band grouping, byte-identical to the retained
    * Dedup UDF (same hex strings, same unsigned-min digest order).
    */
  private[graft] def bandsFromShingleBytes(shBytes: Array[Array[Byte]],
      k: Int, bandRows: Int): Array[String] = {
    // a FRESH local MessageDigest per call, deliberately NOT a
    // ThreadLocal: a non-escaping local lets the JIT scalar-replace
    // the digest state (measured 1.7x on the whole kernel — the
    // ThreadLocal variant pinned the state on the heap and the k x
    // shingles update/digest loop paid memory traffic per word)
    val md = java.security.MessageDigest.getInstance("MD5")
    val sig = new Array[String](k)
    var s = 0
    while (s < k) {
      val prefix = (s.toString + ":").getBytes("UTF-8")
      var m: Array[Byte] = null
      var i = 0
      while (i < shBytes.length) {
        md.update(prefix)
        md.update(shBytes(i))
        val h = md.digest()
        if (m == null || lessUnsigned(h, m)) m = h
        i += 1
      }
      sig(s) = hexOf(m)
      s += 1
    }
    val nb = k / bandRows
    val out = new Array[String](nb)
    var bi = 0
    while (bi < nb) {
      val joined = sig.slice(bi * bandRows, bi * bandRows + bandRows)
        .mkString(",")
      out(bi) = hexOf(md.digest(joined.getBytes("UTF-8")))
      bi += 1
    }
    out
  }

  private def grow(a: Array[Int]): Array[Int] = {
    val b = new Array[Int](a.length * 2)
    System.arraycopy(a, 0, b, 0, a.length)
    b
  }

  /** ASCII-only tokenize + shingle directly over UTF-8 bytes: maximal
    * [a-z0-9] runs of the ASCII-lowercased bytes, n-token windows
    * space-joined — byte-equal to
    * `Dedup.shingleArr(new String(b, UTF_8), n)` when every byte is
    * < 0x80 (ASCII lowercasing == String.toLowerCase there).
    * Returns null when a non-ASCII byte appears (caller falls back).
    */
  private[graft] def asciiShingleBytes(b: Array[Byte],
      n: Int): Array[Array[Byte]] = {
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var ntok = 0
    var runStart = -1
    var i = 0
    while (i <= b.length) {
      if (i < b.length && (b(i) & 0x80) != 0) return null
      val alnum = i < b.length && {
        val c = b(i)
        (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') ||
          (c >= 'A' && c <= 'Z')
      }
      if (alnum) { if (runStart < 0) runStart = i }
      else if (runStart >= 0) {
        if (ntok == starts.length) { starts = grow(starts); ends = grow(ends) }
        starts(ntok) = runStart; ends(ntok) = i; ntok += 1; runStart = -1
      }
      i += 1
    }
    if (ntok < n) return Array.empty
    val out = new Array[Array[Byte]](ntok - n + 1)
    var w = 0
    while (w < out.length) {
      var len = n - 1
      var j = 0
      while (j < n) { len += ends(w + j) - starts(w + j); j += 1 }
      val sh = new Array[Byte](len)
      var pos = 0
      j = 0
      while (j < n) {
        if (j > 0) { sh(pos) = ' '; pos += 1 }
        var p = starts(w + j)
        while (p < ends(w + j)) {
          val c = b(p)
          sh(pos) = if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
          pos += 1; p += 1
        }
        j += 1
      }
      out(w) = sh
      w += 1
    }
    out
  }
}

/** Minhash band keys over a string column as a native expression:
  * tokenize + shingle + k-seed md5-min signature + band hashes in one
  * codegen'd call over the row's UTF8String bytes. Output and NULL
  * behavior are identical to the retained Dedup band-key UDF (null or
  * shingle-less text → EMPTY array, so posexplode drops the row);
  * the expression is a case class, so CacheManager's canonicalized
  * plan matching substitutes persisted stages across rebuilds with no
  * memoization needed.
  */
case class MinhashBandKeys(child: Expression, shingleN: Int, k: Int,
    bandRows: Int) extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  override protected def withNewChildInternal(
      newChild: Expression): MinhashBandKeys = copy(child = newChild)

  /** Shared empty result (null text and shingle-less text). */
  def emptyResult(): ArrayData = MinhashBandKeys.emptyArr

  def computeRow(u: UTF8String): ArrayData = {
    val b = u.getBytes
    val fast = TextKernels.asciiShingleBytes(b, shingleN)
    val shBytes: Array[Array[Byte]] =
      if (fast != null) fast
      else {
        // non-ASCII row: the exact String kernel (unicode lowercasing)
        val sh = graft.llmops.Dedup.shingleArr(u.toString, shingleN)
        val out = new Array[Array[Byte]](sh.length)
        var j = 0
        while (j < sh.length) { out(j) = sh(j).getBytes("UTF-8"); j += 1 }
        out
      }
    if (shBytes.length == 0) MinhashBandKeys.emptyArr
    else {
      val bands = TextKernels.bandsFromShingleBytes(shBytes, k, bandRows)
      val arr = new Array[Any](bands.length)
      var i = 0
      while (i < bands.length) {
        arr(i) = UTF8String.fromString(bands(i)); i += 1
      }
      new GenericArrayData(arr)
    }
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) MinhashBandKeys.emptyArr
    else computeRow(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val ref = ctx.addReferenceObj("mbk", this,
      classOf[MinhashBandKeys].getName)
    val arrType = "org.apache.spark.sql.catalyst.util.ArrayData"
    ev.copy(
      code = childGen.code + code"""
        $arrType ${ev.value} = ${childGen.isNull}
          ? $ref.emptyResult() : $ref.computeRow(${childGen.value});
      """,
      isNull = FalseLiteral)
  }
}

object MinhashBandKeys {
  private[graft] val emptyArr: ArrayData =
    new GenericArrayData(new Array[Any](0))

  /** Column wrapper (casts to string). */
  def apply(text: Column, shingleN: Int, k: Int, bandRows: Int): Column =
    ColumnBridge.column(MinhashBandKeys(
      ColumnBridge.expression(text.cast("string")), shingleN, k, bandRows))
}

/** Quality counts over a string column as a native expression: the
  * single-pass (alpha, digit, punct, nTokens, sumTokLen, stopHits)
  * scan of TextAnalysis.qualityCountsOf with the UTF8String →
  * String transcode removed for all-ASCII rows. Field names, values
  * and NULL behavior (null text → null struct) are identical to the
  * UDF it replaced (the test-scope parity reference) — spec-asserted in
  * LlmOpsSpec and KernelParityPropertySpec.
  */
case class QualityCountsExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = QualityCountsExpr.schema

  override protected def withNewChildInternal(
      newChild: Expression): QualityCountsExpr = copy(child = newChild)

  def computeRow(u: UTF8String): InternalRow = {
    val b = u.getBytes
    val fast = QualityCountsExpr.asciiCounts(b)
    if (fast != null) fast
    else {
      val qc = graft.llmops.TextAnalysis.qualityCountsOf(u.toString)
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](qc.alpha, qc.digit, qc.punct, qc.nTokens,
          qc.sumTokLen, qc.stopHits))
    }
  }

  override def nullSafeEval(input: Any): Any =
    computeRow(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("qce", this,
      classOf[QualityCountsExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.computeRow($c);")
  }
}

object QualityCountsExpr {

  private[graft] val schema: StructType = StructType(Seq(
    StructField("alpha", IntegerType, nullable = false),
    StructField("digit", IntegerType, nullable = false),
    StructField("punct", IntegerType, nullable = false),
    StructField("nTokens", IntegerType, nullable = false),
    StructField("sumTokLen", IntegerType, nullable = false),
    StructField("stopHits", IntegerType, nullable = false)))

  // stopword UTF-8 bytes bucketed by length: tokens compare lowercased
  // bytes against each same-length candidate (14 words, <= 4 per
  // bucket — a linear scan beats building a String per token)
  private val stopByLen: Array[Array[Array[Byte]]] = {
    val words = TextFunctions.qualityStopwords.map(_.getBytes("UTF-8"))
    val maxLen = words.map(_.length).max
    (0 to maxLen).map(l =>
      words.filter(_.length == l).toArray).toArray
  }

  private def isStop(b: Array[Byte], start: Int, end: Int): Boolean = {
    val len = end - start
    if (len >= stopByLen.length) return false
    val cands = stopByLen(len)
    var c = 0
    while (c < cands.length) {
      val w = cands(c)
      var i = 0
      var ok = true
      while (ok && i < len) {
        val ch = b(start + i)
        val lc = if (ch >= 'A' && ch <= 'Z') (ch + 32).toByte else ch
        if (lc != w(i)) ok = false
        i += 1
      }
      if (ok) return true
      c += 1
    }
    false
  }

  /** One-pass ASCII counts, or null when a non-ASCII byte appears
    * (caller falls back to the String kernel). Byte-identical to
    * qualityCountsOf for pure-ASCII text: digit/punct classify the
    * ORIGINAL codepoints (== bytes here), alpha/tokens/stops the
    * lowercased text (ASCII lowercase == String.toLowerCase here).
    */
  private[graft] def asciiCounts(b: Array[Byte]): InternalRow = {
    var alpha = 0; var digit = 0; var punct = 0
    var nTok = 0; var sumLen = 0; var stops = 0
    var runStart = -1
    var i = 0
    while (i <= b.length) {
      if (i < b.length && (b(i) & 0x80) != 0) return null
      var alnum = false
      if (i < b.length) {
        val c = b(i)
        val isUpper = c >= 'A' && c <= 'Z'
        val isLower = c >= 'a' && c <= 'z'
        val isDigit = c >= '0' && c <= '9'
        if (isDigit) digit += 1
        else if (!isUpper && !isLower && c != ' ' && c != '\t' &&
          c != '\n' && c != 0x0b && c != '\f' && c != '\r') punct += 1
        if (isUpper || isLower) alpha += 1
        alnum = isUpper || isLower || isDigit
      }
      if (alnum) { if (runStart < 0) runStart = i }
      else if (runStart >= 0) {
        nTok += 1; sumLen += i - runStart
        if (isStop(b, runStart, i)) stops += 1
        runStart = -1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](alpha, digit, punct, nTok, sumLen, stops))
  }

  /** Column wrapper (casts to string). */
  def apply(text: Column): Column =
    ColumnBridge.column(QualityCountsExpr(
      ColumnBridge.expression(text.cast("string"))))
}
