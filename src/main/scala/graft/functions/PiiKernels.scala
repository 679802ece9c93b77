package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Single-pass byte-level PII scanners: hand-compiled equivalents of the
  * three java.util.regex PII patterns in [[TextFunctions]]
  * (`piiEmailPattern` / `piiIpPattern` / `piiNumPattern`), matched
  * directly over a row's UTF-8 bytes with NO regex engine, NO
  * UTF8String -> String transcode, and NO output copy when a pass finds
  * nothing. The regex chain these replace (regexp_replace, and the
  * same patterns as compiled java.util.regex UDFs) is the test-scope
  * parity reference (ReferenceKernels); PiiSpec, LlmOpsSpec and
  * KernelParityPropertySpec assert byte-equality on corpus,
  * adversarial and generated hostile rows.
  *
  * Exactness argument (why a byte walk reproduces java.util.regex on
  * ANY input, not just ASCII): every character class in the three
  * patterns is pure ASCII (`\d` and `[A-Za-z]` never match a byte with
  * the high bit set, and every byte of a multi-byte UTF-8 sequence has
  * it set). The ONE Unicode-aware construct is `\b`: java.util.regex's
  * Bound node checks `ch == '_' || Character.isLetterOrDigit(ch)` on
  * the adjacent CODEPOINT even without UNICODE_CHARACTER_CLASS (so
  * 'é1234567é' has no word boundaries around the digits — PiiSpec pins
  * this), so the boundary helpers decode the single neighboring UTF-8
  * sequence instead of testing the raw byte. Backtracking is resolved
  * statically per pattern:
  *
  *  - EMAIL `[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}`: '@' is
  *    not in the local class, so a match exists iff some '@' has >= 1
  *    local byte immediately before it; the greedy local part is the
  *    maximal local run ending at the '@' (clamped at the find()
  *    start). The host part backtracks from its maximal run to the
  *    LAST '.' (host nonempty) followed by >= 2 letters; the TLD is
  *    the maximal letter run after that dot.
  *  - IP `\b(\d{1,3}\.){3}\d{1,3}\b`: `\d{1,3}` can only yield to a
  *    '.' that is outside the digit run, so each group is a maximal
  *    digit run of length 1..3 followed by '.', and the final run is
  *    1..3 digits followed by a non-word byte (or end).
  *  - NUM `\b\d{7,}\b`: a maximal digit run of length >= 7 bounded by
  *    non-word bytes on both sides; shrinking the greedy run always
  *    lands `\b` between two digits, so a letter/underscore after the
  *    run kills the match outright.
  *
  * replaceAll chaining (EMAIL -> IP -> NUM over the intermediate
  * results, matches resuming at the previous match end) is reproduced
  * pass by pass, because the passes interact: "a@b.cc1234567" redacts
  * to "<EMAIL><NUM>" -- the '>' creates the word boundary that 'c'
  * denied the digit run in the original text.
  */
object PiiScan {

  private val EMAIL = "<EMAIL>".getBytes("UTF-8")
  private val IP = "<IP>".getBytes("UTF-8")
  private val NUM = "<NUM>".getBytes("UTF-8")

  @inline private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'
  @inline private def isAlpha(b: Byte): Boolean =
    (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')
  @inline private def isWordAscii(b: Byte): Boolean =
    isAlpha(b) || isDigit(b) || b == '_'

  /** Decode the codepoint whose UTF-8 sequence STARTS at `i`; malformed
    * sequences answer -1 (String decoding maps them to U+FFFD, which is
    * not a letter/digit — same boundary verdict).
    */
  private def cpAt(b: Array[Byte], i: Int): Int = {
    val c = b(i) & 0xff
    if (c < 0x80) c
    else if ((c & 0xe0) == 0xc0 && i + 1 < b.length &&
      (b(i + 1) & 0xc0) == 0x80)
      ((c & 0x1f) << 6) | (b(i + 1) & 0x3f)
    else if ((c & 0xf0) == 0xe0 && i + 2 < b.length &&
      (b(i + 1) & 0xc0) == 0x80 && (b(i + 2) & 0xc0) == 0x80)
      ((c & 0x0f) << 12) | ((b(i + 1) & 0x3f) << 6) | (b(i + 2) & 0x3f)
    else if ((c & 0xf8) == 0xf0 && i + 3 < b.length &&
      (b(i + 1) & 0xc0) == 0x80 && (b(i + 2) & 0xc0) == 0x80 &&
      (b(i + 3) & 0xc0) == 0x80)
      ((c & 0x07) << 18) | ((b(i + 1) & 0x3f) << 12) |
        ((b(i + 2) & 0x3f) << 6) | (b(i + 3) & 0x3f)
    else -1
  }

  /** Is the codepoint ENDING at i-1 a `\b` word char (java Bound
    * semantics: '_' or Character.isLetterOrDigit of the codepoint)?
    */
  @inline private def isWordBefore(b: Array[Byte], i: Int): Boolean = {
    if (i <= 0) return false
    val c = b(i - 1)
    if ((c & 0x80) == 0) return isWordAscii(c)
    var s = i - 1
    while (s > 0 && (b(s) & 0xc0) == 0x80) s -= 1
    val lead = b(s) & 0xff
    val len = if (lead < 0xc0) -1 else if (lead < 0xe0) 2
      else if (lead < 0xf0) 3 else if (lead < 0xf8) 4 else -1
    if (s + len != i) return false // malformed tail decodes to U+FFFD
    val cp = cpAt(b, s)
    cp >= 0 && Character.isLetterOrDigit(cp)
  }

  /** Is the codepoint STARTING at i a `\b` word char (end-side twin of
    * [[isWordBefore]])?
    */
  @inline private def isWordAt(b: Array[Byte], i: Int): Boolean = {
    if (i >= b.length) return false
    val c = b(i)
    if ((c & 0x80) == 0) return isWordAscii(c)
    val cp = cpAt(b, i)
    cp >= 0 && Character.isLetterOrDigit(cp)
  }
  @inline private def isLocal(b: Byte): Boolean =
    isAlpha(b) || isDigit(b) || b == '.' || b == '_' || b == '%' ||
      b == '+' || b == '-'
  @inline private def isHost(b: Byte): Boolean =
    isAlpha(b) || isDigit(b) || b == '.' || b == '-'

  /** Next email match at/after `from`: packed (start << 32 | end), or
    * -1. `from` clamps the local run (find() never matches before it).
    */
  private[graft] def findEmail(b: Array[Byte], from: Int): Long = {
    var i = if (from < 1) 1 else from // '@' needs a local byte before it
    while (i < b.length) {
      if (b(i) == '@') {
        var s = i - 1
        while (s >= from && isLocal(b(s))) s -= 1
        s += 1
        if (s < i) {
          var h = i + 1
          while (h < b.length && isHost(b(h))) h += 1
          // host backtrack: last '.' with nonempty host and >= 2 letters
          var e = h - 1
          while (e >= i + 2) {
            if (b(e) == '.') {
              var t = e + 1
              while (t < b.length && isAlpha(b(t))) t += 1
              if (t - e - 1 >= 2) return (s.toLong << 32) | t
            }
            e -= 1
          }
          // failed '@': no start before h can do better; skip the run
          i = if (h > i) h else i + 1
        } else i += 1
      } else i += 1
    }
    -1L
  }

  /** Next dotted-quad match at/after `from` (word boundaries checked
    * against the REAL neighbors, as replaceAll's find() does).
    */
  private[graft] def findIp(b: Array[Byte], from: Int): Long = {
    var i = from
    while (i < b.length) {
      if (isDigit(b(i)) && !isWordBefore(b, i)) {
        var p = i
        var g = 0
        var ok = true
        while (g < 3 && ok) {
          var q = p
          while (q < b.length && isDigit(b(q))) q += 1
          if (q - p >= 1 && q - p <= 3 && q < b.length && b(q) == '.')
            p = q + 1
          else ok = false
          g += 1
        }
        if (ok) {
          var q = p
          while (q < b.length && isDigit(b(q))) q += 1
          if (q - p >= 1 && q - p <= 3 && !isWordAt(b, q))
            return (i.toLong << 32) | q
        }
        // skip this digit run: no boundary inside it
        var q = i
        while (q < b.length && isDigit(b(q))) q += 1
        i = q
      } else i += 1
    }
    -1L
  }

  /** Next >= 7-digit run bounded by word boundaries, at/after `from`. */
  private[graft] def findNum(b: Array[Byte], from: Int): Long = {
    var i = from
    while (i < b.length) {
      if (isDigit(b(i)) && !isWordBefore(b, i)) {
        var q = i
        while (q < b.length && isDigit(b(q))) q += 1
        if (q - i >= 7 && !isWordAt(b, q))
          return (i.toLong << 32) | q
        i = q
      } else i += 1
    }
    -1L
  }

  private type Finder = (Array[Byte], Int) => Long

  /** replaceAll of one pattern: returns the INPUT array untouched when
    * nothing matches (the dominant case pays zero copies). Match spans
    * are collected first so the output is built with one exact-size
    * allocation.
    */
  private def replacePass(b: Array[Byte], find: Finder,
      repl: Array[Byte]): Array[Byte] = {
    var m = find(b, 0)
    if (m < 0L) return b
    var spans = new Array[Long](4)
    var n = 0
    var removed = 0
    while (m >= 0L) {
      if (n == spans.length) {
        val g = new Array[Long](n * 2)
        System.arraycopy(spans, 0, g, 0, n)
        spans = g
      }
      spans(n) = m
      n += 1
      val end = (m & 0xffffffffL).toInt
      removed += end - (m >>> 32).toInt
      m = find(b, end)
    }
    val out = new Array[Byte](b.length - removed + n * repl.length)
    var src = 0
    var dst = 0
    var k = 0
    while (k < n) {
      val s = (spans(k) >>> 32).toInt
      val e = (spans(k) & 0xffffffffL).toInt
      System.arraycopy(b, src, out, dst, s - src)
      dst += s - src
      System.arraycopy(repl, 0, out, dst, repl.length)
      dst += repl.length
      src = e
      k += 1
    }
    System.arraycopy(b, src, out, dst, b.length - src)
    out
  }

  /** The full EMAIL -> IP -> NUM redaction chain over UTF-8 bytes;
    * byte-identical to
    * the reference regex chain (three `replaceAll`s chained).
    */
  private[graft] def redactBytes(b: Array[Byte]): Array[Byte] =
    replacePass(replacePass(replacePass(b, findEmail, EMAIL),
      findIp, IP), findNum, NUM)

  private def countPass(b: Array[Byte], find: Finder): Long = {
    var n = 0L
    var m = find(b, 0)
    while (m >= 0L) {
      n += 1
      m = find(b, (m & 0xffffffffL).toInt)
    }
    n
  }

  /** (emails, ips, nums) counted independently on the SAME text --
    * the `regexp_extract_all` / `piiMatches` counting convention.
    */
  private[graft] def countsOf(b: Array[Byte]): (Long, Long, Long) =
    (countPass(b, findEmail), countPass(b, findIp), countPass(b, findNum))
}

/** PII redaction as a native expression: the three-pass EMAIL -> IP ->
  * NUM replacement chain over the row's UTF-8 bytes. Null in, null out
  * (exactly the reference regexp_replace chain).
  */
case class PiiRedactExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType

  override protected def withNewChildInternal(
      newChild: Expression): PiiRedactExpr = copy(child = newChild)

  def computeRow(u: UTF8String): UTF8String = {
    val b = u.getBytes
    val out = PiiScan.redactBytes(b)
    if (out eq b) u else UTF8String.fromBytes(out)
  }

  override def nullSafeEval(input: Any): Any =
    computeRow(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pre", this,
      classOf[PiiRedactExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.computeRow($c);")
  }
}

object PiiRedactExpr {
  def apply(text: Column): Column =
    ColumnBridge.column(PiiRedactExpr(
      ColumnBridge.expression(text.cast("string"))))
}

/** Per-pattern PII match counts as one struct in one call:
  * (n_emails, n_ips, n_nums), each equal to
  * `size(regexp_extract_all(text, pattern, 0))` on non-null text.
  * Null in, null struct out (size(regexp_extract_all(null)) is null).
  */
case class PiiCountsExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = PiiCountsExpr.schema

  override protected def withNewChildInternal(
      newChild: Expression): PiiCountsExpr = copy(child = newChild)

  def computeRow(u: UTF8String): InternalRow = {
    val (e, i, n) = PiiScan.countsOf(u.getBytes)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](e, i, n))
  }

  override def nullSafeEval(input: Any): Any =
    computeRow(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pce", this,
      classOf[PiiCountsExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.computeRow($c);")
  }
}

object PiiCountsExpr {
  private[graft] val schema: StructType = StructType(Seq(
    StructField("n_emails", LongType, nullable = false),
    StructField("n_ips", LongType, nullable = false),
    StructField("n_nums", LongType, nullable = false)))

  def apply(text: Column): Column =
    ColumnBridge.column(PiiCountsExpr(
      ColumnBridge.expression(text.cast("string"))))
}

/** PII match total as a native expression: total matches across the
  * three patterns; null text counts 0 (never null), exactly the
  * reference regex count.
  */
case class PiiTotalExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override protected def withNewChildInternal(
      newChild: Expression): PiiTotalExpr = copy(child = newChild)

  def computeRow(u: UTF8String): Long = {
    val (e, i, n) = PiiScan.countsOf(u.getBytes)
    e + i + n
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L else computeRow(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val ref = ctx.addReferenceObj("pte", this,
      classOf[PiiTotalExpr].getName)
    ev.copy(
      code = childGen.code + code"""
        long ${ev.value} = ${childGen.isNull}
          ? 0L : $ref.computeRow(${childGen.value});
      """,
      isNull = FalseLiteral)
  }
}

object PiiTotalExpr {
  def apply(text: Column): Column =
    ColumnBridge.column(PiiTotalExpr(
      ColumnBridge.expression(text.cast("string"))))
}
