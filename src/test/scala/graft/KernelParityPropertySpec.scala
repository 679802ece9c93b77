package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import graft.functions.TextFunctions.{piiEmailPattern, piiIpPattern,
  piiNumPattern, tokens}
import graft.ReferenceKernels._
import graft.llmops.{Dedup, TextAnalysis, Web}

/** Differential properties: every text-kernel family's production form
  * (src/main) equals its independent reference ([[ReferenceKernels]])
  * on batches drawn from ONE shared hostile-text generator -- empty and
  * null text, the Kelvin sign U+212A (lowercases to ASCII 'k'), U+0130
  * (lowercases to 'i' + U+0307), CJK, surrogate-pair emoji, fewer
  * tokens than the window, one repeated token, PII look-alikes, C4 line
  * punctuation, and one document of at least 1 MB.
  *
  * Each batch runs as one Spark job over a 2-partition RDD frame (NOT a
  * local Seq: a projection over a LocalRelation is folded on the driver
  * in interpreted mode, so the codegen paths would go untested).
  */
object KernelParityPropertySpec extends Properties("kernel-parity") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  private lazy val spark = SparkSpec.session

  private val words = Seq("the", "and", "of", "to", "der", "und", "la",
    "que", "le", "shi", "a", "is", "with")

  /** ASCII atoms: every byte takes the native kernels' fast paths. */
  private val asciiAtom: Gen[String] = Gen.frequency(
    8 -> Gen.oneOf(words),
    4 -> Gen.alphaNumStr.map(_.take(12)),
    2 -> Gen.choose(0, 99999999).map(_.toString),
    2 -> Gen.oneOf("a.b+c@x-y.co.uk", "user42@example.com", "bad@@x..y",
      "10.0.0.254", "1.2.3.4.5", "999.1.1.1", "12345678901", "1234567",
      "_1234567", "a1.2.3.4"),
    2 -> Gen.oneOf(".", "!", "?", "\"", "{", "}", "++--**", "JavaScript",
      "lorem ipsum", "UPPER", "MiXeD"))

  /** Non-ASCII atoms: each forces a slow path or a case-mapping trap. */
  private val unicodeAtom: Gen[String] = Gen.oneOf(
    "\u212A", "300\u212A", "\u212Aelvin",      // Kelvin sign -> 'k'
    "\u0130", "\u0130stanbul", "D\u0130YARBAKIR", // -> 'i' + U+0307
    "中文字符", "漢字", "東京タワー",
    "😀", "emoji😀x", "𝔘ni",                     // surrogate pairs
    "ÜBER", "Straße", "ΣΟΦΙΑ", "é1234567é", "½1234567")

  private val atom: Gen[String] =
    Gen.frequency(4 -> asciiAtom, 1 -> unicodeAtom)

  private val sep: Gen[String] = Gen.frequency(12 -> Gen.const(" "),
    2 -> Gen.const("\n"), 1 -> Gen.const(". "), 1 -> Gen.const(".\n"),
    1 -> Gen.const("\t"), 1 -> Gen.const(""), 1 -> Gen.const("\r\n"),
    1 -> Gen.const("  "), 1 -> Gen.const("\f"), 1 -> Gen.const("\u000b"))

  private def textOf(atoms: Gen[String]): Gen[String] = for {
    n <- Gen.choose(1, 80)
    parts <- Gen.listOfN(n, Gen.zip(atoms, sep))
  } yield parts.map { case (a, s) => a + s }.mkString

  private val mixed: Gen[String] = textOf(atom)

  /** One >= 1 MB document of the same mixture, built once. */
  private lazy val hugeDoc: String = {
    val sb = new java.lang.StringBuilder
    var i = 0L
    while (sb.length < (1 << 20)) {
      sb.append(mixed.pureApply(Gen.Parameters.default, Seed(i))).append(' ')
      i += 1
    }
    sb.toString
  }

  private val hostileText: Gen[String] = Gen.frequency(
    2 -> Gen.const(""),
    2 -> Gen.const(null: String),
    2 -> Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, Gen.oneOf(words))
      .map(_.mkString(" "))),
    2 -> Gen.choose(1, 60).map(n => Seq.fill(n)("dup").mkString(" ")),
    10 -> mixed,
    10 -> textOf(asciiAtom),
    2 -> Gen.delay(Gen.const(hugeDoc)))

  private val batch: Gen[List[String]] =
    Gen.choose(1, 10).flatMap(n => Gen.listOfN(n, hostileText))

  /** A property over hostile batches (and one extra parameter), never
    * shrunk: each evaluation is a Spark job. The report counts the
    * batches that carried the 1 MB document.
    */
  private def forBatches[A](extra: Gen[A])(f: (List[String], A) => Prop): Prop =
    Prop.forAllNoShrink(batch, extra) { (texts, a) =>
      Prop.classify(texts.exists(t => t != null && t.length >= (1 << 20)),
        "with the 1 MB document")(f(texts, a))
    }

  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("text2", StringType)))

  /** (doc_id, text, text2): text2 is the next text of the batch. */
  private def frame(texts: Seq[String]): DataFrame = {
    val rows = texts.indices.map(i =>
      Row(i.toLong, texts(i), texts((i + 1) % texts.length)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  private def show(t: Any): String =
    if (t == null) "null"
    else {
      val s = t.toString
      if (s.length > 160) s"${s.take(160)}... (${s.length} chars)" else s
    }

  /** Every row's production column (odd index) equals its reference
    * (the even index before it), column 0 being the text.
    */
  private def agree(texts: Seq[String])(pairs: (Column, Column)*): Prop = {
    val cols = col("text") +: pairs.flatMap { case (p, r) => Seq(p, r) }
    val rows = frame(texts).select(cols: _*).collect()
    Prop.all(rows.toSeq.flatMap { r =>
      pairs.indices.map { i =>
        val (p, ref) = (r.get(1 + 2 * i), r.get(2 + 2 * i))
        (p == ref) :| s"column pair $i: production=${show(p)} " +
          s"reference=${show(ref)} text=${show(r.get(0))}"
      }
    }: _*)
  }

  private def unpack(sh: Long, bits: Int): String =
    (0 until bits).map(j =>
      if (((sh >>> (bits - 1 - j)) & 1L) == 1L) '1' else '0').mkString

  private def hex(b: Array[Byte]): String =
    b.map("%02x".format(_)).mkString

  property("simhash: packed-long kernel == column expression at 16 and " +
    "64 bits") = forBatches(Gen.const(())) { (texts, _) =>
    val rows = frame(texts).select(col("text"),
      Dedup.simhashTextLongUdf(16)(col("text")),
      simhash(tokens(col("text")), 16),
      Dedup.simhashTextLongUdf(64)(col("text")),
      simhash(tokens(col("text")), 64)).collect()
    Prop.all(rows.toSeq.map { r =>
      (unpack(r.getLong(1), 16) == r.getString(2) &&
        unpack(r.getLong(3), 64) == r.getString(4)) :|
        s"simhash diverged on ${show(r.get(0))}"
    }: _*)
  }

  property("window fingerprints: digest and position kernels == the " +
    "column expression") = forBatches(Gen.oneOf(1, 3, 12)) {
    (texts, w) =>
      val rows = frame(texts).select(col("text"),
        Dedup.distinctWindowFingerprintBytesUdf(w)(col("text")),
        Dedup.windowFingerprintPositionBytesUdf(w)(col("text")),
        windowFingerprints(col("text"), w)).collect()
      Prop.all(rows.toSeq.map { r =>
        val ref = Option(r.getSeq[String](3))
        val bytes = Option(r.getSeq[Array[Byte]](1)).map(_.map(hex))
        val pos = Option(r.getSeq[Row](2))
          .map(_.map(p => (p.getInt(0), hex(p.getAs[Array[Byte]](1)))))
        val wantPos = ref.map(all =>
          all.zipWithIndex.distinctBy(_._1).map { case (h, i) => (i, h) })
        (bytes == ref.map(_.distinct) && pos == wantPos) :|
          s"window=$w fingerprints diverged on ${show(r.get(0))}: " +
          s"bytes=${show(bytes)} pos=${show(pos)} ref=${show(ref)}"
      }: _*)
  }

  property("minhash band keys: native expression == compiled UDF") =
    forBatches(Gen.oneOf((3, 16, 4), (2, 8, 2), (1, 4, 4))) {
      case (texts, (n, k, br)) =>
        agree(texts)(graft.functions.MinhashBandKeys(col("text"), n, k, br) ->
          coalesce(bandKeysUdf(n, k, br)(col("text")),
            array().cast("array<string>")))
    }

  property("jaccard: codegen expression == set-Jaccard UDF") =
    forBatches(Gen.const(())) { (texts, _) =>
      // raw space splits keep non-ASCII and empty elements in the sets
      val a = split(col("text"), " ")
      val b = split(col("text2"), " ")
      agree(texts)(graft.functions.JaccardSimilarity(a, b) ->
        when(a.isNotNull && b.isNotNull,
          jaccardUdf(coalesce(a, array().cast("array<string>")),
            coalesce(b, array().cast("array<string>")))))
    }

  property("pii: byte scanners == the regex chain (redact, counts, " +
    "total)") = forBatches(Gen.const(())) { (texts, _) =>
    val t = col("text")
    val counts = graft.functions.PiiCountsExpr(t)
    agree(texts)(
      graft.functions.PiiRedactExpr(t) -> redactPii(t),
      graft.functions.PiiRedactExpr(t) -> redactPiiUdf(t),
      graft.functions.PiiTotalExpr(t) -> piiTotal(t),
      graft.functions.PiiTotalExpr(t) -> piiTotalUdf(t),
      counts.getField("n_emails") ->
        when(t.isNotNull, piiMatches(t, piiEmailPattern)),
      counts.getField("n_ips") ->
        when(t.isNotNull, piiMatches(t, piiIpPattern)),
      counts.getField("n_nums") ->
        when(t.isNotNull, piiMatches(t, piiNumPattern)))
  }

  private val qualityCols = Seq("n_chars", "n_tokens", "mean_token_len",
    "alpha_ratio", "digit_ratio", "punct_ratio", "stopword_ratio")

  property("quality: native counts and withQuality == the expression " +
    "forms") = forBatches(Gen.const(())) { (texts, _) =>
    val df = frame(texts)
    val counts = df.select(col("text"),
      graft.functions.QualityCountsExpr(col("text")),
      qualityCountsUdf(col("text"))).collect()
    val neu = TextAnalysis.withQuality(df, "text")
      .select("doc_id", qualityCols :+ "quality_score": _*)
      .orderBy("doc_id").collect()
    val old = qualityFeatures(col("text"))
      .foldLeft(df) { case (acc, (n, c)) => acc.withColumn(n, c) }
      .withColumn("quality_score", qualityScore(col("text")))
      .select("doc_id", qualityCols :+ "quality_score": _*)
      .orderBy("doc_id").collect()
    Prop.all(counts.toSeq.map { r =>
      (r.get(1) == r.get(2)) :|
        s"counts diverged: ${r.get(1)} vs ${r.get(2)} on ${show(r.get(0))}"
    } ++ neu.toSeq.zip(old.toSeq).map { case (a, b) =>
      (a == b) :| s"withQuality diverged on doc ${a.getLong(0)}: " +
        s"$a vs $b (text ${show(texts(a.getLong(0).toInt))})"
    }: _*)
  }

  property("scan family: fingerprint / langid / classifier / token " +
    "counts == the expression forms") = forBatches(Gen.const(())) {
    (texts, _) =>
      val t = col("text")
      val clf = TextAnalysis.classifierCountsUdf(64, "clf")(t)
      val tc = TextAnalysis.tokenCountsUdf(t)
      agree(texts)(
        TextAnalysis.fingerprintUdf(t) -> fingerprint(t),
        TextAnalysis.langIdUdf(t) -> langId(t),
        clf.getField("_1") -> hashedWeightSum(tokens(t), 64, "clf"),
        clf.getField("_2") -> when(t.isNotNull, size(tokens(t))),
        tc.getField("_1") -> whitespaceTokenCount(t),
        tc.getField("_2") -> bpeishTokenCount(t))
  }

  property("c4: compiled line cleaner == the HOF expression form") =
    forBatches(Gen.oneOf((5, 3), (3, 1), (1, 0))) {
      case (texts, (mlw, mkl)) =>
        val df = frame(texts)
        val cols = Seq("n_lines", "kept_lines", "clean_text", "c4_keep")
        val neu = Web.c4LineClean(df, "doc_id", "text", mlw, mkl)
          .select("doc_id", cols: _*).orderBy("doc_id").collect()
        val old = c4LineCleanExpr(df, "doc_id", "text", mlw, mkl)
          .select("doc_id", cols: _*).orderBy("doc_id").collect()
        Prop.all(neu.toSeq.zip(old.toSeq).map { case (a, b) =>
          (a == b) :| s"c4 ($mlw, $mkl) diverged: ${show(a)} vs ${show(b)} " +
            s"on ${show(texts(a.getLong(0).toInt))}"
        }: _*)
    }
}
