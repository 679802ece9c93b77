package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.llmops.{Dedup, TextAnalysis}

/** Independent parity references for the production text kernels.
  *
  * Every text-kernel family keeps ONE production form in `src/main`
  * (a native Catalyst expression or a compiled UDF). The slower forms
  * those kernels replaced live here, unchanged, so the specs can check
  * production == reference on corpus, adversarial and generated hostile
  * text ([[KernelParityPropertySpec]]). Most are plain column
  * expressions over md5 + integer arithmetic -- the same shapes the
  * DuckDB oracle SQL computes -- and share no code with the kernels
  * they check. The two UDF references ([[bandKeysUdf]],
  * [[qualityCountsUdf]]) reuse the String-level walk of the production
  * slow path, so they check the UTF-8 byte fast paths. The PII pattern
  * strings stay in [[graft.functions.TextFunctions]] because the oracle
  * SQL reads them.
  *
  * Production form -> reference, per family:
  *  - simhash: `Dedup.simhashTextLongUdf` -> [[simhash]]
  *  - window fingerprints: `Dedup.distinctWindowFingerprintBytesUdf` /
  *    `windowFingerprintPositionBytesUdf` -> [[windowFingerprints]]
  *  - minhash band keys: `MinhashBandKeys` -> [[bandKeysUdf]]
  *  - jaccard: `JaccardSimilarity` -> [[jaccardUdf]]
  *  - pii: `PiiRedactExpr` / `PiiTotalExpr` / `PiiCountsExpr` ->
  *    [[redactPii]], [[redactPiiUdf]], [[piiTotal]], [[piiTotalUdf]],
  *    [[piiMatches]]
  *  - quality: `QualityCountsExpr` / `TextAnalysis.withQuality` ->
  *    [[qualityCountsUdf]], [[qualityFeatures]] + [[qualityScore]]
  *  - token counts: `TextAnalysis.tokenCountsUdf` ->
  *    [[whitespaceTokenCount]], [[bpeishTokenCount]]
  *  - fingerprint / langid / classifier: `TextAnalysis.fingerprintUdf` /
  *    `langIdUdf` / `classifierCountsUdf` -> [[fingerprint]],
  *    [[langId]], [[hashedWeightSum]]
  *  - c4: `Web.c4LineClean` -> [[c4LineCleanExpr]]
  */
object ReferenceKernels {

  // --- simhash -----------------------------------------------------------

  /** Hex nibble value (0..15) at 1-based position `pos` of md5(s). */
  private def nib(s: Column, pos: Column): Column =
    conv(md5(s).substr(pos, lit(1)), 16, 10).cast("int")

  /** SimHash over word tokens as a `bits`-char '0'/'1' string (MSB-first
    * per nibble). bit j of token t = bit (3 - j%4) of hex nibble (j/4) of
    * md5(t); simhash bit = majority vote (sum of +-1 > 0).
    */
  def simhash(toksExpr: Column, bits: Int): Column = {
    require(bits % 4 == 0 && bits <= 128)
    bind(toksExpr) { toks =>
      val bitCols = (0 until bits).map { j =>
        val nibIdx = j / 4 + 1 // 1-based hex position
        val shift = 3 - (j % 4) // MSB-first within nibble
        val div = 1 << shift
        val vote = aggregate(toks, lit(0),
          (acc, t) => acc + ((nib(t, lit(nibIdx)) / div).cast("int") % 2) * 2 - 1)
        when(vote > 0, "1").otherwise("0")
      }
      concat(bitCols: _*)
    }
  }

  // --- fingerprints ------------------------------------------------------

  /** OpenRefine-style fingerprint: md5 of space-joined sorted distinct
    * tokens. Word-order and duplication invariant.
    */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** Rolling content hash per fixed-size token window (document segment
    * fingerprinting); returns array of window md5s.
    */
  def windowFingerprints(text: Column, window: Int): Column =
    bind(tokens(text)) { t =>
      when(size(t) < window, array(md5(concat_ws(" ", t))))
        .otherwise(transform(sequence(lit(0), size(t) - window), i =>
          md5(concat_ws(" ",
            slice(t, i + 1, lit(window))))))
    }

  // --- minhash band keys and jaccard -------------------------------------

  private val bandKeysUdfCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int),
      org.apache.spark.sql.expressions.UserDefinedFunction]()

  /** Parity reference for [[graft.functions.MinhashBandKeys]]: the
    * compiled UDF the native expression replaced (String tokenizer,
    * per-shingle digests, hex-compared minima).
    */
  def bandKeysUdf(shingleN: Int, k: Int, bandRows: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    bandKeysUdfCache.computeIfAbsent((shingleN, k, bandRows), { key =>
      val f = bandKeysF(key._2, key._3)
      udf((text: String) => {
        val sh = Dedup.shingleArr(text, key._1)
        // no shingles -> no bands (the old pre-UDF size filter)
        if (sh.isEmpty) Seq.empty[String] else f(sh)
      })
    })

  private def bandKeysF(k: Int, bandRows: Int): Seq[String] => Seq[String] = {
    (sh: Seq[String]) => {
      // This loop is THE dominant compute of the dedup pipeline (k x
      // shingles digests per document; 69% of the 16M crawl run's
      // wall), so it avoids every repeatable allocation while keeping
      // the output byte-identical to hex(md5(seed + ":" + shingle)):
      //  - shingle UTF-8 bytes encode ONCE, not once per seed;
      //  - the per-seed minimum compares raw digests UNSIGNED, which
      //    orders exactly like the hex strings (the nibble->char map
      //    is monotone), so only the k winners ever hex-render.
      val md = java.security.MessageDigest.getInstance("MD5")
      val hexd = "0123456789abcdef"
      def hexOf(d: Array[Byte]): String = {
        val out = new Array[Char](32)
        var i = 0
        while (i < 16) {
          out(2 * i) = hexd((d(i) >> 4) & 0xf)
          out(2 * i + 1) = hexd(d(i) & 0xf)
          i += 1
        }
        new String(out)
      }
      def lessUnsigned(a: Array[Byte], b: Array[Byte]): Boolean = {
        var i = 0
        while (i < 16) {
          val ai = a(i) & 0xff; val bi = b(i) & 0xff
          if (ai != bi) return ai < bi
          i += 1
        }
        false
      }
      val shBytes = new Array[Array[Byte]](sh.length)
      var j = 0
      sh.foreach { x => shBytes(j) = x.getBytes("UTF-8"); j += 1 }
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
      (0 until k / bandRows).map { b =>
        hexOf(md.digest(sig.slice(b * bandRows, b * bandRows + bandRows)
          .mkString(",").getBytes("UTF-8")))
      }
    }
  }

  /** Compiled set-Jaccard (integer-count division; HashSet instead of
    * per-pair array HOFs) -- the parity reference for the codegen
    * [[graft.functions.JaccardSimilarity]] expression.
    */
  val jaccardUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((a: Seq[String], b: Seq[String]) => {
      val sa = a.toSet
      val sb = b.toSet
      val inter = sa.count(sb.contains)
      val uni = sa.size + sb.size - inter
      if (uni == 0) 0.0 else inter.toDouble / uni.toDouble
    })

  // --- language ID and the feature-hashed classifier ----------------------

  /** Predicted language: argmax marker score; ties favor the
    * alphabetically-earliest language (fold order is alphabetical and
    * replacement requires strictly greater score); all-zero scores ->
    * "und".
    */
  def langId(text: Column): Column = bind(tokens(text)) { toks =>
    val init = struct(lit(0.0).as("score"), lit("und").as("lang"))
    langMarkers.foldLeft(init: Column) { case (best, (lang, markers)) =>
      val s = langScore(toks, markers)
      when(s > best.getField("score"),
        struct(s.as("score"), lit(lang).as("lang"))).otherwise(best)
    }.getField("lang")
  }

  /** Feature-hash bucket in [0, dims). */
  def hashBucket(tok: Column, dims: Int): Column =
    hex8(tok) % dims

  /** Integer weight in [-1000, 1000] for a bucket under `seed`
    * (divide by 1000.0 for the real-valued weight).
    */
  def bucketWeight(bucket: Column, seed: String): Column =
    hex8(concat(lit(seed + ":"), bucket.cast("string"))) % 2001 - 1000

  /** Sum of per-token bucket weights (exact integer; the classifier's
    * pre-activation times 1000 * n_tokens ... i.e. score =
    * weightSum / (1000 * n)).
    */
  def hashedWeightSum(toksExpr: Column, dims: Int, seed: String): Column =
    bind(toksExpr) { toks =>
      aggregate(toks, lit(0L),
        (acc, t) => acc + bucketWeight(hashBucket(t, dims), seed))
    }

  // --- quality scoring ---------------------------------------------------

  /** Heuristic quality features; every ratio is one integer-count
    * division.
    */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val nChars = length(text)
    val alphaChars = length(regexp_replace(lower(text), "[^a-z]", ""))
    val digitChars = length(regexp_replace(text, "[^0-9]", ""))
    val punctChars = length(regexp_replace(text, "[a-zA-Z0-9\\s]", ""))
    val stopArr = array(qualityStopwords.map(lit): _*)
    val meanTokLen = bind(tokens(text)) { toks =>
      when(size(toks) === 0, 0.0).otherwise(
        aggregate(toks, lit(0), (acc, t) => acc + length(t)).cast("double") /
          size(toks).cast("double"))
    }
    val stopRatio = bind(tokens(text)) { toks =>
      when(size(toks) === 0, 0.0).otherwise(
        size(filter(toks, t => array_contains(stopArr, t))).cast("double") /
          size(toks).cast("double"))
    }
    Seq(
      "n_chars" -> nChars,
      "n_tokens" -> size(tokens(text)),
      "mean_token_len" -> meanTokLen,
      "alpha_ratio" -> safeRatio(alphaChars, nChars),
      "digit_ratio" -> safeRatio(digitChars, nChars),
      "punct_ratio" -> safeRatio(punctChars, nChars),
      "stopword_ratio" -> stopRatio)
  }

  private def safeRatio(num: Column, den: Column): Column =
    when(den === 0, 0.0).otherwise(num.cast("double") / den.cast("double"))

  /** Composite quality score in [0,1]: rewards mid-length docs with high
    * alpha ratio and some stopwords, penalizes digit/punct noise.
    */
  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text).toMap
    val lengthTerm = least(f("n_tokens").cast("double") / 100.0, lit(1.0))
    val score = lit(0.25) * lengthTerm +
      lit(0.35) * f("alpha_ratio") +
      lit(0.25) * least(f("stopword_ratio") * 5.0, lit(1.0)) +
      lit(0.15) * (lit(1.0) - least(f("digit_ratio") * 5.0, lit(1.0)))
    least(greatest(score, lit(0.0)), lit(1.0))
  }

  /** Whitespace token count + BPE-ish sub-token count ([a-z]+ runs,
    * single digits, single punctuation marks -- a deterministic proxy for
    * tokenizer cost accounting).
    */
  def whitespaceTokenCount(text: Column): Column =
    size(filter(split(text, "\\s+"), t => length(t) > 0))

  def bpeishTokenCount(text: Column): Column =
    regexp_count(lower(text), lit("[a-z]+|[0-9]|[^a-z0-9\\s]"))

  /** The String-level quality counts as a UDF: the parity reference for
    * [[graft.functions.QualityCountsExpr]]'s UTF-8 byte fast path.
    */
  val qualityCountsUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String) =>
      if (s == null) None else Some(TextAnalysis.qualityCountsOf(s)))

  // --- PII redaction -----------------------------------------------------
  // Order matters: emails before the digit-run rule (an email's local
  // part may contain 7+ digits), IPs before digit runs.

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, piiEmailPattern, "<EMAIL>"),
        piiIpPattern, "<IP>"),
      piiNumPattern, "<NUM>")

  // the same three patterns pre-compiled for the UDF form below —
  // java.util.regex is ALSO the engine behind regexp_replace, so the
  // outputs are bit-identical; the UDF just pays ONE UTF8String <->
  // String round trip instead of three
  private lazy val piiEmailRe = java.util.regex.Pattern.compile(piiEmailPattern)
  private lazy val piiIpRe = java.util.regex.Pattern.compile(piiIpPattern)
  private lazy val piiNumRe = java.util.regex.Pattern.compile(piiNumPattern)

  /** Compiled [[redactPii]]: the identical three replaceAll passes in
    * one kernel (same regex engine).
    */
  val redactPiiUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf((s: String) =>
      if (s == null) null
      else piiNumRe.matcher(
        piiIpRe.matcher(
          piiEmailRe.matcher(s).replaceAll("<EMAIL>"))
          .replaceAll("<IP>"))
        .replaceAll("<NUM>"))

  /** Match count for one PII pattern (null text counts 0). */
  def piiMatches(text: Column, pattern: String): Column =
    size(regexp_extract_all(coalesce(text, lit("")), lit(pattern),
      lit(0))).cast("long")

  /** Total matches across the three pattern classes, counted on the
    * raw text independently (an email's digits are NOT double-counted
    * by the digit-run rule only when they are under 7 digits; the
    * counts are a density SIGNAL, not a disjoint partition — same
    * counting the redaction gate reports).
    */
  def piiTotal(text: Column): Column =
    piiMatches(text, piiEmailPattern) + piiMatches(text, piiIpPattern) +
      piiMatches(text, piiNumPattern)

  /** Compiled [[piiTotal]]: the same three java.util.regex patterns,
    * counted with one find() loop each over ONE decoded String —
    * identical counts (regexp_extract_all collects successive find()
    * matches of the same engine); null counts 0 like the coalesce in
    * [[piiMatches]].
    */
  val piiTotalUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf((s: String) =>
      if (s == null) 0L
      else {
        var n = 0L
        val m1 = piiEmailRe.matcher(s); while (m1.find()) n += 1
        val m2 = piiIpRe.matcher(s); while (m2.find()) n += 1
        val m3 = piiNumRe.matcher(s); while (m3.find()) n += 1
        n
      })

  // --- C4 line cleaning --------------------------------------------------

  /** The original column-expression form of
    * [[graft.llmops.Web.c4LineClean]] (split + filter HOF + array_join).
    */
  def c4LineCleanExpr(df: DataFrame, idCol: String,
      textCol: String, minLineWords: Int = 5,
      minKeptLines: Int = 3): DataFrame = {
    val lines = split(col(textCol), "\n")
    def lineKeep(l: Column): Column = {
      val t = trim(l)
      val words = size(filter(split(t, "\\s+"), w => w =!= ""))
      t.substr(lit(-1), lit(1)).isin(".", "!", "?", "\"") &&
        words >= minLineWords &&
        !contains(lower(t), lit("javascript"))
    }
    val kept = filter(lines, lineKeep _)
    df.withColumn("n_lines", size(lines).cast("long"))
      .withColumn("kept_lines", size(kept).cast("long"))
      .withColumn("clean_text", array_join(kept, "\n"))
      .withColumn("c4_keep",
        size(kept) >= minKeptLines &&
          !contains(lower(col(textCol)), lit("lorem ipsum")) &&
          !contains(col(textCol), lit("{")))
  }
}
