package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** DataFrame-level text-analysis operators over a text column:
  * language ID, quality scoring, token accounting, fingerprinting.
  * All column expressions -- single narrow projection, fully codegen'd,
  * no shuffle.
  */
object TextAnalysis {

  /** The shared compiled tokenizer: maximal [a-z0-9] runs of the
    * lowercased text — exactly [[graft.functions.TextFunctions.tokens]]
    * (`split(lower(text), "[^a-z0-9]+")` + empty filter), one char walk
    * instead of an interpreted regex split per consumer. Every
    * compiled scan UDF in this file tokenizes through here, and the
    * LlmOpsSpec parity tests pin the equivalence. Null text has no
    * tokens.
    */
  private[graft] def alnumTokens(s: String): Array[String] = {
    if (s == null) return Array.empty
    // Locale.ROOT (ADVICE r20): a Turkish/Azeri default locale lowers
    // 'I' to U+0131, which would diverge from the ASCII byte kernels
    // (TextKernels.asciiShingleBytes) and make band keys locale-dependent
    val lo = s.toLowerCase(java.util.Locale.ROOT)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0; var start = -1
    while (i < lo.length) {
      val c = lo.charAt(i)
      val alnum = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
      if (alnum) { if (start < 0) start = i }
      else if (start >= 0) { out += lo.substring(start, i); start = -1 }
      i += 1
    }
    if (start >= 0) out += lo.substring(start, lo.length)
    out.toArray
  }

  /** The compiled tokenizer as a column UDF — swap-in for
    * `explode(tokens(col))` scans (null text → null array, which
    * explode drops exactly like the expression form).
    */
  val tokensUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String) =>
      if (s == null) None else Some(alnumTokens(s).toSeq))

  private val langMarkerSets: Seq[(String, Set[String])] =
    graft.functions.TextFunctions.langMarkers
      .map { case (l, m) => (l, m.toSet) }

  /** Compiled language ID: one tokenize + one marker-set lookup per
    * token per language, replacing the interpreted per-language
    * filter/array_contains HOF walk (58 s -> ~4 s for 2M docs,
    * tools/ScanProf). Decision rule is a bit-replica of the
    * column-expression langId (test-scope reference): score = hits/n as
    * one double division, fold in langMarkers order, replacement
    * requires STRICTLY greater, zero scores -> "und".
    */
  val langIdUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String) => if (s == null) "und" else {
      // null text scores null against every language, so the fold's
      // init struct survives — the expression form answers "und"
      val toks = alnumTokens(s)
      if (toks.isEmpty) "und"
      else {
        var bestLang = "und"; var bestScore = 0.0
        langMarkerSets.foreach { case (lang, ms) =>
          var hits = 0
          var i = 0
          while (i < toks.length) {
            if (ms.contains(toks(i))) hits += 1
            i += 1
          }
          val sc = hits.toDouble / toks.length.toDouble
          if (sc > bestScore) { bestScore = sc; bestLang = lang }
        }
        bestLang
      }
    })

  def withLangId(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("lang_pred", langIdUdf(col(textCol)))

  /** All integer inputs of the quality features from ONE walk over the
    * text — the compiled replacement for the column-expression form's
    * ~7 independent tokenize/regex passes per document (each an
    * interpreted higher-order function: the r19 profile measured the
    * old `withQuality` at 484 s for 2M docs, 99% of the curate
    * runner's wall; this struct costs one char scan). Semantics are
    * bit-replicas of the column-expression `qualityFeatures` (the
    * test-scope parity reference):
    *
    *  - `alpha`     = count of a-z UTF-16 units in `text.toLowerCase`
    *                  (= length of regexp_replace(lower, "[^a-z]", ""))
    *  - `digit`     = count of 0-9 units in the ORIGINAL text
    *  - `punct`     = count of CODEPOINTS not in [a-zA-Z0-9] or ASCII
    *                  whitespace (Java regex \s) in the original
    *  - `nTokens` / `sumTokLen` / `stopHits` over maximal [a-z0-9]
    *    runs of the lowered text (the TextFunctions.tokens split),
    *    stop-matching against [[TextFunctions.qualityStopwords]]
    *
    * LlmOpsSpec and KernelParityPropertySpec assert column-level
    * equality against the expression form (incl. unicode/empty/null
    * rows), and every quality gate hash-matches its DuckDB oracle.
    */
  final case class QualityCounts(alpha: Int, digit: Int, punct: Int,
      nTokens: Int, sumTokLen: Int, stopHits: Int)

  private val qualityStopSet: Set[String] = qualityStopwords.toSet

  /** The String-level counts kernel: the non-ASCII fallback of the
    * native [[graft.functions.QualityCountsExpr]].
    */
  private[graft] def qualityCountsOf(s: String): QualityCounts = {
    var digit = 0; var punct = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp >= '0' && cp <= '9') digit += 1
      else if (!((cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') ||
        cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0b ||
        cp == '\f' || cp == '\r')) punct += 1
      i += Character.charCount(cp)
    }
    val lo = s.toLowerCase(java.util.Locale.ROOT) // ADVICE r20: locale-pin
    var alpha = 0; var nTok = 0; var sumLen = 0; var stops = 0
    var j = 0; var runStart = -1
    def closeRun(end: Int): Unit = if (runStart >= 0) {
      nTok += 1; sumLen += end - runStart
      if (qualityStopSet.contains(lo.substring(runStart, end))) stops += 1
      runStart = -1
    }
    while (j < lo.length) {
      val c = lo.charAt(j)
      val alnum = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
      if (c >= 'a' && c <= 'z') alpha += 1
      if (alnum) { if (runStart < 0) runStart = j }
      else closeRun(j)
      j += 1
    }
    closeRun(lo.length)
    QualityCounts(alpha, digit, punct, nTok, sumLen, stops)
  }

  /** The composite quality score from a
    * [[graft.functions.QualityCountsExpr]] counts struct and the text's
    * length column — the EXACT column-expression `qualityScore`
    * arithmetic over the compiled counts, factored out so every score
    * consumer (withQuality, Curation.sourceStats) derives the identical
    * double.
    */
  def qualityScoreFromCounts(qc: Column, nChars: Column): Column = {
    def ratio(num: Column): Column =
      when(nChars === 0, 0.0)
        .otherwise(num.cast("double") / nChars.cast("double"))
    val nTok = qc.getField("nTokens")
    val stopR = when(nTok === 0, 0.0)
      .otherwise(qc.getField("stopHits").cast("double") /
        nTok.cast("double"))
    val lengthTerm = least(nTok.cast("double") / 100.0, lit(1.0))
    val score = lit(0.25) * lengthTerm +
      lit(0.35) * ratio(qc.getField("alpha")) +
      lit(0.25) * least(stopR * 5.0, lit(1.0)) +
      lit(0.15) * (lit(1.0) -
        least(ratio(qc.getField("digit")) * 5.0, lit(1.0)))
    least(greatest(score, lit(0.0)), lit(1.0))
  }

  def withQuality(df: DataFrame, textCol: String): DataFrame = {
    val txt = col(textCol)
    val nChars = length(txt)
    def ratio(num: Column): Column =
      when(nChars === 0, 0.0)
        .otherwise(num.cast("double") / nChars.cast("double"))
    val nTok = col("__qc.nTokens")
    val meanTok = when(nTok === 0, 0.0)
      .otherwise(col("__qc.sumTokLen").cast("double") / nTok.cast("double"))
    val stopR = when(nTok === 0, 0.0)
      .otherwise(col("__qc.stopHits").cast("double") / nTok.cast("double"))
    // native expression (r20): same struct, UTF8String-bytes fast path
    df.withColumn("__qc", graft.functions.QualityCountsExpr(txt))
      .withColumn("n_chars", nChars)
      .withColumn("n_tokens", nTok)
      .withColumn("mean_token_len", meanTok)
      .withColumn("alpha_ratio", ratio(col("__qc.alpha")))
      .withColumn("digit_ratio", ratio(col("__qc.digit")))
      .withColumn("punct_ratio", ratio(col("__qc.punct")))
      .withColumn("stopword_ratio", stopR)
      .withColumn("quality_score",
        qualityScoreFromCounts(col("__qc"), nChars))
      .drop("__qc")
  }

  /** Compiled token accounting, replacing two interpreted regex
    * passes (56 s -> ~3 s for 2M docs, tools/ScanProf). Bit-replicas
    * of the column forms (test-scope parity references):
    *  - `ws` = maximal non-\s runs of the ORIGINAL text (Java \s =
    *    the 6 ASCII whitespace chars);
    *  - `bpe` = regexp_count(lower(text), "[a-z]+|[0-9]|[^a-z0-9\s]"):
    *    each a-z run counts once; each digit once; each OTHER
    *    non-whitespace CODEPOINT once (astral chars are one match, so
    *    the walk steps by codepoint there).
    */
  val tokenCountsUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String) => if (s == null) None else Some {
      def isWs(c: Int): Boolean = c == ' ' || c == '\t' || c == '\n' ||
        c == 0x0b || c == '\f' || c == '\r'
      var ws = 0; var i = 0; var inRun = false
      while (i < s.length) {
        if (!isWs(s.charAt(i))) { if (!inRun) { ws += 1; inRun = true } }
        else inRun = false
        i += 1
      }
      val lo = s.toLowerCase(java.util.Locale.ROOT) // ADVICE r20: locale-pin
      var bpe = 0; i = 0; var inAz = false
      while (i < lo.length) {
        val c = lo.charAt(i)
        if (c >= 'a' && c <= 'z') {
          if (!inAz) { bpe += 1; inAz = true }
          i += 1
        } else {
          inAz = false
          if (c >= '0' && c <= '9') { bpe += 1; i += 1 }
          else {
            val cp = lo.codePointAt(i)
            if (!isWs(cp)) bpe += 1
            i += Character.charCount(cp)
          }
        }
      }
      (ws, bpe)
    })

  def withTokenCounts(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("__tc", tokenCountsUdf(col(textCol)))
      .withColumn("ws_tokens", col("__tc._1"))
      .withColumn("bpeish_tokens", col("__tc._2"))
      .drop("__tc")

  /** Compiled fingerprint (md5 of space-joined sorted distinct
    * tokens): tokens are pure ASCII so JVM string order == the
    * UTF8String binary order array_sort uses; a null or empty text
    * fingerprints as md5("") exactly like the column form (concat_ws
    * drops the null array).
    */
  val fingerprintUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String) => {
      val joined = alnumTokens(s).distinct.sorted.mkString(" ")
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(joined.getBytes("UTF-8"))
      val sb = new StringBuilder(32)
      d.foreach(b => sb.append(f"${b & 0xff}%02x"))
      sb.toString
    })

  def withFingerprint(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("fingerprint", fingerprintUdf(col(textCol)))

  /** Gopher-style rule-based quality filter (Rae et al. 2021, "Scaling
    * Language Models", appendix A1.1 heuristics), re-expressed over alnum
    * word tokens: per-document rule booleans plus the conjunctive keep
    * flag. Every rule is an INTEGER comparison -- counts, and ratio
    * bounds as cross-multiplications (3*n <= sum_len, not sum_len/n >=
    * 3.0) -- so a SQL oracle reproduces each boolean bit-exactly with no
    * float division anywhere. Pure narrow projection: no shuffle, one
    * pass, codegen'd.
    *
    * Rules:
    *  - `rule_len`:  minTokens <= n_tokens <= maxTokens
    *  - `rule_mean`: mean token length in [3, 10] (cross-multiplied)
    *  - `rule_stop`: >= minStopHits occurrences of English stopwords
    *    (the paper requires 2 of a small "the/be/to/of/and/that/have/
    *    with" list; ours is [[graft.functions.TextFunctions.qualityStopwords]])
    *  - `rule_rep`:  distinct-token ratio >= repMilli/1000 (the paper's
    *    duplicate-word-fraction cap, inverted: word-spam documents
    *    repeat a tiny vocabulary)
    *  - `keep` = all of the above. Empty documents fail `rule_len`.
    */
  /** Compiled inputs of the gopher rules — one tokenize + one
    * HashSet-distinct pass per doc instead of four interpreted HOF
    * walks (9.3 s -> ~2 s for 2M docs, tools/ScanProf). Same counts as
    * the expression form: n, sum of token lengths, stopword hits,
    * distinct tokens.
    */
  private val gopherStopSet: Set[String] = qualityStopwords.toSet
  val gopherCountsUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String) => if (s == null) None else Some {
      val toks = alnumTokens(s)
      var sumLen = 0L; var stops = 0
      val uniq = scala.collection.mutable.HashSet.empty[String]
      var i = 0
      while (i < toks.length) {
        val t = toks(i)
        sumLen += t.length
        if (gopherStopSet.contains(t)) stops += 1
        uniq += t
        i += 1
      }
      (toks.length.toLong, sumLen, stops, uniq.size.toLong)
    })

  def gopherRules(df: DataFrame, textCol: String, minTokens: Int = 50,
      maxTokens: Int = 100000, minStopHits: Int = 2,
      repMilli: Int = 300): DataFrame = {
    val out = graft.functions.TextFunctions.bind(
      gopherCountsUdf(col(textCol))) { c =>
      val n = c.getField("_1")
      val sumLen = c.getField("_2")
      val stops = c.getField("_3")
      val uniq = c.getField("_4")
      struct(
        n.as("n_tokens"),
        (n >= minTokens && n <= maxTokens).as("rule_len"),
        (n > 0 && lit(3L) * n <= sumLen && sumLen <= lit(10L) * n)
          .as("rule_mean"),
        (stops >= minStopHits).as("rule_stop"),
        (n > 0 && lit(1000L) * uniq >= lit(repMilli.toLong) * n)
          .as("rule_rep"))
    }
    df.withColumn("__g", out)
      .withColumn("n_tokens", col("__g.n_tokens"))
      .withColumn("rule_len", col("__g.rule_len"))
      .withColumn("rule_mean", col("__g.rule_mean"))
      .withColumn("rule_stop", col("__g.rule_stop"))
      .withColumn("rule_rep", col("__g.rule_rep"))
      .withColumn("keep", col("__g.rule_len") && col("__g.rule_mean") &&
        col("__g.rule_stop") && col("__g.rule_rep"))
      .drop("__g")
  }

  /** Feature-hashed linear classifier score (fastText-style quality /
    * domain classifier): tokens hash into `dims` buckets, score = mean
    * bucket weight, label = score > 0. Entirely map-side (no vocabulary
    * join -- the hashing trick is what makes the classifier run at
    * corpus scale as a pure projection); integer weight sums keep the
    * score exactly reproducible cross-engine. Adds `clf_weight_sum`
    * (exact integer), `clf_score_micro` (floor of score * 1e6) and
    * `clf_keep` (score > 0).
    */
  /** hex8 of the column form, compiled: the first 4 md5 bytes as an
    * unsigned 32-bit value == conv(md5(s).substr(1,8), 16, 10).
    */
  private def hex8Jvm(md: java.security.MessageDigest,
      s: String): Long = {
    val d = md.digest(s.getBytes("UTF-8"))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** Compiled classifier pass: the bucket-weight table has only `dims`
    * entries, so it precomputes ONCE in the closure (the expression
    * form re-derived md5(seed:bucket) per TOKEN — two interpreted
    * digests per token per doc); per token one digest + one lookup.
    * Returns (weight_sum, n_tokens); same integers as the column-form
    * `hashedWeightSum` (test-scope reference) + size(tokens).
    */
  // memoized per (dims, seed): the UDF must be the SAME function
  // instance across query constructions, or two builds of the same
  // logical query stop canonicalizing equal — which silently defeats
  // CacheManager's plan-match substitution for any persisted frame
  // containing the classifier (a re-built pipeline re-ran its whole
  // upstream funnel: llm_pipeline2 warm 0.38 -> 1.31 s until this)
  private val clfUdfCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, String), org.apache.spark.sql.expressions.UserDefinedFunction]()

  def classifierCountsUdf(dims: Int, seed: String)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    clfUdfCache.computeIfAbsent((dims, seed), { key =>
      val (d0, s0) = key
      val md0 = java.security.MessageDigest.getInstance("MD5")
      val weights =
        Array.tabulate(d0)(b => hex8Jvm(md0, s"$s0:$b") % 2001 - 1000)
      udf((s: String) => if (s == null) None else Some {
        val toks = alnumTokens(s)
        val md = java.security.MessageDigest.getInstance("MD5")
        var sum = 0L; var i = 0
        while (i < toks.length) {
          sum += weights((hex8Jvm(md, toks(i)) % d0).toInt)
          i += 1
        }
        (sum, toks.length)
      })
    })

  def withClassifier(df: DataFrame, textCol: String, dims: Int = 64,
      seed: String = "clf"): DataFrame =
    df.withColumn("__cc", classifierCountsUdf(dims, seed)(col(textCol)))
      .withColumn("clf_weight_sum", col("__cc._1"))
      .withColumn("clf_score_micro",
        when(col("__cc._2") === 0, 0L).otherwise(
          floor(col("clf_weight_sum").cast("double") * 1000000.0 /
            (col("__cc._2").cast("double") * 1000.0)).cast("long")))
      .withColumn("clf_keep", col("clf_weight_sum") > 0)
      .drop("__cc")

  /** Split documents into overlapping token windows (training-sample
    * chunking): rows (original cols..., chunk_idx, chunk_text,
    * chunk_tokens). Stride < window gives overlap; the final partial
    * window is kept iff it starts before the text ends.
    */
  def chunkDocuments(df: DataFrame, textCol: String, window: Int,
      stride: Int): DataFrame = {
    require(window > 0 && stride > 0)
    val chunks = bind(tokens(col(textCol))) { toks =>
      val nChunks = greatest(
        ceil((size(toks) - window).cast("double") / stride).cast("int") + 1,
        lit(1))
      transform(sequence(lit(0), nChunks - 1), i =>
        struct(i.as("chunk_idx"),
          concat_ws(" ", slice(toks, i * stride + 1, lit(window)))
            .as("chunk_text"),
          least(size(toks) - i * stride, lit(window)).as("chunk_tokens")))
    }
    df.withColumn("c", explode(chunks))
      .select(col("*"), col("c.chunk_idx"), col("c.chunk_text"),
        col("c.chunk_tokens"))
      .drop("c")
  }

  /** Chunk -> mean-pooled document embedding in ONE compiled map-side
    * pass: tokenizes once, walks the [[chunkDocuments]] windows (same
    * window/stride/nChunks arithmetic), embeds each window with the
    * [[graft.embed.DeterministicEmbedder]] definition (bucket(token, d)
    * = u32(md5("token:d")[0..3]) % 10000; integer sum per chunk; ONE
    * double division + clamp), and mean-pools in chunk order (left
    * fold from 0.0 — bit-equal to meanPool's fold from the first
    * vector since 0.0 + v == v for the clamped non-negative values;
    * ONE division by nChunks). Replaces the chunk explode + embed UDF
    * + groupBy(doc) collect_list/sort/zip_with composition: the
    * per-chunk vector shuffle disappears and each distinct (token, d)
    * md5 is computed ONCE PER DOCUMENT instead of once per containing
    * chunk (overlapping windows re-hashed every token window/stride
    * ~1.3x, and repeated tokens again). LlmOpsSpec pins bit-equality
    * with the staged composition.
    */
  def chunkedMeanEmbeddingUdf(window: Int, stride: Int, dims: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    require(window > 0 && stride > 0 && dims > 0)
    udf((text: String) => {
      if (text == null) null
      else {
        val toks = alnumTokens(text)
        val n = toks.length
        val nChunks = math.max(
          math.ceil((n - window).toDouble / stride).toInt + 1, 1)
        val md = java.security.MessageDigest.getInstance("MD5")
        val memo = new java.util.HashMap[String, Array[Int]]()
        def bucketsOf(t: String): Array[Int] = {
          var b = memo.get(t)
          if (b == null) {
            b = new Array[Int](dims)
            var d0 = 0
            while (d0 < dims) {
              val dg = md.digest((t + ":" + d0).getBytes("UTF-8"))
              val h = ((dg(0) & 0xffL) << 24) | ((dg(1) & 0xffL) << 16) |
                ((dg(2) & 0xffL) << 8) | (dg(3) & 0xffL)
              b(d0) = (h % 10000L).toInt
              d0 += 1
            }
            memo.put(t, b)
          }
          b
        }
        val acc = new Array[Double](dims)
        var ci = 0
        while (ci < nChunks) {
          val start = ci * stride
          val end = math.min(start + window, n)
          // an empty trailing chunk embeds to zeros: adds nothing
          if (end > start) {
            val sums = new Array[Long](dims)
            var i = start
            while (i < end) {
              val b = bucketsOf(toks(i))
              var d0 = 0
              while (d0 < dims) { sums(d0) += b(d0); d0 += 1 }
              i += 1
            }
            val len = (end - start).toDouble
            var d0 = 0
            while (d0 < dims) {
              val v = sums(d0).toDouble / (len * 10000.0)
              acc(d0) += math.max(0.0, math.min(1.0, v))
              d0 += 1
            }
          }
          ci += 1
        }
        val out = new Array[Double](dims)
        var d0 = 0
        while (d0 < dims) { out(d0) = acc(d0) / nChunks.toDouble; d0 += 1 }
        out
      }
    })
  }

  /** Corpus vocabulary: token -> document frequency + total count
    * (the groupBy that feeds tokenizer training / stopword mining).
    *
    * @param idCol document identity for doc_freq; pass the table's id so
    *              exact-duplicate texts each count (None falls back to
    *              md5(text), which collapses duplicates).
    */
  def vocabulary(df: DataFrame, textCol: String,
      idCol: Option[String] = None): DataFrame =
    df.select(explode(tokensUdf(col(textCol))).as("token"),
      idCol.map(col).getOrElse(md5(col(textCol))).as("doc_key"))
      .groupBy("token")
      .agg(count(lit(1)).as("total_count"),
        countDistinct("doc_key").as("doc_freq"))

  /** Per-document keyword extraction: top-k terms by tf-idf with a
    * RATIONAL idf (score = tf/df; the corpus-constant N factor cancels
    * within a document's ranking). The rational form keeps the gate
    * hash-exact across engines: tf and df are integers, tf/df is ONE
    * correctly-rounded IEEE division (no libm), and equal rationals
    * (2/4 = 1/2) compare equal in both engines, falling through to the
    * deterministic term tie-break.
    *
    * Scale shape: explode -> (doc, term) count with map-side combine;
    * df re-aggregates that same frame (pinned once -- two consumers);
    * the term join shuffles 16-byte (term, df) rows, never text; the
    * per-doc top-k is one rank window on the doc key. No frame in the
    * chain carries the document body past the tokenizer.
    */
  def topTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val tf = graft.core.Caches.scoped(
      df.select(col(idCol).as("doc_key"),
          explode(tokens(col(textCol))).as("term"))
        .groupBy("doc_key", "term")
        .agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_key")
      .orderBy((col("tf").cast("double") / col("df")).desc, col("term"))
    tf.join(dfreq, Seq("term"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_key").as(idCol), col("term"), col("tf"), col("df"),
        col("rank"))
  }

  /** BM25 top-k document ranking for a bag of query terms (Robertson
    * k1/b form, idf = ln((N - df + 0.5)/(df + 0.5) + 1) as in Lucene).
    * Replaces keyword-overlap scoring (reference hybrid_executor.ml
    * V8/V9) with a principled ranked-retrieval scorer.
    *
    * Determinism across engines: each per-(doc, term) score is quantized
    * to integer MICROS before the per-doc sum, so float addition order
    * can't change the result; corpus stats (N, total length) ride a
    * broadcast 1-row frame -- no driver round-trip, whole thing is one
    * DAG. Scale shape: tf is one explode+filter+groupBy on (doc, term)
    * where the filter keeps ONLY query terms (tiny); df is a groupBy of
    * that; both broadcastable; final agg shuffles (doc) once; top-k is
    * TakeOrderedAndProject.
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    val terms = queryTerms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    // ONE corpus tokenize into a NARROW per-doc pin (r22, guide
    // §2.3/§2.4): (doc_id, dl, per-query-term tf) computed MAP-SIDE.
    // The previous pin cached the full token arrays (a second corpus
    // copy — the r21 cold overhead) and the tf branch paid an explode
    // + (doc, term) groupBy shuffle; per-doc term frequencies for a
    // handful of query terms need neither. The docLen attach join is
    // gone too — dl rides the tf rows.
    val termsArr = array(terms.map(lit): _*)
    val base = graft.core.Caches.scoped(
      df.select(col(idCol).as("doc_id"),
        bind(tokens(col(textCol))) { ws =>
          struct(size(ws).as("dl"),
            transform(termsArr, t =>
              struct(t.as("tok"),
                size(filter(ws, x => x === t)).as("tf"))).as("tfs"))
        }.as("__b"))
        .select(col("doc_id"), col("__b.dl").as("dl"),
          col("__b.tfs").as("tfs")))
    val stats = base.agg(count(lit(1)).as("n_docs"),
      sum(col("dl").cast("long")).as("dl_sum"))
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("tfs")).as("t"))
      .select(col("doc_id"), col("dl"), col("t.tok").as("tok"),
        col("t.tf").cast("long").as("tf"))
      .where(col("tf") > 0)
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val avgdl = col("dl_sum").cast("double") / col("n_docs").cast("double")
    val idf = log((col("n_docs").cast("double") - col("df") + 0.5) /
      (col("df") + 0.5) + 1.0)
    val termScore = idf * (col("tf") * (k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl").cast("double") / avgdl))
    tf.join(broadcast(dfreq), "tok")
      .crossJoin(broadcast(stats))
      .withColumn("term_score_micro",
        floor(termScore * 1000000).cast("long"))
      .groupBy("doc_id")
      .agg(sum("term_score_micro").as("score_micro"))
      .orderBy(desc("score_micro"), col("doc_id"))
      .limit(k)
  }

  /** Gopher-style intra-document repetition signals (Rae et al. 2021,
    * public literature): documents dominated by a repeated token, bigram,
    * or duplicated trigram spans are low-quality boilerplate. Ratios are
    * single divisions of exact integer counts, so any SQL oracle
    * reproduces them bit-for-bit:
    *   - top_token_frac   = count(most frequent token) / n_tokens
    *   - top_bigram_frac  = count(most frequent bigram) / n_bigrams
    *   - dup_trigram_frac = (n_trigrams - distinct_trigrams) / n_trigrams
    *
    * Scale shape: ONE compiled map-side pass per document (a counting
    * HashMap over the token list) -- no explode, no shuffle; the signals
    * land as plain columns a quality cut can filter on. The UDF returns
    * all counts in one struct and is marked non-deterministic as an
    * evaluate-once barrier (the repo's documented CollapseProject
    * re-evaluation hazard: six field references would otherwise inline
    * six copies of the counting pass).
    */
  private val repetitionOnce = udf((s: String) => if (s == null) None
    else Some {
      // tokenize INSIDE the pass (r19): the interpreted tokens() HOF
      // feeding this UDF was 3/4 of its wall (33 s -> ~8 s for 2M
      // docs, tools/ScanProf); counts unchanged
      val ws = alnumTokens(s)
      val tokC = scala.collection.mutable.HashMap.empty[String, Int]
      ws.foreach(t => tokC.update(t, tokC.getOrElse(t, 0) + 1))
      val topTok = if (tokC.isEmpty) 0 else tokC.valuesIterator.max
      val biC = scala.collection.mutable.HashMap.empty[String, Int]
      var i = 0
      while (i + 1 < ws.length) {
        val b = ws(i) + " " + ws(i + 1)
        biC.update(b, biC.getOrElse(b, 0) + 1)
        i += 1
      }
      val topBi = if (biC.isEmpty) 0 else biC.valuesIterator.max
      val triSet = scala.collection.mutable.HashSet.empty[String]
      i = 0
      while (i + 2 < ws.length) {
        triSet += (ws(i) + " " + ws(i + 1) + " " + ws(i + 2))
        i += 1
      }
      (topTok, ws.length, topBi, math.max(ws.length - 1, 0),
        triSet.size, math.max(ws.length - 2, 0))
    }).asNondeterministic()

  def withRepetition(df: DataFrame, textCol: String): DataFrame = {
    def frac(num: Column, den: Column): Column =
      when(den === 0, 0.0)
        .otherwise(num.cast("double") / den.cast("double"))
    df.withColumn("__rep", repetitionOnce(col(textCol)))
      .withColumn("top_token_frac", frac(col("__rep._1"), col("__rep._2")))
      .withColumn("top_bigram_frac", frac(col("__rep._3"), col("__rep._4")))
      .withColumn("dup_trigram_frac",
        frac(col("__rep._6") - col("__rep._5"), col("__rep._6")))
      .drop("__rep")
  }

  /** Collocation (phrase) mining: top-k adjacent-token bigrams by a
    * PMI-style lift ratio, lift = N * C(xy) / (C(x) * C(y)) with N =
    * total bigram count -- the standard PMI without the log (log is
    * monotone, so the RANKING is identical and the score stays ONE
    * double division of exact integer products: bit-reproducible in any
    * engine, unlike ln()). Ordering and the top-k cut compare the
    * QUANTIZED lift (micros), so float last-bits can't reorder ties.
    *
    * Scale shape: one explode+groupBy on the bigram key and one on the
    * token key; two key-partitioned joins to attach unigram counts (the
    * vocab side is groupBy output -- AQE broadcasts it when small);
    * corpus total rides a broadcast 1-row frame; top-k is
    * TakeOrderedAndProject. No driver loops, no windows.
    */
  def collocations(df: DataFrame, textCol: String, minCount: Int,
      k: Int): DataFrame = {
    // ONE corpus tokenize into ONE aggregated pin (r22, guide §2.3):
    // every row of a doc's tagged stream — kind 0 = bigram, kind 1 =
    // unigram, kind 2 = the doc's bigram-slot count — goes through a
    // single (kind, key) groupBy whose map-side partial combine shrinks
    // the shuffle to vocabulary size; the pinned frame is that tiny
    // aggregate. The previous pin cached the full token ARRAYS (a
    // second corpus copy — the r21 cold overhead) and still paid three
    // separate aggregation passes over it.
    val t = graft.functions.TextFunctions
    val counts = graft.core.Caches.scoped(
      df.select(explode(bind(tokens(col(textCol))) { ws =>
          concat(
            transform(t.shingles(ws, 2), bg =>
              struct(lit(0).as("kind"), bg.as("key"))),
            transform(ws, w => struct(lit(1).as("kind"), w.as("key"))),
            array(struct(lit(2).as("kind"),
              greatest(size(ws) - 1, lit(0)).cast("string").as("key"))))
        }).as("e"))
        .groupBy(col("e.kind").as("kind"), col("e.key").as("key"))
        .agg(count(lit(1)).as("c")))
    val bi = counts.where(col("kind") === 0)
      .select(col("key").as("bigram"), col("c").as("c12"))
      .where(col("c12") >= minCount)
    val uni = counts.where(col("kind") === 1)
      .select(col("key").as("tok"), col("c").as("c1"))
    // kind-2 keys are per-doc bigram-slot counts as strings; the corpus
    // total is sum(key * docs-with-that-count)
    val total = counts.where(col("kind") === 2)
      .agg(sum(col("key").cast("long") * col("c")).as("n_bi"))
    // tokens contain no spaces (tokenizer splits on non-alnum), so the
    // bigram splits back losslessly.
    bi.withColumn("t1", split(col("bigram"), " ").getItem(0))
      .withColumn("t2", split(col("bigram"), " ").getItem(1))
      .join(uni.select(col("tok").as("t1"), col("c1")), Seq("t1"))
      .join(uni.select(col("tok").as("t2"), col("c1").as("c2")), Seq("t2"))
      .crossJoin(broadcast(total))
      // per-FACTOR double casts (not an int64 product that could wrap at
      // petabyte corpus sizes): double multiply/divide is IEEE-exact the
      // same way in every engine, so parity is unaffected.
      .withColumn("lift_micro",
        floor(col("n_bi").cast("double") * col("c12").cast("double") /
          (col("c1").cast("double") * col("c2").cast("double")) * 1000000)
          .cast("long"))
      .select(col("bigram"), col("c12"), col("c1"), col("c2"),
        col("lift_micro"))
      .orderBy(desc("lift_micro"), col("bigram"))
      .limit(k)
  }

  /** BPE tokenizer-training primitive (Sennrich et al. 2016, "Neural
    * Machine Translation of Rare Words with Subword Units", public
    * literature): the first training round's merge-candidate table --
    * adjacent character-pair counts over the corpus, weighted by word
    * frequency, top-k by count (pair asc tiebreak).
    *
    * Scale shape: BPE trains on the DISTINCT-word frequency table, the
    * standard Zipf compression -- at 100 TB the corpus has ~1e11 tokens
    * but ~1e7-1e8 distinct words, so after the one word-count shuffle
    * every later round of training touches only the compressed table.
    * Pair extraction is map-side (2-char windows of each word); the
    * pair-count groupBy key space is bounded by alphabet-squared
    * (<= 36^2 here -- tokens are [a-z0-9]+), so the final rank window
    * over the pair table is over a bounded frame, never the corpus.
    */
  /** Multi-round BPE training (the real merge loop, distributed): per
    * round, count adjacent symbol pairs over the distinct-word frequency
    * table, pick the argmax (count desc, pair asc -- the space separator
    * sorts below [a-z0-9], so space-joined pair order IS (left, right)
    * tuple order), merge every non-overlapping occurrence left-to-right,
    * repeat. Returns the merge table (round, pair, cnt).
    *
    * Words are carried as `..`-delimited symbol strings ("ab c" ->
    * "..a..b.." / "..c..") and a merge of pair (a, b) is the plain
    * string replace of ".a..b." with ".ab." -- each match consumes one
    * dot from each flanking boundary, so back-to-back matches still see
    * their leading dot and left-to-right non-overlapping replace
    * implements exactly the BPE merge scan ("aaa" + (a,a) -> "aa a",
    * "babab" + (a,b) -> "b ab ab"). Symbols are [a-z0-9]+ so the
    * delimiter can never collide. The per-round argmax is a 1-row
    * collect (bounded by `rounds`, the trainCentroids pattern); the
    * word table stays distributed throughout.
    *
    * Scale shape: same as [[bpePairCounts]] -- everything after the one
    * word-count shuffle runs over the Zipf-compressed distinct-word
    * table; each round is one map-side pair explode + one bounded-key
    * groupBy + one map-side string replace.
    */
  def bpeTrain(df: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val spark = df.sparkSession
    val t = graft.functions.TextFunctions
    // The merge loop is iterative: each round's argmax action would
    // otherwise re-tokenize the whole corpus through the state lineage.
    // The state is the distinct-word table (Zipf-compressed), so
    // persisting it is cheap and every later round recomputes only the
    // map-side replace chain. Spark evicts LRU; not unpersisting is
    // safe for a session (the packSequences convention).
    var state = graft.core.Caches.scoped(df
      .select(explode(t.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .select(concat(regexp_replace(col("w"), "(.)", "..$1"), lit(".."))
        .as("s"), col("wc")))
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val best = state
        .select(filter(split(col("s"), "\\.\\."), x => x =!= "").as("sy"),
          col("wc"))
        .where(size(col("sy")) >= 2)
        .select(explode(transform(sequence(lit(0), size(col("sy")) - 2),
          i => concat(element_at(col("sy"), i + 1), lit(" "),
            element_at(col("sy"), i + 2)))).as("pair"), col("wc"))
        .groupBy("pair").agg(sum(col("wc")).as("cnt"))
        .orderBy(desc("cnt"), col("pair"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val pair = best(0).getString(0)
        val cnt = best(0).getLong(1)
        merges += ((r.toLong, pair, cnt))
        val Array(a, b) = pair.split(" ", 2)
        // no re-agg: the symbol string determines the word (strip dots),
        // so distinct words stay distinct -- the merge is pure map-side
        state = state.withColumn("s",
          expr(s"replace(s, '.$a..$b.', '.$a$b.')"))
      }
      r += 1
    }
    import spark.implicits._
    merges.toSeq.toDF("round", "pair", "cnt")
  }

  /** Batched BPE training (the public parallel-BPE formulation): per
    * round, count pairs ONCE, then greedily select up to `perRound`
    * mutually symbol-disjoint pairs in (cnt desc, pair asc) order and
    * apply them all in one map-side replace chain. Symbol-disjointness
    * makes the batch exact: merging (a,b) can only create or destroy
    * occurrences of pairs that mention a, b, or the new symbol ab, so
    * the pre-batch counts and occurrence sites of every other selected
    * pair are invariant -- each round's selection equals what sequential
    * BPE would pick if restricted to disjoint pairs. The trade vs
    * [[bpeTrain]]: a pair CREATED by a merge can't be picked until the
    * next round. Driver actions per training run drop from `merges` to
    * `rounds` -- the sub-linear wall-clock that makes 10^4-merge
    * vocabularies practical (the per-merge argmax action is what caps
    * bpeTrain).
    *
    * Returns (round, rank, pair, cnt); rank is the 1-based selection
    * order within the round. The candidate pool per round is a bounded
    * 512-row collect; selection failing to fill `perRound` slots from it
    * throws rather than silently diverging from an oracle that selects
    * from the unbounded pair table.
    */
  def bpeTrainBatched(df: DataFrame, textCol: String, rounds: Int,
      perRound: Int, requireFull: Boolean = true,
      targetMerges: Int = Int.MaxValue): DataFrame = {
    require(rounds > 0 && perRound > 0, "rounds and perRound must be > 0")
    val spark = df.sparkSession
    val t = graft.functions.TextFunctions
    var state = graft.core.Caches.scoped(df
      .select(explode(t.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .select(concat(regexp_replace(col("w"), "(.)", "..$1"), lit(".."))
        .as("s"), col("wc")))
    val merges =
      scala.collection.mutable.ArrayBuffer[(Long, Long, String, Long)]()
    var r = 0
    while (r < rounds && merges.length < targetMerges) {
      r += 1
      val pool = state
        .select(filter(split(col("s"), "\\.\\."), x => x =!= "").as("sy"),
          col("wc"))
        .where(size(col("sy")) >= 2)
        .select(explode(transform(sequence(lit(0), size(col("sy")) - 2),
          i => concat(element_at(col("sy"), i + 1), lit(" "),
            element_at(col("sy"), i + 2)))).as("pair"), col("wc"))
        .groupBy("pair").agg(sum(col("wc")).as("cnt"))
        .orderBy(desc("cnt"), col("pair"))
        .limit(512).collect()
      val used = scala.collection.mutable.Set[String]()
      var rank = 0
      val want = math.min(perRound, targetMerges - merges.length)
      val it = pool.iterator
      while (rank < want && it.hasNext) {
        val row = it.next()
        val pair = row.getString(0)
        val Array(a, b) = pair.split(" ", 2)
        if (!used(a) && !used(b)) {
          rank += 1
          merges += ((r.toLong, rank.toLong, pair, row.getLong(1)))
          used += a
          used += b
        }
      }
      // strict mode (gates/small batches): under-filling throws rather
      // than silently diverging from an oracle. Relaxed mode
      // (requireFull=false, the 1k-merge production shape): early
      // rounds are ALPHABET-BOUNDED -- n distinct symbols admit at most
      // n/2 disjoint pairs, so a 16-symbol hex stream caps round 1 at 8
      // merges no matter how large perRound is; the batch simply takes
      // every disjoint pair available and the inventory grows with each
      // round. An empty round means the corpus is exhausted.
      require(!requireFull || rank == want,
        s"round $r: only $rank of $want disjoint pairs in the " +
          "512-pair pool -- corpus exhausted or pool too small")
      if (rank == 0) r = rounds // exhausted: stop
      else {
        // one map-side literal-replace chain for the whole batch, applied
        // in selection order (symbols are [a-z0-9]+ -- no quoting hazard)
        val exprStr = merges.takeRight(rank)
          .foldLeft("s") { case (e, (_, _, pair, _)) =>
            val Array(a, b) = pair.split(" ", 2)
            s"replace($e, '.$a..$b.', '.$a$b.')"
          }
        state = state.withColumn("s", expr(exprStr))
        // Deep-vocabulary lineage control: without a checkpoint the
        // round-k pool query replays k*perRound nested replace calls
        // from the persisted base -- O(rounds*merges) recompute and, past
        // ~1e3 nested calls, a Catalyst tree too deep to analyze/codegen.
        // Persisting the REPLACED state every 8 rounds bounds every
        // plan's replace depth to <= 8*perRound regardless of total
        // merges -- the property that makes 10^4-merge vocabularies
        // plan-stable, not just action-count-stable.
        if (r % 8 == 0) {
          state = graft.core.Caches.scoped(state)
          state.count()
        }
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("round", "rank", "pair", "cnt")
  }

  /** BPE encode (the apply half of [[bpeTrain]]): segment every doc's
    * words with an already-trained merge list and return per-doc BPE
    * token counts -- the "how many tokens is this corpus under my
    * tokenizer" primitive that drives packing capacities and token
    * budgets. Merges apply in training order via the same dot-delimited
    * greedy string replace as training.
    *
    * Scale shape: the merge chain runs once per DISTINCT word (the Zipf
    * compression again), producing a (word, n_syms) table that joins
    * back to the per-doc word explode -- a broadcast-sized table for
    * real vocabularies. Docs with no tokens keep a defined row
    * (n_words = 0, bpe_tokens = 0).
    */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[String]): DataFrame = {
    val t = graft.functions.TextFunctions
    // measured r22: pinning a (doc, word, count) aggregate instead of
    // the raw stream LOST the A/B on this low-repetition corpus (the
    // (id, w) groupBy adds an exchange that count-compression cannot
    // pay back). Kept as the r20 shape.
    val words = df.select(col(idCol).as("id"),
      explode(t.tokens(col(textCol))).as("w"))
    // distinct-word table: persisted for the same reason as bpeTrain's
    // state (the nsyms join would re-run the corpus explode + distinct)
    var seg = graft.core.Caches.scoped(words.select(col("w")).distinct())
      .select(col("w"),
        concat(regexp_replace(col("w"), "(.)", "..$1"), lit(".."))
          .as("s"))
    merges.foreach { pair =>
      val Array(a, b) = pair.split(" ", 2)
      seg = seg.withColumn("s", expr(s"replace(s, '.$a..$b.', '.$a$b.')"))
    }
    val nsyms = seg.select(col("w"),
      size(filter(split(col("s"), "\\.\\."), x => x =!= ""))
        .cast("long").as("n_syms"))
    val agg = words.join(broadcast(nsyms), Seq("w"))
      .groupBy("id")
      .agg(count(lit(1)).as("__nw"), sum(col("n_syms")).as("__nt"))
    df.select(col(idCol).as("id"))
      .join(agg, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("__nw"), lit(0L)).as("n_words"),
        coalesce(col("__nt"), lit(0L)).as("bpe_tokens"))
  }

  /** Trainable Naive-Bayes text classifier -- the "quality / domain
    * classifier trained on labeled seed data" stage of a curation
    * pipeline (Brown et al. 2020 appendix A's LR filter, DCLM's fastText
    * filter; public literature). Multinomial NB, add-one smoothing,
    * binary label. Unlike [[withClassifier]] (fixed hashed weights,
    * pure inference) this TRAINS the model from `labeled` and then
    * scores `docs` with it.
    *
    * Training is pure aggregation: one explode+groupBy(token) over the
    * labeled seed yields per-class occurrence counts; class totals and
    * the vocabulary size ride a broadcast one-row frame. Each token's
    * log-likelihood ratio ln(P(t|+)/P(t|-)) is ONE ln of an exactly
    * representable rational -- the integer products stay far below 2^53
    * and the division is a single correctly-rounded IEEE op -- floored
    * to integer MICROS before any summation (the BM25 determinism
    * pattern), so a SQL oracle reproduces every score bit-exactly.
    *
    * Scoring is the 100 TB shape: the model is bounded by the SEED
    * vocabulary (labeled data is small by definition -- it was labeled
    * by hand or by an expensive teacher), so it broadcasts; the corpus
    * side is one tokenize+explode+broadcast-join+groupBy(id) -- a single
    * shuffle keyed on the document id, no corpus-sized join ever. OOV
    * tokens contribute 0 (dropping them keeps the model join INNER and
    * broadcastable; with add-one smoothing their true contribution is a
    * class-constant that the decision threshold absorbs).
    *
    * Output: one row per `docs` row: (idCol, nb_llr_micro, nb_pred)
    * where nb_llr_micro = prior_micro + sum of per-OCCURRENCE token
    * llr_micro (multinomial: repeated tokens count each time) and
    * nb_pred = nb_llr_micro > 0.
    */
  def nbClassify(docs: DataFrame, labeled: DataFrame, idCol: String,
      textCol: String, labelCol: String): DataFrame = {
    val t = graft.functions.TextFunctions
    val seedToks = labeled.select(col(labelCol).as("pos"),
      explode(t.tokens(col(textCol))).as("token"))
    // persisted: consumed by both the totals aggregate and the llr
    // projection -- without the pin the seed explode runs twice.
    val counts = graft.core.Caches.scoped(
      seedToks.groupBy("token").agg(
        sum(when(col("pos"), 1L).otherwise(0L)).as("pc"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("nc")))
    val tot = counts.agg(sum("pc").as("tp"), sum("nc").as("tn"),
      count(lit(1)).as("v"))
    val prior = labeled.agg(
      floor(log((sum(when(col(labelCol), 1L).otherwise(0L)) + lit(1.0)) /
        (sum(when(!col(labelCol), 1L).otherwise(0L)) + lit(1.0)))
        * 1000000.0).cast("long").as("prior_micro"))
    val model = counts.crossJoin(broadcast(tot))
      .select(col("token"),
        floor(log(((col("pc") + lit(1.0)) * (col("tn") + col("v"))) /
          ((col("nc") + lit(1.0)) * (col("tp") + col("v")))) * 1000000.0)
          .cast("long").as("llr_micro"))
    val docToks = docs.select(col(idCol).as("id"),
      explode(t.tokens(col(textCol))).as("token"))
    val sums = docToks.join(broadcast(model), Seq("token"))
      .groupBy("id").agg(sum("llr_micro").as("__s"))
    docs.select(col(idCol).as("id"))
      .join(sums, Seq("id"), "left")
      .crossJoin(broadcast(prior))
      .select(col("id").as(idCol),
        (coalesce(col("__s"), lit(0L)) + col("prior_micro"))
          .as("nb_llr_micro"),
        ((coalesce(col("__s"), lit(0L)) + col("prior_micro")) > 0)
          .as("nb_pred"))
  }

  def bpePairCounts(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val t = graft.functions.TextFunctions
    val wc = df
      .select(explode(t.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
    val pc = wc.where(length(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"), col("wc"))
      .groupBy("pair").agg(sum(col("wc")).as("cnt"))
    pc.select(col("pair"), col("cnt"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(desc("cnt"), col("pair"))).cast("long").as("rk"))
      .where(col("rk") <= k)
  }
}
