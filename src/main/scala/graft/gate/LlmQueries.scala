package graft.gate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions
import graft.llmops.{Ann, Curation, Dedup, Multimodal, TextAnalysis, Web}

/** LLM-data-pipeline gate queries over the driver's documents/embeddings
  * tables, each with an exact DuckDB oracle. The oracles re-implement the
  * md5-based primitives in pure SQL, so a hash-match proves the whole
  * Spark pipeline (tokenize -> shingle -> hash -> band -> join) computes
  * the documented algorithm, not merely something self-consistent.
  */
object LlmQueries {

  // DuckDB token list for lower(text) split on non-alnum runs.
  private val duckToks =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"

  // Shared multi-line synthesis for the C4 gates: 8-token lines, 2 of
  // every 3 get terminal punctuation, %5 javascript / %11 lorem-ipsum /
  // %13 curly-brace injections (see llm_c4_clean). Carries lang for the
  // downstream classifier capstone.
  private def c4Synth(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nLines = greatest(floor((size(toks) + lit(7)) / lit(8)), lit(1L))
    val lines = transform(sequence(lit(0L), nLines - 1), j =>
      concat(array_join(slice(toks, (j * 8 + 1).cast("int"), lit(8)), " "),
        when(pmod(j, lit(3)) < 2, lit(".")).otherwise(lit(""))))
    val withJs = when(col("doc_id") % 5 === 0,
      concat(array(lit("javascript boilerplate nav menu footer link.")),
        lines)).otherwise(lines)
    val withTail = when(col("doc_id") % 11 === 0,
      concat(withJs,
        array(lit("lorem ipsum dolor sit amet consectetur adipiscing."))))
      .otherwise(when(col("doc_id") % 13 === 0,
        concat(withJs, array(lit("function demo { return nothing }."))))
        .otherwise(withJs))
    docs.select(col("doc_id"), col("lang"),
      array_join(withTail, "\n").as("text"))
  }

  // Shared C4 synthesis + line-filter CTE chain, ending at
  // kept(doc_id, text, n_lines, kl) — the SQL twin of c4Synth +
  // Web.c4LineClean's line rules (doc rules stay in the consumers).
  private lazy val c4KeptCtes =
    s"""t AS (SELECT doc_id, $duckToks AS ws FROM documents),
          base AS (
            SELECT doc_id, list_transform(
              range(0, greatest(CAST(floor((len(ws) + 7) / 8) AS BIGINT),
                1)), j ->
              array_to_string(list_slice(ws, CAST(j*8+1 AS INT),
                CAST(j*8+8 AS INT)), ' ') ||
              CASE WHEN j % 3 < 2 THEN '.' ELSE '' END) AS lines
            FROM t),
          withjs AS (
            SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN
              list_prepend('javascript boilerplate nav menu footer link.',
                lines) ELSE lines END AS lines
            FROM base),
          synth AS (
            SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN
                list_append(lines,
                  'lorem ipsum dolor sit amet consectetur adipiscing.')
              WHEN doc_id % 13 = 0 THEN
                list_append(lines, 'function demo { return nothing }.')
              ELSE lines END AS lines
            FROM withjs),
          kept AS (
            SELECT doc_id, array_to_string(lines, chr(10)) AS text,
              len(lines) AS n_lines,
              list_filter(lines, l ->
                substr(trim(l), -1, 1) IN ('.', '!', '?', '"')
                AND len(list_filter(
                  string_split_regex(trim(l), '\\s+'), x -> x <> '')) >= 5
                AND NOT contains(lower(l), 'javascript')) AS kl
            FROM synth)"""

  // NB retraining + scoring chain over relation `src` (must expose
  // doc_id, lang, text): per-class token counts on the labeled third,
  // add-one smoothing, micro-floored llr, ending at sums(doc_id, s) +
  // prior(prior_micro). Consumers attach their own final SELECT.
  private def nbScoreCtes(src: String): String =
    s"""lab AS (
            SELECT (lang = 'en') AS pos, $duckToks AS ws
            FROM $src WHERE doc_id % 3 = 0),
          ltok AS (SELECT pos, unnest(ws) AS token FROM lab),
          counts AS (
            SELECT token,
              CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS pc,
              CAST(SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT)
                AS nc
            FROM ltok GROUP BY token),
          tot AS (
            SELECT CAST(SUM(pc) AS BIGINT) AS tp,
              CAST(SUM(nc) AS BIGINT) AS tn, COUNT(*) AS v FROM counts),
          prior AS (
            SELECT CAST(FLOOR(ln(
                (CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE)
                  + 1.0) /
                (CAST(SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS DOUBLE)
                  + 1.0)) * 1000000.0) AS BIGINT) AS prior_micro
            FROM lab),
          model AS (
            SELECT token, CAST(FLOOR(ln(
                ((CAST(pc AS DOUBLE) + 1.0) * CAST(tn + v AS DOUBLE)) /
                ((CAST(nc AS DOUBLE) + 1.0) * CAST(tp + v AS DOUBLE)))
              * 1000000.0) AS BIGINT) AS llr_micro
            FROM counts, tot),
          dtok AS (
            SELECT doc_id, unnest(ws) AS token FROM
              (SELECT doc_id, $duckToks AS ws FROM $src)),
          sums AS (
            SELECT d.doc_id, CAST(SUM(m.llr_micro) AS BIGINT) AS s
            FROM dtok d JOIN model m USING (token) GROUP BY d.doc_id)"""

  // Shared CTE chain recomputing the winnowing selection (8-gram md5s,
  // window 4, rightmost-min per window, distinct): ends at
  // `seld(doc_id, p, h)` with `hp` exposing (doc_id, nh, p, h). Used by
  // llm_winnow (per-doc digest) and llm_winnow_pairs (candidate join).
  private val winnowSeldCtes =
    s"""toks AS (SELECT doc_id, $duckToks AS ws FROM documents),
          hs AS (
            SELECT doc_id,
              CASE WHEN len(ws) < 8 THEN
                [md5(COALESCE(array_to_string(ws, ' '), ''))]
              ELSE list_transform(range(1, len(ws) - 6), d ->
                md5(array_to_string(
                  list_slice(ws, CAST(d AS INT), CAST(d + 7 AS INT)),
                  ' ')))
              END AS hl
            FROM toks),
          hp AS (
            SELECT doc_id, nh, u.p AS p, u.h AS h FROM (
              SELECT doc_id, len(hl) AS nh,
                unnest(list_transform(range(1, len(hl) + 1), d ->
                  {'p': CAST(d - 1 AS BIGINT),
                   'h': hl[CAST(d AS INT)]})) AS u
              FROM hs)),
          wins AS (
            SELECT doc_id, p, h,
              unnest(range(greatest(0, p - least(4, nh) + 1),
                least(p, nh - least(4, nh)) + 1)) AS q
            FROM hp),
          mins AS (
            SELECT doc_id, q, min(h) AS mh FROM wins GROUP BY 1, 2),
          sel AS (
            SELECT w.doc_id AS doc_id, MAX(w.p) AS p, m.mh AS h
            FROM wins w JOIN mins m
              ON w.doc_id = m.doc_id AND w.q = m.q AND w.h = m.mh
            GROUP BY w.doc_id, w.q, m.mh),
          seld AS (SELECT DISTINCT doc_id, p, h FROM sel)"""

  // Shared CTE chain recomputing MinHash+LSH near-dup candidates and
  // their exact Jaccard (`verified(id_a, id_b, j)`): tokenize -> 3-gram
  // shingles -> 8 seeded md5-min signatures -> 2 bands of 4 -> band-key
  // candidates -> set Jaccard. llm_minhash_pairs selects the >= 0.8
  // pairs; llm_dup_clusters builds its transitive closure on top.
  private lazy val minhashBandedCtes =
    s"""toks AS (
            SELECT doc_id, $duckToks AS ws FROM documents),
          sh AS (
            SELECT doc_id,
              CASE WHEN len(ws) < 3 THEN []
                ELSE list_transform(range(1, len(ws) - 1), i ->
                  ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT)+1] || ' ' ||
                  ws[CAST(i AS INT)+2]) END AS sh
            FROM toks WHERE len(ws) >= 3),
          sig AS (
            SELECT doc_id, sh,
              list_transform(range(0, 8), s ->
                list_min(list_transform(sh, x ->
                  md5(CAST(s AS VARCHAR) || ':' || x)))) AS sig
            FROM sh),
          banded AS (
            SELECT doc_id, sh, CAST(b AS INT) AS band,
              md5(sig[CAST(b*4+1 AS INT)] || ',' || sig[CAST(b*4+2 AS INT)] ||
                  ',' || sig[CAST(b*4+3 AS INT)] || ',' ||
                  sig[CAST(b*4+4 AS INT)]) AS band_hash
            FROM sig, (VALUES (0), (1)) bands(b))"""

  private def minhashVerifyCtes(candSql: String) =
    s"""$candSql,
          verified AS (
            SELECT id_a, id_b,
              CAST(len(list_intersect(list_distinct(sh_a),
                                      list_distinct(sh_b))) AS DOUBLE) /
              CAST(len(list_distinct(sh_a || sh_b)) AS DOUBLE) AS j
            FROM cand)"""

  private lazy val minhashPairsCtes =
    s"""$minhashBandedCtes,
          ${minhashVerifyCtes(
      s"""cand AS (
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
              l.sh AS sh_a, r.sh AS sh_b
            FROM banded l JOIN banded r
              ON l.band = r.band AND l.band_hash = r.band_hash
             AND l.doc_id < r.doc_id)""")}"""

  // The hot-band-capped chain: pop count per (band, band_hash), hot
  // buckets (pop > cap) sub-split via md5(id)-mod-ceil(pop/cap) — the
  // identical integer/md5 arithmetic the engine runs.
  private lazy val minhashCappedCtes =
    s"""$minhashBandedCtes,
          pops AS (
            SELECT band, band_hash, COUNT(*) AS n
            FROM banded GROUP BY 1, 2),
          bsub AS (
            SELECT b.doc_id, b.sh, b.band, b.band_hash,
              CASE WHEN p.n > $minhashMaxBandPop THEN
                CAST(('0x' || substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 14))
                  AS BIGINT)
                % CAST(CEIL(CAST(p.n AS DOUBLE)
                    / $minhashMaxBandPop) AS BIGINT)
              ELSE 0 END AS sub
            FROM banded b JOIN pops p USING (band, band_hash)),
          ${minhashVerifyCtes(
      s"""cand AS (
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
              l.sh AS sh_a, r.sh AS sh_b
            FROM bsub l JOIN bsub r
              ON l.band = r.band AND l.band_hash = r.band_hash
             AND l.sub = r.sub AND l.doc_id < r.doc_id)""")}"""

  // DuckDB: parse `nchars` hex chars of an EXISTING hex string `e`
  // starting at 1-based `start` into a non-negative integer.
  private def duckHexAt(e: String, start: Int, nchars: Int): String =
    s"""CAST(list_sum(list_transform(range(1, ${nchars + 1}), i ->
        (strpos('0123456789abcdef',
           substr($e, CAST(i + ${start - 1} AS INT), 1)) - 1)
          * CAST(16 ** ($nchars - i) AS BIGINT))) AS BIGINT)"""

  // DuckDB: first-8-hex-chars-of-md5 -> unsigned 32-bit integer.
  private def duckHex8(e: String): String =
    s"""CAST(list_sum(list_transform(range(1, 9), i ->
        (strpos('0123456789abcdef', substr(md5($e), CAST(i AS INT), 1)) - 1)
          * CAST(16 ** (8 - i) AS BIGINT))) AS BIGINT)"""

  /** Shared CTE chain replaying LearnedEmbeddings' training pipeline
    * (vocab 50, window 3, dims 4, seed "emb") up to `e`(token, dim,
    * e_micro): skip-gram pairs mirroring the Spark flatten/transform
    * construction, vocab cut with token tie-break, PPMI cells floored
    * to micros BEFORE the signed integer projection sums.
    */
  private lazy val learnedEmbCtes: String = {
    val signHex = duckHex8("'emb:' || c || ':' || CAST(dim AS VARCHAR)")
    s"""t AS (SELECT doc_id, $duckToks AS ws FROM documents),
       pr AS (
         SELECT unnest(flatten(list_transform(range(1, len(ws) + 1), i ->
           list_transform(list_filter(
               range(GREATEST(i - 3, 1), LEAST(i + 3, len(ws)) + 1),
               j -> j <> i),
             j -> {'t': ws[CAST(i AS INT)],
                   'c': ws[CAST(j AS INT)]})))) AS p
         FROM t WHERE len(ws) > 0),
       vocab AS (
         SELECT token FROM (SELECT unnest(ws) AS token FROM t)
         GROUP BY token ORDER BY COUNT(*) DESC, token LIMIT 50),
       vp AS (
         SELECT p.t AS t, p.c AS c FROM pr
         WHERE p.t IN (SELECT token FROM vocab)
           AND p.c IN (SELECT token FROM vocab)),
       cooc AS (SELECT t, c, COUNT(*) AS cnt FROM vp GROUP BY t, c),
       marg AS (SELECT t, CAST(SUM(cnt) AS BIGINT) AS m
                FROM cooc GROUP BY t),
       tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tt FROM cooc),
       pcells AS (
         SELECT * FROM (
           SELECT co.t, co.c,
             CAST(FLOOR(ln((CAST(co.cnt AS DOUBLE) * tot.tt) /
               (CAST(mt.m AS DOUBLE) * mc.m)) * 1000000.0) AS BIGINT)
               AS pm
           FROM cooc co
           JOIN marg mt ON mt.t = co.t
           JOIN marg mc ON mc.t = co.c
           CROSS JOIN tot)
         WHERE pm > 0),
       dims AS (SELECT CAST(d AS INT) AS dim
                FROM (VALUES (0), (1), (2), (3)) v(d)),
       e AS (
         SELECT t AS token, dim,
           CAST(SUM(pm * (CASE WHEN $signHex % 2 = 0
             THEN 1 ELSE -1 END)) AS BIGINT) AS e_micro
         FROM pcells, dims GROUP BY t, dim)"""
  }

  /** DuckDB replica of TextAnalysis's composite quality score, as a
    * scalar over a relation exposing `text` + `ws` (tokenized) columns.
    * Shared by llm_quality (micro-quantized output) and llm_pipeline
    * (micro-quantized filter).
    */
  private def duckQualityScore: String = {
    val stopArr = qualityStopwords.map(m => s"'$m'").mkString("[", ",", "]")
    s"""least(greatest(
        0.25 * least(CAST(len(ws) AS DOUBLE) / 100.0, 1.0)
        + 0.35 * (CASE WHEN length(text) = 0 THEN 0.0 ELSE
            CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
              AS DOUBLE) / CAST(length(text) AS DOUBLE) END)
        + 0.25 * least((CASE WHEN len(ws) = 0 THEN 0.0 ELSE
            CAST(len(list_filter(ws, x -> list_contains($stopArr, x)))
              AS DOUBLE) / CAST(len(ws) AS DOUBLE) END) * 5.0, 1.0)
        + 0.15 * (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0 ELSE
            CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
              AS DOUBLE) / CAST(length(text) AS DOUBLE) END) * 5.0,
            1.0)), 0.0), 1.0)"""
  }

  /** DuckDB replica of Ann.hyperplaneCellOf (seed 42): per plane p, the
    * sign bit of sum_d emb[d] * w(p,d), w = (hex8(md5("42:p:d")) % 2000)
    * / 1000 - 1. Outer lambda var is `d` -- duckHex8's internal lambda
    * uses `i`, which must not capture the outer dimension variable.
    */
  private def duckHyperCell(embCol: String, planes: Int): String =
    (0 until planes).map { p =>
      s"""(CASE WHEN list_sum(list_transform(range(1, len($embCol) + 1),
          d -> CAST($embCol[CAST(d AS INT)] AS DOUBLE) *
            ((${duckHex8(s"'42:$p:' || CAST(d - 1 AS VARCHAR)")} % 2000)
              / 1000.0 - 1.0))) >= 0 THEN '1' ELSE '0' END)"""
    }.mkString(" || ")

  /** Synthetic image payloads for the real-decode gates (doc_id < 300):
    * md5-derived dims (w in 1..12, h in 1..10), pixel formula
    * pv(x,y,c) = (doc_id*31 + y*7 + x*3 + c*11) % 256, encoded as a
    * real bottom-up padded 24-bit BMP (doc_id%3==2), grayscale PNG
    * (%3==1) or RGB PNG (else, via the real zlib encoder). Returns
    * (doc_id, payload).
    */
  private def syntheticImageDocs(docs0: DataFrame): DataFrame = {
    val docs = docs0.where(col("doc_id") < 300)
    def hx(off: Int, len: Int) = expr(
      s"CAST(conv(substring(md5(CAST(doc_id AS STRING)), $off, $len)," +
        " 16, 10) AS BIGINT)")
    val w = (lit(1) + pmod(hx(1, 2), lit(12))).cast("int")
    val h = (lit(1) + pmod(hx(3, 2), lit(10))).cast("int")
    def le32(c: org.apache.spark.sql.Column) = {
      val h8 = format_string("%08X", c)
      concat(substring(h8, 7, 2), substring(h8, 5, 2),
        substring(h8, 3, 2), substring(h8, 1, 2))
    }
    def pv(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
        c: Int) =
      pmod(col("doc_id") * 31 + y * 7 + x * 3 + lit(c * 11), lit(256))
    val padBytes = pmod(lit(4) - pmod(w * 3, lit(4)), lit(4))
    val padHex = element_at(array(lit(""), lit("00"), lit("0000"),
      lit("000000")), padBytes.cast("int") + 1)
    val stride = w * 3 + padBytes
    // bottom-up: file row 0 carries image row h-1
    val bmpRows = concat_ws("", transform(sequence(h - 1, lit(0), lit(-1)),
      y => concat(concat_ws("", transform(sequence(lit(0), w - 1), x =>
        format_string("%02X%02X%02X", pv(x, y, 2), pv(x, y, 1),
          pv(x, y, 0)))), padHex)))
    val bmpHex = concat(
      lit("424D"), le32(lit(54) + stride * h), lit("00000000"),
      lit("36000000"), lit("28000000"), le32(w), le32(h),
      lit("0100"), lit("1800"), lit("00000000"), le32(stride * h),
      lit("00000000" * 4), bmpRows)
    val pngUdf = udf { (docId: Long, pw: Int, ph: Int, ch: Int) =>
      val pix = new Array[Byte](pw * ph * ch)
      var i = 0
      var y = 0
      while (y < ph) {
        var x = 0
        while (x < pw) {
          var c = 0
          while (c < ch) {
            pix(i) = ((docId * 31 + y * 7 + x * 3 + c * 11) % 256).toByte
            i += 1; c += 1
          }
          x += 1
        }
        y += 1
      }
      Multimodal.pngEncode(pw, ph, ch, pix)
    }
    val payload = when(pmod(col("doc_id"), lit(3)) === 2, unhex(bmpHex))
      .otherwise(pngUdf(col("doc_id"), w, h,
        when(pmod(col("doc_id"), lit(3)) === 1, lit(1)).otherwise(lit(3))))
    docs.select(col("doc_id"), payload.as("payload"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup groups (hash-groupBy).
    "llm_exact_dedup" -> ((s, d) =>
      Dedup.exactGroups(Tables.documents(s, d), "doc_id", "text")),

    // Line-level dedup with reassembly (CCNet/RefinedWeb boilerplate
    // removal): 2-token lines, drop lines occurring in more than
    // max(1, 3% of docs) distinct documents, reassemble in order (3%
    // drops roughly half the line instances of the synthetic corpus at
    // every sf -- a non-degenerate kept/dropped mix).
    "llm_line_dedup" -> ((s, d) =>
      Dedup.lineDedup(Tables.documents(s, d), "doc_id", "text",
        window = 2, maxDocFrac = 0.03)
        .select(col("doc_id"), col("n_lines"), col("kept_lines"),
          md5(col("clean_text")).as("clean_md5"))),

    // Incremental (cross-snapshot) dedup: odd doc_ids are the "new
    // batch", even doc_ids the at-rest corpus; flag exact and
    // MinHash-verified near duplicates of the new batch.
    "llm_incr_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalDedupFlags(
        docs.where(col("doc_id") % 2 === 1),
        docs.where(col("doc_id") % 2 === 0),
        "doc_id", "text", shingleN = 3, k = 8, bandRows = 4,
        threshold = 0.8)
    }),

    // HLL distinct-token sketch per source (p=4, 16 registers) beside
    // the exact count: registers are md5-derived integers and the
    // harmonic denominator is an exact dyadic sum, so even the float
    // estimate hash-matches cross-engine.
    // Bloom membership: build over en-doc tokens (62-usable-bit int64
    // words, md5 positions); probe with every distinct corpus token
    // PLUS a guaranteed-absent variant of each (token || 'zz'), at a
    // deliberately small m so both clean misses and genuine false
    // positives occur. Deterministic layout -> the oracle reproduces
    // the answers including the false positives bit-for-bit.
    "llm_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // ONE corpus tokenize into a distinct (lang, token) pin (r22):
      // the en sketch branch and the probe set both derive from it with
      // vocabulary-sized post-aggregations — the r21 pin cached the raw
      // token stream and the en branch still re-tokenized the corpus.
      // Probes explode [token, token+"zz"] per token instead of a
      // two-branch union of the pin (same multiset, one consumer).
      val lt = graft.core.Caches.scoped(docs
        .select(col("lang"), explode(tokens(col("text"))).as("token"))
        .distinct())
      val en = lt.where(col("lang") === "en").select("token").distinct()
      val base = lt.select("token").distinct()
      val probes = base.select(explode(array(col("token"),
          concat(col("token"), lit("zz")))).as("token")).distinct()
      val sk = graft.llmops.Sketches.bloomSketch(en, "token",
        mBits = 124, k = 3, salt = "bl")
      graft.llmops.Sketches.bloomContains(sk, probes, "token",
        mBits = 124, k = 3, salt = "bl")
    }),

    "llm_hll_distinct" -> ((s, d) => {
      // pin the DISTINCT (source, tok) pairs, not the raw stream (r22):
      // both consumers are duplicate-insensitive — HLL registers are
      // per-bucket max(rho) and the exact branch is countDistinct — so
      // the pin shrinks from the token stream to the vocabulary and the
      // distinct's map-side partial aggregate shrinks the shuffle too
      val toks = graft.core.Caches.scoped(Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .distinct())
      graft.llmops.Sketches.hllDistinct(toks, "source", "tok", p = 4)
        .join(toks.groupBy("source")
          .agg(countDistinct("tok").as("exact_distinct")), Seq("source"))
        .select(col("source"), col("buckets_seen"), col("denom_micro"),
          floor(col("raw_est") * 1000).cast("long").as("raw_est_milli"),
          col("exact_distinct"))
    }),

    // Histogram quantile sketch: p50/p90/p99 of n_chars from 16-wide
    // integer bins (all-integer thresholds -- bit-reproducible, unlike
    // interpolated percentile_approx).
    "llm_quantile_sketch" -> ((s, d) =>
      graft.llmops.Sketches.histogramQuantiles(Tables.documents(s, d),
        "n_chars", binWidth = 16, qMillis = Seq(500, 900, 990))),

    // Count-min sketch (4 x 256) over the token stream: point estimates
    // for the 20 most frequent tokens beside their exact counts.
    "llm_cms_counts" -> ((s, d) => {
      // pin the per-token COUNT aggregate, not the raw stream (r22):
      // the sketch (cmSketchFromCounts — counts ride as weights) and
      // the exact top-20 both derive from it, so the corpus tokenizes
      // once into a vocabulary-sized pin and the sketch's first groupBy
      // disappears
      val counts = graft.core.Caches.scoped(Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("exact_count")))
      val sk = graft.llmops.Sketches.cmSketchFromCounts(counts, "tok",
        "exact_count", depth = 4, width = 256)
      val top = counts
        .orderBy(desc("exact_count"), col("tok")).limit(20)
      graft.llmops.Sketches.cmEstimate(sk, top, "tok", depth = 4,
        width = 256)
        .join(top, Seq("tok"))
        .select(col("tok"), col("est_count"), col("exact_count"))
    }),

    // Bottom-k (KMV) token-set signatures per source + all-pairs Jaccard
    // estimate beside the exact value -- cross-source similarity from
    // signatures alone (the raw token sets never meet).
    "llm_bottomk_sim" -> ((s, d) => {
      // pin the DISTINCT (source, tok) pairs, not the raw stream (r22):
      // bottomK dedups hashes internally (KMV is a distinct-set sketch)
      // and the exact branch was toks.distinct() anyway — the pin
      // shrinks from the token stream to the vocabulary
      val toks = graft.core.Caches.scoped(Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .distinct())
      val sk = graft.llmops.Sketches.bottomK(toks, "source", "tok", k = 32)
      val est = graft.llmops.Sketches.bottomKJaccardPairs(sk, "source", 32)
      val sets = toks.groupBy("source")
        .agg(collect_set(col("tok")).as("st"))
      est
        .join(sets.select(col("source").as("g_a"), col("st").as("st_a")),
          Seq("g_a"))
        .join(sets.select(col("source").as("g_b"), col("st").as("st_b")),
          Seq("g_b"))
        .select(col("g_a"), col("g_b"), col("est_jaccard_micro"),
          floor(size(array_intersect(col("st_a"), col("st_b")))
            .cast("double") * 1000000.0 /
            size(array_union(col("st_a"), col("st_b"))).cast("double"))
            .cast("long").as("exact_jaccard_micro"))
    }),

    // Feature-hashed linear classifier (fastText shape): 64 buckets,
    // md5-derived stand-in weights, integer-exact score.
    "llm_classifier" -> ((s, d) =>
      TextAnalysis.withClassifier(Tables.documents(s, d), "text",
        dims = 64, seed = "clf")
        .select(col("doc_id"), col("clf_weight_sum"),
          col("clf_score_micro"), col("clf_keep"))),

    // Random-projection (JL) reduction: 64-d embeddings -> 8 components
    // against the deterministic hyperplane matrix (seed 7).
    "llm_rp_reduce" -> ((s, d) => {
      val w = (0 until 8).map(p =>
        (0 until 64).map(dd => Ann.planeWeight(7, p, dd)))
      Tables.embeddings(s, d).select(col("vec_id"),
        posexplode(VectorFunctions.randomProjection(col("embedding"), w))
          .as(Seq("pdim", "v")))
        .select(col("vec_id"), col("pdim"),
          floor(col("v") * 1000000).cast("long").as("v_micro"))
    }),

    // Deterministic Bernoulli sample (hash-of-id filter; no RNG state).
    "llm_sample" -> ((s, d) =>
      Curation.deterministicSample(Tables.documents(s, d), "doc_id",
        rate = 0.25, salt = "s1").select(col("doc_id"))),

    // Data mixing: per-language sampling rates (upsample low-resource).
    "llm_stratified" -> ((s, d) =>
      Curation.stratifiedSample(Tables.documents(s, d), "doc_id", "lang",
        rates = Map("en" -> 0.2, "de" -> 0.8), defaultRate = 0.5,
        salt = "mix").select(col("doc_id"), col("lang"))),

    // Snapshot diff: v1 = first 60% of ids, v2 = last 70% with every
    // 7th doc's text amended -- all four statuses occur.
    "llm_snapshot_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0)
      val v1 = docs.where(col("doc_id") <= cut * 6 / 10)
      val v2 = docs.where(col("doc_id") > cut * 3 / 10)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      Curation.snapshotDiff(v1, v2, "doc_id", "text")
    }),

    // N-gram novelty: fraction of a doc's distinct 3-gram shingles that
    // occur nowhere else in the corpus.
    "llm_novelty" -> ((s, d) =>
      Curation.noveltyScore(Tables.documents(s, d), "doc_id", "text",
        shingleN = 3)),

    // Epoch shuffle: deterministic hash sort key per (epoch, id) plus
    // explicit positions (window over the gate corpus for verification;
    // the production write path is repartitionByRange on the key).
    "llm_epoch_shuffle" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("shuffle_key"), col("doc_id"))
      Curation.withEpochShuffle(Tables.documents(s, d), "doc_id", epoch = 2)
        .select(col("doc_id"), col("shuffle_key"))
        .withColumn("pos", row_number().over(w).cast("long"))
    }),

    // Weighted sampling: keep each doc with probability = its novelty
    // score (integer micros) -- sample-proportional-to-score over the
    // hash-of-id bucket; composes two curation operators in one gate.
    "llm_weighted_sample" -> ((s, d) =>
      Curation.weightedSample(
        Curation.noveltyScore(Tables.documents(s, d), "doc_id", "text",
          shingleN = 3),
        "doc_id", "novelty_micro", salt = "wsamp")
        .select(col("doc_id"), col("novelty_micro"))),

    // Epoch upsampling: de x3, fr x2, everything else x1, with copy ids.
    "llm_repeats" -> ((s, d) =>
      Curation.withRepeats(Tables.documents(s, d), "lang",
        repeats = Map("de" -> 3, "fr" -> 2), defaultRepeat = 1)
        .select(col("doc_id"), col("lang"), col("copy"))),

    // Temperature mixing (alpha=0.5): per-lang keep rate
    // sqrt(n_min / n_lang) -- smallest language kept whole.
    "llm_temperature_mix" -> ((s, d) =>
      Curation.temperatureMix(Tables.documents(s, d), "doc_id", "lang",
        salt = "tmix").select(col("doc_id"), col("lang"))),

    // Per-source quota mixing: 5 best docs per source by n_chars.
    "llm_quota" -> ((s, d) =>
      Curation.groupQuota(Tables.documents(s, d), "source", "n_chars",
        "doc_id", k = 5).select(col("source"), col("doc_id"),
        col("n_chars"))),

    // Benchmark decontamination: distinct-3-gram overlap counts between
    // corpus docs (doc_id >= 10) and a stand-in benchmark (doc_id < 10).
    "llm_decontam" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Curation.contaminationHits(docs.where(col("doc_id") >= 10),
        docs.where(col("doc_id") < 10), "doc_id", "text",
        shingleN = 3, minHits = 3)
    }),

    // Sequence packing (concat-and-cut): bins of 1024 "tokens"
    // (n_chars as the token proxy) over the doc_id-ordered stream,
    // via distributed prefix sum.
    "llm_pack" -> ((s, d) =>
      Curation.packSequences(Tables.documents(s, d), "doc_id", "n_chars",
        capacity = 1024, partitions = 8)
        .select(col("doc_id"), col("bin"), col("bin_offset"))),

    // DSIR importance selection: hashed-2-gram bucket llr weights
    // trained against the EN subset as the target corpus; keep docs
    // whose mean llr is >= 0 (at least corpus-average target-likeness).
    // Oracle is DYNAMIC (dsirOracleSql): the JVM-computed integer
    // weights inject as a VALUES table carrying both bucket counts, and
    // DuckDB recomputes the counts and joins on all three columns --
    // count drift breaks the join and fails the hash.
    "llm_dsir" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val w = Curation.dsirWeights(docs, docs.where(col("lang") === "en"),
        "text", shingleN = 2, buckets = 256)
      Curation.dsirScores(docs, "doc_id", "text", w, shingleN = 2,
        buckets = 256, thresholdMicro = 0L)
    }),

    // CCNet-shape LM quality scoring: a hashed-bigram count model
    // trained on the en subset, integer-log2 fluency bits per shingle.
    // Unlike llm_dsir nothing is injected -- the oracle retrains the
    // model in SQL (counts + length(bin(...)) are integer-exact in both
    // engines).
    "llm_lm_score" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Curation.lmScores(docs, docs.where(col("lang") === "en"),
        "doc_id", "text", shingleN = 2, buckets = 256,
        minMeanDeciBits = 60L)
    }),

    // CAPSTONE: the whole training-data pipeline composed end-to-end --
    // exact dedup -> lang filter -> quality threshold (micro-quantized,
    // so the cut is cross-engine exact) -> benchmark decontamination ->
    // deterministic 50% sample -> sequence packing. Every stage's
    // algorithm is individually gate-proven; this proves they compose.
    "llm_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bench = docs.where(col("doc_id") < 10)
      val corpus = docs.where(col("doc_id") >= 10)
      val survivors = Dedup.exactDedup(corpus, "doc_id", "text")
      val en = survivors.where(col("lang") === "en")
      val good = TextAnalysis.withQuality(en, "text")
        .where(floor(col("quality_score") * 1000000).cast("long") >= 350000)
        .select(en.columns.map(col): _*)
      val clean = Curation.decontaminate(good, bench, "doc_id", "text",
        shingleN = 3, minHits = 1)
      val sampled = Curation.deterministicSample(clean, "doc_id",
        rate = 0.5, salt = "pipe")
      Curation.packSequences(sampled, "doc_id", "n_chars",
        capacity = 2048, partitions = 8)
        .select(col("doc_id"), col("bin"), col("bin_offset"))
    }),

    // Second capstone over the round-7 curation family: line-level
    // boilerplate removal -> feature-hashed classifier cut ->
    // temperature mixing, one DAG, every stage recomputed by the oracle.
    "llm_pipeline2" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val cleaned = Dedup.lineDedup(docs, "doc_id", "text",
        window = 2, maxDocFrac = 0.03)
        .where(col("kept_lines") > 0)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      // temperatureMix reads its input twice (stratum counts + the
      // final join) and lineDedup's exploded frame is itself
      // multi-scanned -- pin the funnel output once so the expensive
      // upstream chain materializes a single time (the stage-table
      // pattern; at warehouse scale this is the checkpoint between
      // funnel stages).
      val kept = graft.core.Caches.scoped(
        TextAnalysis.withClassifier(cleaned, "clean_text",
          dims = 64, seed = "clf")
          .where(col("clf_keep")))
      Curation.temperatureMix(kept, "doc_id", "lang", salt = "p2")
        .select(col("doc_id"), col("lang"),
          md5(col("clean_text")).as("clean_md5"))
    }),

    // Document fingerprint (sorted-distinct-token md5).
    "llm_fingerprint" -> ((s, d) =>
      TextAnalysis.withFingerprint(Tables.documents(s, d), "text")
        .select("doc_id", "fingerprint")),

    // Winnowing fingerprint selection (MOSS scheme): 8-gram hashes,
    // window 4, rightmost-min per window; per-doc digest of the
    // selected (position, hash) sequence proves the exact selection.
    "llm_winnow" -> ((s, d) => {
      val fp = Dedup.winnowedFingerprints(Tables.documents(s, d),
        "doc_id", "text", k = 8, w = 4)
      fp.select(col("doc_id"), col("n_kgrams"),
        size(col("fps")).cast("long").as("n_selected"),
        md5(array_join(transform(col("fps"), f =>
          concat_ws(":", f.getField("p").cast("string"),
            f.getField("h"))), ",")).as("sel_md5"))
    }),

    // Winnowed dup-candidate pairs: docs sharing >= 1 SELECTED
    // fingerprint -- the dedup use of winnowing, joining ~0.39x the
    // volume of the full k-gram stream with the scheme's detection
    // guarantee as the floor.
    "llm_winnow_pairs" -> ((s, d) =>
      Dedup.winnowedDupPairs(Tables.documents(s, d), "doc_id", "text",
        k = 8, w = 4, minShared = 1)),

    // PII redaction: per-doc synthetic email/IP/account suffix (so every
    // row exercises all three patterns), then the email -> IP -> digit
    // run replacement chain; match counts from the pre-redaction text.
    "llm_pii_redact" -> ((s, d) => {
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or 10.0.0."),
        (pmod(col("doc_id"), lit(250)) + 1).cast("string"),
        lit(" acct 12345678901"))
      // native single-pass scanners (r21): one counts struct + one
      // redaction chain per row instead of 4 regexp_extract_all + 3
      // regexp_replace java.util.regex passes — value-identical
      // (PiiSpec parity incl. adversarial boundaries; oracle unchanged)
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.functions.PiiCountsExpr(aug).as("__pii"),
          md5(graft.functions.PiiRedactExpr(aug)).as("redacted_md5"))
        .select(col("doc_id"),
          col("__pii.n_emails").as("n_emails"),
          col("__pii.n_ips").as("n_ips"),
          col("__pii.n_nums").as("n_nums"),
          col("redacted_md5"))
    }),

    // PII DENSITY cut (dropPiiDense): every doc gets the 3-match
    // suffix; every 7th doc gets it EIGHT more times (24+3 matches), so
    // short dense docs cross the 40-matches-per-1000-chars line and
    // drop. Survivors carry their total match count — the oracle
    // recomputes counts, lengths, and the integer cross-multiply cut.
    "llm_pii_filter" -> ((s, d) => {
      val suffix = concat(
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or 10.0.0."),
        (pmod(col("doc_id"), lit(250)) + 1).cast("string"),
        lit(" acct 12345678901"))
      val aug = concat(col("text"), suffix,
        when(pmod(col("doc_id"), lit(7)) === 0,
          // repeat() needs a foldable count; suffix is deterministic
          // per-doc so concat-8 is exact
          concat(suffix, suffix, suffix, suffix, suffix, suffix,
            suffix, suffix)).otherwise(lit("")))
      graft.functions.TextFunctions.dropPiiDense(
        Tables.documents(s, d).select(col("doc_id"), aug.as("aug")),
        "aug", maxPerKiloChars = 40)
        .select(col("doc_id"),
          graft.functions.PiiTotalExpr(col("aug")).as("n_pii"))
    }),

    // CAPSTONE 3 (round-8 family composed): synthetic-PII augment ->
    // redaction -> LM fluency cut on the REDACTED text (model retrained
    // on the redacted en subset; keep docs ABOVE CORPUS-MEAN mean-bits,
    // cross-multiplied sc*T_n >= T_sc*n so the cut is integer-exact AND
    // scale-free -- an absolute bits threshold drifts with reference-
    // corpus size because counts grow with it) -> sequence packing of
    // survivors. One static SQL oracle recomputes every stage -- regex
    // chain, model training, integer bits, the mean cut, prefix-sum
    // packing -- with zero injected constants.
    "llm_pipeline3" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or 10.0.0."),
        (pmod(col("doc_id"), lit(250)) + 1).cast("string"),
        lit(" acct 12345678901"))
      // measured r22: pinning `red` for its three consumers LOST the
      // A/B (1.74 vs 0.92 s min) — the r21 native PII kernel made the
      // redact pass cheaper than materializing a corpus-with-text cache,
      // and the per-consumer shingle work is unaffected by the pin.
      val red = docs.select(col("doc_id"), col("lang"), col("n_chars"),
        graft.functions.PiiRedactExpr(aug).as("clean"))
      val scored = Curation.lmScores(red,
        red.where(col("lang") === "en"), "doc_id", "clean",
        shingleN = 2, buckets = 256)
      val totals = scored.agg(
        sum(col("n_grams")).as("__tn"), sum(col("lm_bits")).as("__tsc"))
      val kept = red
        .join(scored.crossJoin(broadcast(totals))
          .where(col("n_grams") > 0 &&
            col("lm_bits") * col("__tn") >= col("__tsc") * col("n_grams"))
          .select("doc_id"), Seq("doc_id"))
        .withColumn("clean_md5", md5(col("clean")))
      Curation.packSequences(kept, "doc_id", "n_chars",
        capacity = 2048, partitions = 8)
        .select(col("doc_id"), col("bin"), col("bin_offset"),
          col("clean_md5"))
    }),

    // Exact-substring dup pairs: >= 2 shared distinct 12-token rolling
    // window fingerprints (suffix-array-style span dedup, distributed).
    "llm_substring_dup" -> ((s, d) =>
      Dedup.substringDupPairs(Tables.documents(s, d), "doc_id", "text",
        window = 12, minShared = 2)),

    // Duplicate-SPAN localization: for >= 2-shared-window pairs, each
    // shared fingerprint's first start position on both sides -- the
    // cut-the-span output (vs llm_substring_dup's drop-the-doc pairs).
    "llm_dup_spans" -> ((s, d) =>
      Dedup.substringDupSpans(Tables.documents(s, d), "doc_id", "text",
        window = 12, minShared = 2)),

    // Span-cut remedy: cut every localized duplicate span from the
    // higher-id doc (keep-first) and reassemble -- the "remove the
    // span, keep the doc" output. md5 of the reassembled token stream
    // keeps the gate row narrow.
    "llm_span_cut" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val spans = Dedup.substringDupSpans(docs, "doc_id", "text",
        window = 12, minShared = 2)
      Dedup.cutDupSpans(docs, "doc_id", "text", spans, window = 12)
        .select(col("doc_id"), col("n_tokens"), col("kept_tokens"),
          md5(col("clean_text")).as("clean_md5"))
    }),

    // Containment pairs (asymmetric near-dup: quotes/subsets): shared
    // 12-token windows over each side's distinct window count, keep
    // pairs where either side is >= 50% contained.
    "llm_containment" -> ((s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text",
        window = 12, minMicros = 500000)),

    // MinHash signatures: 8 seeded min-hashes banded into 2 LSH keys
    // (aggregation-based path -- scales linearly).
    "llm_minhash_bands" -> ((s, d) =>
      Dedup.minhashBandKeys(Tables.documents(s, d), "doc_id", "text",
        shingleN = 3, k = 8, bandRows = 4)
        .select(col("id").as("doc_id"), col("band"), col("band_hash"))),

    // MinHash LSH near-dup pairs verified by shingle Jaccard >= 0.8.
    "llm_minhash_pairs" -> ((s, d) =>
      Dedup.minhashPairs(Tables.documents(s, d), "doc_id", "text",
        shingleN = 3, k = 8, bandRows = 4, threshold = 0.8)
        .select(col("id_a"), col("id_b"),
          floor(col("jaccard") * 1000000).cast("long").as("jaccard_micro"))),

    // Hot-band-capped variant (r13): maxBandPop = 2 vs max observed
    // bucket populations of 3-4 at every SF, so SOME buckets sub-split
    // (md5-mod-k) and most stay whole — both branches live. The oracle
    // re-makes the pop -> ceil(pop/cap) -> md5(id) mod k split in SQL
    // (the simhash/semantic oracle protocol applied to minhash).
    "llm_minhash_capped" -> ((s, d) =>
      Dedup.minhashPairs(Tables.documents(s, d), "doc_id", "text",
        shingleN = 3, k = 8, bandRows = 4, threshold = 0.8,
        maxBandPop = minhashMaxBandPop)
        .select(col("id_a"), col("id_b"),
          floor(col("jaccard") * 1000000).cast("long").as("jaccard_micro"))),

    // The staged pair artifact itself: parquet-roundtripped stage-1
    // table, gated against the SAME oracle SQL as the self-contained
    // llm_minhash_pairs — a hash match here proves the materialized
    // stage ≡ the from-scratch recompute (see [[Stages]]).
    "llm_dedup_staged" -> ((s, d) =>
      Stages.minhashPairs(s, d)
        .select(col("id_a"), col("id_b"),
          floor(col("jaccard") * 1000000).cast("long").as("jaccard_micro"))),

    // Cross-source near-dup overlap matrix: verified minhash pairs
    // rolled up to unordered (source, source) cells — the forensics
    // view a curation run reads before setting per-source dedup policy.
    // Consumes the STAGE-1 pair artifact (the pipeline shape); the
    // oracle recomputes the whole chain from raw documents, so a hash
    // match keeps proving staged ≡ self-contained.
    "llm_source_overlap" -> ((s, d) =>
      Dedup.sourceOverlapMatrixFrom(Stages.minhashPairs(s, d),
        Tables.documents(s, d)
          .select(col("doc_id").as("id"), col("source")))),

    // Trainable Naive-Bayes classifier: train "en vs rest" on the
    // hash-chosen labeled third of the corpus (doc_id % 3 = 0 stands in
    // for "the rows a human labeled"), then score EVERY document with
    // the broadcast token-llr model. The oracle retrains from scratch
    // in SQL — counts, smoothing, micro-floored llr, prior — so a hash
    // match proves training and scoring end-to-end.
    "llm_nb_classifier" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.nbClassify(docs,
        docs.where(col("doc_id") % 3 === 0)
          .withColumn("is_en", col("lang") === "en"),
        "doc_id", "text", "is_en")
    }),

    // Near-dup CLUSTERS: distributed connected components (min-label
    // propagation + pointer jumping) over the verified minhash pairs —
    // consumed from the stage-2 artifact ([[Stages.dupClusters]]); the
    // oracle re-derives the closure from raw documents with a recursive
    // CTE, so every run re-proves staged ≡ self-contained.
    "llm_dup_clusters" -> ((s, d) => Stages.dupClusters(s, d)),

    // Near-dup dedup KEEPING THE BEST cluster member by score
    // (n_chars: keep the longest copy) instead of the arbitrary min-id
    // canonical -- the curation-grade survivor policy, over the staged
    // clusters. Oracle rebuilds the closure with the recursive CTE,
    // then argmax-with-min-id-tie.
    "llm_dedup_keep_best" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.nearDupSurvivorsBy(docs, "doc_id", "n_chars",
          Stages.dupClusters(s, d))
        .select(col("doc_id"), col("n_chars"))
    }),

    // Dedup stage report: the one-row dashboard summary of the minhash
    // clustering (corpus size, clustered docs, cluster count, largest
    // cluster, removals, micro ratio), over the staged clusters.
    "llm_dedup_report" -> ((s, d) =>
      Dedup.dedupReport(Tables.documents(s, d), "doc_id",
        Stages.dupClusters(s, d))),

    // Integer PageRank (3 rounds, damping 0.85) over the verified
    // minhash near-dup graph: similarity-graph centrality for curation,
    // consumed from the stage-1 pair artifact (the per-gate regeneration
    // this replaced cost ~1 s of its ~2.6 s warm at sf0.1; the
    // self-contained pair DAG still gets an honest timing via
    // llm_minhash_pairs, which stays off the stage by design).
    "llm_graph_rank" -> ((s, d) =>
      graft.llmops.Graphs.pageRank(Stages.minhashPairs(s, d),
        "id_a", "id_b", iters = 3, dampingMilli = 850)
        .select(col("id").as("doc_id"), col("rank_micro"))),

    // 16-bit SimHash per document through the packed-LONG kernel
    // simhashPairs runs, rendered as the '0'/'1' string (bit 15 first;
    // LlmOpsSpec pins it to the column-expression reference).
    "llm_simhash" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          lpad(bin(Dedup.simhashTextLongUdf(16)(col("text"))), 16, "0")
            .as("simhash16"))),

    // Language ID scores + argmax prediction.
    "llm_langid" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val t = tokens(col("text"))
      TextAnalysis.withLangId(docs, "text")
        .select(col("doc_id"), col("lang"), col("lang_pred"),
          floor(langScore(t, langMarkers.toMap.apply("en")) * 1000000)
            .cast("long").as("en_score_micro"))
    }),

    // Quality features + composite score (micro-quantized).
    // Token-budget prefix selection: best-quality docs until a 60k-char
    // budget is spent (inclusive prefix cut, score desc / id asc).
    "llm_budget_select" -> ((s, d) => {
      val q = TextAnalysis.withQuality(Tables.documents(s, d), "text")
        .select(col("doc_id"),
          floor(col("quality_score") * 1000000).cast("long")
            .as("quality_micro"),
          col("n_chars"))
      Curation.budgetSelect(q, "doc_id", "n_chars", "quality_micro",
        budget = 60000L, partitions = 8)
        .withColumnRenamed("cum_tokens", "cum_chars")
    }),

    // Gopher-rule filter suite (Rae et al. A1.1): integer-exact rule
    // booleans + conjunctive keep. Bounds tuned so every rule splits
    // this corpus (tokens 10..99, distinct ratio 0.27..1.0, stopword
    // presence ~78%): min 25 tokens, >= 2 stopword hits, distinct
    // ratio >= 0.30.
    "llm_gopher_rules" -> ((s, d) =>
      TextAnalysis.gopherRules(Tables.documents(s, d), "text",
        minTokens = 25, maxTokens = 100000, minStopHits = 2,
        repMilli = 300)
        .select(col("doc_id"), col("n_tokens"), col("rule_len"),
          col("rule_mean"), col("rule_stop"), col("rule_rep"),
          col("keep"))),

    // Per-source curation dashboard: doc/token counts, corpus-wide
    // exact-duplicate pressure, integer mean quality per source. Same
    // shifted-id re-insertion as llm_exact_rep so the duplicate-pressure
    // column is exercised (the raw corpus has no exact dups).
    "llm_source_stats" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dupes = docs.where(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      Curation.sourceStats(docs.unionByName(dupes), "doc_id", "text",
        "source")
    }),

    // Exact-dup representative selection: best-n_chars doc per content
    // hash (ties to min id), all members flagged with cluster size.
    // The synthetic corpus has no exact dups, so every 7th doc is
    // re-inserted under a shifted id (same text -> 2-member clusters;
    // the n_chars tie falls to min id, keeping the original copy).
    "llm_exact_rep" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dupes = docs.where(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      Dedup.exactRepresentatives(docs.unionByName(dupes), "doc_id",
        "text", "n_chars")
        .select(col("doc_id"), col("content_hash"), col("cluster_size"),
          col("is_rep"))
    }),

    // Exact-count deterministic sample: the 100 smallest md5(salt:id)
    // rows — "give me exactly N eval docs", layout/RNG independent,
    // nested in N (TakeOrderedAndProject, never a full sort).
    "llm_exact_sample" -> ((s, d) =>
      Curation.exactSample(Tables.documents(s, d), "doc_id", 100, "es")
        .select("doc_id", "lang", "n_chars")),

    // Shard-export plan: epoch-1 shuffled order cut into 16384-char
    // shards via the distributed prefix sum; placement is a pure
    // function of (doc_id, epoch).
    "llm_shard_plan" -> ((s, d) =>
      Curation.shardPlan(Tables.documents(s, d), "doc_id", "n_chars",
        targetTokens = 16384L, epoch = 1, partitions = 8)
        .select(col("doc_id"), col("shard_id"), col("shard_offset"))),

    "llm_quality" -> ((s, d) =>
      TextAnalysis.withQuality(Tables.documents(s, d), "text")
        .select(col("doc_id"), col("n_chars"), col("n_tokens"),
          floor(col("mean_token_len") * 1000000).cast("long")
            .as("mean_token_len_micro"),
          floor(col("alpha_ratio") * 1000000).cast("long")
            .as("alpha_ratio_micro"),
          floor(col("stopword_ratio") * 1000000).cast("long")
            .as("stopword_ratio_micro"),
          floor(col("quality_score") * 1000000).cast("long")
            .as("quality_micro"))),

    // Token accounting: whitespace + BPE-ish counts.
    "llm_token_counts" -> ((s, d) =>
      TextAnalysis.withTokenCounts(Tables.documents(s, d), "text")
        .select("doc_id", "ws_tokens", "bpeish_tokens")),

    // Brute-force ANN top-10 around vec_id 7 (micro-quantized cosine).
    "llm_ann_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") === 7)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      Ann.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
        .select(col("id").as("vec_id"),
          floor(col("score") * 1000000).cast("long").as("cosine_micro"))
    }),

    // RP filter-and-refine ANN: cosine in the 8-d JL-projected space
    // selects 50 candidates map-side; exact cosine reranks to top-10.
    "llm_rp_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") === 7)
        .select(col("embedding").cast("array<double>")).head()
        .getSeq[Double](0)
      Ann.rpTopK(emb, "vec_id", "embedding", q, k = 10, planes = 8,
        rerank = 50, seed = 7)
        .select(col("id").as("vec_id"),
          floor(col("score") * 1000000).cast("long").as("cosine_micro"))
    }),

    // Scale-path ANN: trained-centroid IVF, 4-probe. Oracle is DYNAMIC
    // (annIvfOracleSql, merged by Verify): training is deterministic, so
    // Verify re-trains the same centroids, injects them as a VALUES
    // table, and DuckDB recomputes assignment + probe + top-k.
    "llm_ann_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") === 7)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      val cents = Ann.trainCentroids(emb, "embedding", nCells = 16)
      Ann.ivfCentroidTopK(emb, "vec_id", "embedding", q, 10, cents,
        probes = 4)
        .select(col("id").as("vec_id"),
          floor(col("score") * 1000000).cast("long").as("cosine_micro"))
    }),

    // SQ8 ANN candidate stage: per-dimension int8 codes (exact min/max
    // bounds), ASYMMETRIC integer scoring (code x micro-quantized query
    // weight) top-10 -- the whole chain is per-element IEEE ops +
    // integer sums, so the oracle is static SQL with no FP-margin
    // machinery.
    "llm_sq8_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") === 7)
        .select(col("embedding").cast("array<double>")).head()
        .getSeq[Double](0)
      val m = graft.llmops.Pq.sq8Train(emb, "embedding")
      graft.llmops.Pq.sq8IntTopK(
        graft.llmops.Pq.withSq8(emb, "embedding", m), "vec_id", q, m, 10)
        .select(col("id").as("vec_id"), col("score_int"))
    }),

    // IVF x SQ8 at rest: the 100 TB serving composition — codes table
    // written cell-partitioned parquet ([[Stages.ivfSq8Codes]]), probe
    // predicate prunes PARTITIONS (spec-asserted), candidates ranked by
    // the asymmetric integer code score. Output is the pure-integer
    // candidate stage (everything downstream of the probe is exact);
    // oracle is DYNAMIC (ivfSq8OracleSql): centroid VALUES injection for
    // assignment + probe selection, then the llm_sq8_ann static integer
    // chain restricted to the probed cells.
    "llm_ivf_sq8_atrest" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") === 7)
        .select(col("embedding").cast("array<double>")).head()
        .getSeq[Double](0)
      val cents = Ann.trainCentroids(emb, "embedding", nCells = 16)
      val m = graft.llmops.Pq.sq8Train(emb, "embedding")
      graft.llmops.Pq.ivfSq8CandidatesAtRest(s, Stages.ivfSq8Codes(s, d),
        "vec_id", q, m, cents, probes = 4, k = 10)
        .select(col("id").as("vec_id"), col("score_int"))
    }),

    // Semantic dedup (SemDeDup shape): trained-centroid clusters, flag
    // docs with a smaller-id same-cluster (and same hot-cell sub-bucket)
    // neighbor at cosine >= 0.9. The hot-cell cap (maxCellPop = 32,
    // vs 500-2000 rows over 16 cells) exercises BOTH branches at every
    // SF: some cells stay under the cap, some sub-split. Oracle is
    // DYNAMIC (semanticDedupOracleSql): same centroid-VALUES injection
    // + FP-margin guard protocol as llm_ann_ivf, and it re-makes the
    // identical md5-mod-k sub-split in SQL.
    "llm_semantic_dedup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = Ann.trainCentroids(emb, "embedding", nCells = 16)
      Dedup.semanticDupFlags(emb, "vec_id", "embedding", cents,
        thresholdMicro = semanticDedupThresholdMicro,
        maxCellPop = semanticDedupMaxCellPop)
    }),

    // Top-20 most-similar embedding pairs within random-hyperplane LSH
    // cells (near-dup scan shape over the full table).
    "llm_emb_pairs" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Dedup.embeddingPairs(emb, "vec_id", "embedding",
        threshold = -1.0, planes = 2)
        .select(col("id_a"), col("id_b"),
          floor(col("cosine") * 1000000).cast("long").as("cosine_micro"))
        .orderBy(desc("cosine_micro"), col("id_a"), col("id_b"))
        .limit(20)
    }),

    // Deterministic embedder parity: 4-dim embeddings of the first 5
    // documents, exploded to (doc_id, dim, bucket-sum values).
    "llm_embed_check" -> ((s, d) => {
      val docs = Tables.documents(s, d).where(col("doc_id") < 5)
      val e = graft.embed.DeterministicEmbedder(dims = 4)
      docs.select(col("doc_id"),
        posexplode(e.embedCol(col("text"))).as(Seq("dim", "v")))
        .select(col("doc_id"), col("dim"),
          floor(col("v") * 1000000).cast("long").as("v_micro"))
    }),

    // Corpus-TRAINED PPMI embeddings (Levy & Goldberg 2014's implicit
    // skip-gram matrix, sign-projected): vocab-50 / window-3 pair
    // counts -> floor-micro PPMI cells -> hash-sign projection to 4
    // dims. The oracle replays the ENTIRE training pipeline in SQL --
    // pair generation, vocab cut, marginals, ln-micro quantization,
    // signed integer sums -- so a hash-match proves the vectors are the
    // documented function of the CORPUS (they move when the data
    // moves), not of the token string alone.
    "llm_learned_embed" -> ((s, d) =>
      graft.llmops.LearnedEmbeddings.termEmbeddings(
        Tables.documents(s, d), "text", vocabSize = 50, window = 3,
        dims = 4)),

    // Learned-embedding composition: train term vectors on the FULL
    // corpus, embed the first 200 documents (exact integer vector
    // sums), rank document pairs by cosine. Doubles appear only inside
    // a single row's dot/norm fold -- the llm_emb_pairs protocol.
    "llm_learned_doc_sim" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val emb = graft.llmops.LearnedEmbeddings.docEmbeddings(
        docs.where(col("doc_id") < 200), "doc_id", "text",
        graft.llmops.LearnedEmbeddings.termEmbeddings(docs, "text",
          vocabSize = 50, window = 3, dims = 4))
      val a = emb.select(col("doc_id").as("id_a"),
        col("embedding").cast("array<double>").as("ea"))
      val b = emb.select(col("doc_id").as("id_b"),
        col("embedding").cast("array<double>").as("eb"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          floor(graft.functions.CosineSimilarity(col("ea"), col("eb")) *
            1000000).cast("long").as("cosine_micro"))
        .orderBy(desc("cosine_micro"), col("id_a"), col("id_b"))
        .limit(20)
    }),

    // KNN graph: top-3 neighbors per vector within hyperplane LSH cells,
    // with the hot-cell md5 sub-split cap engaged (cap 150 vs ~125/cell
    // at sf0.001/0.01 and ~500/cell at sf0.1 keeps both the capped and
    // uncapped branches live across the SF family). Oracle re-makes the
    // identical pop -> ceil(pop/cap) -> md5(id) mod k split in SQL.
    "llm_knn_graph" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Ann.knnJoin(emb, emb, "vec_id", "embedding", k = 3, planes = 2,
        maxCellPop = knnGraphMaxCellPop)
        .select(col("lid"), col("rid"),
          floor(col("score") * 1000000).cast("long").as("cosine_micro"))
    }),

    // SimHash near-dup pairs: 16-bit hashes, 4-bit band candidates,
    // hamming <= 3 verification, over the FULL documents table. 16-bit
    // simhash of a vocab-identical corpus collides quadratically by
    // construction; the operator's banded hot-bucket cap (pop > cap ->
    // md5 sub-split, mirrored in SQL) is what makes the full input
    // tractable -- the cap IS part of what this gate verifies.
    "llm_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d),
        "doc_id", "text", bits = 16, bandBits = 4, maxHamming = 3,
        maxBucketPop = simhashMaxBucketPop)),

    // N-gram Jaccard near-dup pairs via size-banding. The oracle is
    // BRUTE FORCE over all pairs: a hash-match proves the log-size
    // banding generates every pair above the threshold (no false
    // negatives), not merely that both engines band identically.
    "llm_ngram_pairs" -> ((s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
        shingleN = 3, threshold = 0.8)
        .select(col("id_a"), col("id_b"),
          floor(col("jaccard") * 1000000).cast("long").as("jaccard_micro"))),

    // Document chunking: overlapping 32-token windows, stride 24.
    "llm_chunking" -> ((s, d) =>
      TextAnalysis.chunkDocuments(
        Tables.documents(s, d).select("doc_id", "text"), "text",
        window = 32, stride = 24)
        .select(col("doc_id"), col("chunk_idx"),
          md5(col("chunk_text")).as("chunk_md5"), col("chunk_tokens"))),

    // Corpus vocabulary: top-100 tokens by total count.
    "llm_vocab" -> ((s, d) =>
      TextAnalysis.vocabulary(Tables.documents(s, d), "text",
        idCol = Some("doc_id"))
        .orderBy(desc("total_count"), col("token"))
        .limit(100)),

    // BPE training round 1: adjacent char-pair merge candidates over
    // the distinct-word frequency table, top-50 by weighted count.
    "llm_bpe_pairs" -> ((s, d) =>
      TextAnalysis.bpePairCounts(Tables.documents(s, d), "text", k = 50)),

    // BPE training proper: 3 merge rounds over the word table (greedy
    // left-to-right merges); the oracle unrolls the same rounds in SQL
    // -- the ..-delimited string-replace merge is byte-equal in both
    // engines by construction.
    "llm_bpe_merges" -> ((s, d) =>
      TextAnalysis.bpeTrain(Tables.documents(s, d), "text", rounds = 3)),

    // Batched BPE training: 4 rounds x 4 symbol-disjoint merges per
    // round = 16 merges in 4 driver actions (vs 16 for sequential
    // bpeTrain -- the sub-linear wall that real 10^4-merge vocabularies
    // need). The oracle unrolls the same greedy conflict-free selection
    // per round in SQL: rank-1 pair, then best pair sharing no symbol
    // with earlier picks, then the batch replace chain in rank order.
    "llm_bpe_batch" -> ((s, d) =>
      TextAnalysis.bpeTrainBatched(Tables.documents(s, d), "text",
        rounds = 4, perRound = 4)),

    // BPE encode: tokenize the corpus under the staged trained merges
    // ([[Stages.bpeMerges]] — the tokenizer is a model artifact, not a
    // per-query retrain); per-doc BPE token counts. The oracle retrains
    // the merges in SQL, so the hash-match proves artifact ≡ retrain.
    "llm_bpe_encode" -> ((s, d) =>
      TextAnalysis.bpeEncode(Tables.documents(s, d), "doc_id", "text",
        Stages.bpeMerges(s, d))),

    // Tokenizer fertility (compression per language): alnum chars per
    // BPE token under the merges just trained, per lang -- the standard
    // tokenizer-eval metric (a language the merges were not trained on
    // costs more tokens per char). The micro ratio is computed as
    // div + scaled-remainder-div so the intermediate never exceeds
    // 1e6 * bpe_tokens -- overflow-safe at any corpus size, and exactly
    // equal to (1e6*chars) div tokens.
    "llm_fertility" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val enc = TextAnalysis.bpeEncode(docs, "doc_id", "text",
        Stages.bpeMerges(s, d))
      val chars = docs.select(col("doc_id"), col("lang"),
        aggregate(tokens(col("text")), lit(0L), (a, t) => a + length(t))
          .as("alnum_chars"))
      chars.join(enc.select("doc_id", "bpe_tokens"), Seq("doc_id"))
        .groupBy("lang")
        .agg(sum("alnum_chars").as("alnum_chars"),
          sum("bpe_tokens").as("bpe_tokens"))
        .withColumn("chars_per_token_micro",
          when(col("bpe_tokens") === 0, 0L).otherwise(
            expr("(alnum_chars div bpe_tokens) * 1000000 + " +
              "((alnum_chars % bpe_tokens) * 1000000) div bpe_tokens")))
    }),

    // CAPSTONE 4: train the tokenizer -> cost the corpus under it ->
    // spend a token budget on the best-quality docs. bpeTrain's merges
    // are data-derived but the oracle retrains them statically (the
    // llm_bpe_merges chain), so the whole composition is recomputed
    // from raw data with zero injected constants.
    "llm_pipeline4" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val enc = TextAnalysis.bpeEncode(docs, "doc_id", "text",
        Stages.bpeMerges(s, d))
      val q = TextAnalysis.withQuality(docs, "text")
        .select(col("doc_id"),
          floor(col("quality_score") * 1000000).cast("long")
            .as("quality_micro"))
      val costed = enc.select(col("doc_id"), col("bpe_tokens"))
        .join(q, Seq("doc_id"))
      Curation.budgetSelect(costed, "doc_id", "bpe_tokens",
        "quality_micro", budget = 45000L, partitions = 8)
        .withColumnRenamed("cum_tokens", "cum_bpe_tokens")
    }),

    // CAPSTONE 5: build the training mix -- the curation funnel a
    // pretraining run actually executes, end to end: Gopher-rule filter
    // -> per-source temperature mix (flatten head sources) -> spend a
    // char budget on the best-quality survivors -> deterministic shard
    // export plan. Every stage is an oracled operator above; the oracle
    // recomputes all four statically from raw data with zero injected
    // constants.
    "llm_pipeline5" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // scoped-pinned (r22): temperatureMix consumes its input TWICE
      // (per-group counts + the threshold filter join) — unpinned, the
      // gopher-rules UDF text pass ran over the corpus twice (the
      // pipeline7 stage-table pattern, guide §2.4)
      val kept = graft.core.Caches.scoped(
        TextAnalysis.gopherRules(docs, "text", minTokens = 25,
          maxTokens = 100000, minStopHits = 2, repMilli = 300)
          .where(col("keep"))
          .select(col("doc_id"), col("text"), col("source"),
            col("n_chars")))
      val mixed = Curation.temperatureMix(kept, "doc_id", "source", "p5")
      val q = TextAnalysis.withQuality(mixed, "text")
        .select(col("doc_id"),
          floor(col("quality_score") * 1000000).cast("long")
            .as("quality_micro"),
          col("n_chars"))
      val sel = Curation.budgetSelect(q, "doc_id", "n_chars",
        "quality_micro", budget = 30000L, partitions = 8)
      Curation.shardPlan(sel.select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", targetTokens = 4096L, epoch = 1,
        partitions = 8)
        .select(col("doc_id"), col("n_chars"), col("shard_id"),
          col("shard_offset"))
    }),

    // CAPSTONE 6 -- the web-curation composition end-to-end: synthesize
    // a crawl (per-doc URL + full HTML page embedding the REAL document
    // text), extract text (tag walk, style drop, whitespace collapse),
    // parse hosts to registered domains, drop blocklisted domains
    // (broadcast anti-join), enforce the per-domain keep-20 quota, and
    // count tokens of the extracted text. The oracle recomputes every
    // stage from raw data (expected text built directly, same window/
    // filter chain) -- one hash asserts the whole funnel.
    "llm_pipeline6" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val h = md5(col("doc_id").cast("string"))
      val (t1, t2) = (substring(h, 1, 4), substring(h, 5, 4))
      val tld = element_at(
        array(lit("com"), lit("org"), lit("co.uk"), lit("com.au")),
        (pmod(conv(substring(h, 3, 1), 16, 10).cast("int"), lit(4))
          + lit(1)))
      val host = concat(lit("w"), substring(h, 1, 2), lit(".s"),
        substring(h, 4, 1), lit("."), tld)
      val html = concat(
        lit("<html><head><title>"), t1, lit("</title><style>b{"), t2,
        lit("}</style></head><body><p>"), col("text"),
        lit("</p></body></html>"))
      val crawled = docs.select(col("doc_id"), host.as("host"),
        Web.htmlTextUdf(html).as("text"))
      val blocked = (0 to 7).map(c => s"s${"0123456789abcdef" (c)}.com")
      Web.domainQuota(Web.blocklistFilter(crawled, "host", blocked),
        "host", "doc_id", n = 20)
        .select(col("doc_id"), col("domain"), col("text"),
          size(split(col("text"), " ")).cast("long").as("n_toks"))
    }),

    // Collocations: top-50 adjacent bigrams by integer-exact PMI lift.
    "llm_collocations" -> ((s, d) =>
      TextAnalysis.collocations(Tables.documents(s, d), "text",
        minCount = 5, k = 50)),

    // Chunk -> document embedding: overlapping token windows, each
    // deterministically embedded, mean-pooled per doc in chunk order
    // (zip_with element sums, ONE division by chunk count).
    "llm_doc_embedding" -> ((s, d) =>
      // ONE compiled map-side pass per doc (r21): chunk + embed +
      // mean-pool inside the UDF -- the chunk explode and the
      // groupBy(doc_id) shuffle of per-chunk vectors are gone, and each
      // distinct (token, dim) md5 is hashed once per DOCUMENT instead
      // of once per containing chunk. Bit-equal to the staged
      // chunkDocuments + embed + meanPool composition (LlmOpsSpec pins
      // it; oracle unchanged).
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.chunkedMeanEmbeddingUdf(32, 24, 4)(col("text"))
            .as("doc_embedding"))
        .select(col("doc_id"),
          posexplode(col("doc_embedding")).as(Seq("dim", "v")))
        .select(col("doc_id"), col("dim"),
          floor(col("v") * 1000000).cast("long").as("v_micro"))),

    // Gopher-style repetition signals (micro-quantized integer ratios).
    "llm_repetition" -> ((s, d) =>
      TextAnalysis.withRepetition(Tables.documents(s, d), "text")
        .select(col("doc_id"),
          floor(col("top_token_frac") * 1000000).cast("long")
            .as("top_token_micro"),
          floor(col("top_bigram_frac") * 1000000).cast("long")
            .as("top_bigram_micro"),
          floor(col("dup_trigram_frac") * 1000000).cast("long")
            .as("dup_trigram_micro"))),

    // BM25 ranked retrieval (k1=1.2, b=0.75), micro-quantized per-term
    // scores so float addition order is irrelevant.
    "llm_bm25" -> ((s, d) =>
      TextAnalysis.bm25TopK(Tables.documents(s, d), "doc_id", "text",
        queryTerms = Seq("spark", "join", "vector", "stream"), k = 25)),

    // Structured Streaming batch-parity gates (the one family r8 had no
    // CORRECTNESS row for): the operator runs FOR REAL -- readStream
    // over the sf files, Trigger.AvailableNow, state store + watermark
    // engaged, append parquet sink -- and the SINK is what DuckDB
    // gates. First-occurrence state dedup projected to the key column
    // alone is deterministic (any winning row is identical), and equals
    // DISTINCT keys.
    "llm_stream_dedup" -> ((s, d) =>
      graft.streaming.StreamingGate.availableNow(s, s"$d/events.parquet",
        "dedup") { in =>
        graft.streaming.StreamingDedup.firstOccurrence(
          in.select(col("user_id")), "user_id")
      }),

    // Tumbling 6h event-time windows + zero-delay watermark under
    // append mode: a window reaches the sink only once the final
    // watermark (= max event time after the no-data batch) passes its
    // end, so the oracle asserts BOTH the per-window counts and the
    // open-window withholding.
    "llm_stream_window" -> ((s, d) =>
      graft.streaming.StreamingGate.availableNow(s, s"$d/events.parquet",
        "window") { in =>
        graft.streaming.StreamingStats.windowedCounts(
          graft.core.Tables.withTsNanos(in)
            .withColumn("ts_t", timestamp_micros(expr("ts div 1000"))),
          "ts_t", "event_type", "6 hours", "0 seconds")
      }.select(unix_micros(col("window_start")).as("w_start_us"),
        col("event_type"), col("n"))),

    // REAL image-header kernel gate: both engines construct well-formed
    // PNG/GIF/BMP headers (unhex of a hex string built from md5-derived
    // dims -- big-endian u32 for PNG, byte-swapped little-endian for
    // GIF/BMP), Spark PARSES them back with Multimodal.imageHeaderMeta,
    // and the oracle recomputes the encoded dims directly: a hash-match
    // proves the parser inverts the real container layouts.
    "llm_image_headers" -> ((s, d) => {
      val docs = Tables.documents(s, d).where(col("doc_id") < 300)
      def dim(off: Int) = expr("1 + CAST(conv(substring(md5(CAST(doc_id" +
        s" AS STRING)), $off, 3), 16, 10) AS INT) % 4000")
      val (w, h) = (dim(1), dim(4))
      def be32(c: org.apache.spark.sql.Column) = format_string("%08X", c)
      def le16(c: org.apache.spark.sql.Column) = {
        val h4 = format_string("%04X", c)
        concat(substring(h4, 3, 2), substring(h4, 1, 2))
      }
      def le32(c: org.apache.spark.sql.Column) = {
        val h8 = format_string("%08X", c)
        concat(substring(h8, 7, 2), substring(h8, 5, 2),
          substring(h8, 3, 2), substring(h8, 1, 2))
      }
      val hexPayload = when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("89504E470D0A1A0A0000000D49484452"), be32(w), be32(h),
            lit("0806000000")))
        .when(pmod(col("doc_id"), lit(3)) === 1,
          concat(lit("474946383961"), le16(w), le16(h), lit("F70000")))
        .otherwise(concat(lit("424D"), lit("0" * 24), lit("28000000"),
          le32(w), le32(h), lit("0100")))
      Multimodal.withImageHeaderMeta(
        docs.select(col("doc_id"), unhex(hexPayload).as("payload")),
        "payload")
        .select(col("doc_id"), col("img_format"), col("img_width"),
          col("img_height"))
    }),

    // URL/domain curation kernels (the CCNet/RefinedWeb shape): both
    // engines construct deterministic URLs from md5(doc_id) -- scheme
    // by parity, host w<hex>.s<hex>.<tld> with tld cycling through
    // {com, org, co.uk, com.au} (exercising both 2- and 3-label
    // registered domains) -- Spark PARSES them back with Web's pure
    // column expressions, and the oracle recomputes the encoded parts
    // directly: a hash-match proves scheme/host/path extraction and the
    // suffix-aware registered-domain slice invert the construction.
    // C4 line+doc cleaning (Raffel et al. 2020 §2.2) over SYNTHESIZED
    // multi-line docs (the raw corpus is single-line): tokens chunked
    // into 8-word lines, 2 of every 3 lines get terminal punctuation;
    // every 5th doc gets a well-formed "javascript ..." line (only the
    // javascript rule can drop it), every 11th a "lorem ipsum" tail
    // line and every 13th a curly-brace tail (the DOC-level rules).
    // The oracle re-makes the same synthesis + filter in SQL.
    "llm_c4_clean" -> ((s, d) =>
      Web.c4LineClean(c4Synth(Tables.documents(s, d)), "doc_id", "text")
        .select(col("doc_id"), col("n_lines"), col("kept_lines"),
          col("c4_keep"), md5(col("clean_text")).as("clean_md5"))),

    // Capstone 7: the continuation's operators composed in ONE DAG —
    // C4 clean (keep c4_keep docs, work on the CLEANED text) -> train
    // the NB classifier on the cleaned labeled third -> keep predicted-
    // positive docs -> hash-ranked exact sample. The static oracle
    // re-makes synthesis, line filter, NB retraining, scoring AND the
    // sample ranking from the raw table — zero injected constants.
    "llm_pipeline7" -> ((s, d) => {
      // scoped persist (r21): `cleaned` feeds FIVE subtrees (nb doc
      // tokens, nb id frame, nb seed tokens, nb prior, the outer join)
      // — unpinned, Catalyst re-ran the c4Synth + c4LineClean scan once
      // per subtree (5 corpus passes at 100 TB); pinned it runs once
      val cleaned = graft.core.Caches.scoped(
        Web.c4LineClean(c4Synth(Tables.documents(s, d)),
          "doc_id", "text")
          .where(col("c4_keep"))
          .select(col("doc_id"), col("lang"), col("clean_text").as("text")))
      val nb = TextAnalysis.nbClassify(cleaned,
        cleaned.where(col("doc_id") % 3 === 0)
          .withColumn("is_en", col("lang") === "en"),
        "doc_id", "text", "is_en")
      val kept = cleaned.join(
        nb.where(col("nb_pred")).select("doc_id", "nb_llr_micro"),
        Seq("doc_id"))
      Curation.exactSample(kept, "doc_id", n = 64, salt = "p7")
        .select(col("doc_id"), md5(col("text")).as("clean_md5"),
          col("nb_llr_micro"))
    }),

    "llm_url_parse" -> ((s, d) => {
      val docs = Tables.documents(s, d).where(col("doc_id") < 300)
      val h = md5(col("doc_id").cast("string"))
      val scheme = when(pmod(col("doc_id"), lit(2)) === 0, lit("https"))
        .otherwise(lit("http"))
      val tld = element_at(
        array(lit("com"), lit("org"), lit("co.uk"), lit("com.au")),
        (pmod(conv(substring(h, 3, 1), 16, 10).cast("int"), lit(4))
          + lit(1)))
      val host = concat(lit("w"), substring(h, 1, 2), lit(".s"),
        substring(h, 4, 1), lit("."), tld)
      val url = concat(scheme, lit("://"), host, lit("/p/"),
        substring(h, 5, 3))
      Web.withRegisteredDomain(
        Web.withUrlParts(docs.select(col("doc_id"), url.as("url")), "url"),
        "url_host")
        .select("doc_id", "url_scheme", "url_host", "url_path", "domain")
    }),

    // URL-level dedup (the crawl pipeline's FIRST dedup stage: the same
    // page refetched under tracking params / www / default-port /
    // fragment / case variants is one document): even doc_ids carry the
    // clean https form of a page, odd ids a maximally-messy variant of
    // the SAME page (uppercase scheme+host, www., :443, reordered
    // params + utm/fbclid tracking, trailing slash, fragment) — the
    // canonicalizer must collapse each odd id onto its even partner.
    "llm_url_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d).where(col("doc_id") < 400)
      val h = md5(expr("doc_id div 2").cast("string"))
      val url = when(pmod(col("doc_id"), lit(2)) === 0,
          concat(lit("https://site"), substring(h, 1, 2), lit(".com/p/"),
            substring(h, 3, 3), lit("?a=1&b=2")))
        .otherwise(
          concat(lit("HTTPS://WWW.site"), upper(substring(h, 1, 2)),
            lit(".COM:443/p/"), substring(h, 3, 3),
            lit("/?b=2&utm_source=x&a=1&fbclid=zz#frag")))
      Web.urlDedupFlags(docs.select(col("doc_id"), url.as("url")),
        "doc_id", "url")
        .select("doc_id", "url_canon", "url_is_dup")
    }),

    // Domain blocklist + per-domain counts over the same synthetic
    // hosts: registered domains s0.com..s7.com are blocklisted (the
    // broadcast anti-join policy filter), survivors aggregate per
    // domain -- the quota/reporting primitive behind per-domain caps.
    "llm_domain_filter" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val h = md5(col("doc_id").cast("string"))
      val tld = element_at(
        array(lit("com"), lit("org"), lit("co.uk"), lit("com.au")),
        (pmod(conv(substring(h, 3, 1), 16, 10).cast("int"), lit(4))
          + lit(1)))
      val host = concat(lit("w"), substring(h, 1, 2), lit(".s"),
        substring(h, 4, 1), lit("."), tld)
      val blocked = (0 to 7).map(c => s"s${"0123456789abcdef" (c)}.com")
      Web.blocklistFilter(docs.select(col("doc_id"), host.as("host")),
        "host", blocked)
        .groupBy("domain").agg(count(lit(1)).as("n_docs"))
    }),

    // HTML -> text extraction kernel: both engines derive the title/
    // body fragments from md5(doc_id); Spark BUILDS a full page around
    // them (head/style/script/nested tags/entities) and extracts the
    // text with the single-pass walk, the oracle constructs the
    // EXPECTED text directly -- a hash-match proves tag dropping,
    // script/style content removal, entity decode, and whitespace
    // collapse against a known-answer page corpus.
    "llm_html_extract" -> ((s, d) => {
      val docs = Tables.documents(s, d).where(col("doc_id") < 300)
      val h = md5(col("doc_id").cast("string"))
      val (t1, t2, t3) =
        (substring(h, 1, 4), substring(h, 5, 4), substring(h, 9, 4))
      // the comment (with embedded markup AND a bare '>') and the
      // CDATA section must contribute NOTHING -- the oracle's expected
      // text ignores them, so the hash only matches if the extractor
      // genuinely skips to '-->' / ']]>' instead of the first '>'
      val html = concat(
        lit("<html><head><title>"), t1, lit("</title>"),
        lit("<style>body{c:"), t2, lit("}</style>"),
        lit("<script>var a='"), t3, lit("';</script></head>"),
        lit("<body>\n  <!-- <p>dead "), t2, lit("</p> x > y -->"),
        lit("<h1>Head "), t1, lit("</h1>\n  <p>Para <b>"), t2,
        lit("</b><![CDATA[ raw <b>"), t3, lit("</b> ]]>"),
        lit(" &amp; tail &lt;"), t3, lit("&gt;</p>\n</body></html>"))
      docs.select(col("doc_id"),
        Web.htmlTextUdf(html).as("text"))
    }),

    // Per-domain quota: keep at most 20 docs per registered domain,
    // selected by md5(doc_id) order (id tiebreak) -- the hard cap that
    // domainCounts reports for. Oracle re-makes the identical window.
    "llm_domain_quota" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val h = md5(col("doc_id").cast("string"))
      val tld = element_at(
        array(lit("com"), lit("org"), lit("co.uk"), lit("com.au")),
        (pmod(conv(substring(h, 3, 1), 16, 10).cast("int"), lit(4))
          + lit(1)))
      val host = concat(lit("w"), substring(h, 1, 2), lit(".s"),
        substring(h, 4, 1), lit("."), tld)
      Web.domainQuota(docs.select(col("doc_id"), host.as("host")),
        "host", "doc_id", n = 20)
        .select("doc_id", "domain")
    }),

    // robots.txt (RFC 9309) crawl-politeness filter: nine path
    // templates from md5(doc_id) exercise prefix rules, the * and $
    // wildcards, longest-match precedence (Allow /api/*/docs over
    // Disallow /api/), and per-agent group selection (named group vs
    // the * fallback). The REAL parser+matcher runs on the policy
    // text; the oracle hardcodes the RFC decision per template —
    // implementation-independent, so a hash match proves the matcher
    // implements the spec, not itself.
    "llm_robots" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val policy =
        "# fixture crawl policy\n" +
          "User-agent: graftbot\n" +
          "Disallow: /private/\n" +
          "Allow: /private/ok/\n" +
          "Disallow: /*.json$\n" +
          "Disallow: /api/\n" +
          "Allow: /api/*/docs\n" +
          "Disallow: /tmp*\n" +
          "\n" +
          "User-agent: *\n" +
          "Allow: /public/\n" +
          "Disallow: /\n"
      val h = md5(col("doc_id").cast("string"))
      val seg = substring(h, 1, 6)
      val c = pmod(conv(substring(h, 7, 1), 16, 10).cast("int"), lit(9))
      val path = when(c === 0, concat(lit("/public/"), seg))
        .when(c === 1, concat(lit("/private/"), seg))
        .when(c === 2, concat(lit("/private/ok/"), seg))
        .when(c === 3, concat(lit("/data/"), seg, lit(".json")))
        .when(c === 4, concat(lit("/data/"), seg, lit(".json/x")))
        .when(c === 5, concat(lit("/api/"), seg, lit("/docs")))
        .when(c === 6, concat(lit("/tmp"), seg))
        .when(c === 7, concat(lit("/api/"), seg, lit("/docs/extra")))
        .otherwise(concat(lit("/api/"), seg, lit("/other")))
      val base = docs.select(col("doc_id"), path.as("path"))
      Web.withRobotsAllowed(
        Web.withRobotsAllowed(base, "path", policy,
          "GraftBot/1.2 (+https://example.com/bot)", "g"),
        "path", policy, "StrangerBot/2.0", "o")
        .select("doc_id", "path", "g_allowed", "g_rule", "o_allowed")
    }),

    // REAL TIFF-header kernel gate: even doc_ids build little-endian
    // (II) files with LONG dim entries, odd doc_ids big-endian (MM)
    // with SHORT entries (value packed in the value field's first two
    // bytes, file byte order) -- the parser must walk the IFD in the
    // declared byte order and handle both value types to invert this.
    "llm_tiff_headers" -> ((s, d) => {
      val docs = Tables.documents(s, d).where(col("doc_id") < 300)
      def dim(off: Int) = expr("1 + CAST(conv(substring(md5(CAST(doc_id" +
        s" AS STRING)), $off, 3), 16, 10) AS INT) % 4000")
      val (w, h) = (dim(1), dim(4))
      def be16(c: org.apache.spark.sql.Column) = format_string("%04X", c)
      def be32(c: org.apache.spark.sql.Column) = format_string("%08X", c)
      def le16(c: org.apache.spark.sql.Column) = {
        val h4 = format_string("%04X", c)
        concat(substring(h4, 3, 2), substring(h4, 1, 2))
      }
      def le32(c: org.apache.spark.sql.Column) = {
        val h8 = format_string("%08X", c)
        concat(substring(h8, 7, 2), substring(h8, 5, 2),
          substring(h8, 3, 2), substring(h8, 1, 2))
      }
      def leEntry(tag: Int, v: org.apache.spark.sql.Column) =
        concat(le16(lit(tag)), lit("0400"), le32(lit(1)), le32(v))
      def beEntryShort(tag: Int, v: org.apache.spark.sql.Column) =
        concat(be16(lit(tag)), lit("0003"), be32(lit(1)), be16(v),
          lit("0000"))
      val hexPayload = when(pmod(col("doc_id"), lit(2)) === 0,
          concat(lit("49492A00"), le32(lit(8)), le16(lit(2)),
            leEntry(256, w), leEntry(257, h), le32(lit(0))))
        .otherwise(
          concat(lit("4D4D002A"), be32(lit(8)), be16(lit(2)),
            beEntryShort(256, w), beEntryShort(257, h), be32(lit(0))))
      Multimodal.withImageHeaderMeta(
        docs.select(col("doc_id"), unhex(hexPayload).as("payload")),
        "payload")
        .select(col("doc_id"), col("img_format"), col("img_width"),
          col("img_height"))
    }),

    // REAL WAV-header kernel gate (same protocol as llm_image_headers):
    // both engines derive PCM params from md5(doc_id), Spark BUILDS a
    // canonical 44-byte RIFF/WAVE header (unhex of little-endian hex
    // fields) and PARSES it back with Multimodal.wavHeaderMeta; the
    // oracle recomputes the encoded params directly -- a hash-match
    // proves the parser inverts the real container layout.
    "llm_wav_headers" -> ((s, d) => {
      val docs = Tables.documents(s, d).where(col("doc_id") < 300)
      def h(off: Int, len: Int) = expr(
        s"CAST(conv(substring(md5(CAST(doc_id AS STRING)), $off, $len)," +
          " 16, 10) AS BIGINT)")
      val ch = (lit(1) + pmod(h(1, 1), lit(2))).cast("int")
      val rate = (lit(8000) + pmod(h(2, 4), lit(40000))).cast("int")
      val bits = (lit(8) * (lit(1) + pmod(h(6, 1), lit(3)))).cast("int")
      val dataLen = pmod(h(10, 5), lit(1000000L))
      // Spark's `/` is double division; cast back so the %X hex
      // formatters see integers (values are exact multiples of 8)
      val blockAlign = (ch * bits / lit(8)).cast("int")
      val byteRate = rate * blockAlign
      def le16(c: org.apache.spark.sql.Column) = {
        val h4 = format_string("%04X", c)
        concat(substring(h4, 3, 2), substring(h4, 1, 2))
      }
      def le32(c: org.apache.spark.sql.Column) = {
        val h8 = format_string("%08X", c)
        concat(substring(h8, 7, 2), substring(h8, 5, 2),
          substring(h8, 3, 2), substring(h8, 1, 2))
      }
      val hexPayload = concat(
        lit("52494646"), le32(lit(36) + dataLen), lit("57415645"), // RIFF/WAVE
        lit("666D7420"), lit("10000000"), lit("0100"),             // fmt /16/PCM
        le16(ch), le32(rate), le32(byteRate), le16(blockAlign), le16(bits),
        lit("64617461"), le32(dataLen))                            // data
      Multimodal.withWavHeaderMeta(
        docs.select(col("doc_id"), unhex(hexPayload).as("payload")),
        "payload")
        .select(col("doc_id"), col("wav_channels"), col("wav_sample_rate"),
          col("wav_bits"), col("wav_data_len"))
    }),

    // REAL pixel-CONTENT gate (past the header line): three fixture
    // families from md5(doc_id) with the shared pixel formula
    // p(x,y,c) = (doc_id*31 + y*7 + x*3 + c*11) % 256 —
    //   doc_id%3==2: uncompressed 24-bit BMP built ENTIRELY in column
    //     exprs (bottom-up rows, BGR byte order, 4-byte row padding);
    //   doc_id%3==0/1: PNG RGB8 / grayscale built by pngEncode (zlib
    //     deflate + per-scanline filter y%5, so all five filters occur).
    // Spark DECODES every payload with the real kernels (Inflater +
    // unfilter / stride walk) and emits exact integer per-channel
    // sums/extrema; the oracle recomputes them straight from the
    // formula — a hash-match proves decode inverts real encodings.
    "llm_image_stats" -> ((s, d) =>
      Multimodal.withImagePixelStats(
        syntheticImageDocs(Tables.documents(s, d)), "payload")
        .select(col("doc_id"), col("px_format"), col("px_width"),
          col("px_height"),
          posexplode(arrays_zip(col("px_sum"), col("px_min"),
            col("px_max"))).as(Seq("channel", "z")))
        .select(col("doc_id"), col("px_format"), col("px_width"),
          col("px_height"), col("channel"),
          col("z.px_sum").as("ch_sum"), col("z.px_min").as("ch_min"),
          col("z.px_max").as("ch_max"))),

    // REAL content-derived media features (same synthetic-payload
    // protocol): 2x2 grid mean-pool per channel over the DECODED
    // pixels — floor(cellSum*1e6/cellCount), one integer division, so
    // the vector is exact. Unlike px_sum, the grid separates images
    // with identical global statistics but different spatial layout;
    // widths/heights below the grid exercise the empty-cell -> 0 path.
    "llm_media_features" -> ((s, d) =>
      Multimodal.withMediaContentFeatures(
        syntheticImageDocs(Tables.documents(s, d)), "payload", grid = 2)
        .select(col("doc_id"), col("mf_format"), col("mf_width"),
          col("mf_height"),
          posexplode(col("media_feat")).as(Seq("fi", "f")))),

    // REAL resize gate (r16, closes the identity-resize stub): decode
    // the synthetic BMP/PNG fixtures, box-filter downscale by 2 with
    // edge clamp, RE-ENCODE as PNG, then DECODE THAT with the pixel
    // kernel and emit per-channel stats of the resized image. The
    // oracle recomputes every resized pixel straight from the block
    // formula floor(sum/count) — a hash match proves the whole
    // decode -> resize -> encode -> decode chain is pixel-exact.
    "llm_image_resize" -> ((s, d) => {
      val rz = Multimodal.withResizedPixels(
        syntheticImageDocs(Tables.documents(s, d)), "payload",
        factor = 2)
      Multimodal.withImagePixelStats(
        rz.select(col("doc_id"), col("rz_format"),
          col("rz_png").as("payload")), "payload")
        .select(col("doc_id"), col("rz_format").as("rz_src_format"),
          col("px_width").as("rz_width"),
          col("px_height").as("rz_height"),
          posexplode(arrays_zip(col("px_sum"), col("px_min"),
            col("px_max"))).as(Seq("channel", "z")))
        .select(col("doc_id"), col("rz_src_format"), col("rz_width"),
          col("rz_height"), col("channel"),
          col("z.px_sum").as("ch_sum"), col("z.px_min").as("ch_min"),
          col("z.px_max").as("ch_max"))
    }),

    // jusText-style main-content extraction: each doc's text rides as
    // the content paragraph of a synthesized page whose nav (pure
    // links -> 3*linkChars > totalChars), tiny paragraph (< 40 chars)
    // and footer are boilerplate the block rules must DROP, while the
    // content paragraph and a constant link-free paragraph survive.
    // The oracle replays the keep decision and the exact joined text
    // (corpus text contains no <, > or &, so per-block extraction
    // reduces to whitespace collapse).
    "llm_main_content" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val nav = "<nav><a href=\"/\">Home page</a> " +
        "<a href=\"/a\">About our project</a> " +
        "<a href=\"/c\">Contact and support</a></nav>"
      val aboutPar = "<p>About this corpus: a deterministic fixture " +
        "paragraph kept by the density rule.</p>"
      val footer = "<footer>(c) 2024 <a href=\"/t\">Terms</a></footer>"
      // commented-out nav INSIDE the content paragraph: its link chars
      // and '>'s must not reach the density rule or the text -- the
      // oracle's replay ignores it, so the hash gates the comment skip
      val deadNav = "<!-- retired nav: <a href=\"/old\">Old home " +
        "page</a> <a href=\"/old2\">Old contact > support</a> -->"
      val html = concat(lit("<html><body>" + nav + "<p>"), col("text"),
        lit(deadNav + "</p>" + aboutPar + "<p>tiny</p>" + footer +
          "</body></html>"))
      Web.withMainContent(
        docs.select(col("doc_id"), html.as("html")), "html")
        .select(col("doc_id"),
          length(col("main_text")).cast("long").as("main_len"),
          md5(col("main_text")).as("main_md5"))
    }),

    // Crawl-to-corpus capstone composing the three r15 crawl operators
    // in one DAG: WARC parse -> response filter -> main-content
    // extraction -> Gopher rule filter. The oracle replays every stage
    // from the raw documents table: the synthesized archive collapses
    // to the main-content formula, and the rule booleans recompute
    // integer-exact over the extracted text.
    "llm_pipeline8" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val crlf = "\r\n"
      val nav = "<nav><a href=\"/\">Home page</a> " +
        "<a href=\"/a\">About our project</a> " +
        "<a href=\"/c\">Contact and support</a></nav>"
      val aboutPar = "<p>About this corpus: a deterministic fixture " +
        "paragraph kept by the density rule.</p>"
      val footer = "<footer>(c) 2024 <a href=\"/t\">Terms</a></footer>"
      val html = concat(lit("<html><body>" + nav + "<p>"), col("text"),
        lit("</p>" + aboutPar + "<p>tiny</p>" + footer +
          "</body></html>"))
      val http = concat(
        lit("HTTP/1.1 200 OK" + crlf + "Content-Type: text/html" +
          crlf + crlf), html)
      val arc = concat(
        lit("WARC/1.0" + crlf + "WARC-Type: response" + crlf +
          "WARC-Target-URI: https://ex.com/p/"),
        col("doc_id").cast("string"),
        lit(crlf + "Content-Length: "), octet_length(http).cast("string"),
        lit(crlf + crlf), http, lit(crlf + crlf))
      val recs = graft.llmops.Warc.withWarcRecords(
        docs.select(col("doc_id"), arc.as("arc")), "arc")
        .where(col("warc_type") === "response" &&
          col("http_status") === 200)
      val main = recs.select(col("doc_id"),
        Web.mainContentUdf(col("warc_body")).as("main_text"))
      TextAnalysis.gopherRules(main, "main_text", minTokens = 25,
        maxTokens = 100000, minStopHits = 2, repMilli = 300)
        .select(col("doc_id"), md5(col("main_text")).as("main_md5"),
          col("n_tokens"), col("rule_len"), col("rule_mean"),
          col("rule_stop"), col("rule_rep"), col("keep"))
    }),

    // Link extraction (the WAT-style outlink metadata): pages carry a
    // relative link, an absolute link, a single-quoted fragment link
    // (fragment must be cut), and an <A HREF> case variant; the oracle
    // replays each target from the synthesis formula — no regex on the
    // oracle side, so the extraction rules themselves are what's
    // gated.
    "llm_links" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val t1 = pmod(col("doc_id") * 7 + 1, lit(100)).cast("string")
      val t2 = pmod(col("doc_id") * 13 + 2, lit(100)).cast("string")
      val t3 = pmod(col("doc_id") * 31 + 5, lit(100)).cast("string")
      val html = concat(
        lit("<html><body><p>text</p><a href=\"/p/"), t1,
        lit("\">one</a> <A HREF=\"https://ex"),
        pmod(col("doc_id"), lit(7)).cast("string"), lit(".com/p/"), t2,
        lit("\">two</A> <a class=\"x\" href='/p/"), t3,
        lit("#frag'>three</a></body></html>"))
      Web.withExtractedLinks(
        docs.select(col("doc_id"), html.as("html")), "html")
        .select(col("doc_id"),
          posexplode(col("links")).as(Seq("li", "link")))
    }),

    // RFC 3986 reference resolution (link -> frontier): eight ref
    // classes from md5(doc_id) exercise relative merge, dot-segment
    // removal with root clamping, root-relative, query-only,
    // scheme-relative, fragment drop and absolute normalization; the
    // oracle hardcodes the RFC's answer per class.
    "llm_url_resolve" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val h = md5(col("doc_id").cast("string"))
      val seg = substring(h, 1, 4)
      val seg2 = substring(h, 5, 4)
      val c = pmod(conv(substring(h, 9, 1), 16, 10).cast("int"), lit(8))
      val base = concat(lit("https://ex"),
        pmod(col("doc_id"), lit(7)).cast("string"), lit(".com/a/"),
        seg, lit("/page?x=1"))
      val ref = when(c === 0, concat(lit("g"), seg2))
        .when(c === 1, concat(lit("/root/"), seg2))
        .when(c === 2, lit("../up"))
        .when(c === 3, concat(lit("../../"), seg2))
        .when(c === 4, concat(lit("?y="), seg2))
        .when(c === 5, concat(lit("//other.com/p/"), seg2))
        .when(c === 6, lit("g/./h#frag"))
        .otherwise(lit("http://abs.com/x/../y"))
      docs.select(col("doc_id"), base.as("base"), ref.as("ref"))
        .withColumn("resolved",
          Web.resolveUrlUdf(col("base"), col("ref")))
    }),

    // Crawl link-graph capstone: WARC parse -> link extraction ->
    // target-id parse -> directed edge list -> integer PageRank
    // (3 rounds, the gated Graphs.pageRank). All 100 hub pages get
    // cross-SF in-link mass from every doc, so ranks genuinely
    // separate; the oracle rebuilds the edge list from the link
    // formula and replays the identical integer rank recurrence.
    "llm_pipeline10" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val crlf = "\r\n"
      val t1 = pmod(col("doc_id") * 7 + 1, lit(100)).cast("string")
      val t2 = pmod(col("doc_id") * 13 + 2, lit(100)).cast("string")
      val html = concat(
        lit("<html><body><a href=\"/p/"), t1,
        lit("\">a</a> <a href=\"/p/"), t2,
        lit("\">b</a><p>"), col("text"), lit("</p></body></html>"))
      val http = concat(
        lit("HTTP/1.1 200 OK" + crlf + "Content-Type: text/html" +
          crlf + crlf), html)
      val arc = concat(
        lit("WARC/1.0" + crlf + "WARC-Type: response" + crlf +
          "WARC-Target-URI: https://ex.com/p/"),
        col("doc_id").cast("string"),
        lit(crlf + "Content-Length: "), octet_length(http).cast("string"),
        lit(crlf + crlf), http, lit(crlf + crlf))
      val recs = graft.llmops.Warc.withWarcRecords(
        docs.select(col("doc_id"), arc.as("arc")), "arc")
        .where(col("warc_type") === "response")
      val edges = Web.withExtractedLinks(recs, "warc_body")
        .select(col("doc_id"),
          explode(col("links")).as("link"))
        .select(col("doc_id").as("src"),
          regexp_extract(col("link"), "/p/(\\d+)$", 1)
            .cast("long").as("dst"))
      graft.llmops.Graphs.pageRank(edges, "src", "dst",
        iters = 3, dampingMilli = 850)
        .select(col("id").as("node_id"), col("rank_micro"))
    }),

    // Canonical-URL dedup identity: four classes — rel-then-href with
    // a ROOT-RELATIVE canonical (must resolve against the page url),
    // href-then-rel absolute, canonical with a fragment (cut), and no
    // declaration (dedup key falls back to the page url). The oracle
    // replays declaration + resolution + the coalesced dedup key.
    "llm_canonical" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val c = pmod(col("doc_id"), lit(4))
      val t = pmod(col("doc_id") * 11 + 3, lit(100)).cast("string")
      val url = concat(lit("https://ex"),
        pmod(col("doc_id"), lit(7)).cast("string"), lit(".com/v/"),
        col("doc_id").cast("string"))
      val html = when(c === 0, concat(
          lit("<html><head><link rel=\"canonical\" href=\"/c/"), t,
          lit("\"></head><body>x</body></html>")))
        .when(c === 1, concat(
          lit("<html><head><link href='https://canon.com/x"), t,
          lit("' rel='canonical'></head>x</html>")))
        .when(c === 2, concat(
          lit("<html><head><link rel=canonical href=\"/c/"), t,
          lit("#sec\"></head>x</html>")))
        .otherwise(lit("<html><head><title>t</title></head>x</html>"))
      Web.withCanonicalUrl(
        docs.select(col("doc_id"), url.as("url"), html.as("html")),
        "url", "html")
        .select(col("doc_id"), col("canonical_url"),
          coalesce(col("canonical_url"), col("url")).as("dedup_url"))
    }),

    // Charset sniffing precedence: header param > HTML5 meta > legacy
    // http-equiv > null; five fixture classes exercise each source,
    // the header-beats-meta conflict, and the none-declared fallback.
    // The oracle hardcodes the expected charset per class.
    "llm_charset" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val c = pmod(col("doc_id"), lit(5))
      val ctype = when(c === 0, lit("text/html; charset=ISO-8859-1"))
        .when(c === 2, lit("text/html; charset=UTF-8"))
        .otherwise(lit("text/html"))
      val html = when(c === 1,
          lit("<html><head><meta charset=\"windows-1251\"></head>" +
            "<body>x</body></html>"))
        .when(c === 2,
          lit("<html><head><meta charset='latin1'></head>x</html>"))
        .when(c === 4,
          lit("<html><head><meta http-equiv=\"Content-Type\" " +
            "content=\"text/html; charset=Shift_JIS\"></head>x</html>"))
        .otherwise(lit("<html><body>plain</body></html>"))
      Web.withCharset(
        docs.select(col("doc_id"), ctype.as("http_content_type"),
          html.as("body")), "http_content_type", "body")
        .select(col("doc_id"), col("charset"))
    }),

    // Public-suffix list as DATA: the PSL algorithm's three rule kinds
    // against the old heuristic, side by side — private registries
    // (a.github.io), deeper ICANN suffixes the 18-entry table missed
    // (com.sg), wildcard (*.ck), exception (!www.ck), and a host that
    // IS a public suffix (no registrable part -> null). The oracle
    // hardcodes what the PSL algorithm requires per class; domain
    // quotas/robots keys/url dedup all follow this key.
    "llm_psl_domains" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val c = pmod(col("doc_id"), lit(7))
      val k = pmod(col("doc_id") * 3 + 1, lit(50)).cast("string")
      val host = when(c === 0, concat(lit("a"), k, lit(".github.io")))
        .when(c === 1, concat(lit("x"), k, lit(".y.com.sg")))
        .when(c === 2, concat(lit("w"), k, lit(".example.ck")))
        .when(c === 3, concat(lit("sub"), k, lit(".www.ck")))
        .when(c === 4, concat(lit("b"), k, lit(".example.com")))
        .when(c === 5, concat(lit("deep"), k, lit(".a.b.co.uk")))
        .otherwise(lit("github.io"))
      val psl = Web.parsePsl(
        "// test public suffix list\ncom\nsg\ncom.sg\nco.uk\nuk\nio\n" +
          "github.io\n*.ck\n!www.ck\n")
      val base = docs.select(col("doc_id"), host.as("host"))
        .withColumn("domain_heur", Web.registeredDomainCol(col("host")))
      Web.withRegisteredDomainPsl(base, "host", psl, "domain_psl")
        .select(col("doc_id"), col("host"), col("domain_heur"),
          col("domain_psl"))
    }),

    // Charset transcoding end-to-end: byte-transparent WARC read
    // (latin1 chars == payload bytes) -> charset sniff -> CharsetDecoder
    // transcode -> WET render -> re-parse. Four classes: ISO-8859-1
    // declared in the HTTP header, Shift_JIS via <meta charset>,
    // windows-1251 via legacy http-equiv, and an UNDECLARED page whose
    // bytes are valid UTF-8 (the fallback). The oracle hardcodes the
    // expected post-transcode CODE POINTS per class (chr()-built — it
    // never trusts this engine's decoder), and both len_ok flags gate
    // that byte-transparent parsing and the WET render of the
    // now-genuinely-UTF-8 text are byte-consistent.
    "llm_transcode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val c = pmod(col("doc_id"), lit(4))
      val crlf = "\r\n"
      def b(str: String) = lit(str).cast("binary")
      val idB = col("doc_id").cast("string").cast("binary")
      // payload byte runs per class (hex keeps the source ASCII):
      //   0: "café résumé"  latin1  63 61 66 E9 20 72 E9 73 75 6D E9
      //   1: "日本"          sjis    93 FA 96 7B
      //   2: "Привет"       cp1251  CF F0 E8 E2 E5 F2
      //   3: "héllo"        utf-8   68 C3 A9 6C 6C 6F
      val nonAscii = when(c === 0, unhex(lit("636166E92072E973756DE9")))
        .when(c === 1, unhex(lit("93FA967B")))
        .when(c === 2, unhex(lit("CFF0E8E2E5F2")))
        .otherwise(unhex(lit("68C3A96C6C6F")))
      val head = when(c === 1,
          b("<html><head><meta charset=\"shift_jis\"></head><body><p>"))
        .when(c === 2,
          b("<html><head><meta http-equiv=\"Content-Type\" content=" +
            "\"text/html; charset=windows-1251\"></head><body><p>"))
        .otherwise(b("<html><body><p>"))
      val htmlB = concat(head, nonAscii, b(" doc "), idB,
        b("</p></body></html>"))
      val ctype = when(c === 0, b("text/html; charset=ISO-8859-1"))
        .otherwise(b("text/html"))
      val httpB = concat(b("HTTP/1.1 200 OK" + crlf + "Content-Type: "),
        ctype, b(crlf + crlf), htmlB)
      val arcB = concat(
        b("WARC/1.0" + crlf + "WARC-Type: response" + crlf +
          "WARC-Target-URI: https://ex.com/t/"), idB,
        b(crlf + "Content-Length: "),
        octet_length(httpB).cast("string").cast("binary"),
        b(crlf + crlf), httpB, b(crlf + crlf))
      val recs = graft.llmops.Warc.withWarcRecords(
        docs.select(col("doc_id"), arcB.as("arc")), "arc",
        byteTransparent = true)
      val sniffed = Web.withCharset(recs, "http_content_type",
        "warc_body")
      val txt = Web.withTranscodedBody(sniffed, "warc_body", "charset")
      val wet = graft.llmops.Warc.toWet(txt,
        Web.htmlTextUdf(col("text_utf8")))
      graft.llmops.Warc.withWarcRecords(
        wet.select(col("doc_id"), col("charset"),
          col("declared_len_ok").as("src_len_ok"), col("wet_record")),
        "wet_record")
        .select(col("doc_id"), col("charset"), col("src_len_ok"),
          col("warc_body").as("text_utf8"),
          col("declared_len_ok").as("wet_len_ok"))
    }),

    // Redirect handling: 301 responses carry a root-relative Location
    // the parser must surface and the frontier must RESOLVE against
    // the request url (redirect chains are how crawls discover moved
    // content); 200s carry none. The oracle replays status, raw
    // location and the resolved absolute target.
    "llm_redirects" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val crlf = "\r\n"
      val url = concat(lit("https://ex"),
        pmod(col("doc_id"), lit(7)).cast("string"), lit(".com/old/"),
        col("doc_id").cast("string"))
      val locPath = concat(lit("/new/"),
        pmod(col("doc_id") * 3 + 1, lit(100)).cast("string"))
      val http = when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit("HTTP/1.1 301 Moved Permanently" + crlf +
            "Location: "), locPath, lit(crlf + crlf)))
        .otherwise(concat(lit("HTTP/1.1 200 OK" + crlf +
          "Content-Type: text/html" + crlf + crlf + "<p>"),
          col("text"), lit("</p>")))
      val arc = concat(
        lit("WARC/1.0" + crlf + "WARC-Type: response" + crlf +
          "WARC-Target-URI: "), url,
        lit(crlf + "Content-Length: "), octet_length(http).cast("string"),
        lit(crlf + crlf), http, lit(crlf + crlf))
      graft.llmops.Warc.withWarcRecords(
        docs.select(col("doc_id"), arc.as("arc")), "arc")
        .select(col("doc_id"), col("http_status"), col("http_location"),
          when(col("http_status").isin(301, 302, 303, 307, 308) &&
            col("http_location").isNotNull,
            Web.resolveUrlUdf(col("warc_url"), col("http_location")))
            .as("redirect_target"),
          col("declared_len_ok"))
    }),

    // Frontier-step capstone: the DAG a crawler runs between fetch
    // rounds — extract links, RESOLVE them against the page URL,
    // canonicalize (tracking params drop, fragments are already cut),
    // aggregate reference counts, and anti-join the already-crawled
    // set so only NEW work remains. Class-2 links collapse onto
    // crawled pages only when doc_id ≡ target (mod 7) and class-3
    // scheme-relative links ALWAYS do, so the anti-join genuinely
    // splits; the oracle replays every formula.
    "llm_pipeline11" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val t1 = pmod(col("doc_id") * 7 + 1, lit(100)).cast("string")
      val t2 = pmod(col("doc_id") * 13 + 2, lit(100)).cast("string")
      val t3 = pmod(col("doc_id") * 31 + 5, lit(100))
      val k2 = pmod(t3, lit(7)).cast("string")
      val pageUrl = concat(lit("https://ex"),
        pmod(col("doc_id"), lit(7)).cast("string"), lit(".com/p/"),
        col("doc_id").cast("string"))
      val html = concat(
        lit("<html><body><a href=\"g"), t1,
        lit("\">r</a> <a href=\"/p/"), t2,
        lit("?utm_source=x\">q</a> <a href='//ex"), k2,
        lit(".com/p/"), t3.cast("string"),
        lit("#f'>s</a></body></html>"))
      val pages = docs.select(col("doc_id"), pageUrl.as("url"),
        html.as("html"))
      val resolved = Web.withResolvedLinks(
        Web.withExtractedLinks(pages, "html"), "url", "links")
        .select(explode(col("resolved_links")).as("link"))
        .select(Web.urlCanonCol(col("link")).as("url"))
        .groupBy("url").agg(count(lit(1)).as("n_refs"))
      val crawled = pages
        .select(Web.urlCanonCol(col("url")).as("url"))
      resolved.join(crawled, Seq("url"), "left_anti")
    }),

    // Sitemap ingestion completing frontier seeding: per-doc fixtures
    // alternate a <sitemapindex> (two child sitemaps, one with
    // lastmod) and a <urlset> (a /p/ loc that may ALREADY be crawled,
    // plus an entity-escaped &amp; loc that never is), parsed by the
    // real block scanner and LEFT-joined against the crawled set so
    // is_new genuinely splits. The oracle rebuilds every entry from
    // the synthesis formula — entity decode, lastmod presence, index
    // flag and the crawled-membership arithmetic all replay.
    "llm_sitemap" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val c = pmod(col("doc_id"), lit(3))
      val host = concat(lit("https://ex"),
        pmod(col("doc_id"), lit(7)).cast("string"), lit(".com"))
      val p1 = pmod(col("doc_id") * 13 + 2, lit(100)).cast("string")
      val p2 = pmod(col("doc_id") * 7 + 1, lit(100)).cast("string")
      val lm = (pmod(col("doc_id"), lit(9)) + 1).cast("string")
      val xml = when(c === 0, concat(
          lit("<?xml version=\"1.0\"?><sitemapindex><sitemap><loc>"),
          host, lit("/sitemap-a.xml</loc><lastmod>2024-01-01</lastmod>" +
            "</sitemap><sitemap><loc> "), host,
          lit("/sitemap-b.xml </loc></sitemap></sitemapindex>")))
        .otherwise(concat(
          lit("<?xml version=\"1.0\"?><urlset><url><loc>"),
          host, lit("/p/"), p1,
          lit("</loc><lastmod>2024-02-0"), lm,
          lit("</lastmod></url><url><loc>"),
          host, lit("/q?a=1&amp;b="), p2,
          lit("</loc></url></urlset>")))
      val parsed = Web.withSitemapEntries(
        docs.select(col("doc_id"), xml.as("xml")), "xml")
      val crawled = docs.select(concat(lit("https://ex"),
        pmod(col("doc_id"), lit(7)).cast("string"), lit(".com/p/"),
        col("doc_id").cast("string")).as("curl")).distinct()
      parsed.join(crawled, parsed("loc") === crawled("curl"), "left")
        .select(col("doc_id"), col("sitemap_idx"), col("loc"),
          col("lastmod"), col("is_index"),
          col("curl").isNull.as("is_new"))
    }),

    // Politeness-scheduling capstone — the consumer Crawl-delay was
    // parsed for: the pipeline11 frontier (extract -> resolve -> canon
    // -> count refs -> anti-join crawled) flows into a per-domain
    // policy table whose Crawl-delay values (integer AND fractional
    // seconds; missing policy -> default) become fetch slots: urls
    // rank within their domain by (n_refs desc, url), slot k fetches
    // at k x delay. The oracle replays the frontier algebra AND the
    // schedule arithmetic with its own window.
    "llm_pipeline12" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val t1 = pmod(col("doc_id") * 7 + 1, lit(100)).cast("string")
      val t2 = pmod(col("doc_id") * 13 + 2, lit(100)).cast("string")
      val t3 = pmod(col("doc_id") * 31 + 5, lit(100))
      val k2 = pmod(t3, lit(7)).cast("string")
      val pageUrl = concat(lit("https://ex"),
        pmod(col("doc_id"), lit(7)).cast("string"), lit(".com/p/"),
        col("doc_id").cast("string"))
      val html = concat(
        lit("<html><body><a href=\"g"), t1,
        lit("\">r</a> <a href=\"/p/"), t2,
        lit("?utm_source=x\">q</a> <a href='//ex"), k2,
        lit(".com/p/"), t3.cast("string"),
        lit("#f'>s</a></body></html>"))
      val pages = docs.select(col("doc_id"), pageUrl.as("url"),
        html.as("html"))
      val resolved = Web.withResolvedLinks(
        Web.withExtractedLinks(pages, "html"), "url", "links")
        .select(explode(col("resolved_links")).as("link"))
        .select(Web.urlCanonCol(col("link")).as("url"))
        .groupBy("url").agg(count(lit(1)).as("n_refs"))
      val crawled = pages
        .select(Web.urlCanonCol(col("url")).as("url"))
      val frontier = resolved.join(crawled, Seq("url"), "left_anti")
      val pol = s.range(0, 4).toDF("pid")
        .withColumn("domain", concat(lit("ex"),
          col("pid").cast("string"), lit(".com")))
        .withColumn("robots_txt", concat(
          lit("User-agent: *\nCrawl-delay: "),
          when(col("pid") === 0, lit("1"))
            .when(col("pid") === 1, lit("2.5"))
            .when(col("pid") === 2, lit("10"))
            .otherwise(lit("0.5")),
          lit("\n")))
      val withDomain = Web.withUrlParts(frontier, "url")
        .withColumn("domain", col("url_host"))
      val delayed = Web.withCrawlDelayByPolicy(withDomain, "domain",
        pol, "domain", "robots_txt", "GraftBot/1.0",
        defaultDelayMillis = 1000L)
      Web.frontierSchedule(delayed, "domain", "url", "n_refs",
        "robots_delay_ms")
        .select(col("url"), col("n_refs"), col("domain"),
          col("robots_delay_ms"), col("fetch_slot"),
          col("fetch_time_ms"))
    }),

    // The COMPLETE between-rounds crawler DAG, composing every r16/r17
    // frontier operator in one plan: link extraction -> RFC 3986
    // resolve -> canon, UNIONed with sitemap urlset seeds (entity
    // decode included), reference-count aggregate, anti-join the
    // crawled set, per-domain robots policy-table verdicts (allow-all,
    // path-prefix block, UA-specific Allow-override), then Crawl-delay
    // politeness slots. The oracle replays link algebra, sitemap
    // synthesis, the RFC decision per policy family, and the schedule
    // window end-to-end.
    "llm_pipeline13" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val t1 = pmod(col("doc_id") * 7 + 1, lit(100)).cast("string")
      val t2 = pmod(col("doc_id") * 13 + 2, lit(100)).cast("string")
      val t3 = pmod(col("doc_id") * 31 + 5, lit(100))
      val k2 = pmod(t3, lit(7)).cast("string")
      val host = concat(lit("ex"),
        pmod(col("doc_id"), lit(7)).cast("string"), lit(".com"))
      val pageUrl = concat(lit("https://"), host, lit("/p/"),
        col("doc_id").cast("string"))
      val html = concat(
        lit("<html><body><a href=\"g"), t1,
        lit("\">r</a> <a href=\"/p/"), t2,
        lit("?utm_source=x\">q</a> <a href='//ex"), k2,
        lit(".com/p/"), t3.cast("string"),
        lit("#f'>s</a></body></html>"))
      val pages = docs.select(col("doc_id"), pageUrl.as("url"),
        html.as("html"))
      val linkTargets = Web.withResolvedLinks(
        Web.withExtractedLinks(pages, "html"), "url", "links")
        .select(explode(col("resolved_links")).as("link"))
        .select(Web.urlCanonCol(col("link")).as("url"))
      val xml = when(pmod(col("doc_id"), lit(3)) === 0,
          lit(null: String))
        .otherwise(concat(
          lit("<urlset><url><loc>https://"), host, lit("/p/"), t2,
          lit("</loc></url><url><loc>https://"), host,
          lit("/q?a=1&amp;b="), t1, lit("</loc></url></urlset>")))
      val seeds = Web.withSitemapEntries(
        docs.select(col("doc_id"), xml.as("xml")), "xml")
        .where(!col("is_index"))
        .select(Web.urlCanonCol(col("loc")).as("url"))
      val frontier = linkTargets.union(seeds)
        .groupBy("url").agg(count(lit(1)).as("n_refs"))
        .join(pages.select(Web.urlCanonCol(col("url")).as("url")),
          Seq("url"), "left_anti")
      val pol = s.range(0, 4).toDF("pid")
        .withColumn("domain", concat(lit("ex"),
          col("pid").cast("string"), lit(".com")))
        .withColumn("robots_txt",
          when(col("pid") === 0, lit("User-agent: *\nDisallow: /\n"))
          .when(col("pid") === 1, lit("User-agent: *\nDisallow: /q\n"))
          .when(col("pid") === 2,
            lit("User-agent: *\nCrawl-delay: 2.5\n"))
          .otherwise(lit("User-agent: graftbot\nAllow: /p/*\n" +
            "Disallow: /\nCrawl-delay: 10\n")))
      val parts = Web.withUrlParts(frontier, "url")
        .withColumn("domain", col("url_host"))
      val allowed = Web.withRobotsAllowedByPolicy(parts, "domain",
        "url_path", pol, "domain", "robots_txt", "GraftBot/1.0")
        .where(col("robots_allowed"))
      val delayed = Web.withCrawlDelayByPolicy(allowed, "domain", pol,
        "domain", "robots_txt", "GraftBot/1.0",
        defaultDelayMillis = 1000L)
      Web.frontierSchedule(delayed, "domain", "url", "n_refs",
        "robots_delay_ms")
        .select(col("url"), col("domain"), col("n_refs"),
          col("robots_delay_ms"), col("fetch_slot"),
          col("fetch_time_ms"))
    }),

    // Recrawl-recency capstone — the consumer sitemap `lastmod` was
    // parsed for (r17's parse-but-don't-consume residual): urlset
    // seeds in three lastmod families (date-only, full W3C datetime,
    // none) aggregate per url (LATEST lastmod, seed count), anti-join
    // the crawled set, pick up per-domain Crawl-delay, and the
    // schedule ranks by (lastmod DATE desc NULLS LAST, lexical W3C
    // time field desc NULLS LAST (r19 — same-day different-hour seeds
    // order by hour, date-only seeds rank after timestamped same-day
    // ones), n_refs desc, url). The oracle re-synthesizes the XML
    // fields and replays the max/count aggregate, the date parse
    // (substr 10 -> DATE), the substr-12 time tiebreak, and the
    // recency window arithmetic.
    "llm_pipeline14" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val host = concat(lit("ex"),
        pmod(col("doc_id"), lit(5)).cast("string"), lit(".com"))
      val p1 = pmod(col("doc_id") * 13 + 2, lit(50)).cast("string")
      val p2 = pmod(col("doc_id") * 7 + 1, lit(50)).cast("string")
      val lmDay = (pmod(col("doc_id"), lit(9)) + 1).cast("string")
      val lmHour = pmod(col("doc_id"), lit(4)).cast("string")
      val c = pmod(col("doc_id"), lit(3))
      val xml = concat(
        lit("<urlset><url><loc>https://"), host, lit("/p/"), p1,
        lit("</loc>"),
        when(c === 0, concat(lit("<lastmod>2024-02-0"), lmDay,
          lit("</lastmod>")))
          .when(c === 1, concat(lit("<lastmod>2024-03-0"), lmDay,
            lit("T0"), lmHour, lit(":30:00"),
            // r20: mixed offset suffixes GATE the documented LEXICAL
            // time tiebreak — 'T03:30:00+02:00' (01:30Z) outranks
            // 'T02:30:00Z' because the time field compares as a
            // string (the scaladoc'd choice: DuckDB and Spark replay
            // substr() identically, where timestamp parsing differs
            // cross-engine). An engine that normalized offsets
            // chronologically would reorder these rows and hash-fail.
            when(pmod(col("doc_id"), lit(2)) === 0, lit("Z"))
              .otherwise(lit("+02:00")),
            lit("</lastmod>")))
          .otherwise(lit("")),
        lit("</url><url><loc>https://"), host, lit("/q?a=1&amp;b="),
        p2, lit("</loc></url></urlset>"))
      val seeds = Web.withSitemapEntries(
        docs.select(col("doc_id"), xml.as("xml")), "xml")
        .where(!col("is_index"))
        .select(Web.urlCanonCol(col("loc")).as("url"), col("lastmod"))
      val agg = seeds.groupBy("url")
        .agg(max(col("lastmod")).as("lastmod"),
          count(lit(1)).as("n_refs"))
      val crawled = docs.select(concat(lit("https://ex"),
        pmod(col("doc_id"), lit(5)).cast("string"), lit(".com/p/"),
        col("doc_id").cast("string")).as("url")).distinct()
      val fresh = agg.join(crawled, Seq("url"), "left_anti")
      val parts = Web.withUrlParts(fresh, "url")
        .withColumn("domain", col("url_host"))
      val pol = s.range(0, 3).toDF("pid")
        .withColumn("domain", concat(lit("ex"),
          col("pid").cast("string"), lit(".com")))
        .withColumn("robots_txt", concat(
          lit("User-agent: *\nCrawl-delay: "),
          when(col("pid") === 0, lit("1"))
            .when(col("pid") === 1, lit("0.5"))
            .otherwise(lit("3")),
          lit("\n")))
      val delayed = Web.withCrawlDelayByPolicy(parts, "domain", pol,
        "domain", "robots_txt", "GraftBot/1.0",
        defaultDelayMillis = 2000L)
      Web.frontierScheduleRecency(delayed, "domain", "url", "lastmod",
        "n_refs", "robots_delay_ms")
        .select(col("url"), col("domain"), col("lastmod"),
          col("n_refs"), col("robots_delay_ms"), col("fetch_slot"),
          col("fetch_time_ms"))
    }),

    // Robots policies from FETCH RECORDS (the --robots-warc CLI
    // semantics, r18): each domain has TWO dated robots.txt fetches
    // whose policies DISAGREE — verdicts and Crawl-delays must follow
    // the LATEST fetch (max_by(text, warc_date) policy dedup). An
    // implementation that picks the old fetch, or joins both rows,
    // produces different verdicts/delays/row counts and hash-fails.
    // The oracle writes out the winner policy's RFC decision per
    // (domain, path) family and replays the schedule window.
    "llm_pipeline15" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val host = concat(lit("ex"),
        pmod(col("doc_id"), lit(4)).cast("string"), lit(".com"))
      // one corpus scan, not a two-branch union (r22, guide §2.4): both
      // url families derive from the same row — explode an inline
      // 2-array; same url multiset, same groupBy result, half the scans
      val urls = docs.select(explode(array(
          concat(lit("https://"), host, lit("/p/"),
            pmod(col("doc_id") * 13 + 2, lit(80)).cast("string")),
          concat(lit("https://"), host, lit("/q/"),
            pmod(col("doc_id") * 7 + 1, lit(80)).cast("string"))))
          .as("url"))
        .groupBy("url").agg(count(lit(1)).as("n_refs"))
      def pol(pid: Int, old: Boolean): String = (pid, old) match {
        case (0, true) => "User-agent: *\nDisallow: /\n"
        case (0, false) => "User-agent: *\nDisallow: /q\n"
        case (1, true) => "User-agent: *\nDisallow: /p\n"
        case (1, false) => "User-agent: *\nAllow: /\n"
        case (2, true) => "User-agent: *\nCrawl-delay: 9\n"
        case (2, false) => "User-agent: *\nCrawl-delay: 2.5\n"
        case (3, true) => "User-agent: *\nAllow: /\n"
        case (_, _) =>
          "User-agent: graftbot\nAllow: /p/\nDisallow: /\n"
      }
      val fetches = s.range(0, 4).toDF("pid")
        .withColumn("domain", concat(lit("ex"),
          col("pid").cast("string"), lit(".com")))
        .select(col("domain"), col("pid"), explode(array(
          lit("2024-01-01T00:00:00Z"), lit("2024-02-01T00:00:00Z")))
          .as("warc_date"))
        .withColumn("robots_txt",
          (0 to 3).foldLeft(lit(null: String)) { (acc, p) =>
            when(col("pid") === p &&
              col("warc_date").startsWith("2024-01"), lit(pol(p, true)))
              .when(col("pid") === p, lit(pol(p, false)))
              .otherwise(acc)
          })
        .select(col("domain"), col("warc_date"), col("robots_txt"))
      val parts = Web.withUrlParts(urls, "url")
        .withColumn("domain", col("url_host"))
      val allowed = Web.withRobotsAllowedByPolicy(parts, "domain",
        "url_path", fetches, "domain", "robots_txt", "GraftBot/1.0",
        policyOrderCol = Some("warc_date"))
        .where(col("robots_allowed"))
      val delayed = Web.withCrawlDelayByPolicy(allowed, "domain",
        fetches, "domain", "robots_txt", "GraftBot/1.0",
        defaultDelayMillis = 1000L,
        policyOrderCol = Some("warc_date"))
      Web.frontierSchedule(delayed, "domain", "url", "n_refs",
        "robots_delay_ms")
        .select(col("url"), col("domain"), col("n_refs"),
          col("robots_delay_ms"), col("fetch_slot"),
          col("fetch_time_ms"))
    }),

    // RFC 9309 §2.3.1 fetch-STATUS semantics (the r19 --robots-warc
    // upgrade): eight domains whose robots.txt fetches cover every
    // status family — 200 (body governs), old-200-then-503 (newest
    // fetch wins: COMPLETE DISALLOW, the whole domain vanishes),
    // old-503-then-200 (recovers to the new body), 404 (unavailable =
    // allow-all), 301→fetched-target (the target's body governs),
    // 302→never-fetched (unavailable = allow-all), 500 (complete
    // disallow), and a two-hop 302→301→200 chain. The oracle hardcodes
    // the RFC verdict per (domain, path family); an implementation
    // that keeps only 200s, ignores Location, or lets an older 200
    // outrank a newer 5xx hash-fails.
    "llm_pipeline16" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val host = concat(lit("ex"),
        pmod(col("doc_id"), lit(8)).cast("string"), lit(".com"))
      // one corpus scan, not a two-branch union (r22, guide §2.4) —
      // same fusion as llm_pipeline15
      val urls = docs.select(explode(array(
          concat(lit("https://"), host, lit("/p/"),
            pmod(col("doc_id") * 13 + 2, lit(80)).cast("string")),
          concat(lit("https://"), host, lit("/q/"),
            pmod(col("doc_id") * 7 + 1, lit(80)).cast("string"))))
          .as("url"))
        .groupBy("url").agg(count(lit(1)).as("n_refs"))
      val fetches = Seq[(String, String, Int, Option[String],
          Option[String], String)](
        ("ex0.com", "https://ex0.com/robots.txt", 200, None,
          Some("User-agent: *\nDisallow: /q\n"), "2024-02-01T00:00:00Z"),
        ("ex1.com", "https://ex1.com/robots.txt", 200, None,
          Some("User-agent: *\nAllow: /\n"), "2024-01-01T00:00:00Z"),
        ("ex1.com", "https://ex1.com/robots.txt", 503, None,
          Some("Service Unavailable"), "2024-02-01T00:00:00Z"),
        ("ex2.com", "https://ex2.com/robots.txt", 503, None,
          Some("Service Unavailable"), "2024-01-01T00:00:00Z"),
        ("ex2.com", "https://ex2.com/robots.txt", 200, None,
          Some("User-agent: *\nAllow: /\n"), "2024-02-01T00:00:00Z"),
        ("ex3.com", "https://ex3.com/robots.txt", 404, None,
          Some("Not Found"), "2024-02-01T00:00:00Z"),
        ("ex4.com", "https://ex4.com/robots.txt", 301,
          Some("https://ex4.com/real-robots.txt"), None,
          "2024-02-01T00:00:00Z"),
        ("ex4.com", "https://ex4.com/real-robots.txt", 200, None,
          Some("User-agent: *\nDisallow: /p\n"), "2024-02-01T00:00:00Z"),
        ("ex5.com", "https://ex5.com/robots.txt", 302,
          Some("https://ex5.com/gone.txt"), None, "2024-02-01T00:00:00Z"),
        ("ex6.com", "https://ex6.com/robots.txt", 500, None,
          Some("Internal Server Error"), "2024-02-01T00:00:00Z"),
        ("ex7.com", "https://ex7.com/robots.txt", 302,
          Some("https://ex7.com/hop1"), None, "2024-02-01T00:00:00Z"),
        ("ex7.com", "https://ex7.com/hop1", 301,
          Some("https://ex7.com/hop2"), None, "2024-02-01T00:00:00Z"),
        ("ex7.com", "https://ex7.com/hop2", 200, None,
          Some("User-agent: *\nDisallow: /q\n"), "2024-02-01T00:00:00Z")
      ).toDF("domain", "warc_url", "http_status", "http_location",
        "robots_txt", "warc_date")
      val fparts = Web.withUrlParts(fetches, "warc_url")
      val pol = Web.robotsPoliciesFromFetches(
        fparts.where(col("url_path") === "/robots.txt"),
        "domain", "warc_url", "http_status", "http_location",
        "robots_txt", "warc_date", targets = Some(fparts))
      val parts = Web.withUrlParts(urls, "url")
        .withColumn("domain", col("url_host"))
      val allowed = Web.withRobotsAllowedByPolicy(parts, "domain",
        "url_path", pol, "domain", "robots_txt", "GraftBot/1.0",
        policyOrderCol = Some("warc_date"))
        .where(col("robots_allowed"))
        .withColumn("robots_delay_ms", lit(1000L))
      Web.frontierSchedule(allowed, "domain", "url", "n_refs",
        "robots_delay_ms")
        .select(col("url"), col("domain"), col("n_refs"),
          col("fetch_slot"), col("fetch_time_ms"))
    }),

    // Robots policies as a TABLE (the 100 TB shape: per-domain
    // robots.txt is data, not config): four domain families, three
    // with distinct policies (block-all; block ids ending 3; Allow
    // /p/* out-specifying Disallow /) and one with NO policy row —
    // the missing-robots.txt = allow-all path. The policy side joins
    // broadcast; the oracle replays the per-(domain,path) decision.
    "llm_robots_table" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pol = s.range(0, 3).toDF("pid")
        .withColumn("domain",
          concat(lit("d"), col("pid").cast("string"), lit(".com")))
        .withColumn("robots_txt",
          when(col("pid") === 0,
            lit("User-agent: *\nDisallow: /\n"))
          .when(col("pid") === 1,
            lit("User-agent: graftbot\nDisallow: /p/*3$\n"))
          .otherwise(
            lit("User-agent: graftbot\nAllow: /p/*\nDisallow: /\n")))
      val base = docs.select(col("doc_id"),
        concat(lit("d"), pmod(col("doc_id"), lit(4)).cast("string"),
          lit(".com")).as("domain"),
        concat(lit("/p/"), col("doc_id").cast("string")).as("path"))
      Web.withRobotsAllowedByPolicy(base, "domain", "path", pol,
        "domain", "robots_txt", "GraftBot/1.0", "robots")
        .select(col("doc_id"), col("domain"), col("path"),
          col("robots_allowed"), col("robots_rule"))
    }),

    // Crawl-politeness capstone composing the r16 operators in one
    // DAG: WARC parse -> URL path extraction -> robots.txt decision
    // (RFC 9309 longest-match with * and $; the Allow /p/*50$ override
    // out-specifies the Disallow /p/*0$ rule) -> politeness filter ->
    // text extraction -> WET render -> re-parse. The oracle replays
    // the surviving id set and every output from the raw documents
    // table; declared_len_ok again gates render/parser consistency.
    "llm_pipeline9" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val crlf = "\r\n"
      val policy = "User-agent: graftbot\n" +
        "Disallow: /p/*0$\n" +
        "Disallow: /p/*5$\n" +
        "Allow: /p/*50$\n"
      val url = concat(lit("https://ex"),
        pmod(col("doc_id"), lit(7)).cast("string"), lit(".com/p/"),
        col("doc_id").cast("string"))
      val html = concat(lit("<html><body><p>"), col("text"),
        lit("</p></body></html>"))
      val http = concat(
        lit("HTTP/1.1 200 OK" + crlf + "Content-Type: text/html" +
          crlf + crlf), html)
      val arc = concat(
        lit("WARC/1.0" + crlf + "WARC-Type: response" + crlf +
          "WARC-Target-URI: "), url,
        lit(crlf + "Content-Length: "), octet_length(http).cast("string"),
        lit(crlf + crlf), http, lit(crlf + crlf))
      val recs = graft.llmops.Warc.withWarcRecords(
        docs.select(col("doc_id"), arc.as("arc")), "arc")
        .where(col("warc_type") === "response" &&
          col("http_status") === 200)
      val parts = Web.withUrlParts(recs, "warc_url")
      val polite = Web.withRobotsAllowed(parts, "url_path", policy,
        "GraftBot/1.2", "robots")
        .where(col("robots_allowed"))
      val wet = graft.llmops.Warc.toWet(polite,
        Web.htmlTextUdf(col("warc_body")))
      graft.llmops.Warc.withWarcRecords(
        wet.select(col("doc_id"), col("url_path"), col("robots_rule"),
          col("wet_record")), "wet_record")
        .select(col("doc_id"), col("url_path").as("path"),
          col("robots_rule").as("rule"),
          col("content_length").as("wet_len"),
          col("declared_len_ok").as("len_ok"),
          md5(col("warc_body")).as("text_md5"))
    }),

    // WARC (ISO 28500 / Common Crawl) record extraction: a two-record
    // archive (request + HTTP response wrapping the document text) is
    // synthesized per doc in column exprs; the REAL parser splits
    // records, parses named fields, validates Content-Length against
    // the payload, and cracks the HTTP response. The oracle recomputes
    // every field (incl. the exact byte lengths and payload md5s) from
    // the same construction.
    "llm_warc_extract" -> ((s, d) => {
      val docs = Tables.documents(s, d).where(col("doc_id") < 300)
      val crlf = "\r\n"
      val url = concat(lit("https://ex"),
        pmod(col("doc_id"), lit(7)).cast("string"), lit(".com/p/"),
        col("doc_id").cast("string"))
      val html = concat(lit("<html><body><p>"), col("text"),
        lit("</p></body></html>"))
      val http = concat(
        lit("HTTP/1.1 200 OK" + crlf + "Content-Type: text/html" +
          crlf + crlf), html)
      val reqHttp = "GET / HTTP/1.1" + crlf + "Host: h" + crlf + crlf
      val arc = concat(
        lit("WARC/1.0" + crlf + "WARC-Type: request" + crlf +
          "WARC-Target-URI: "), url,
        lit(crlf + s"Content-Length: ${reqHttp.getBytes("UTF-8").length}" +
          crlf + crlf + reqHttp + crlf + crlf),
        lit("WARC/1.0" + crlf + "WARC-Type: response" + crlf +
          "WARC-Target-URI: "), url,
        lit(crlf + "WARC-Date: 2024-01-01T00:00:00Z" + crlf +
          "Content-Length: "), octet_length(http).cast("string"),
        lit(crlf + crlf), http, lit(crlf + crlf))
      graft.llmops.Warc.withWarcRecords(
        docs.select(col("doc_id"), arc.as("arc")), "arc")
        .select(col("doc_id"), col("rec_idx"), col("warc_type"),
          col("warc_url"), col("warc_date"), col("content_length"),
          col("declared_len_ok"), col("http_status"),
          col("http_content_type"), md5(col("warc_body")).as("body_md5"))
    }),

    // WARC -> WET round trip: synthesized response archives parse with
    // the real reader, convert to rendered WET conversion records
    // (toWet's column-expression render), and the rendered text
    // RE-PARSES with the same reader — declared_len_ok gates that the
    // render's Content-Length and the parser's separator handling are
    // byte-consistent, and the oracle recomputes url/length/text-md5
    // from the raw documents table (html wrapper collapses to the
    // whitespace-normalized text).
    "llm_wet_roundtrip" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val crlf = "\r\n"
      val url = concat(lit("https://ex"),
        pmod(col("doc_id"), lit(7)).cast("string"), lit(".com/p/"),
        col("doc_id").cast("string"))
      val html = concat(lit("<html><body><p>"), col("text"),
        lit("</p></body></html>"))
      val http = concat(
        lit("HTTP/1.1 200 OK" + crlf + "Content-Type: text/html" +
          crlf + crlf), html)
      val arc = concat(
        lit("WARC/1.0" + crlf + "WARC-Type: response" + crlf +
          "WARC-Target-URI: "), url,
        lit(crlf + "WARC-Date: 2024-01-01T00:00:00Z" + crlf +
          "WARC-Record-ID: <urn:doc:"), col("doc_id").cast("string"),
        lit(">" + crlf + "Content-Length: "),
        octet_length(http).cast("string"),
        lit(crlf + crlf), http, lit(crlf + crlf))
      val recs = graft.llmops.Warc.withWarcRecords(
        docs.select(col("doc_id"), arc.as("arc")), "arc")
      val wet = graft.llmops.Warc.toWet(recs,
        Web.htmlTextUdf(col("warc_body")))
      graft.llmops.Warc.withWarcRecords(
        wet.select(col("doc_id"), col("wet_record")), "wet_record")
        .select(col("doc_id"), col("warc_type").as("wet_type"),
          col("warc_url").as("wet_url"),
          col("warc_refers_to").as("wet_refers_to"),
          col("content_length").as("wet_len"),
          col("declared_len_ok").as("len_ok"),
          md5(col("warc_body")).as("text_md5"))
    }),

    // REAL PCM-CONTENT gate (same protocol): a full 16-bit mono WAV is
    // built in column exprs — sample codes from
    //   i%17==0 -> 32767 (positive clip), i%23==5 -> 32768 (negative
    //   clip), else (doc_id*40503 + i*9973) % 65536 —
    // hex'd little-endian behind a canonical RIFF header; Spark parses
    // it back with the real wavPcmStats kernel (two's-complement
    // samples, exact integer sum-of-squares / peak / clip count) and
    // the oracle recomputes the stats straight from the code formula.
    "llm_audio_stats" -> ((s, d) => {
      val docs = Tables.documents(s, d).where(col("doc_id") < 300)
      def hx(off: Int, len: Int) = expr(
        s"CAST(conv(substring(md5(CAST(doc_id AS STRING)), $off, $len)," +
          " 16, 10) AS BIGINT)")
      val nS = (lit(16) + pmod(hx(6, 2), lit(32))).cast("int")
      def le16(c: org.apache.spark.sql.Column) = {
        val h4 = format_string("%04X", c)
        concat(substring(h4, 3, 2), substring(h4, 1, 2))
      }
      def le32(c: org.apache.spark.sql.Column) = {
        val h8 = format_string("%08X", c)
        concat(substring(h8, 7, 2), substring(h8, 5, 2),
          substring(h8, 3, 2), substring(h8, 1, 2))
      }
      val sampleHex = concat_ws("", transform(sequence(lit(0), nS - 1),
        i => le16(
          when(pmod(i, lit(17)) === 0, lit(32767))
            .when(pmod(i, lit(23)) === 5, lit(32768))
            .otherwise(pmod(col("doc_id") * 40503 + i * 9973,
              lit(65536))))))
      val dataLen = (nS * 2).cast("long")
      val hexPayload = concat(
        lit("52494646"), le32(lit(36L) + dataLen), lit("57415645"),
        lit("666D7420"), lit("10000000"), lit("0100"),            // PCM
        le16(lit(1)), le32(lit(16000)), le32(lit(32000)),
        le16(lit(2)), le16(lit(16)),
        lit("64617461"), le32(dataLen), sampleHex)
      Multimodal.withWavPcmStats(
        docs.select(col("doc_id"), unhex(hexPayload).as("payload")),
        "payload")
        .select(col("doc_id"), col("pcm_samples"), col("pcm_sum_sq"),
          col("pcm_peak"), col("pcm_clipped"))
    }),

    // Byte-histogram feature over REAL variable payloads (the text
    // bytes): 16 high-nibble buckets, emitted as non-zero (doc_id, nib,
    // n) rows; the oracle recounts from the hex encoding (high nibble
    // of byte j = hex char 2j-1).
    "llm_byte_hist" -> ((s, d) =>
      Tables.documents(s, d).where(col("doc_id") < 300)
        .select(col("doc_id"),
          posexplode(Multimodal.byteHistogramUdf(
            col("text").cast("binary"))).as(Seq("bucket", "n")))
        .where(col("n") > 0)
        .select(col("doc_id"),
          expr("substring('0123456789ABCDEF', bucket + 1, 1)").as("nib"),
          col("n"))),

    // Multimodal metadata over text-as-binary (decode stub plumbing:
    // byte length + content hash are the real, verifiable parts).
    "llm_multimodal_meta" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .select(col("doc_id"),
          length(col("payload")).as("byte_len"),
          md5(col("payload")).as("content_md5"))),

    // Full multimodal pipeline: decode (stub) -> resize identity ->
    // batched feature extraction -> frame sampling. The decode/feature
    // kernels are deterministic stubs (no codecs in this container), but
    // every value is hash-derived so the oracle recomputes the ENTIRE
    // chain -- fake dims from the content hash, resized identity,
    // per-dim features, mid-frame offset -- in SQL.
    "llm_media_pipeline" -> ((s, d) => {
      val media = Tables.documents(s, d).where(col("doc_id") < 200)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      val decoded = Multimodal.withMediaMeta(media, "payload")
      val resized = Multimodal.withResizedMeta(decoded, "content_md5",
        targetW = 256, targetH = 256)
      val feats = Multimodal.withMediaFeatures(resized, "resized_md5",
        dims = 4, batchSize = 32)
      Multimodal.frameSampleOffsets(feats, "payload", n = 3)
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("resized_md5"),
          floor(element_at(col("frame_offsets"), 2)).cast("long")
            .as("frame_mid"),
          posexplode(col("media_embedding")).as(Seq("dim", "v")))
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("resized_md5"), col("frame_mid"), col("dim"),
          floor(col("v") * 1000000).cast("long").as("v_micro"))
    }),

    // Deterministic train/val/test split (80/10/10): pure hash-of-id
    // assignment, disjoint + exhaustive by construction, reproducible
    // from (salt, id) alone in any engine.
    "llm_split" -> ((s, d) =>
      Curation.hashSplit(Tables.documents(s, d), "doc_id", salt = "sp",
        fractions = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))),

    // Keyword extraction: per-doc top-3 terms by rational tf-idf
    // (tf/df; integer inputs, one IEEE division, deterministic term
    // tie-break -- no libm in the ranking).
    "llm_keywords" -> ((s, d) =>
      TextAnalysis.topTerms(Tables.documents(s, d), "doc_id", "text",
        k = 3)))

  /** llm_ann_ivf oracle, built at Verify time from the SAME deterministic
    * training the gate query runs: k-means itself is not SQL-expressible,
    * so the trained centroids are injected as a VALUES table and the SQL
    * recomputes everything DOWNSTREAM of training -- l2 normalization,
    * nearest-centroid assignment (lowest cell wins dot ties, like the
    * compiled UDF's strict `>`), probe-cell selection (4 nearest cells to
    * the query, stable on ties), and exact cosine top-k over the probe
    * set. That cross-checks the distributed execution path
    * (Ann.withIvfCentroidCell / ivfCentroidTopK); training determinism is
    * AnnCentroidSpec's job.
    */
  def annIvfOracleSql(cents: Array[Array[Double]]): String = {
    val values = cents.zipWithIndex.map { case (c, i) =>
      s"($i, CAST([${c.mkString(",")}] AS DOUBLE[]))"
    }.mkString(", ")
    def dotN(v: String, c: String): String =
      s"""list_sum(list_transform(range(1, len($c) + 1), i ->
            $v[CAST(i AS INT)] * $c[CAST(i AS INT)]))"""
    def norm(e: String): String =
      s"""list_transform($e, x -> CAST(x AS DOUBLE) /
            sqrt(list_sum(list_transform($e, y ->
              CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))))"""
    s"""WITH cents(cell, cv) AS (VALUES $values),
       q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7),
       qn AS (SELECT ${norm("qv")} AS qv FROM q),
       probe AS (
         SELECT cell FROM cents, qn
         ORDER BY ${dotN("qv", "cv")} DESC, cell ASC LIMIT 4),
       en AS (SELECT vec_id, embedding, ${norm("embedding")} AS ev
              FROM embeddings),
       assigned AS (
         SELECT vec_id, embedding, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
             ORDER BY dd DESC, cell ASC) AS rn
         FROM (SELECT e.vec_id, e.embedding, c.cell,
                 ${dotN("e.ev", "c.cv")} AS dd
               FROM en e CROSS JOIN cents c)),
       probed AS (
         SELECT vec_id, embedding FROM assigned
         WHERE rn = 1 AND cell IN (SELECT cell FROM probe)),
       scored AS (
         SELECT vec_id,
           list_sum(list_transform(range(1, len(embedding) + 1), i ->
             CAST(embedding[CAST(i AS INT)] AS DOUBLE)
             * CAST(qv[CAST(i AS INT)] AS DOUBLE))) /
           (sqrt(list_sum(list_transform(embedding, x ->
              CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
            sqrt(list_sum(list_transform(qv, x ->
              CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
         FROM probed, q)
       SELECT vec_id, CAST(FLOOR(c * 1000000) AS BIGINT) AS cosine_micro
       FROM scored ORDER BY c DESC, vec_id LIMIT 10"""
  }

  /** Minimum decision margin below which the llm_ann_ivf oracle is
    * withheld: DuckDB sums the centroid dot products in double arithmetic
    * whose last bits can differ from the JVM UDF's, so any ROW_NUMBER /
    * FLOOR decision sitting within ~1e-9 of a boundary could flip the
    * hash-match on engine rounding rather than engine semantics.
    */
  private val annIvfEps = 1e-9

  /** True iff every FP decision the llm_ann_ivf oracle re-makes in DuckDB
    * has a margin >= annIvfEps under the JVM's own arithmetic: (a) each
    * vector's top-2 centroid dots (assignment), (b) the query's 4th vs
    * 5th probe-cell dots (probe set), (c) the 10th vs 11th cosine over
    * the probe set (top-k cut), and (d) each reported cosine's distance
    * to its floor(c*1e6) quantization boundary. Collects the embeddings
    * table -- Verify-time only, bounded (sf0.1 = 5k x 16 doubles).
    */
  private[gate] def annIvfFpSafe(s: org.apache.spark.sql.SparkSession,
      d: String, cents: Array[Array[Double]], k: Int = 10,
      probes: Int = 4): Boolean = {
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def norm(a: Array[Double]): Array[Double] = {
      val n = math.sqrt(dot(a, a))
      if (n == 0) a else a.map(_ / n)
    }
    val rows = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val q = rows.find(_._1 == 7L).get._2
    val qn = norm(q)
    def top2Margin(x: Array[Double]): Double = {
      val dots = cents.map(dot(x, _)).sorted(Ordering[Double].reverse)
      dots(0) - dots(1)
    }
    val assignOk = rows.forall { case (_, v) => top2Margin(norm(v)) >= annIvfEps }
    val qDots = cents.map(dot(qn, _)).sorted(Ordering[Double].reverse)
    val probeOk = cents.length <= probes ||
      qDots(probes - 1) - qDots(probes) >= annIvfEps
    // Mirror the query's assignment (strict > keeps the lowest cell) and
    // the probe set, then check the top-k cut and quantization margins.
    val probeSet = {
      val idx = cents.indices.map(c => (c, dot(qn, cents(c))))
        .sortBy { case (c, dd) => (-dd, c) }.map(_._1).take(probes).toSet
      idx
    }
    val scored = rows.filter { case (_, v) =>
      val x = norm(v)
      var bc = 0; var bd = Double.MinValue; var c = 0
      while (c < cents.length) {
        val dd = dot(x, cents(c)); if (dd > bd) { bd = dd; bc = c }; c += 1
      }
      probeSet.contains(bc)
    }.map { case (id, v) =>
      (id, dot(v, q) / (math.sqrt(dot(v, v)) * math.sqrt(dot(q, q))))
    }.sortBy { case (id, c) => (-c, id) }
    val cutOk = scored.length <= k ||
      scored(k - 1)._2 - scored(k)._2 >= annIvfEps
    val quantOk = scored.take(k).forall { case (_, c) =>
      val scaled = c * 1e6
      math.abs(scaled - math.rint(scaled)) >= annIvfEps * 1e6 ||
        scaled == math.rint(scaled) // exact integers (e.g. cosine 1.0) are stable
    }
    assignOk && probeOk && cutOk && quantOk
  }

  /** llm_semantic_dedup's cosine cut, in floor-micro units (0.9). */
  private[gate] val semanticDedupThresholdMicro = 900000L

  /** llm_semantic_dedup's hot-cell population cap: cells above this
    * sub-split into ceil(pop/cap) md5-keyed sub-buckets before the
    * pair join ([[Dedup.semanticDupFlags]]). 32 vs ~31/125 average
    * cell population (sf0.001-0.1) keeps both branches live.
    */
  private[gate] val semanticDedupMaxCellPop = 32

  /** llm_knn_graph's hot-cell population cap ([[Ann.knnJoin]]
    * maxCellPop): 150 vs ~125 average cell population at sf0.001/0.01
    * (4 hyperplane cells over 500 vectors) and ~500 at sf0.1 -- the
    * small SFs keep uncapped cells, sf0.1 sub-splits every cell.
    */
  private[gate] val knnGraphMaxCellPop = 150

  /** llm_minhash_capped's hot-band population cap
    * ([[Dedup.minhashPairs]] maxBandPop): 2 vs max observed
    * (band, band_hash) populations of 3-4 across sf0.001-0.1, so the
    * md5 sub-split engages on the hot buckets while most buckets stay
    * whole.
    */
  private[gate] val minhashMaxBandPop = 2

  /** llm_simhash_pairs' hot-bucket population cap
    * ([[Dedup.simhashPairs]] maxBucketPop): 48 vs ~31 average (band,
    * chunk) population at sf0.001/0.01 (500 docs over 16 4-bit chunks)
    * and ~312 at sf0.1 -- small SFs keep mostly-uncapped buckets, sf0.1
    * sub-splits the hot ones.
    */
  private[gate] val simhashMaxBucketPop = 48

  /** llm_semantic_dedup oracle: the same centroid-VALUES injection as
    * [[annIvfOracleSql]] (k-means is not SQL-expressible; everything
    * downstream of training is recomputed) -- l2 normalization,
    * nearest-centroid assignment (lowest cell on dot ties), the
    * hot-cell sub-split (pop > cap -> md5(id) mod ceil(pop/cap); both
    * engines parse the first 14 hex chars of md5 base-16), the
    * within-(cell, sub) smaller-id neighbor scan at floor(cosine*1e6)
    * >= threshold, and the per-doc flag.
    */
  def semanticDedupOracleSql(cents: Array[Array[Double]]): String = {
    val values = cents.zipWithIndex.map { case (c, i) =>
      s"($i, CAST([${c.mkString(",")}] AS DOUBLE[]))"
    }.mkString(", ")
    def dotN(v: String, c: String): String =
      s"""list_sum(list_transform(range(1, len($c) + 1), i ->
            $v[CAST(i AS INT)] * $c[CAST(i AS INT)]))"""
    def norm(e: String): String =
      s"""list_transform($e, x -> CAST(x AS DOUBLE) /
            sqrt(list_sum(list_transform($e, y ->
              CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))))"""
    s"""WITH cents(cell, cv) AS (VALUES $values),
       en AS (SELECT vec_id, embedding, ${norm("embedding")} AS ev
              FROM embeddings),
       assigned AS (
         SELECT vec_id, embedding, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
             ORDER BY dd DESC, cell ASC) AS rn
         FROM (SELECT e.vec_id, e.embedding, c.cell,
                 ${dotN("e.ev", "c.cv")} AS dd
               FROM en e CROSS JOIN cents c)),
       a AS (SELECT vec_id, embedding, cell FROM assigned WHERE rn = 1),
       pop AS (SELECT cell, COUNT(*) AS n FROM a GROUP BY cell),
       ak AS (
         SELECT a.vec_id, a.embedding, a.cell,
           CASE WHEN p.n > $semanticDedupMaxCellPop THEN
             CAST(('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 14))
               AS BIGINT)
             % CAST(CEIL(CAST(p.n AS DOUBLE)
                 / $semanticDedupMaxCellPop) AS BIGINT)
           ELSE 0 END AS sub
         FROM a JOIN pop p USING (cell)),
       dups AS (
         SELECT DISTINCT l.vec_id
         FROM ak l JOIN ak r
           ON l.cell = r.cell AND l.sub = r.sub AND r.vec_id < l.vec_id
         WHERE CAST(FLOOR(
           list_sum(list_transform(range(1, len(l.embedding) + 1), i ->
             CAST(l.embedding[CAST(i AS INT)] AS DOUBLE)
             * CAST(r.embedding[CAST(i AS INT)] AS DOUBLE))) /
           (sqrt(list_sum(list_transform(l.embedding, x ->
              CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
            sqrt(list_sum(list_transform(r.embedding, x ->
              CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
           * 1000000) AS BIGINT) >= $semanticDedupThresholdMicro)
       SELECT a.vec_id, a.cell,
         (a.vec_id IN (SELECT vec_id FROM dups)) AS semantic_dup
       FROM a"""
  }

  /** True iff llm_semantic_dedup's cross-engine FP decisions are all
    * margin-safe: (a) every vector's top-2 centroid dots (assignment --
    * a flipped cell changes pair candidates), and (b) every same-cell
    * pair's scaled cosine is at least annIvfEps*1e6 away from the ONE
    * boundary that matters, the threshold itself (floor(c*1e6) >= thr
    * flips only when c*1e6 sits within rounding of thr -- unlike
    * annIvfFpSafe's quantization check, distance to other integers is
    * irrelevant because the cosine is never emitted). Checks ALL
    * same-cell pairs -- a SUPERSET of the pairs actually compared after
    * the hot-cell sub-split, so it stays conservative under the cap;
    * the sub-split itself (counts, ceil, md5 bits) is integer-exact and
    * adds no FP decision. Collects the embeddings table -- Verify-time
    * only, bounded.
    */
  private[gate] def semanticDedupFpSafe(s: org.apache.spark.sql.SparkSession,
      d: String, cents: Array[Array[Double]],
      thresholdMicro: Long): Boolean = {
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def norm(a: Array[Double]): Array[Double] = {
      val n = math.sqrt(dot(a, a))
      if (n == 0) a else a.map(_ / n)
    }
    val rows = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def top2Margin(x: Array[Double]): Double = {
      val dots = cents.map(dot(x, _)).sorted(Ordering[Double].reverse)
      dots(0) - dots(1)
    }
    val assignOk = rows.forall { case (_, v) =>
      top2Margin(norm(v)) >= annIvfEps }
    val byCell = rows.groupBy { case (_, v) =>
      val x = norm(v)
      var bc = 0; var bd = Double.MinValue; var c = 0
      while (c < cents.length) {
        val dd = dot(x, cents(c)); if (dd > bd) { bd = dd; bc = c }; c += 1
      }
      bc
    }
    val pairsOk = byCell.values.forall { members =>
      val ms = members.sortBy(_._1)
      ms.indices.forall { i =>
        (i + 1 until ms.length).forall { j =>
          val (a, b) = (ms(i)._2, ms(j)._2)
          val c = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
          math.abs(c * 1e6 - thresholdMicro.toDouble) >= annIvfEps * 1e6
        }
      }
    }
    assignOk && pairsOk
  }

  /** llm_ivf_sq8_atrest oracle: centroid VALUES injection for the two
    * FP stages (assignment, probe selection — exactly annIvfOracleSql's
    * CTEs), then the llm_sq8_ann STATIC integer chain (bounds over the
    * whole table, exactly as sq8Train computes them) restricted to the
    * probed cells' rows. Downstream of the probe everything is integer
    * arithmetic, so no top-k/quantization margin machinery is needed —
    * only the assignment/probe margins guard ([[ivfSq8FpSafe]]).
    */
  def ivfSq8OracleSql(cents: Array[Array[Double]]): String = {
    val values = cents.zipWithIndex.map { case (c, i) =>
      s"($i, CAST([${c.mkString(",")}] AS DOUBLE[]))"
    }.mkString(", ")
    def dotN(v: String, c: String): String =
      s"""list_sum(list_transform(range(1, len($c) + 1), i ->
            $v[CAST(i AS INT)] * $c[CAST(i AS INT)]))"""
    def norm(e: String): String =
      s"""list_transform($e, x -> CAST(x AS DOUBLE) /
            sqrt(list_sum(list_transform($e, y ->
              CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))))"""
    s"""WITH cents(cell, cv) AS (VALUES $values),
       e AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       en AS (SELECT vec_id, v, ${norm("v")} AS ev FROM e),
       qrow AS (SELECT ${norm("v")} AS qv FROM e WHERE vec_id = 7),
       probe AS (
         SELECT cell FROM cents, qrow
         ORDER BY ${dotN("qv", "cv")} DESC, cell ASC LIMIT 4),
       assigned AS (
         SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
             ORDER BY dd DESC, cell ASC) AS rn
         FROM (SELECT en.vec_id, c.cell, ${dotN("en.ev", "c.cv")} AS dd
               FROM en CROSS JOIN cents c)),
       probed AS (
         SELECT vec_id FROM assigned
         WHERE rn = 1 AND cell IN (SELECT cell FROM probe)),
       x AS (
         SELECT vec_id, CAST(i AS INT) AS dim, v[CAST(i AS INT)] AS val
         FROM e, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i)),
       b AS (SELECT dim, MIN(val) AS mn, MAX(val) AS mx
             FROM x GROUP BY dim),
       c AS (
         SELECT x.vec_id, x.dim,
           CASE WHEN b.mx = b.mn THEN 0
                ELSE CAST(GREATEST(LEAST(FLOOR(
                  (x.val - b.mn) * 255.0 / (b.mx - b.mn)), 255.0), 0.0)
                  AS INT) END AS code
         FROM x JOIN b USING (dim)
         WHERE x.vec_id IN (SELECT vec_id FROM probed)),
       q AS (SELECT dim, val FROM x WHERE vec_id = 7),
       w AS (
         SELECT q.dim,
           CAST(FLOOR(q.val * (b.mx - b.mn) * 1000000.0 / 255.0)
             AS BIGINT) AS wq
         FROM q JOIN b USING (dim)),
       s AS (
         SELECT c.vec_id,
           CAST(SUM(CAST(c.code AS BIGINT) * w.wq) AS BIGINT)
             AS score_int
         FROM c JOIN w USING (dim) GROUP BY c.vec_id)
       SELECT vec_id, score_int FROM s
       ORDER BY score_int DESC, vec_id LIMIT 10"""
  }

  /** FP guard for llm_ivf_sq8_atrest: only the assignment and
    * probe-selection decisions cross the FP boundary (the candidate
    * chain is integer-exact, per the llm_sq8_ann precedent), so check
    * (a) every vector's top-2 centroid-dot margin and (b) the query's
    * probes-th vs probes+1-th cell-dot margin, both under JVM
    * arithmetic. Verify-time only; collects the bounded embeddings
    * table.
    */
  private[gate] def ivfSq8FpSafe(s: org.apache.spark.sql.SparkSession,
      d: String, cents: Array[Array[Double]], probes: Int = 4): Boolean = {
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def norm(a: Array[Double]): Array[Double] = {
      val n = math.sqrt(dot(a, a))
      if (n == 0) a else a.map(_ / n)
    }
    val rows = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val assignOk = rows.forall { case (_, v) =>
      val dots = cents.map(dot(norm(v), _)).sorted(Ordering[Double].reverse)
      dots(0) - dots(1) >= annIvfEps
    }
    val qn = norm(rows.find(_._1 == 7L).get._2)
    val qDots = cents.map(dot(qn, _)).sorted(Ordering[Double].reverse)
    val probeOk = cents.length <= probes ||
      qDots(probes - 1) - qDots(probes) >= annIvfEps
    assignOk && probeOk
  }

  /** llm_dsir oracle: the JVM-computed weight table injects as VALUES
    * (ln is libm -- last-bit engine-dependent -- so only floored integer
    * micros travel); DuckDB recomputes BOTH bucket-count columns from
    * the raw data and joins the weights on (bucket, tcnt, rcnt), so a
    * count discrepancy empties that bucket's weight and fails the hash.
    * Everything else -- bucketing, occurrence counts, per-doc integer
    * sums, the cross-multiplied keep -- is pure integer SQL.
    */
  def dsirOracleSql(weights: Seq[Curation.DsirWeight]): String = {
    val values = weights.map(w =>
      s"(${w.bucket}, ${w.targetCount}, ${w.rawCount}, ${w.llrMicro})")
      .mkString(", ")
    val bucketExpr = s"CAST(${duckHex8("s")} % 256 AS INT)"
    s"""WITH w(bucket, tcnt, rcnt, llr) AS (VALUES $values),
       toks AS (SELECT doc_id, lang, $duckToks AS ws FROM documents),
       sh AS (
         SELECT doc_id, lang, unnest(
           CASE WHEN len(ws) < 2 THEN []
             ELSE list_transform(range(1, len(ws)), i ->
               ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1]) END) AS s
         FROM toks),
       b AS (SELECT doc_id, lang, $bucketExpr AS bucket FROM sh),
       tc AS (SELECT bucket, COUNT(*) AS c FROM b WHERE lang = 'en'
              GROUP BY bucket),
       rc AS (SELECT bucket, COUNT(*) AS c FROM b GROUP BY bucket),
       wv AS (
         SELECT w.bucket, w.llr FROM w
         LEFT JOIN tc ON tc.bucket = w.bucket
         LEFT JOIN rc ON rc.bucket = w.bucket
         WHERE COALESCE(tc.c, 0) = w.tcnt AND COALESCE(rc.c, 0) = w.rcnt),
       agg AS (
         SELECT b.doc_id, COUNT(*) AS n, CAST(SUM(wv.llr) AS BIGINT) AS sc
         FROM b JOIN wv USING (bucket) GROUP BY b.doc_id)
       SELECT d.doc_id,
         CAST(COALESCE(a.n, 0) AS BIGINT) AS n_grams,
         CAST(COALESCE(a.sc, 0) AS BIGINT) AS score_micro,
         (COALESCE(a.n, 0) > 0 AND COALESCE(a.sc, 0) >= 0) AS keep
       FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id"""
  }

  /** Oracles that embed data-derived constants (trained centroids, the
    * DSIR weight table) and so must be built with the SparkSession + sf
    * dir at Verify time. The FP-guarded ones are withheld independently
    * (the query degrades to the driver's rows-only check) when any of
    * their FP decision margins is within annIvfEps of a boundary --
    * cross-engine last-bit rounding could otherwise flip the hash-match
    * flakily at a new scale factor. llm_dsir needs no guard: its
    * injected weights are integers and both engines' downstream math is
    * integer-only.
    */
  def dynamicOracles(s: org.apache.spark.sql.SparkSession,
      d: String): Map[String, String] = {
    val cents = Ann.trainCentroids(Tables.embeddings(s, d), "embedding",
      nCells = 16)
    val ivf =
      if (annIvfFpSafe(s, d, cents))
        Map("llm_ann_ivf" -> annIvfOracleSql(cents))
      else Map.empty[String, String]
    val sem =
      if (semanticDedupFpSafe(s, d, cents, semanticDedupThresholdMicro))
        Map("llm_semantic_dedup" -> semanticDedupOracleSql(cents))
      else Map.empty[String, String]
    val ivfSq8 =
      if (ivfSq8FpSafe(s, d, cents))
        Map("llm_ivf_sq8_atrest" -> ivfSq8OracleSql(cents))
      else Map.empty[String, String]
    val docs = Tables.documents(s, d)
    val dsir = Map("llm_dsir" -> dsirOracleSql(
      Curation.dsirWeights(docs, docs.where(col("lang") === "en"), "text",
        shingleN = 2, buckets = 256)))
    ivf ++ sem ++ ivfSq8 ++ dsir
  }

  /** llm_bpe_merges oracle: `rounds` unrolled merge rounds. Each round
    * recounts pairs from the previous round's symbol strings, takes the
    * argmax (cnt desc, pair asc -- space sorts below [a-z0-9], so pair-
    * string order is tuple order), and merges via the same one-dot-
    * flanked string replace as the Spark side. Assumes the corpus has
    * >= rounds mergeable pairs (any real corpus does).
    */
  private def bpeCtes(rounds: Int): String = {
    val base = s"""toks AS (SELECT $duckToks AS ws FROM documents),
          w AS (SELECT unnest(ws) AS w FROM toks),
          wc AS (SELECT w, COUNT(*) AS wc FROM w GROUP BY w),
          s0 AS (SELECT regexp_replace(w, '(.)', '..\\1', 'g') || '..'
                   AS s, wc FROM wc)"""
    val per = (1 to rounds).map { r =>
      s"""p$r AS (
            SELECT unnest(list_transform(range(1, len(sy)), i ->
              sy[CAST(i AS INT)] || ' ' || sy[CAST(i AS INT) + 1]))
              AS pair, wc
            FROM (SELECT list_filter(string_split(s, '..'), x -> x <> '')
                    AS sy, wc FROM s${r - 1}) t$r
            WHERE len(sy) >= 2),
          c$r AS (SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt
                  FROM p$r GROUP BY pair),
          b$r AS (SELECT pair, cnt FROM c$r ORDER BY cnt DESC, pair
                  LIMIT 1),
          s$r AS (
            SELECT replace(s,
              '.' || replace((SELECT pair FROM b$r), ' ', '..') || '.',
              '.' || replace((SELECT pair FROM b$r), ' ', '') || '.')
              AS s, wc
            FROM s${r - 1})"""
    }.mkString(",\n          ")
    s"$base,\n          $per"
  }

  /** llm_bpe_batch oracle: per round, the pair-count CTE from the
    * previous segmentation, then `perRound` unrolled greedy selections
    * (selection j excludes any pair sharing a symbol -- left or right --
    * with selections 1..j-1), then one nested replace chain applying the
    * batch in rank order. Symbol-disjointness within a batch makes the
    * chain order-insensitive semantically; rank order keeps it
    * deterministic anyway.
    */
  private def bpeBatchedOracleSql(rounds: Int, perRound: Int): String = {
    val base = s"""toks AS (SELECT $duckToks AS ws FROM documents),
          w AS (SELECT unnest(ws) AS w FROM toks),
          wc AS (SELECT w, COUNT(*) AS wc FROM w GROUP BY w),
          s0 AS (SELECT regexp_replace(w, '(.)', '..\\1', 'g') || '..'
                   AS s, wc FROM wc)"""
    def sym(cte: String, i: Int): String =
      s"string_split((SELECT pair FROM $cte), ' ')[$i]"
    val per = (1 to rounds).map { r =>
      val counts = s"""p$r AS (
            SELECT unnest(list_transform(range(1, len(sy)), i ->
              sy[CAST(i AS INT)] || ' ' || sy[CAST(i AS INT) + 1]))
              AS pair, wc
            FROM (SELECT list_filter(string_split(s, '..'), x -> x <> '')
                    AS sy, wc FROM s${r - 1}) t$r
            WHERE len(sy) >= 2),
          c$r AS (SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt
                  FROM p$r GROUP BY pair)"""
      val sels = (1 to perRound).map { j =>
        val noConflict = (1 until j).map { i =>
          val c = s"b${r}x$i"
          s"""string_split(pair, ' ')[1] <> ${sym(c, 1)}
             AND string_split(pair, ' ')[1] <> ${sym(c, 2)}
             AND string_split(pair, ' ')[2] <> ${sym(c, 1)}
             AND string_split(pair, ' ')[2] <> ${sym(c, 2)}"""
        }.mkString(" AND ")
        val where = if (j == 1) "" else s"WHERE $noConflict"
        // MATERIALIZED: each selection is referenced by every later
        // selection's conflict test and twice by the replace chain --
        // DuckDB's default CTE inlining would re-expand the whole
        // training prefix exponentially per reference.
        s"""b${r}x$j AS MATERIALIZED (SELECT pair, cnt FROM c$r $where
              ORDER BY cnt DESC, pair LIMIT 1)"""
      }.mkString(",\n          ")
      val chain = (1 to perRound).foldLeft("s") { (e, j) =>
        val c = s"b${r}x$j"
        s"""replace($e,
             '.' || replace((SELECT pair FROM $c), ' ', '..') || '.',
             '.' || replace((SELECT pair FROM $c), ' ', '') || '.')"""
      }
      s"""$counts,
          $sels,
          s$r AS MATERIALIZED (SELECT $chain AS s, wc FROM s${r - 1})"""
    }.mkString(",\n          ")
    val sel = (for (r <- 1 to rounds; j <- 1 to perRound) yield
      s"""SELECT CAST($r AS BIGINT) AS round, CAST($j AS BIGINT) AS rank,
            pair, cnt FROM b${r}x$j""").mkString(" UNION ALL ")
    s"WITH $base,\n          $per\n          $sel"
  }

  private def bpeMergesOracleSql(rounds: Int): String = {
    val sel = (1 to rounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS round, pair, cnt FROM b$r")
      .mkString(" UNION ALL ")
    s"WITH ${bpeCtes(rounds)}\n          $sel"
  }

  /** llm_bpe_encode oracle: the same unrolled training chain, then the
    * final segmentation s<rounds> becomes a (word, n_syms) table that
    * joins back to the per-doc word explode. Left join keeps tokenless
    * docs with a defined zero row.
    */
  private def bpeEncodeOracleSql(rounds: Int): String =
    s"""WITH ${bpeCtes(rounds)},
          ns AS (
            SELECT replace(s, '.', '') AS w,
              CAST(len(list_filter(string_split(s, '..'), x -> x <> ''))
                AS BIGINT) AS n_syms
            FROM s$rounds),
          dtoks AS (SELECT doc_id, $duckToks AS ws FROM documents),
          dw AS (SELECT doc_id, unnest(ws) AS w FROM dtoks),
          agg AS (
            SELECT dw.doc_id, COUNT(*) AS n,
              CAST(SUM(ns.n_syms) AS BIGINT) AS nt
            FROM dw JOIN ns USING (w) GROUP BY dw.doc_id)
          SELECT d.doc_id,
            CAST(COALESCE(a.n, 0) AS BIGINT) AS n_words,
            CAST(COALESCE(a.nt, 0) AS BIGINT) AS bpe_tokens
          FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id"""

  def oracles: Map[String, String] = Map(
    // LM scoring: the oracle retrains the hashed-bigram count model and
    // rescores every doc -- all-integer (COUNT, bitlen via bin()), so a
    // full hash-match proves model training AND scoring end-to-end.
    "llm_lm_score" ->
      s"""WITH toks AS (SELECT doc_id, lang, $duckToks AS ws
            FROM documents),
          sh AS (
            SELECT doc_id, lang, unnest(
              CASE WHEN len(ws) < 2 THEN []
                ELSE list_transform(range(1, len(ws)), i ->
                  ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1])
              END) AS s
            FROM toks),
          b AS (SELECT doc_id, lang,
                  CAST(${duckHex8("s")} % 256 AS INT) AS bucket FROM sh),
          tc AS (SELECT bucket, COUNT(*) AS c FROM b WHERE lang = 'en'
                 GROUP BY bucket),
          per AS (
            SELECT b.doc_id,
              CAST(length(bin(COALESCE(tc.c, 0) + 1)) AS BIGINT) AS bits
            FROM b LEFT JOIN tc USING (bucket)),
          agg AS (SELECT doc_id, COUNT(*) AS n,
                    CAST(SUM(bits) AS BIGINT) AS sc
                  FROM per GROUP BY doc_id)
          SELECT d.doc_id,
            CAST(COALESCE(a.n, 0) AS BIGINT) AS n_grams,
            CAST(COALESCE(a.sc, 0) AS BIGINT) AS lm_bits,
            (COALESCE(a.n, 0) > 0
              AND COALESCE(a.sc, 0) * 10 >= 60 * COALESCE(a.n, 0)) AS keep
          FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id""",
    // Capstone 3: redaction regexes -> retrained LM cut -> prefix-sum
    // packing, all recomputed here (static; the regex chain and bin()
    // bits are engine-exact, the packing is the llm_pack prefix sum).
    "llm_pipeline3" ->
      s"""WITH a AS (
            SELECT doc_id, lang, n_chars,
              regexp_replace(regexp_replace(regexp_replace(
                text || ' contact user' || CAST(doc_id AS VARCHAR) ||
                '@example.com or 10.0.0.' ||
                CAST(doc_id % 250 + 1 AS VARCHAR) || ' acct 12345678901',
                '$piiEmailPattern', '<EMAIL>', 'g'),
                '$piiIpPattern', '<IP>', 'g'),
                '$piiNumPattern', '<NUM>', 'g') AS clean
            FROM documents),
          toks AS (
            SELECT doc_id, lang, list_filter(
              string_split_regex(lower(clean), '[^a-z0-9]+'),
              x -> x <> '') AS ws
            FROM a),
          sh AS (
            SELECT doc_id, lang, unnest(
              CASE WHEN len(ws) < 2 THEN []
                ELSE list_transform(range(1, len(ws)), i ->
                  ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1])
              END) AS s
            FROM toks),
          b AS (SELECT doc_id, lang,
                  CAST(${duckHex8("s")} % 256 AS INT) AS bucket FROM sh),
          tc AS (SELECT bucket, COUNT(*) AS c FROM b WHERE lang = 'en'
                 GROUP BY bucket),
          agg AS (
            SELECT b.doc_id, COUNT(*) AS n,
              SUM(CAST(length(bin(COALESCE(tc.c, 0) + 1)) AS BIGINT))
                AS sc
            FROM b LEFT JOIN tc USING (bucket) GROUP BY b.doc_id),
          totals AS (
            SELECT CAST(SUM(n) AS BIGINT) AS tn,
              CAST(SUM(sc) AS BIGINT) AS tsc FROM agg),
          kept AS (
            SELECT a.doc_id, a.n_chars, md5(a.clean) AS clean_md5
            FROM a JOIN agg USING (doc_id), totals
            WHERE agg.n > 0 AND agg.sc * totals.tn >= totals.tsc * agg.n),
          pre AS (
            SELECT doc_id, clean_md5,
              SUM(n_chars) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - n_chars AS cb
            FROM kept)
          SELECT doc_id,
            CAST((cb // 2048) AS BIGINT) AS bin,
            CAST((cb % 2048) AS BIGINT) AS bin_offset,
            clean_md5
          FROM pre""",
    "llm_exact_dedup" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS canonical_id,
           COUNT(*) AS dup_count
         FROM documents GROUP BY md5(text)""",
    // Line dedup: 2-token lines, heavy = present in > max(1, 0.5% N)
    // distinct docs, reassembly re-joins survivors in line order.
    "llm_line_dedup" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks AS ws FROM documents),
          n AS (SELECT doc_id, ws,
                  CAST(ceil(len(ws) / 2.0) AS INT) AS n_lines FROM toks),
          lines AS (
            SELECT doc_id, CAST(i AS INT) AS line_idx,
              array_to_string(ws[CAST(i*2+1 AS INT):CAST(i*2+2 AS INT)],
                ' ') AS line
            FROM n, LATERAL (SELECT unnest(range(0, n_lines)) AS i)),
          stats AS (SELECT COUNT(*) AS n_docs FROM documents),
          heavy AS (
            SELECT md5(line) AS lh FROM lines GROUP BY md5(line)
            HAVING COUNT(DISTINCT doc_id) >
              (SELECT greatest(1.0, 0.03 * n_docs) FROM stats)),
          reb AS (
            SELECT doc_id, COUNT(*) AS kept_lines,
              string_agg(line, ' ' ORDER BY line_idx) AS clean_text
            FROM lines WHERE md5(line) NOT IN (SELECT lh FROM heavy)
            GROUP BY doc_id)
          SELECT n.doc_id, n.n_lines,
            CAST(COALESCE(r.kept_lines, 0) AS BIGINT) AS kept_lines,
            md5(COALESCE(r.clean_text, '')) AS clean_md5
          FROM n LEFT JOIN reb r ON r.doc_id = n.doc_id""",
    // Incremental dedup: reuses the banded-LSH CTE chain; new batch =
    // odd doc_ids, reference corpus = even doc_ids.
    "llm_incr_dedup" ->
      s"""WITH $minhashPairsCtes,
          newdocs AS (SELECT doc_id, md5(text) AS h FROM documents
                      WHERE doc_id % 2 = 1),
          refhash AS (SELECT DISTINCT md5(text) AS h FROM documents
                      WHERE doc_id % 2 = 0),
          nearids AS (
            SELECT DISTINCT l.doc_id AS id
            FROM banded l JOIN banded r
              ON l.band = r.band AND l.band_hash = r.band_hash
             AND l.doc_id % 2 = 1 AND r.doc_id % 2 = 0
            WHERE CAST(len(list_intersect(list_distinct(l.sh),
                                          list_distinct(r.sh))) AS DOUBLE) /
                  CAST(len(list_distinct(l.sh || r.sh)) AS DOUBLE) >= 0.8)
          SELECT n.doc_id,
            n.h IN (SELECT h FROM refhash) AS dup_exact,
            n.doc_id IN (SELECT id FROM nearids) AS dup_near
          FROM newdocs n""",
    // HLL: bucket = top 4 bits of hex8(md5(tok)), rho = leading zeros of
    // the 28-bit suffix + 1 (via length(bin())), 2^-register through an
    // integer shift + one division -- exact dyadic arithmetic end to end.
    "llm_bloom" ->
      s"""WITH toks AS (SELECT lang, $duckToks AS ws FROM documents),
          items AS (SELECT DISTINCT unnest(ws) AS w FROM toks
                    WHERE lang = 'en'),
          -- seed column named sd: duckHex8's internal lambda var is i
          -- and would shadow an outer column of the same name
          ik AS (SELECT w, unnest([0, 1, 2]) AS sd FROM items),
          ip AS (SELECT
              ${duckHex8("CAST(sd AS VARCHAR) || ':bl:' || w")} % 124
                AS pos
            FROM ik),
          sk AS (SELECT pos // 62 AS word_idx,
                   bit_or(1::BIGINT << CAST(pos % 62 AS INT)) AS bits
                 FROM ip GROUP BY 1),
          base AS (SELECT DISTINCT unnest(ws) AS w FROM toks),
          probes AS (SELECT w FROM base
                     UNION SELECT w || 'zz' FROM base),
          pk AS (SELECT w, unnest([0, 1, 2]) AS sd FROM probes),
          pp AS (SELECT w,
              ${duckHex8("CAST(sd AS VARCHAR) || ':bl:' || w")} % 124
                AS pos
            FROM pk),
          hit AS (
            SELECT pp.w,
              bool_and((COALESCE(sk.bits, 0) &
                (1::BIGINT << CAST(pp.pos % 62 AS INT))) <> 0) AS mc
            FROM pp LEFT JOIN sk ON sk.word_idx = pp.pos // 62
            GROUP BY pp.w)
          SELECT w AS token, mc AS might_contain FROM hit""",
    "llm_hll_distinct" -> {
      val hvExpr = duckHex8("tok")
      s"""WITH tok AS (
            SELECT source, unnest($duckToks) AS tok FROM documents),
          h AS (SELECT source, tok, $hvExpr AS hv
                FROM (SELECT DISTINCT source, tok FROM tok)),
          r AS (SELECT source, hv // 268435456 AS bucket,
                  CASE WHEN hv % 268435456 = 0 THEN 29
                       ELSE 28 - length(bin(hv % 268435456)) + 1 END AS rho
                FROM h),
          reg AS (SELECT source, bucket, MAX(rho) AS register
                  FROM r GROUP BY source, bucket),
          agg AS (SELECT source, COUNT(*) AS buckets_seen,
                    SUM(1.0 / CAST((CAST(1 AS BIGINT) << register)
                      AS DOUBLE)) AS seen_denom
                  FROM reg GROUP BY source),
          ex AS (SELECT source, COUNT(DISTINCT tok) AS exact_distinct
                 FROM tok GROUP BY source)
          SELECT a.source, a.buckets_seen,
            CAST(FLOOR((seen_denom + (16 - buckets_seen)) * 1000000)
              AS BIGINT) AS denom_micro,
            CAST(FLOOR(0.673 * 256.0 /
              (seen_denom + (16 - buckets_seen)) * 1000) AS BIGINT)
              AS raw_est_milli,
            e.exact_distinct
          FROM agg a JOIN ex e USING (source)"""
    },
    // Histogram quantiles: first bin whose cumulative count crosses the
    // cross-multiplied integer threshold.
    "llm_quantile_sketch" ->
      """WITH b AS (
           SELECT n_chars // 16 AS bin, COUNT(*) AS cnt
           FROM documents GROUP BY n_chars // 16),
         c AS (
           SELECT bin, cnt,
             SUM(cnt) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             (SELECT COUNT(*) FROM documents) AS n
           FROM b),
         q AS (SELECT CAST(qm AS BIGINT) AS q_milli
               FROM (VALUES (500), (900), (990)) v(qm))
         SELECT q_milli,
           CAST(MIN(CASE WHEN cum * 1000 >= q_milli * n THEN bin END)
             AS BIGINT) AS bin,
           CAST(MIN(CASE WHEN cum * 1000 >= q_milli * n THEN bin END) * 16
             AS BIGINT) AS est,
           CAST(MIN(n) AS BIGINT) AS n
         FROM c, q GROUP BY q_milli""",
    // Count-min: update slots = hex8(md5(r:tok)) % 256 per depth row,
    // estimate = min over rows of the slot counters.
    "llm_cms_counts" -> {
      val updSlot = duckHex8("CAST(r AS VARCHAR) || ':' || tok")
      val updSlot2 = duckHex8("CAST(r2.r AS VARCHAR) || ':' || e.tok")
      s"""WITH tok AS (
            SELECT unnest($duckToks) AS tok FROM documents),
          rows_ AS (SELECT CAST(x AS INT) AS r
                    FROM (VALUES (0),(1),(2),(3)) v(x)),
          upd AS (SELECT r, $updSlot % 256 AS slot FROM tok, rows_),
          cms AS (SELECT r, slot, COUNT(*) AS cnt
                  FROM upd GROUP BY r, slot),
          ex AS (SELECT tok, COUNT(*) AS exact_count FROM tok
                 GROUP BY tok ORDER BY exact_count DESC, tok LIMIT 20),
          qslots AS (SELECT e.tok, r2.r, $updSlot2 % 256 AS slot
                     FROM ex e, rows_ r2),
          est AS (SELECT q.tok,
                    CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est_count
                  FROM qslots q LEFT JOIN cms c
                    ON c.r = q.r AND c.slot = q.slot
                  GROUP BY q.tok)
          SELECT e2.tok, est_count, exact_count
          FROM est JOIN ex e2 USING (tok)"""
    },
    // Bottom-k signatures: k smallest md5(tok) per source; est Jaccard
    // from merged-signature prefix; exact from the distinct token sets.
    "llm_bottomk_sim" ->
      s"""WITH tok AS (
            SELECT DISTINCT source, tok FROM (
              SELECT source, unnest($duckToks) AS tok FROM documents)),
          sig AS (
            SELECT source, (list_sort(list(md5(tok))))[1:32] AS sig
            FROM tok GROUP BY source),
          sets AS (
            SELECT source, list(tok) AS st FROM tok GROUP BY source),
          pairs AS (
            SELECT a.source AS g_a, b.source AS g_b, a.sig AS sa,
              b.sig AS sb
            FROM sig a JOIN sig b ON a.source < b.source),
          est AS (
            SELECT g_a, g_b,
              CAST(FLOOR(CAST(len(list_intersect(list_intersect(
                  (list_sort(list_distinct(sa || sb)))[1:32], sa), sb))
                  AS DOUBLE) * 1000000.0 /
                CAST(least(32, len(list_distinct(sa || sb))) AS DOUBLE))
                AS BIGINT) AS est_jaccard_micro
            FROM pairs),
          ex AS (
            SELECT a.source AS g_a, b.source AS g_b,
              CAST(FLOOR(CAST(len(list_intersect(a.st, b.st)) AS DOUBLE)
                * 1000000.0 /
                CAST(len(list_distinct(a.st || b.st)) AS DOUBLE))
                AS BIGINT) AS exact_jaccard_micro
            FROM sets a JOIN sets b ON a.source < b.source)
          SELECT e.g_a, e.g_b, e.est_jaccard_micro, x.exact_jaccard_micro
          FROM est e JOIN ex x USING (g_a, g_b)""",
    // Feature-hashed classifier: bucket = hex8(md5(tok)) % 64, weight =
    // hex8(md5('clf:' || bucket)) % 2001 - 1000; integer sum, one final
    // division.
    "llm_classifier" -> {
      val bucketExpr = duckHex8("t")
      val weightExpr = duckHex8("'clf:' || CAST(b AS VARCHAR)")
      s"""WITH toks AS (SELECT doc_id, $duckToks AS ws FROM documents),
          b AS (SELECT doc_id, len(ws) AS n,
                  list_transform(ws, t -> $bucketExpr % 64) AS buckets
                FROM toks),
          w AS (SELECT doc_id, n,
                  CAST(COALESCE(list_sum(list_transform(buckets, b ->
                    $weightExpr % 2001 - 1000)), 0) AS BIGINT)
                    AS clf_weight_sum
                FROM b)
          SELECT doc_id, clf_weight_sum,
            CASE WHEN n = 0 THEN 0 ELSE
              CAST(FLOOR(CAST(clf_weight_sum AS DOUBLE) * 1000000.0 /
                (CAST(n AS DOUBLE) * 1000.0)) AS BIGINT) END
              AS clf_score_micro,
            clf_weight_sum > 0 AS clf_keep
          FROM w"""
    },
    // Random projection: same md5-derived plane weights as
    // Ann.planeWeight(seed=7), same sequential fold as the Spark dot.
    "llm_rp_reduce" -> {
      val wExpr = duckHex8(
        "'7:' || CAST(pdim AS VARCHAR) || ':' || CAST(d - 1 AS VARCHAR)")
      s"""WITH dims AS (SELECT CAST(x AS INT) AS pdim FROM
            (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) v(x)),
          vals AS (
            SELECT vec_id, pdim,
              list_sum(list_transform(range(1, len(embedding) + 1),
                d -> CAST(embedding[CAST(d AS INT)] AS DOUBLE) *
                  (($wExpr % 2000) / 1000.0 - 1.0))) AS v
            FROM embeddings, dims)
          SELECT vec_id, pdim,
            CAST(FLOOR(v * 1000000) AS BIGINT) AS v_micro FROM vals"""
    },
    "llm_sample" ->
      s"""SELECT doc_id FROM documents
          WHERE ${duckHex8("'s1:' || CAST(doc_id AS VARCHAR)")} % 10000
            < 2500""",
    // Pipeline2: line dedup -> classifier -> temperature mix, stages
    // chained exactly as the standalone oracles compute them.
    "llm_pipeline2" -> {
      val bucketExpr = duckHex8("t")
      val weightExpr = duckHex8("'clf:' || CAST(b AS VARCHAR)")
      s"""WITH toks AS (SELECT doc_id, $duckToks AS ws FROM documents),
          n AS (SELECT doc_id, ws,
                  CAST(ceil(len(ws) / 2.0) AS INT) AS n_lines FROM toks),
          lines AS (
            SELECT doc_id, CAST(i AS INT) AS line_idx,
              array_to_string(ws[CAST(i*2+1 AS INT):CAST(i*2+2 AS INT)],
                ' ') AS line
            FROM n, LATERAL (SELECT unnest(range(0, n_lines)) AS i)),
          stats AS (SELECT COUNT(*) AS n_docs FROM documents),
          heavy AS (
            SELECT md5(line) AS lh FROM lines GROUP BY md5(line)
            HAVING COUNT(DISTINCT doc_id) >
              (SELECT greatest(1.0, 0.03 * n_docs) FROM stats)),
          reb AS (
            SELECT doc_id, COUNT(*) AS kept_lines,
              string_agg(line, ' ' ORDER BY line_idx) AS clean_text
            FROM lines WHERE md5(line) NOT IN (SELECT lh FROM heavy)
            GROUP BY doc_id),
          cleaned AS (
            SELECT r.doc_id, d.lang, r.clean_text
            FROM reb r JOIN documents d ON d.doc_id = r.doc_id
            WHERE r.kept_lines > 0),
          ctoks AS (
            SELECT doc_id, lang, clean_text,
              list_filter(string_split_regex(lower(clean_text),
                '[^a-z0-9]+'), x -> x <> '') AS ws
            FROM cleaned),
          cb AS (SELECT doc_id, lang, clean_text,
                   list_transform(ws, t -> $bucketExpr % 64) AS buckets
                 FROM ctoks),
          kept AS (
            SELECT doc_id, lang, clean_text
            FROM cb
            WHERE CAST(COALESCE(list_sum(list_transform(buckets, b ->
              $weightExpr % 2001 - 1000)), 0) AS BIGINT) > 0),
          counts AS (SELECT lang, COUNT(*) AS cn FROM kept GROUP BY lang),
          mn AS (SELECT MIN(cn) AS nmin FROM counts),
          th AS (SELECT lang,
                   CAST(FLOOR(sqrt(CAST(nmin AS DOUBLE) /
                     CAST(cn AS DOUBLE)) * 10000) AS BIGINT) AS thr
                 FROM counts, mn)
          SELECT k.doc_id, k.lang, md5(k.clean_text) AS clean_md5
          FROM kept k JOIN th USING (lang)
          WHERE ${duckHex8("'p2:' || CAST(k.doc_id AS VARCHAR)")}
            % 10000 < thr"""
    },
    // Snapshot diff: hash compare across a full outer join on the id.
    "llm_snapshot_diff" ->
      """WITH cut AS (SELECT MAX(doc_id) AS m FROM documents),
         v1 AS (SELECT doc_id, md5(text) AS h FROM documents, cut
                WHERE doc_id <= m * 6 // 10),
         v2 AS (SELECT doc_id,
                  md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
                      ELSE text END) AS h
                FROM documents, cut WHERE doc_id > m * 3 // 10)
         SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
           CASE WHEN v1.h IS NULL THEN 'added'
                WHEN v2.h IS NULL THEN 'removed'
                WHEN v1.h = v2.h THEN 'unchanged'
                ELSE 'changed' END AS status
         FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id""",
    // Novelty: corpus-wide distinct-shingle counts, unique fraction.
    // Docs too short for a shingle keep a row with the defined zero
    // score (LEFT JOIN back onto documents, like the Spark side).
    "llm_novelty" ->
      s"""WITH toks AS (
            SELECT doc_id, $duckToks AS ws FROM documents),
          sh AS (
            SELECT doc_id, list_distinct(
              CASE WHEN len(ws) < 3 THEN []
                ELSE list_transform(range(1, len(ws) - 1), i ->
                  ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT)+1] ||
                  ' ' || ws[CAST(i AS INT)+2]) END) AS shl
            FROM toks),
          ds AS (SELECT doc_id, unnest(shl) AS s FROM sh),
          c AS (SELECT s, COUNT(*) AS cnt FROM ds GROUP BY s),
          agg AS (
            SELECT d.doc_id,
              COUNT(*) AS ns,
              SUM(CASE WHEN c.cnt = 1 THEN 1 ELSE 0 END) AS us
            FROM ds d JOIN c ON c.s = d.s
            GROUP BY d.doc_id)
          SELECT doc.doc_id,
            CAST(COALESCE(a.ns, 0) AS BIGINT) AS n_shingles,
            CAST(COALESCE(a.us, 0) AS BIGINT) AS unique_shingles,
            COALESCE(CAST(FLOOR(CAST(a.us AS DOUBLE) * 1000000.0 /
                CAST(a.ns AS DOUBLE)) AS BIGINT), 0) AS novelty_micro
          FROM documents doc LEFT JOIN agg a ON a.doc_id = doc.doc_id""",
    // SQ8: per-dim exact bounds -> affine int8 codes (same per-element
    // op order as the Spark expression: sub, *255.0, div, floor, clamp)
    // -> asymmetric integer score (code x floor(q*(mx-mn)*1e6/255))
    // top-10. No float accumulation anywhere.
    "llm_sq8_ann" ->
      """WITH e AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         x AS (
           SELECT vec_id, CAST(i AS INT) AS dim, v[CAST(i AS INT)] AS val
           FROM e, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i)),
         b AS (SELECT dim, MIN(val) AS mn, MAX(val) AS mx
               FROM x GROUP BY dim),
         c AS (
           SELECT x.vec_id, x.dim,
             CASE WHEN b.mx = b.mn THEN 0
                  ELSE CAST(GREATEST(LEAST(FLOOR(
                    (x.val - b.mn) * 255.0 / (b.mx - b.mn)), 255.0), 0.0)
                    AS INT) END AS code
           FROM x JOIN b USING (dim)),
         q AS (SELECT dim, val FROM x WHERE vec_id = 7),
         w AS (
           SELECT q.dim,
             CAST(FLOOR(q.val * (b.mx - b.mn) * 1000000.0 / 255.0)
               AS BIGINT) AS wq
           FROM q JOIN b USING (dim)),
         s AS (
           SELECT c.vec_id,
             CAST(SUM(CAST(c.code AS BIGINT) * w.wq) AS BIGINT)
               AS score_int
           FROM c JOIN w USING (dim) GROUP BY c.vec_id)
         SELECT vec_id, score_int FROM s
         ORDER BY score_int DESC, vec_id LIMIT 10""",
    "llm_exact_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents
         ORDER BY md5('es:' || CAST(doc_id AS VARCHAR)), doc_id
         LIMIT 100""",
    // Epoch shuffle: md5 key + ROW_NUMBER over (key, id).
    "llm_epoch_shuffle" ->
      """SELECT doc_id,
           md5('shuffle:2:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
           CAST(ROW_NUMBER() OVER (
             ORDER BY md5('shuffle:2:' || CAST(doc_id AS VARCHAR)), doc_id)
             AS BIGINT) AS pos
         FROM documents""",
    // Weighted sampling: the novelty CTE chain, then the hash-of-id
    // bucket against the integer micro weight.
    "llm_weighted_sample" ->
      s"""WITH toks AS (
            SELECT doc_id, $duckToks AS ws FROM documents),
          sh AS (
            SELECT doc_id, list_distinct(
              CASE WHEN len(ws) < 3 THEN []
                ELSE list_transform(range(1, len(ws) - 1), i ->
                  ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT)+1] ||
                  ' ' || ws[CAST(i AS INT)+2]) END) AS shl
            FROM toks),
          ds AS (SELECT doc_id, unnest(shl) AS s FROM sh),
          c AS (SELECT s, COUNT(*) AS cnt FROM ds GROUP BY s),
          agg AS (
            SELECT d.doc_id,
              COUNT(*) AS ns,
              SUM(CASE WHEN c.cnt = 1 THEN 1 ELSE 0 END) AS us
            FROM ds d JOIN c ON c.s = d.s
            GROUP BY d.doc_id),
          nov AS (
            SELECT doc.doc_id,
              COALESCE(CAST(FLOOR(CAST(a.us AS DOUBLE) * 1000000.0 /
                  CAST(a.ns AS DOUBLE)) AS BIGINT), 0) AS novelty_micro
            FROM documents doc LEFT JOIN agg a ON a.doc_id = doc.doc_id)
          SELECT doc_id, novelty_micro FROM nov
          WHERE ${duckHex8("'wsamp:' || CAST(doc_id AS VARCHAR)")}
            % 1000000 < novelty_micro""",
    // Epoch repeats: integer copies per language.
    "llm_repeats" ->
      """SELECT doc_id, lang, CAST(g AS BIGINT) AS copy
         FROM documents, LATERAL (SELECT unnest(generate_series(1,
           CASE lang WHEN 'de' THEN 3 WHEN 'fr' THEN 2 ELSE 1 END)) AS g)""",
    // Temperature mix: division then sqrt are both correctly-rounded
    // IEEE ops, so the floored threshold matches the engine exactly.
    "llm_temperature_mix" ->
      s"""WITH counts AS (
            SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
          mn AS (SELECT MIN(n) AS nmin FROM counts),
          th AS (SELECT lang,
                   CAST(FLOOR(sqrt(CAST(nmin AS DOUBLE) /
                     CAST(n AS DOUBLE)) * 10000) AS BIGINT) AS thr
                 FROM counts, mn)
          SELECT d.doc_id, d.lang
          FROM documents d JOIN th USING (lang)
          WHERE ${duckHex8("'tmix:' || CAST(d.doc_id AS VARCHAR)")}
            % 10000 < thr""",
    "llm_pipeline" ->
      s"""WITH base AS (
            SELECT doc_id, text, lang, n_chars, $duckToks AS ws
            FROM documents WHERE doc_id >= 10),
          surv AS (
            SELECT * FROM base
            QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text)
              ORDER BY doc_id) = 1),
          en AS (SELECT * FROM surv WHERE lang = 'en'),
          good AS (
            SELECT doc_id, n_chars, ws FROM en
            WHERE CAST(FLOOR($duckQualityScore * 1000000) AS BIGINT)
              >= 350000),
          gsh AS (
            SELECT doc_id, n_chars,
              list_distinct(CASE WHEN len(ws) < 3 THEN []
                ELSE list_transform(range(1, len(ws) - 1), i ->
                  ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT)+1] || ' ' ||
                  ws[CAST(i AS INT)+2]) END) AS sh
            FROM good),
          bsh AS (
            SELECT DISTINCT g FROM (
              SELECT unnest(list_distinct(CASE WHEN len(ws) < 3 THEN []
                ELSE list_transform(range(1, len(ws) - 1), i ->
                  ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT)+1] || ' ' ||
                  ws[CAST(i AS INT)+2]) END)) AS g
              FROM (SELECT $duckToks AS ws FROM documents
                    WHERE doc_id < 10))),
          contaminated AS (
            SELECT DISTINCT doc_id FROM (
              SELECT doc_id, unnest(sh) AS g FROM gsh)
            WHERE g IN (SELECT g FROM bsh)),
          clean AS (
            SELECT doc_id, n_chars FROM gsh
            WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
          sampled AS (
            SELECT doc_id, n_chars FROM clean
            WHERE ${duckHex8("'pipe:' || CAST(doc_id AS VARCHAR)")} % 10000
              < 5000),
          packed AS (
            SELECT doc_id,
              SUM(n_chars) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - n_chars AS cb
            FROM sampled)
          SELECT doc_id,
            CAST((cb // 2048) AS BIGINT) AS bin,
            CAST((cb % 2048) AS BIGINT) AS bin_offset
          FROM packed""",
    "llm_pack" ->
      """SELECT doc_id,
           CAST((cb // 1024) AS BIGINT) AS bin,
           CAST((cb % 1024) AS BIGINT) AS bin_offset
         FROM (
           SELECT doc_id,
             SUM(n_chars) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_chars AS cb
           FROM documents) t""",
    "llm_stratified" ->
      s"""SELECT doc_id, lang FROM documents
          WHERE ${duckHex8("'mix:' || CAST(doc_id AS VARCHAR)")} % 10000
            < (CASE WHEN lang = 'en' THEN 2000
                    WHEN lang = 'de' THEN 8000
                    ELSE 5000 END)""",
    "llm_quota" ->
      """SELECT source, doc_id, n_chars FROM (
           SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id) AS rk
           FROM documents) t
         WHERE rk <= 5""",
    "llm_decontam" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks AS ws FROM documents),
          sh AS (
            SELECT doc_id,
              list_distinct(CASE WHEN len(ws) < 3 THEN []
                ELSE list_transform(range(1, len(ws) - 1), i ->
                  ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT)+1] || ' ' ||
                  ws[CAST(i AS INT)+2]) END) AS sh
            FROM toks),
          bench AS (
            SELECT DISTINCT g
            FROM (SELECT unnest(sh) AS g FROM sh WHERE doc_id < 10)),
          expl AS (
            SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id >= 10),
          hits AS (
            SELECT doc_id, COUNT(*) AS hits FROM expl
            WHERE g IN (SELECT g FROM bench)
            GROUP BY doc_id)
          SELECT doc_id AS id, CAST(hits AS BIGINT) AS hits
          FROM hits WHERE hits >= 3""",
    "llm_fingerprint" ->
      s"""SELECT doc_id,
            md5(array_to_string(list_sort(list_distinct($duckToks)), ' '))
              AS fingerprint
          FROM documents""",
    // Winnowing: the oracle recomputes the selection DECLARATIVELY
    // (explode every window of 4 consecutive 8-gram hashes, per-window
    // min, rightmost position on ties, distinct) -- proving the Spark
    // side's linear scan against the scheme's definition. Short docs
    // (< 8 tokens) hash whole; < 4 hashes shrink the window to the
    // hash count (one global window).
    "llm_winnow" ->
      s"""WITH $winnowSeldCtes,
          agg AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_selected,
              md5(string_agg(CAST(p AS VARCHAR) || ':' || h, ','
                ORDER BY p)) AS sel_md5
            FROM seld GROUP BY doc_id)
          SELECT n.doc_id, CAST(n.nh AS BIGINT) AS n_kgrams,
            a.n_selected, a.sel_md5
          FROM (SELECT DISTINCT doc_id, nh FROM hp) n
            JOIN agg a USING (doc_id)""",
    // Winnowed pairs: distinct selected hashes per doc, the > 1000-doc
    // boilerplate cap, then the id-ordered self-join -- the same pair
    // semantics as llm_substring_dup but over the winnowed sample.
    "llm_winnow_pairs" ->
      s"""WITH $winnowSeldCtes,
          fpd AS (SELECT DISTINCT doc_id, h FROM seld),
          hot AS (SELECT h FROM fpd GROUP BY h HAVING COUNT(*) > 1000),
          fpc AS (SELECT * FROM fpd
                  WHERE h NOT IN (SELECT h FROM hot))
          SELECT l.doc_id AS id_a, r.doc_id AS id_b,
            CAST(COUNT(*) AS BIGINT) AS shared_fps
          FROM fpc l JOIN fpc r ON l.h = r.h AND l.doc_id < r.doc_id
          GROUP BY 1, 2 HAVING COUNT(*) >= 1""",
    // PII: same augmented text, same pattern constants (Java regex and
    // RE2 agree on this syntax subset), 'g' flag = Spark's replace-all.
    "llm_pii_redact" ->
      s"""WITH a AS (
            SELECT doc_id,
              text || ' contact user' || CAST(doc_id AS VARCHAR) ||
              '@example.com or 10.0.0.' ||
              CAST(doc_id % 250 + 1 AS VARCHAR) ||
              ' acct 12345678901' AS aug
            FROM documents)
          SELECT doc_id,
            CAST(len(regexp_extract_all(aug, '$piiEmailPattern'))
              AS BIGINT) AS n_emails,
            CAST(len(regexp_extract_all(aug, '$piiIpPattern'))
              AS BIGINT) AS n_ips,
            CAST(len(regexp_extract_all(aug, '$piiNumPattern'))
              AS BIGINT) AS n_nums,
            md5(regexp_replace(regexp_replace(regexp_replace(aug,
              '$piiEmailPattern', '<EMAIL>', 'g'),
              '$piiIpPattern', '<IP>', 'g'),
              '$piiNumPattern', '<NUM>', 'g')) AS redacted_md5
          FROM a""",
    // PII density cut: same augmented text with the every-7th 8x-dense
    // suffix; DuckDB repeat() builds the dense block, counts and the
    // integer cross-multiply reproduce dropPiiDense exactly.
    "llm_pii_filter" ->
      s"""WITH a AS (
            SELECT doc_id,
              text || sfx ||
                CASE WHEN doc_id % 7 = 0 THEN repeat(sfx, 8)
                     ELSE '' END AS aug
            FROM (
              SELECT doc_id, text,
                ' contact user' || CAST(doc_id AS VARCHAR) ||
                '@example.com or 10.0.0.' ||
                CAST(doc_id % 250 + 1 AS VARCHAR) ||
                ' acct 12345678901' AS sfx
              FROM documents)),
          c AS (
            SELECT doc_id,
              CAST(len(regexp_extract_all(aug, '$piiEmailPattern'))
                + len(regexp_extract_all(aug, '$piiIpPattern'))
                + len(regexp_extract_all(aug, '$piiNumPattern'))
                AS BIGINT) AS n_pii,
              CAST(length(aug) AS BIGINT) AS n
            FROM a)
          SELECT doc_id, n_pii FROM c WHERE n_pii * 1000 <= 40 * n""",
    // Shared 12-token rolling-window fingerprints; Spark's
    // windowFingerprints emits md5 of the WHOLE doc when it is shorter
    // than the window, replicated by the CASE arm. Fingerprints shared
    // by more than 1000 docs are dropped before the self-join (the
    // hot-boilerplate cap -- no-op at gate corpus sizes, semantics
    // proven anyway).
    // Containment: same window-fingerprint CTE; per-doc counts divide
    // the shared-window count from each side; denominators stay uncapped.
    "llm_containment" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks AS ws FROM documents),
          wf AS (
            SELECT doc_id, unnest(list_distinct(
              CASE WHEN len(ws) < 12 THEN [md5(array_to_string(ws, ' '))]
                ELSE list_transform(range(1, len(ws) - 10), i ->
                  md5(array_to_string(
                    list_slice(ws, CAST(i AS INT), CAST(i + 11 AS INT)),
                    ' ')))
              END)) AS wh
            FROM toks),
          sizes AS (SELECT doc_id, COUNT(*) AS nw FROM wf GROUP BY doc_id),
          hot AS (SELECT wh FROM wf GROUP BY wh HAVING COUNT(*) > 1000),
          wfc AS (SELECT * FROM wf
                  WHERE wh NOT IN (SELECT wh FROM hot)),
          shared AS (
            SELECT l.doc_id AS id_a, r.doc_id AS id_b,
              COUNT(*) AS shared_windows
            FROM wfc l JOIN wfc r ON l.wh = r.wh AND l.doc_id < r.doc_id
            GROUP BY 1, 2)
          SELECT s.id_a, s.id_b, s.shared_windows,
            CAST(FLOOR(CAST(s.shared_windows AS DOUBLE) * 1000000.0 /
              CAST(a.nw AS DOUBLE)) AS BIGINT) AS containment_a_micro,
            CAST(FLOOR(CAST(s.shared_windows AS DOUBLE) * 1000000.0 /
              CAST(b.nw AS DOUBLE)) AS BIGINT) AS containment_b_micro
          FROM shared s
            JOIN sizes a ON a.doc_id = s.id_a
            JOIN sizes b ON b.doc_id = s.id_b
          WHERE greatest(
            CAST(FLOOR(CAST(s.shared_windows AS DOUBLE) * 1000000.0 /
              CAST(a.nw AS DOUBLE)) AS BIGINT),
            CAST(FLOOR(CAST(s.shared_windows AS DOUBLE) * 1000000.0 /
              CAST(b.nw AS DOUBLE)) AS BIGINT)) >= 500000""",
    "llm_substring_dup" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks AS ws FROM documents),
          wf AS (
            SELECT doc_id, unnest(list_distinct(
              CASE WHEN len(ws) < 12 THEN [md5(array_to_string(ws, ' '))]
                ELSE list_transform(range(1, len(ws) - 10), i ->
                  md5(array_to_string(
                    list_slice(ws, CAST(i AS INT), CAST(i + 11 AS INT)),
                    ' ')))
              END)) AS wh
            FROM toks),
          hot AS (SELECT wh FROM wf GROUP BY wh HAVING COUNT(*) > 1000),
          wfc AS (SELECT * FROM wf
                  WHERE wh NOT IN (SELECT wh FROM hot))
          SELECT l.doc_id AS id_a, r.doc_id AS id_b,
            COUNT(*) AS shared_windows
          FROM wfc l JOIN wfc r ON l.wh = r.wh AND l.doc_id < r.doc_id
          GROUP BY 1, 2 HAVING COUNT(*) >= 2""",
    // Span localization: per shared (un-hot) fingerprint, each side's
    // FIRST window start (0-based token index); pairs gated by >= 2
    // shared windows like llm_substring_dup.
    "llm_dup_spans" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks AS ws FROM documents),
          wpos AS (
            SELECT doc_id, u.wh AS wh, CAST(MIN(u.pos) AS BIGINT) AS start
            FROM (
              SELECT doc_id, unnest(
                CASE WHEN len(ws) < 12 THEN
                  [{'pos': 0, 'wh': md5(array_to_string(ws, ' '))}]
                ELSE list_transform(range(1, len(ws) - 10), i ->
                  {'pos': CAST(i - 1 AS BIGINT),
                   'wh': md5(array_to_string(
                     list_slice(ws, CAST(i AS INT), CAST(i + 11 AS INT)),
                     ' '))})
                END) AS u
              FROM toks)
            GROUP BY doc_id, u.wh),
          hot AS (SELECT wh FROM wpos GROUP BY wh HAVING COUNT(*) > 1000),
          wpc AS (SELECT * FROM wpos
                  WHERE wh NOT IN (SELECT wh FROM hot)),
          spans AS (
            SELECT l.doc_id AS id_a, r.doc_id AS id_b,
              l.start AS a_start, r.start AS b_start
            FROM wpc l JOIN wpc r
              ON l.wh = r.wh AND l.doc_id < r.doc_id)
          SELECT id_a, id_b, a_start, b_start FROM (
            SELECT *, COUNT(*) OVER (PARTITION BY id_a, id_b) AS c
            FROM spans)
          WHERE c >= 2""",
    // Span-cut: the llm_dup_spans CTE chain, then per higher-id doc the
    // distinct b_start set; a token survives when no cut window covers
    // its 0-based index; md5 of the space-joined survivors.
    "llm_span_cut" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks AS ws FROM documents),
          wpos AS (
            SELECT doc_id, u.wh AS wh, CAST(MIN(u.pos) AS BIGINT) AS start
            FROM (
              SELECT doc_id, unnest(
                CASE WHEN len(ws) < 12 THEN
                  [{'pos': 0, 'wh': md5(array_to_string(ws, ' '))}]
                ELSE list_transform(range(1, len(ws) - 10), i ->
                  {'pos': CAST(i - 1 AS BIGINT),
                   'wh': md5(array_to_string(
                     list_slice(ws, CAST(i AS INT), CAST(i + 11 AS INT)),
                     ' '))})
                END) AS u
              FROM toks)
            GROUP BY doc_id, u.wh),
          hot AS (SELECT wh FROM wpos GROUP BY wh HAVING COUNT(*) > 1000),
          wpc AS (SELECT * FROM wpos
                  WHERE wh NOT IN (SELECT wh FROM hot)),
          spans AS (
            SELECT id_a, id_b, a_start, b_start FROM (
              SELECT l.doc_id AS id_a, r.doc_id AS id_b,
                l.start AS a_start, r.start AS b_start,
                COUNT(*) OVER (PARTITION BY l.doc_id, r.doc_id) AS c
              FROM wpc l JOIN wpc r
                ON l.wh = r.wh AND l.doc_id < r.doc_id)
            WHERE c >= 2),
          cuts AS (
            SELECT id_b AS doc_id, list(DISTINCT b_start) AS starts
            FROM spans GROUP BY id_b),
          kept AS (
            SELECT t.doc_id, t.ws,
              list_filter(range(1, len(t.ws) + 1), i ->
                len(list_filter(
                  CASE WHEN c.starts IS NULL THEN CAST([] AS BIGINT[])
                       ELSE c.starts END,
                  s -> CAST(i - 1 AS BIGINT) >= s
                    AND CAST(i - 1 AS BIGINT) < s + 12)) = 0) AS ki
            FROM toks t LEFT JOIN cuts c ON c.doc_id = t.doc_id)
          SELECT doc_id,
            CAST(len(ws) AS BIGINT) AS n_tokens,
            CAST(len(ki) AS BIGINT) AS kept_tokens,
            md5(COALESCE(array_to_string(
              list_transform(ki, i -> ws[CAST(i AS INT)]), ' '), ''))
              AS clean_md5
          FROM kept""",

    // Chunk slices reuse the chunking CTE; per-chunk dims are the
    // llm_embed_check construction (integer bucket sum, one division,
    // clamp); the POOLING sum uses list_reduce -- an explicit sequential
    // left fold, the same association order as Spark's aggregate/zip_with
    // fold, so the low FP bits agree.
    "llm_doc_embedding" -> {
      val hex8tok = duckHex8("t || ':' || CAST(dim AS VARCHAR)")
      s"""WITH t AS (
            SELECT doc_id, $duckToks AS ws FROM documents),
          n AS (
            SELECT doc_id, ws,
              greatest(CAST(ceil((len(ws) - 32) / 24.0) AS INT) + 1, 1)
                AS n_chunks
            FROM t),
          chunks AS (
            SELECT doc_id, CAST(i AS INT) AS chunk_idx,
              ws[CAST(i*24+1 AS INT):CAST(i*24+32 AS INT)] AS cw
            FROM n, LATERAL (SELECT unnest(range(0, n_chunks)) AS i)),
          dims AS (SELECT CAST(x AS INT) AS dim
                   FROM (VALUES (0), (1), (2), (3)) v(x)),
          vals AS (
            SELECT doc_id, chunk_idx, dim,
              CASE WHEN len(cw) = 0 THEN 0.0 ELSE
                least(greatest(
                  CAST(list_sum(list_transform(cw, t -> $hex8tok % 10000))
                    AS DOUBLE) / (CAST(len(cw) AS DOUBLE) * 10000.0),
                  0.0), 1.0) END AS v
            FROM chunks, dims),
          pooled AS (
            SELECT doc_id, dim, list(v ORDER BY chunk_idx) AS vs,
              COUNT(*) AS nc
            FROM vals GROUP BY doc_id, dim)
          SELECT doc_id, dim,
            CAST(FLOOR(list_reduce(vs, (a, b) -> a + b) /
              CAST(nc AS DOUBLE) * 1000000) AS BIGINT) AS v_micro
          FROM pooled"""
    },

    // Max-count / distinct-count per doc need no tie-break: the FRACTION
    // only uses the count, not which n-gram attains it.
    "llm_repetition" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks AS ws FROM documents),
          base AS (
            SELECT doc_id, ws,
              CASE WHEN len(ws) >= 2 THEN list_transform(range(1, len(ws)),
                i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT)+1])
                ELSE [] END AS bi,
              CASE WHEN len(ws) >= 3 THEN
                list_transform(range(1, len(ws) - 1), i ->
                  ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT)+1] || ' ' ||
                  ws[CAST(i AS INT)+2])
                ELSE [] END AS tri
            FROM toks),
          tokc AS (
            SELECT doc_id, MAX(c) AS top_tok FROM (
              SELECT doc_id, t, COUNT(*) AS c
              FROM (SELECT doc_id, unnest(ws) AS t FROM base) GROUP BY 1, 2)
            GROUP BY doc_id),
          bic AS (
            SELECT doc_id, MAX(c) AS top_bi FROM (
              SELECT doc_id, b, COUNT(*) AS c
              FROM (SELECT doc_id, unnest(bi) AS b FROM base) GROUP BY 1, 2)
            GROUP BY doc_id)
          SELECT b.doc_id,
            CAST(FLOOR(CASE WHEN len(ws) = 0 THEN 0.0 ELSE
              CAST(COALESCE(top_tok, 0) AS DOUBLE) /
              CAST(len(ws) AS DOUBLE) END * 1000000) AS BIGINT)
              AS top_token_micro,
            CAST(FLOOR(CASE WHEN len(bi) = 0 THEN 0.0 ELSE
              CAST(COALESCE(top_bi, 0) AS DOUBLE) /
              CAST(len(bi) AS DOUBLE) END * 1000000) AS BIGINT)
              AS top_bigram_micro,
            CAST(FLOOR(CASE WHEN len(tri) = 0 THEN 0.0 ELSE
              CAST(len(tri) - len(list_distinct(tri)) AS DOUBLE) /
              CAST(len(tri) AS DOUBLE) END * 1000000) AS BIGINT)
              AS dup_trigram_micro
          FROM base b
          LEFT JOIN tokc ON b.doc_id = tokc.doc_id
          LEFT JOIN bic ON b.doc_id = bic.doc_id""",

    // PMI lift = N*C(xy)/(C(x)*C(y)): exact integer products, ONE double
    // division, micro-quantized before the ordering and top-k cut.
    "llm_collocations" ->
      s"""WITH toks AS (SELECT $duckToks AS ws FROM documents),
          bi AS (
            SELECT bigram, COUNT(*) AS c12 FROM (
              SELECT unnest(list_transform(range(1, len(ws)), i ->
                ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT)+1])) AS bigram
              FROM toks WHERE len(ws) >= 2)
            GROUP BY bigram HAVING COUNT(*) >= 5),
          uni AS (
            SELECT tok, COUNT(*) AS c1
            FROM (SELECT unnest(ws) AS tok FROM toks) GROUP BY tok),
          tot AS (
            SELECT SUM(greatest(len(ws) - 1, 0)) AS n_bi FROM toks)
          SELECT bigram, c12, u1.c1 AS c1, u2.c1 AS c2,
            CAST(FLOOR(CAST(n_bi AS DOUBLE) * CAST(c12 AS DOUBLE) /
              (CAST(u1.c1 AS DOUBLE) * CAST(u2.c1 AS DOUBLE)) * 1000000)
              AS BIGINT) AS lift_micro
          FROM bi
          JOIN uni u1 ON split_part(bigram, ' ', 1) = u1.tok
          JOIN uni u2 ON split_part(bigram, ' ', 2) = u2.tok
          CROSS JOIN tot
          ORDER BY lift_micro DESC, bigram LIMIT 50""",
    "llm_minhash_bands" ->
      s"""WITH toks AS (
            SELECT doc_id, $duckToks AS ws FROM documents),
          sh AS (
            SELECT doc_id,
              CASE WHEN len(ws) < 3 THEN []
                ELSE list_transform(range(1, len(ws) - 1), i ->
                  ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT)+1] || ' ' ||
                  ws[CAST(i AS INT)+2]) END AS sh
            FROM toks),
          sig AS (
            SELECT doc_id,
              list_transform(range(0, 8), s ->
                list_min(list_transform(sh, x ->
                  md5(CAST(s AS VARCHAR) || ':' || x)))) AS sig
            FROM sh WHERE len(sh) > 0)
          SELECT doc_id, CAST(b AS INT) AS band,
            md5(sig[CAST(b*4+1 AS INT)] || ',' || sig[CAST(b*4+2 AS INT)] ||
                ',' || sig[CAST(b*4+3 AS INT)] || ',' ||
                sig[CAST(b*4+4 AS INT)]) AS band_hash
          FROM sig, (VALUES (0), (1)) bands(b)""",
    "llm_minhash_pairs" ->
      s"""WITH $minhashPairsCtes
          SELECT id_a, id_b,
            CAST(FLOOR(j * 1000000) AS BIGINT) AS jaccard_micro
          FROM verified WHERE j >= 0.8""",
    "llm_minhash_capped" ->
      s"""WITH $minhashCappedCtes
          SELECT id_a, id_b,
            CAST(FLOOR(j * 1000000) AS BIGINT) AS jaccard_micro
          FROM verified WHERE j >= 0.8""",
    // Same oracle as llm_minhash_pairs ON PURPOSE: the Spark side reads
    // the materialized stage-1 parquet, so a hash match proves the
    // staged artifact equals the self-contained recompute.
    "llm_dedup_staged" ->
      s"""WITH $minhashPairsCtes
          SELECT id_a, id_b,
            CAST(FLOOR(j * 1000000) AS BIGINT) AS jaccard_micro
          FROM verified WHERE j >= 0.8""",
    // Same verified-pair chain rolled up to unordered source cells.
    "llm_source_overlap" ->
      s"""WITH $minhashPairsCtes,
          good AS (
            SELECT id_a, id_b, CAST(FLOOR(j * 1000000) AS BIGINT) AS jm
            FROM verified WHERE j >= 0.8),
          m AS (
            SELECT least(sa.source, sb.source) AS src_lo,
                   greatest(sa.source, sb.source) AS src_hi, jm
            FROM good g
            JOIN documents sa ON g.id_a = sa.doc_id
            JOIN documents sb ON g.id_b = sb.doc_id)
          SELECT src_lo, src_hi, COUNT(*) AS pair_count,
            CAST(SUM(jm) AS BIGINT) AS jaccard_micro_sum
          FROM m GROUP BY 1, 2""",
    // Naive-Bayes retrained from scratch: per-class token counts over
    // the labeled third, add-one smoothing, ONE ln of an exact rational
    // floored to micros per token (the BM25 protocol), plus the doc-count
    // prior; OOV tokens contribute 0 via the inner model join.
    "llm_nb_classifier" ->
      s"""WITH ${nbScoreCtes("documents")}
          SELECT doc_id,
            CAST(COALESCE(s, 0) + prior_micro AS BIGINT) AS nb_llr_micro,
            (COALESCE(s, 0) + prior_micro) > 0 AS nb_pred
          FROM documents LEFT JOIN sums USING (doc_id), prior""",
    // Transitive closure over the SAME verified minhash pairs: min
    // reachable doc_id per node via a recursive CTE -- an independent
    // (if quadratic) re-derivation of the distributed min-label
    // propagation + pointer jumping the engine runs.
    "llm_dup_clusters" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
          pairs AS (SELECT id_a, id_b FROM verified WHERE j >= 0.8),
          edges AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
          reach(u, v) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM edges)
            UNION
            SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
          SELECT u AS id, MIN(v) AS cluster_id FROM reach GROUP BY u""",
    // Keep-best survivors: same closure, winner = max n_chars then min
    // id per cluster; unclustered docs always survive.
    "llm_dedup_keep_best" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
          pairs AS (SELECT id_a, id_b FROM verified WHERE j >= 0.8),
          edges AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
          reach(u, v) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM edges)
            UNION
            SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
          clus AS (SELECT u AS id, MIN(v) AS cluster_id FROM reach
                   GROUP BY u),
          scored AS (
            SELECT c.id, c.cluster_id, d.n_chars
            FROM clus c JOIN documents d ON d.doc_id = c.id),
          best AS (SELECT cluster_id, MAX(n_chars) AS b FROM scored
                   GROUP BY cluster_id),
          winners AS (
            SELECT MIN(s.id) AS id
            FROM scored s JOIN best b
              ON s.cluster_id = b.cluster_id AND s.n_chars = b.b
            GROUP BY s.cluster_id),
          losers AS (
            SELECT id FROM clus
            WHERE id NOT IN (SELECT id FROM winners))
          SELECT doc_id, n_chars FROM documents
          WHERE doc_id NOT IN (SELECT id FROM losers)""",
    // Dedup report: same closure, exact integer aggregates.
    "llm_dedup_report" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
          pairs AS (SELECT id_a, id_b FROM verified WHERE j >= 0.8),
          edges AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
          reach(u, v) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM edges)
            UNION
            SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
          clus AS (SELECT u AS id, MIN(v) AS cluster_id FROM reach
                   GROUP BY u),
          sizes AS (SELECT cluster_id, COUNT(*) AS sz FROM clus
                    GROUP BY cluster_id),
          n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
          SELECT n.n_docs,
            CAST(COALESCE((SELECT SUM(sz) FROM sizes), 0) AS BIGINT)
              AS n_clustered,
            CAST((SELECT COUNT(*) FROM sizes) AS BIGINT) AS n_clusters,
            CAST(COALESCE((SELECT MAX(sz) FROM sizes), 0) AS BIGINT)
              AS max_cluster,
            CAST(COALESCE((SELECT SUM(sz - 1) FROM sizes), 0) AS BIGINT)
              AS n_removed,
            CAST(FLOOR(
              CAST(COALESCE((SELECT SUM(sz - 1) FROM sizes), 0) AS DOUBLE)
                * 1000000 / greatest(n.n_docs, 1)) AS BIGINT)
              AS removed_ratio_micro
          FROM n""",
    // Integer PageRank: 3 unrolled iterations, all-integer arithmetic
    // (// division, exact long sums), so the ranks match bit-for-bit.
    "llm_graph_rank" -> {
      def iter(prev: String, cur: String): String =
        s"""$cur AS (
             SELECT d.src AS id,
               CAST(150000 + (850 * COALESCE(s.c, 0)) // 1000 AS BIGINT)
                 AS r
             FROM deg d LEFT JOIN (
               SELECT e.dst, CAST(SUM($prev.r // g.deg) AS BIGINT) AS c
               FROM edges e JOIN $prev ON $prev.id = e.src
                 JOIN deg g ON g.src = e.src
               GROUP BY e.dst) s ON s.dst = d.src)"""
      s"""WITH $minhashPairsCtes,
          pairs AS (SELECT id_a, id_b FROM verified WHERE j >= 0.8),
          edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                    UNION ALL SELECT id_b, id_a FROM pairs),
          deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
          r0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS r FROM deg),
          ${iter("r0", "r1")},
          ${iter("r1", "r2")},
          ${iter("r2", "r3")}
          SELECT id AS doc_id, r AS rank_micro FROM r3"""
    },
    "llm_simhash" ->
      s"""WITH toks AS (
            SELECT doc_id, $duckToks AS ws FROM documents)
          SELECT doc_id,
            array_to_string(list_transform(range(0, 16), j ->
              CASE WHEN list_sum(list_transform(ws, t ->
                ((strpos('0123456789abcdef',
                    substr(md5(t), CAST(j // 4 + 1 AS INT), 1)) - 1)
                  // CAST(2 ** (3 - j % 4) AS INT)) % 2 * 2 - 1)) > 0
              THEN '1' ELSE '0' END), '') AS simhash16
          FROM toks""",
    "llm_langid" -> {
      val perLang = langMarkers.map { case (lang, ms) =>
        val arr = ms.map(m => s"'$m'").mkString("[", ",", "]")
        s"""SELECT doc_id, '$lang' AS plang,
             CASE WHEN len(ws) = 0 THEN 0.0 ELSE
               CAST(len(list_filter(ws, t -> list_contains($arr, t)))
                 AS DOUBLE) / CAST(len(ws) AS DOUBLE) END AS score
           FROM toks"""
      }.mkString(" UNION ALL ")
      s"""WITH toks AS (
            SELECT doc_id, lang, $duckToks AS ws FROM documents),
          scores AS ($perLang),
          best AS (
            SELECT doc_id, plang, score,
              ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY score DESC, plang ASC) AS rn
            FROM scores)
          SELECT t.doc_id, t.lang,
            CASE WHEN b.score = 0.0 THEN 'und' ELSE b.plang END AS lang_pred,
            CAST(FLOOR((SELECT s.score FROM scores s
              WHERE s.doc_id = t.doc_id AND s.plang = 'en') * 1000000)
              AS BIGINT) AS en_score_micro
          FROM toks t JOIN best b ON b.doc_id = t.doc_id AND b.rn = 1"""
    },
    "llm_budget_select" -> {
      s"""WITH t AS (
            SELECT doc_id, text, n_chars, $duckToks AS ws FROM documents),
          q AS (
            SELECT doc_id,
              CAST(FLOOR($duckQualityScore * 1000000) AS BIGINT)
                AS quality_micro,
              n_chars
            FROM t),
          sel AS (
            SELECT doc_id, quality_micro, n_chars,
              SUM(n_chars) OVER (ORDER BY quality_micro DESC, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM q)
          SELECT doc_id, quality_micro, n_chars,
            CAST(cum AS BIGINT) AS cum_chars
          FROM sel WHERE cum <= 60000"""
    },
    "llm_gopher_rules" -> {
      val stopArr = qualityStopwords.map(m => s"'$m'").mkString("[", ",", "]")
      s"""WITH t AS (
            SELECT doc_id, $duckToks AS ws FROM documents),
          s AS (
            SELECT doc_id, len(ws) AS n,
              COALESCE(list_sum(list_transform(ws, w -> length(w))), 0)
                AS sumlen,
              len(list_filter(ws, w -> list_contains($stopArr, w)))
                AS stops,
              len(list_distinct(ws)) AS u
            FROM t)
          SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
            (n >= 25 AND n <= 100000) AS rule_len,
            (n > 0 AND 3*n <= sumlen AND sumlen <= 10*n) AS rule_mean,
            (stops >= 2) AS rule_stop,
            (n > 0 AND 1000*u >= 300*n) AS rule_rep,
            ((n >= 25 AND n <= 100000)
              AND (n > 0 AND 3*n <= sumlen AND sumlen <= 10*n)
              AND (stops >= 2)
              AND (n > 0 AND 1000*u >= 300*n)) AS keep
          FROM s"""
    },
    "llm_source_stats" ->
      s"""WITH aug AS (
            SELECT source, doc_id, text FROM documents
            UNION ALL
            SELECT source, doc_id + 1000000, text FROM documents
            WHERE doc_id % 7 = 0),
          t AS (
            SELECT source, doc_id, text, md5(text) AS h, $duckToks AS ws
            FROM aug),
          c AS (SELECT h, COUNT(*) AS cnt FROM t GROUP BY h),
          q AS (
            SELECT source, len(ws) AS ntok,
              CAST(FLOOR($duckQualityScore * 1000000) AS BIGINT) AS qm,
              cnt
            FROM t JOIN c USING (h))
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(ntok) AS BIGINT) AS n_tokens,
            CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS dup_docs,
            CAST(SUM(qm) // COUNT(*) AS BIGINT) AS mean_quality_micro
          FROM q GROUP BY source""",
    "llm_exact_rep" ->
      """WITH aug AS (
           SELECT doc_id, text, n_chars FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text, n_chars FROM documents
           WHERE doc_id % 7 = 0)
         SELECT doc_id, content_hash,
           CAST(cluster_size AS BIGINT) AS cluster_size, is_rep
         FROM (
           SELECT doc_id, md5(text) AS content_hash,
             COUNT(*) OVER (PARTITION BY md5(text)) AS cluster_size,
             (ROW_NUMBER() OVER (PARTITION BY md5(text)
                ORDER BY n_chars DESC, doc_id) = 1) AS is_rep
           FROM aug) t""",
    "llm_shard_plan" ->
      """WITH k AS (
           SELECT doc_id, n_chars,
             md5('shard:1:' || CAST(doc_id AS VARCHAR)) || ':' ||
               printf('%019d', doc_id) AS sk
           FROM documents),
         p AS (
           SELECT doc_id,
             SUM(n_chars) OVER (ORDER BY sk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_chars AS cb
           FROM k)
         SELECT doc_id, CAST((cb // 16384) AS BIGINT) AS shard_id,
           CAST((cb % 16384) AS BIGINT) AS shard_offset
         FROM p""",
    // Capstone 5: gopher filter -> sqrt temperature thresholds ->
    // budget window cut -> shard prefix sum, all recomputed statically.
    "llm_pipeline5" -> {
      val stopArr = qualityStopwords.map(m => s"'$m'").mkString("[", ",", "]")
      s"""WITH t AS (
            SELECT doc_id, text, source, n_chars, $duckToks AS ws
            FROM documents),
          g AS (
            SELECT doc_id, len(ws) AS n,
              COALESCE(list_sum(list_transform(ws, w -> length(w))), 0)
                AS sumlen,
              len(list_filter(ws, w -> list_contains($stopArr, w)))
                AS stops,
              len(list_distinct(ws)) AS u
            FROM t),
          kept AS (
            SELECT t.* FROM t JOIN g USING (doc_id)
            WHERE n >= 25 AND n <= 100000
              AND n > 0 AND 3*n <= sumlen AND sumlen <= 10*n
              AND stops >= 2 AND 1000*u >= 300*n),
          counts AS (SELECT source, COUNT(*) AS n FROM kept
                     GROUP BY source),
          mn AS (SELECT MIN(n) AS nmin FROM counts),
          th AS (SELECT source,
                   CAST(FLOOR(sqrt(CAST(nmin AS DOUBLE) /
                     CAST(n AS DOUBLE)) * 10000) AS BIGINT) AS thr
                 FROM counts, mn),
          mixed AS (
            SELECT kept.* FROM kept JOIN th USING (source)
            WHERE ${duckHex8("'p5:' || CAST(doc_id AS VARCHAR)")}
              % 10000 < thr),
          q AS (
            SELECT doc_id, n_chars,
              CAST(FLOOR($duckQualityScore * 1000000) AS BIGINT) AS qm
            FROM mixed),
          sel AS (
            SELECT doc_id, n_chars,
              SUM(n_chars) OVER (ORDER BY qm DESC, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM q),
          cut AS (SELECT doc_id, n_chars FROM sel WHERE cum <= 30000),
          k AS (
            SELECT doc_id, n_chars,
              md5('shard:1:' || CAST(doc_id AS VARCHAR)) || ':' ||
                printf('%019d', doc_id) AS sk
            FROM cut),
          p AS (
            SELECT doc_id, n_chars,
              SUM(n_chars) OVER (ORDER BY sk
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - n_chars AS cb
            FROM k)
          SELECT doc_id, n_chars, CAST((cb // 4096) AS BIGINT) AS shard_id,
            CAST((cb % 4096) AS BIGINT) AS shard_offset
          FROM p"""
    },
    "llm_quality" -> {
      val stopArr = qualityStopwords.map(m => s"'$m'").mkString("[", ",", "]")
      s"""WITH t AS (
            SELECT doc_id, text, $duckToks AS ws FROM documents)
          SELECT doc_id,
            length(text) AS n_chars,
            len(ws) AS n_tokens,
            CAST(FLOOR(CASE WHEN len(ws) = 0 THEN 0.0 ELSE
              CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
              / CAST(len(ws) AS DOUBLE) END * 1000000) AS BIGINT)
              AS mean_token_len_micro,
            CAST(FLOOR(CASE WHEN length(text) = 0 THEN 0.0 ELSE
              CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                AS DOUBLE) / CAST(length(text) AS DOUBLE) END * 1000000)
              AS BIGINT) AS alpha_ratio_micro,
            CAST(FLOOR(CASE WHEN len(ws) = 0 THEN 0.0 ELSE
              CAST(len(list_filter(ws, x -> list_contains($stopArr, x)))
                AS DOUBLE) / CAST(len(ws) AS DOUBLE) END * 1000000)
              AS BIGINT) AS stopword_ratio_micro,
            CAST(FLOOR($duckQualityScore * 1000000) AS BIGINT)
              AS quality_micro
          FROM t"""
    },
    "llm_token_counts" ->
      """SELECT doc_id,
           len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
             AS ws_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]'))
             AS bpeish_tokens
         FROM documents""",
    // RP ANN: projection components recompute the seed-7 plane weights;
    // candidate order = projected cosine (same folds), rerank = exact.
    "llm_rp_ann" -> {
      val wExpr = duckHex8(
        "'7:' || CAST(p AS VARCHAR) || ':' || CAST(d - 1 AS VARCHAR)")
      s"""WITH proj AS (
            SELECT vec_id, embedding,
              list_transform(range(0, 8), p ->
                list_sum(list_transform(range(1, len(embedding) + 1),
                  d -> CAST(embedding[CAST(d AS INT)] AS DOUBLE) *
                    (($wExpr % 2000) / 1000.0 - 1.0)))) AS pv
            FROM embeddings),
          qp AS (SELECT pv AS qpv FROM proj WHERE vec_id = 7),
          qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 7),
          rp AS (
            SELECT vec_id,
              list_sum(list_transform(range(1, 9), i ->
                pv[CAST(i AS INT)] * qpv[CAST(i AS INT)])) /
              (sqrt(list_sum(list_transform(pv, x -> x * x))) *
               sqrt(list_sum(list_transform(qpv, x -> x * x)))) AS rc
            FROM proj, qp),
          cand AS (
            SELECT vec_id FROM rp ORDER BY rc DESC, vec_id LIMIT 50),
          scored AS (
            SELECT e.vec_id,
              list_sum(list_transform(range(1, len(e.embedding) + 1), i ->
                CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                * CAST(qe[CAST(i AS INT)] AS DOUBLE))) /
              (sqrt(list_sum(list_transform(e.embedding, x ->
                 CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
               sqrt(list_sum(list_transform(qe, x ->
                 CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
            FROM embeddings e JOIN cand USING (vec_id), qv)
          SELECT vec_id, CAST(FLOOR(c * 1000000) AS BIGINT) AS cosine_micro
          FROM scored ORDER BY c DESC, vec_id LIMIT 10"""
    },
    "llm_ann_topk" ->
      """WITH q AS (
           SELECT embedding AS qv FROM embeddings WHERE vec_id = 7),
         scored AS (
           SELECT vec_id,
             list_sum(list_transform(range(1, len(embedding) + 1), i ->
               CAST(embedding[CAST(i AS INT)] AS DOUBLE)
               * CAST(qv[CAST(i AS INT)] AS DOUBLE))) /
             (sqrt(list_sum(list_transform(embedding, x ->
                CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
              sqrt(list_sum(list_transform(qv, x ->
                CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
           FROM embeddings, q)
         SELECT vec_id, CAST(FLOOR(c * 1000000) AS BIGINT) AS cosine_micro
         FROM scored ORDER BY c DESC, vec_id LIMIT 10""",
    "llm_emb_pairs" ->
      s"""WITH v AS (
           SELECT vec_id,
             ${duckHyperCell("embedding", 2)} AS bucket,
             embedding FROM embeddings),
         pairs AS (
           SELECT l.vec_id AS id_a, r.vec_id AS id_b,
             list_sum(list_transform(range(1, len(l.embedding) + 1), i ->
               CAST(l.embedding[CAST(i AS INT)] AS DOUBLE)
               * CAST(r.embedding[CAST(i AS INT)] AS DOUBLE))) /
             (sqrt(list_sum(list_transform(l.embedding, x ->
                CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
              sqrt(list_sum(list_transform(r.embedding, x ->
                CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
           FROM v l JOIN v r
             ON l.bucket = r.bucket AND l.vec_id < r.vec_id)
         SELECT id_a, id_b, CAST(FLOOR(c * 1000000) AS BIGINT) AS cosine_micro
         FROM pairs
         ORDER BY cosine_micro DESC, id_a, id_b LIMIT 20""",
    "llm_embed_check" -> {
      val hex8tok = duckHex8("t || ':' || CAST(dim AS VARCHAR)")
      s"""WITH toks AS (
            SELECT doc_id,
              list_filter(string_split_regex(lower(text), '\\s+'),
                x -> x <> '') AS ws
            FROM documents WHERE doc_id < 5),
          dims AS (SELECT CAST(d AS INT) AS dim
                   FROM (VALUES (0), (1), (2), (3)) v(d)),
          vals AS (
            SELECT doc_id, dim,
              CASE WHEN len(ws) = 0 THEN 0.0 ELSE
                least(greatest(
                  CAST(list_sum(list_transform(ws, t -> $hex8tok % 10000))
                    AS DOUBLE) / (CAST(len(ws) AS DOUBLE) * 10000.0),
                  0.0), 1.0) END AS v
            FROM toks, dims)
          SELECT doc_id, dim,
            CAST(FLOOR(v * 1000000) AS BIGINT) AS v_micro
          FROM vals"""
    },
    "llm_learned_embed" ->
      s"""WITH $learnedEmbCtes
          SELECT token, dim, e_micro FROM e""",
    // Document embeddings = exact integer sums of trained term vectors;
    // cosine doubles live only inside one row's fold (list order), so
    // the dot/norm/ratio sequence matches Spark bit-for-bit.
    "llm_learned_doc_sim" ->
      s"""WITH $learnedEmbCtes,
          dtok AS (
            SELECT doc_id, unnest(ws) AS token FROM t
            WHERE doc_id < 200),
          dv AS (
            SELECT doc_id, dim, CAST(SUM(e_micro) AS BIGINT) AS v
            FROM dtok JOIN e USING (token) GROUP BY doc_id, dim),
          emb AS (
            SELECT doc_id, list(CAST(v AS DOUBLE) ORDER BY dim) AS ev
            FROM dv GROUP BY doc_id),
          prs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              list_sum(list_transform(range(1, len(a.ev) + 1), i ->
                a.ev[CAST(i AS INT)] * b.ev[CAST(i AS INT)])) AS dt,
              sqrt(list_sum(list_transform(a.ev, x -> x * x))) AS na,
              sqrt(list_sum(list_transform(b.ev, x -> x * x))) AS nb
            FROM emb a JOIN emb b ON a.doc_id < b.doc_id)
          SELECT id_a, id_b,
            CAST(FLOOR((CASE WHEN na = 0 OR nb = 0 THEN 0.0
              ELSE dt / (na * nb) END) * 1000000) AS BIGINT)
              AS cosine_micro
          FROM prs
          ORDER BY cosine_micro DESC, id_a, id_b LIMIT 20""",
    "llm_stream_dedup" ->
      """SELECT DISTINCT user_id FROM events""",
    // Append-mode watermark semantics in SQL: only windows whose end
    // has been passed by the final watermark (max event time, zero
    // delay) appear in the sink.
    "llm_stream_window" ->
      """WITH e AS (
           SELECT epoch_ns(ts)//1000 AS ts_us, event_type FROM events)
         SELECT (ts_us//21600000000) * 21600000000 AS w_start_us,
           event_type, COUNT(*) AS n
         FROM e GROUP BY 1, 2
         HAVING w_start_us + 21600000000 <= (SELECT MAX(ts_us) FROM e)""",
    // The parser must INVERT the header construction, so the oracle just
    // recomputes the encoded dims from the same md5 source.
    "llm_image_headers" ->
      """WITH m AS (
           SELECT doc_id,
             1 + CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
               1, 3)) AS BIGINT) % 4000 AS INT) AS w,
             1 + CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
               4, 3)) AS BIGINT) % 4000 AS INT) AS h
           FROM documents WHERE doc_id < 300)
         SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
             ELSE 'bmp' END AS img_format,
           w AS img_width, h AS img_height
         FROM m""",
    // Same deterministic line synthesis (8-token lines, j%3<2 get '.',
    // the %5 javascript / %11 lorem-ipsum / %13 curly-brace injections),
    // then the C4 rules replayed with list_filter: terminal punctuation,
    // >= 5 words, no "javascript"; doc keep = >= 3 survivors and no
    // lorem ipsum / brace in the synthesized text.
    "llm_c4_clean" ->
      s"""WITH $c4KeptCtes
          SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
            CAST(len(kl) AS BIGINT) AS kept_lines,
            (len(kl) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
              AND NOT contains(text, '{')) AS c4_keep,
            md5(array_to_string(kl, chr(10))) AS clean_md5
          FROM kept""",
    // Capstone 7: synthesis -> line filter -> doc filter -> NB retrain
    // on the CLEANED labeled third -> score -> keep positives ->
    // hash-ranked 64-sample, all from the raw table in one statement.
    "llm_pipeline7" ->
      s"""WITH $c4KeptCtes,
          cleaned AS (
            SELECT k.doc_id, d.lang, array_to_string(kl, chr(10)) AS text
            FROM kept k JOIN documents d USING (doc_id)
            WHERE len(kl) >= 3
              AND NOT contains(lower(k.text), 'lorem ipsum')
              AND NOT contains(k.text, '{')),
          ${nbScoreCtes("cleaned")}
          SELECT doc_id, md5(text) AS clean_md5,
            CAST(COALESCE(s, 0) + prior_micro AS BIGINT) AS nb_llr_micro
          FROM cleaned LEFT JOIN sums USING (doc_id), prior
          WHERE (COALESCE(s, 0) + prior_micro) > 0
          ORDER BY md5('p7:' || CAST(doc_id AS VARCHAR)), doc_id
          LIMIT 64""",
    "llm_url_parse" ->
      """WITH m AS (
           SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
             CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END AS sch,
             CASE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 3, 1))
                 AS BIGINT) % 4
               WHEN 0 THEN 'com' WHEN 1 THEN 'org'
               WHEN 2 THEN 'co.uk' ELSE 'com.au' END AS tld
           FROM documents WHERE doc_id < 300)
         SELECT doc_id, sch AS url_scheme,
           'w' || substr(h, 1, 2) || '.s' || substr(h, 4, 1) || '.' || tld
             AS url_host,
           '/p/' || substr(h, 5, 3) AS url_path,
           's' || substr(h, 4, 1) || '.' || tld AS domain
         FROM m""",
    // The canonicalizer must INVERT the messy construction: both the
    // clean even form and the odd variant (case, www., :443, reordered
    // + tracking params, trailing slash, fragment) canonicalize to the
    // SAME expected string, which the oracle computes directly from the
    // encoding — independent of the canonicalizer's implementation.
    "llm_url_dedup" ->
      """WITH m AS (
           SELECT doc_id, md5(CAST(doc_id // 2 AS VARCHAR)) AS h
           FROM documents WHERE doc_id < 400),
         c AS (
           SELECT doc_id,
             'https://site' || substr(h, 1, 2) || '.com/p/' ||
               substr(h, 3, 3) || '?a=1&b=2' AS url_canon
           FROM m),
         f AS (SELECT url_canon, MIN(doc_id) AS fid FROM c GROUP BY 1)
         SELECT c.doc_id, c.url_canon, c.doc_id > f.fid AS url_is_dup
         FROM c JOIN f USING (url_canon)""",
    "llm_domain_filter" ->
      """WITH m AS (
           SELECT doc_id,
             's' || substr(md5(CAST(doc_id AS VARCHAR)), 4, 1) || '.' ||
               CASE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                   3, 1)) AS BIGINT) % 4
                 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
                 WHEN 2 THEN 'co.uk' ELSE 'com.au' END AS domain
           FROM documents)
         SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs
         FROM m
         WHERE domain NOT IN ('s0.com', 's1.com', 's2.com', 's3.com',
           's4.com', 's5.com', 's6.com', 's7.com')
         GROUP BY domain""",
    "llm_pipeline6" ->
      """WITH m AS (
           SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
             trim(substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) || ' ' ||
               regexp_replace(trim(text), '\s+', ' ', 'g')) AS etext,
             's' || substr(md5(CAST(doc_id AS VARCHAR)), 4, 1) || '.' ||
               CASE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                   3, 1)) AS BIGINT) % 4
                 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
                 WHEN 2 THEN 'co.uk' ELSE 'com.au' END AS domain
           FROM documents),
         f AS (
           SELECT doc_id, domain, etext FROM m
           WHERE domain NOT IN ('s0.com', 's1.com', 's2.com', 's3.com',
             's4.com', 's5.com', 's6.com', 's7.com')),
         r AS (
           SELECT doc_id, domain, etext,
             ROW_NUMBER() OVER (PARTITION BY domain
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM f)
         SELECT doc_id, domain, etext AS text,
           CAST(len(string_split(etext, ' ')) AS BIGINT) AS n_toks
         FROM r WHERE rn <= 20""",
    "llm_html_extract" ->
      """WITH m AS (
           SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
           FROM documents WHERE doc_id < 300)
         SELECT doc_id,
           substr(h, 1, 4) || ' Head ' || substr(h, 1, 4) || ' Para ' ||
             substr(h, 5, 4) || ' & tail <' || substr(h, 9, 4) || '>'
             AS text
         FROM m""",
    "llm_domain_quota" ->
      """WITH m AS (
           SELECT doc_id,
             's' || substr(md5(CAST(doc_id AS VARCHAR)), 4, 1) || '.' ||
               CASE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                   3, 1)) AS BIGINT) % 4
                 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
                 WHEN 2 THEN 'co.uk' ELSE 'com.au' END AS domain
           FROM documents),
         r AS (
           SELECT doc_id, domain,
             ROW_NUMBER() OVER (PARTITION BY domain
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM m)
         SELECT doc_id, domain FROM r WHERE rn <= 20""",
    // Each extracted link replayed from the synthesis formula: the
    // oracle never runs a regex, so the extraction rules (attr quote
    // styles, case-insensitivity, fragment cut) are what the hash
    // gates.
    "llm_links" ->
      """SELECT doc_id, 0 AS li,
           '/p/' || CAST((doc_id * 7 + 1) % 100 AS VARCHAR) AS link
         FROM documents
         UNION ALL
         SELECT doc_id, 1,
           'https://ex' || CAST(doc_id % 7 AS VARCHAR) || '.com/p/' ||
             CAST((doc_id * 13 + 2) % 100 AS VARCHAR)
         FROM documents
         UNION ALL
         SELECT doc_id, 2,
           '/p/' || CAST((doc_id * 31 + 5) % 100 AS VARCHAR)
         FROM documents""",
    // Declaration + resolution + fallback replayed per class.
    "llm_canonical" ->
      """WITH m AS (
           SELECT doc_id, doc_id % 4 AS c,
             CAST((doc_id * 11 + 3) % 100 AS VARCHAR) AS t,
             'https://ex' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS o,
             'https://ex' || CAST(doc_id % 7 AS VARCHAR) || '.com/v/'
               || CAST(doc_id AS VARCHAR) AS u
           FROM documents)
         SELECT doc_id,
           CASE c
             WHEN 0 THEN o || '/c/' || t
             WHEN 1 THEN 'https://canon.com/x' || t
             WHEN 2 THEN o || '/c/' || t
             ELSE NULL END AS canonical_url,
           CASE c
             WHEN 0 THEN o || '/c/' || t
             WHEN 1 THEN 'https://canon.com/x' || t
             WHEN 2 THEN o || '/c/' || t
             ELSE u END AS dedup_url
         FROM m""",
    // Sniffing precedence replayed per class.
    "llm_charset" ->
      """SELECT doc_id,
           CASE doc_id % 5
             WHEN 0 THEN 'iso-8859-1'
             WHEN 1 THEN 'windows-1251'
             WHEN 2 THEN 'utf-8'
             WHEN 4 THEN 'shift_jis'
             ELSE NULL END AS charset
         FROM documents""",
    // The PSL algorithm's required answer per class, written out
    // directly (exception > longest exact/wildcard > default-TLD).
    "llm_psl_domains" ->
      """WITH m AS (
           SELECT doc_id, doc_id % 7 AS c,
             CAST((doc_id * 3 + 1) % 50 AS VARCHAR) AS k
           FROM documents)
         SELECT doc_id,
           CASE c
             WHEN 0 THEN 'a' || k || '.github.io'
             WHEN 1 THEN 'x' || k || '.y.com.sg'
             WHEN 2 THEN 'w' || k || '.example.ck'
             WHEN 3 THEN 'sub' || k || '.www.ck'
             WHEN 4 THEN 'b' || k || '.example.com'
             WHEN 5 THEN 'deep' || k || '.a.b.co.uk'
             ELSE 'github.io' END AS host,
           CASE c
             WHEN 0 THEN 'github.io'
             WHEN 1 THEN 'com.sg'
             WHEN 2 THEN 'example.ck'
             WHEN 3 THEN 'www.ck'
             WHEN 4 THEN 'example.com'
             WHEN 5 THEN 'b.co.uk'
             ELSE 'github.io' END AS domain_heur,
           CASE c
             WHEN 0 THEN 'a' || k || '.github.io'
             WHEN 1 THEN 'y.com.sg'
             WHEN 2 THEN 'w' || k || '.example.ck'
             WHEN 3 THEN 'www.ck'
             WHEN 4 THEN 'example.com'
             WHEN 5 THEN 'b.co.uk'
             ELSE NULL END AS domain_psl
         FROM m""",
    // Post-transcode code points hardcoded per class via chr() — the
    // oracle encodes what ISO-8859-1/Shift_JIS/windows-1251 decoding
    // MUST produce, independent of the engine's CharsetDecoder.
    "llm_transcode" ->
      """SELECT doc_id,
           CASE doc_id % 4
             WHEN 0 THEN 'iso-8859-1'
             WHEN 1 THEN 'shift_jis'
             WHEN 2 THEN 'windows-1251'
             ELSE NULL END AS charset,
           TRUE AS src_len_ok,
           CASE doc_id % 4
             WHEN 0 THEN 'caf' || chr(233) || ' r' || chr(233) ||
               'sum' || chr(233)
             WHEN 1 THEN chr(26085) || chr(26412)
             WHEN 2 THEN chr(1055) || chr(1088) || chr(1080) ||
               chr(1074) || chr(1077) || chr(1090)
             ELSE 'h' || chr(233) || 'llo' END ||
             ' doc ' || CAST(doc_id AS VARCHAR) AS text_utf8,
           TRUE AS wet_len_ok
         FROM documents""",
    // Redirect replay: 301 + raw/resolved location for doc_id % 5 = 0,
    // 200 + nulls otherwise.
    "llm_redirects" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 5 = 0 THEN 301 ELSE 200 END AS http_status,
           CASE WHEN doc_id % 5 = 0 THEN
             '/new/' || CAST((doc_id * 3 + 1) % 100 AS VARCHAR)
             ELSE NULL END AS http_location,
           CASE WHEN doc_id % 5 = 0 THEN
             'https://ex' || CAST(doc_id % 7 AS VARCHAR) || '.com/new/'
               || CAST((doc_id * 3 + 1) % 100 AS VARCHAR)
             ELSE NULL END AS redirect_target,
           TRUE AS declared_len_ok
         FROM documents""",
    // Frontier replay: resolve + canon collapse to closed-form urls
    // per link class; the crawled set is the page-url formula itself.
    "llm_pipeline11" ->
      """WITH l AS (
           SELECT 'https://ex' || CAST(doc_id % 7 AS VARCHAR) ||
             '.com/p/g' || CAST((doc_id * 7 + 1) % 100 AS VARCHAR) AS url
           FROM documents
           UNION ALL
           SELECT 'https://ex' || CAST(doc_id % 7 AS VARCHAR) ||
             '.com/p/' || CAST((doc_id * 13 + 2) % 100 AS VARCHAR)
           FROM documents
           UNION ALL
           SELECT 'https://ex' ||
             CAST(((doc_id * 31 + 5) % 100) % 7 AS VARCHAR) ||
             '.com/p/' || CAST((doc_id * 31 + 5) % 100 AS VARCHAR)
           FROM documents),
         agg AS (
           SELECT url, CAST(COUNT(*) AS BIGINT) AS n_refs
           FROM l GROUP BY url),
         crawled AS (
           SELECT DISTINCT 'https://ex' || CAST(doc_id % 7 AS VARCHAR)
             || '.com/p/' || CAST(doc_id AS VARCHAR) AS url
           FROM documents)
         SELECT a.url, a.n_refs FROM agg a
         WHERE a.url NOT IN (SELECT url FROM crawled)""",
    // Every sitemap entry rebuilt from the synthesis formula; the
    // crawled-membership test replays as arithmetic (loc /p/(13d+2)%100
    // is crawled iff its path id shares the host residue d%7 — all
    // path ids 0..99 exist as documents at every sf).
    "llm_sitemap" ->
      """WITH m AS (
           SELECT doc_id, doc_id % 3 AS c,
             CAST(doc_id % 7 AS VARCHAR) AS h,
             CAST((doc_id * 13 + 2) % 100 AS VARCHAR) AS p1,
             CAST((doc_id * 7 + 1) % 100 AS VARCHAR) AS p2,
             CAST(doc_id % 9 + 1 AS VARCHAR) AS lm
           FROM documents),
         e AS (
           SELECT doc_id, 0 AS sitemap_idx,
             'https://ex' || h || '.com/sitemap-a.xml' AS loc,
             '2024-01-01' AS lastmod, TRUE AS is_index
           FROM m WHERE c = 0
           UNION ALL
           SELECT doc_id, 1,
             'https://ex' || h || '.com/sitemap-b.xml', NULL, TRUE
           FROM m WHERE c = 0
           UNION ALL
           SELECT doc_id, 0, 'https://ex' || h || '.com/p/' || p1,
             '2024-02-0' || lm, FALSE
           FROM m WHERE c <> 0
           UNION ALL
           SELECT doc_id, 1, 'https://ex' || h || '.com/q?a=1&b=' || p2,
             NULL, FALSE
           FROM m WHERE c <> 0),
         crawled AS (
           SELECT DISTINCT 'https://ex' || CAST(doc_id % 7 AS VARCHAR)
             || '.com/p/' || CAST(doc_id AS VARCHAR) AS curl
           FROM documents)
         SELECT e.doc_id, e.sitemap_idx, e.loc, e.lastmod, e.is_index,
           (c.curl IS NULL) AS is_new
         FROM e LEFT JOIN crawled c ON e.loc = c.curl""",
    // Frontier replay + the schedule arithmetic with DuckDB's own
    // window: delay per domain class (2.5 s -> 2500 ms, default 1000),
    // slot = rank within domain by (n_refs desc, url), time = slot x
    // delay.
    "llm_pipeline12" ->
      """WITH l AS (
           SELECT 'https://ex' || CAST(doc_id % 7 AS VARCHAR) ||
             '.com/p/g' || CAST((doc_id * 7 + 1) % 100 AS VARCHAR) AS url
           FROM documents
           UNION ALL
           SELECT 'https://ex' || CAST(doc_id % 7 AS VARCHAR) ||
             '.com/p/' || CAST((doc_id * 13 + 2) % 100 AS VARCHAR)
           FROM documents
           UNION ALL
           SELECT 'https://ex' ||
             CAST(((doc_id * 31 + 5) % 100) % 7 AS VARCHAR) ||
             '.com/p/' || CAST((doc_id * 31 + 5) % 100 AS VARCHAR)
           FROM documents),
         agg AS (
           SELECT url, CAST(COUNT(*) AS BIGINT) AS n_refs
           FROM l GROUP BY url),
         crawled AS (
           SELECT DISTINCT 'https://ex' || CAST(doc_id % 7 AS VARCHAR)
             || '.com/p/' || CAST(doc_id AS VARCHAR) AS url
           FROM documents),
         f AS (
           SELECT a.url, a.n_refs,
             regexp_extract(a.url, '^https://([^/]+)', 1) AS domain
           FROM agg a
           WHERE a.url NOT IN (SELECT url FROM crawled)),
         dd AS (
           SELECT url, n_refs, domain,
             CAST(CASE domain
               WHEN 'ex0.com' THEN 1000 WHEN 'ex1.com' THEN 2500
               WHEN 'ex2.com' THEN 10000 WHEN 'ex3.com' THEN 500
               ELSE 1000 END AS BIGINT) AS robots_delay_ms,
             CAST(ROW_NUMBER() OVER (PARTITION BY domain
               ORDER BY n_refs DESC, url ASC) - 1 AS BIGINT) AS fetch_slot
           FROM f)
         SELECT url, n_refs, domain, robots_delay_ms, fetch_slot,
           fetch_slot * robots_delay_ms AS fetch_time_ms
         FROM dd""",
    // Full frontier-round replay: the five url families (three link
    // classes + two sitemap loc families with the &amp; decoded),
    // counted, anti-joined, then the RFC verdict per policy family
    // written out directly (ex0 blocks all, ex1 blocks /q prefixes,
    // ex3's UA Allow /p/* overrides its Disallow /), delays and the
    // schedule window replayed.
    "llm_pipeline13" ->
      """WITH l AS (
           SELECT 'https://ex' || CAST(doc_id % 7 AS VARCHAR) ||
             '.com/p/g' || CAST((doc_id * 7 + 1) % 100 AS VARCHAR) AS url
           FROM documents
           UNION ALL
           SELECT 'https://ex' || CAST(doc_id % 7 AS VARCHAR) ||
             '.com/p/' || CAST((doc_id * 13 + 2) % 100 AS VARCHAR)
           FROM documents
           UNION ALL
           SELECT 'https://ex' ||
             CAST(((doc_id * 31 + 5) % 100) % 7 AS VARCHAR) ||
             '.com/p/' || CAST((doc_id * 31 + 5) % 100 AS VARCHAR)
           FROM documents
           UNION ALL
           SELECT 'https://ex' || CAST(doc_id % 7 AS VARCHAR) ||
             '.com/p/' || CAST((doc_id * 13 + 2) % 100 AS VARCHAR)
           FROM documents WHERE doc_id % 3 <> 0
           UNION ALL
           SELECT 'https://ex' || CAST(doc_id % 7 AS VARCHAR) ||
             '.com/q?a=1&b=' || CAST((doc_id * 7 + 1) % 100 AS VARCHAR)
           FROM documents WHERE doc_id % 3 <> 0),
         agg AS (
           SELECT url, CAST(COUNT(*) AS BIGINT) AS n_refs
           FROM l GROUP BY url),
         crawled AS (
           SELECT DISTINCT 'https://ex' || CAST(doc_id % 7 AS VARCHAR)
             || '.com/p/' || CAST(doc_id AS VARCHAR) AS url
           FROM documents),
         f AS (
           SELECT a.url, a.n_refs,
             regexp_extract(a.url, '^https://([^/]+)', 1) AS domain,
             regexp_extract(a.url, '^https://[^/]+(/[^?#]*)', 1) AS path
           FROM agg a
           WHERE a.url NOT IN (SELECT url FROM crawled)),
         al AS (
           SELECT url, domain, n_refs FROM f WHERE
             CASE domain
               WHEN 'ex0.com' THEN FALSE
               WHEN 'ex1.com' THEN path NOT LIKE '/q%'
               WHEN 'ex3.com' THEN path LIKE '/p/%'
               ELSE TRUE END),
         dd AS (
           SELECT url, domain, n_refs,
             CAST(CASE domain WHEN 'ex2.com' THEN 2500
               WHEN 'ex3.com' THEN 10000 ELSE 1000 END AS BIGINT)
               AS robots_delay_ms,
             CAST(ROW_NUMBER() OVER (PARTITION BY domain
               ORDER BY n_refs DESC, url ASC) - 1 AS BIGINT)
               AS fetch_slot
           FROM al)
         SELECT url, domain, n_refs, robots_delay_ms, fetch_slot,
           fetch_slot * robots_delay_ms AS fetch_time_ms
         FROM dd""",
    // Recrawl-recency replay: the two seed families re-synthesized
    // (entities decoded), latest-lastmod/count aggregate, anti-join,
    // delay CASE, then DuckDB's own window ranks by the day-granular
    // date parse DESC NULLS LAST with the popularity fallback.
    "llm_pipeline14" ->
      """WITH s AS (
           SELECT 'https://ex' || CAST(doc_id % 5 AS VARCHAR) ||
             '.com/p/' || CAST((doc_id * 13 + 2) % 50 AS VARCHAR) AS url,
             CASE WHEN doc_id % 3 = 0 THEN
                 '2024-02-0' || CAST(doc_id % 9 + 1 AS VARCHAR)
               WHEN doc_id % 3 = 1 THEN
                 '2024-03-0' || CAST(doc_id % 9 + 1 AS VARCHAR) ||
                   'T0' || CAST(doc_id % 4 AS VARCHAR) || ':30:00' ||
                   CASE WHEN doc_id % 2 = 0 THEN 'Z' ELSE '+02:00' END
               ELSE NULL END AS lastmod
           FROM documents
           UNION ALL
           SELECT 'https://ex' || CAST(doc_id % 5 AS VARCHAR) ||
             '.com/q?a=1&b=' || CAST((doc_id * 7 + 1) % 50 AS VARCHAR),
             NULL
           FROM documents),
         agg AS (
           SELECT url, max(lastmod) AS lastmod,
             CAST(COUNT(*) AS BIGINT) AS n_refs
           FROM s GROUP BY url),
         crawled AS (
           SELECT DISTINCT 'https://ex' || CAST(doc_id % 5 AS VARCHAR)
             || '.com/p/' || CAST(doc_id AS VARCHAR) AS url
           FROM documents),
         f AS (
           SELECT a.url, a.lastmod, a.n_refs,
             regexp_extract(a.url, '^https://([^/]+)', 1) AS domain
           FROM agg a
           WHERE a.url NOT IN (SELECT url FROM crawled)),
         dd AS (
           SELECT url, domain, lastmod, n_refs,
             CAST(CASE domain WHEN 'ex0.com' THEN 1000
               WHEN 'ex1.com' THEN 500 WHEN 'ex2.com' THEN 3000
               ELSE 2000 END AS BIGINT) AS robots_delay_ms,
             CAST(ROW_NUMBER() OVER (PARTITION BY domain
               ORDER BY try_cast(substr(lastmod, 1, 10) AS DATE)
                 DESC NULLS LAST,
               CASE WHEN length(lastmod) > 10 THEN substr(lastmod, 12)
                 ELSE NULL END DESC NULLS LAST,
               n_refs DESC, url ASC) - 1 AS BIGINT)
               AS fetch_slot
           FROM f)
         SELECT url, domain, lastmod, n_refs, robots_delay_ms,
           fetch_slot, fetch_slot * robots_delay_ms AS fetch_time_ms
         FROM dd""",
    // Latest-fetch-wins replay: the oracle applies ONLY the 2024-02
    // policies (the newer fetch per domain) — verdict CASE per
    // (domain, path family), delay CASE, schedule window.
    "llm_pipeline15" ->
      """WITH l AS (
           SELECT 'https://ex' || CAST(doc_id % 4 AS VARCHAR) ||
             '.com/p/' || CAST((doc_id * 13 + 2) % 80 AS VARCHAR) AS url
           FROM documents
           UNION ALL
           SELECT 'https://ex' || CAST(doc_id % 4 AS VARCHAR) ||
             '.com/q/' || CAST((doc_id * 7 + 1) % 80 AS VARCHAR)
           FROM documents),
         agg AS (
           SELECT url, CAST(COUNT(*) AS BIGINT) AS n_refs
           FROM l GROUP BY url),
         f AS (
           SELECT url, n_refs,
             regexp_extract(url, '^https://([^/]+)', 1) AS domain,
             regexp_extract(url, '^https://[^/]+(/.*)', 1) AS path
           FROM agg),
         al AS (
           SELECT url, domain, n_refs FROM f WHERE
             CASE domain
               WHEN 'ex0.com' THEN path NOT LIKE '/q%'
               WHEN 'ex3.com' THEN path LIKE '/p/%'
               ELSE TRUE END),
         dd AS (
           SELECT url, domain, n_refs,
             CAST(CASE domain WHEN 'ex2.com' THEN 2500
               ELSE 1000 END AS BIGINT) AS robots_delay_ms,
             CAST(ROW_NUMBER() OVER (PARTITION BY domain
               ORDER BY n_refs DESC, url ASC) - 1 AS BIGINT)
               AS fetch_slot
           FROM al)
         SELECT url, domain, n_refs, robots_delay_ms, fetch_slot,
           fetch_slot * robots_delay_ms AS fetch_time_ms
         FROM dd""",
    // RFC 9309 §2.3.1 status verdicts written out per domain family:
    // the oracle KNOWS which fetch wins each domain and what its
    // status implies (200 body / newest-5xx disallow-all / 404
    // allow-all / redirect-target body / unresolved-redirect
    // allow-all), so it filters by the final per-path verdict and
    // replays the schedule window — no robots parsing anywhere.
    "llm_pipeline16" ->
      """WITH l AS (
           SELECT 'https://ex' || CAST(doc_id % 8 AS VARCHAR) ||
             '.com/p/' || CAST((doc_id * 13 + 2) % 80 AS VARCHAR) AS url
           FROM documents
           UNION ALL
           SELECT 'https://ex' || CAST(doc_id % 8 AS VARCHAR) ||
             '.com/q/' || CAST((doc_id * 7 + 1) % 80 AS VARCHAR)
           FROM documents),
         agg AS (
           SELECT url, CAST(COUNT(*) AS BIGINT) AS n_refs
           FROM l GROUP BY url),
         f AS (
           SELECT url, n_refs,
             regexp_extract(url, '^https://([^/]+)', 1) AS domain,
             regexp_extract(url, '^https://[^/]+(/.*)', 1) AS path
           FROM agg),
         al AS (
           SELECT url, domain, n_refs FROM f WHERE
             CASE domain
               WHEN 'ex0.com' THEN path NOT LIKE '/q%'
               WHEN 'ex1.com' THEN FALSE
               WHEN 'ex2.com' THEN TRUE
               WHEN 'ex3.com' THEN TRUE
               WHEN 'ex4.com' THEN path NOT LIKE '/p%'
               WHEN 'ex5.com' THEN TRUE
               WHEN 'ex6.com' THEN FALSE
               ELSE path NOT LIKE '/q%' END),
         dd AS (
           SELECT url, domain, n_refs,
             CAST(ROW_NUMBER() OVER (PARTITION BY domain
               ORDER BY n_refs DESC, url ASC) - 1 AS BIGINT)
               AS fetch_slot
           FROM al)
         SELECT url, domain, n_refs, fetch_slot,
           fetch_slot * 1000 AS fetch_time_ms
         FROM dd""",
    // The RFC's answer per ref class, written out directly.
    "llm_url_resolve" ->
      """WITH m AS (
           SELECT doc_id,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS seg,
             substr(md5(CAST(doc_id AS VARCHAR)), 5, 4) AS seg2,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 1))
               AS BIGINT) % 8 AS c,
             'https://ex' || CAST(doc_id % 7 AS VARCHAR) || '.com'
               AS origin
           FROM documents)
         SELECT doc_id,
           origin || '/a/' || seg || '/page?x=1' AS base,
           CASE c
             WHEN 0 THEN 'g' || seg2
             WHEN 1 THEN '/root/' || seg2
             WHEN 2 THEN '../up'
             WHEN 3 THEN '../../' || seg2
             WHEN 4 THEN '?y=' || seg2
             WHEN 5 THEN '//other.com/p/' || seg2
             WHEN 6 THEN 'g/./h#frag'
             ELSE 'http://abs.com/x/../y' END AS ref,
           CASE c
             WHEN 0 THEN origin || '/a/' || seg || '/g' || seg2
             WHEN 1 THEN origin || '/root/' || seg2
             WHEN 2 THEN origin || '/a/up'
             WHEN 3 THEN origin || '/' || seg2
             WHEN 4 THEN origin || '/a/' || seg || '/page?y=' || seg2
             WHEN 5 THEN 'https://other.com/p/' || seg2
             WHEN 6 THEN origin || '/a/' || seg || '/g/h'
             ELSE 'http://abs.com/y' END AS resolved
         FROM m""",
    // Link-graph capstone: rebuild the directed edge list from the
    // link formula, symmetrize, and replay the identical integer
    // PageRank recurrence (3 chained CTE rounds, the llm_graph_rank
    // protocol).
    "llm_pipeline10" -> {
      def iter(prev: String, cur: String): String =
        s"""$cur AS (
             SELECT d.src AS id,
               CAST(150000 + (850 * COALESCE(s.c, 0)) // 1000 AS BIGINT)
                 AS r
             FROM deg d LEFT JOIN (
               SELECT e.dst, CAST(SUM($prev.r // g.deg) AS BIGINT) AS c
               FROM edges e JOIN $prev ON $prev.id = e.src
                 JOIN deg g ON g.src = e.src
               GROUP BY e.dst) s ON s.dst = d.src)"""
      s"""WITH e0 AS (
            SELECT doc_id AS src, (doc_id * 7 + 1) % 100 AS dst
            FROM documents
            UNION ALL
            SELECT doc_id, (doc_id * 13 + 2) % 100 FROM documents),
          edges AS (SELECT src, dst FROM e0
                    UNION ALL SELECT dst, src FROM e0),
          deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
          r0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS r FROM deg),
          ${iter("r0", "r1")},
          ${iter("r1", "r2")},
          ${iter("r2", "r3")}
          SELECT id AS node_id, r AS rank_micro FROM r3"""
    },
    // RFC 9309 decisions replayed per path template: the oracle
    // encodes what the spec REQUIRES for each case (longest-match,
    // Allow tie-break, $ anchor, * fallback group), never how the
    // Scala matcher computes it.
    "llm_robots" ->
      """WITH m AS (
           SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS seg,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 7, 1))
               AS BIGINT) % 9 AS c
           FROM documents)
         SELECT doc_id,
           CASE c
             WHEN 0 THEN '/public/' || seg
             WHEN 1 THEN '/private/' || seg
             WHEN 2 THEN '/private/ok/' || seg
             WHEN 3 THEN '/data/' || seg || '.json'
             WHEN 4 THEN '/data/' || seg || '.json/x'
             WHEN 5 THEN '/api/' || seg || '/docs'
             WHEN 6 THEN '/tmp' || seg
             WHEN 7 THEN '/api/' || seg || '/docs/extra'
             ELSE '/api/' || seg || '/other' END AS path,
           c IN (0, 2, 4, 5, 7) AS g_allowed,
           CASE c
             WHEN 1 THEN '/private/'
             WHEN 2 THEN '/private/ok/'
             WHEN 3 THEN '/*.json$'
             WHEN 5 THEN '/api/*/docs'
             WHEN 6 THEN '/tmp*'
             WHEN 7 THEN '/api/*/docs'
             WHEN 8 THEN '/api/'
             ELSE NULL END AS g_rule,
           (c = 0) AS o_allowed
         FROM m""",
    "llm_tiff_headers" ->
      """WITH m AS (
           SELECT doc_id,
             1 + CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
               1, 3)) AS BIGINT) % 4000 AS INT) AS w,
             1 + CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
               4, 3)) AS BIGINT) % 4000 AS INT) AS h
           FROM documents WHERE doc_id < 300)
         SELECT doc_id, 'tiff' AS img_format,
           w AS img_width, h AS img_height
         FROM m""",
    "llm_wav_headers" ->
      """WITH m AS (
           SELECT doc_id,
             1 + CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
               1, 1)) AS BIGINT) % 2 AS INT) AS ch,
             8000 + CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
               2, 4)) AS BIGINT) % 40000 AS INT) AS rate,
             8 * (1 + CAST(CAST(('0x' || substr(md5(CAST(doc_id
               AS VARCHAR)), 6, 1)) AS BIGINT) % 3 AS INT)) AS bits,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
               10, 5)) AS BIGINT) % 1000000 AS data_len
           FROM documents WHERE doc_id < 300)
         SELECT doc_id, ch AS wav_channels, rate AS wav_sample_rate,
           bits AS wav_bits, CAST(data_len AS BIGINT) AS wav_data_len
         FROM m""",
    // The pixel kernels must INVERT real encodings (zlib'd filtered PNG
    // scanlines / padded bottom-up BMP rows), so the oracle never sees
    // bytes: it recomputes the per-channel stats straight from the
    // shared pixel formula.
    "llm_image_stats" ->
      """WITH m AS (
           SELECT doc_id,
             1 + CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
               1, 2)) AS BIGINT) % 12 AS INT) AS w,
             1 + CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
               3, 2)) AS BIGINT) % 10 AS INT) AS h,
             CASE WHEN doc_id % 3 = 2 THEN 'bmp' ELSE 'png' END AS fmt,
             CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 3 END AS nch
           FROM documents WHERE doc_id < 300),
         k AS (
           SELECT doc_id, fmt, w, h, nch,
             unnest(range(0, w * h * nch)) AS k
           FROM m),
         px AS (
           SELECT doc_id, fmt, w, h, (k % nch) AS c,
             (doc_id * 31 + (k // (w * nch)) * 7 +
              ((k % (w * nch)) // nch) * 3 + (k % nch) * 11) % 256 AS p
           FROM k)
         SELECT doc_id, fmt AS px_format, w AS px_width, h AS px_height,
           CAST(c AS INT) AS channel,
           CAST(SUM(p) AS BIGINT) AS ch_sum,
           CAST(MIN(p) AS INT) AS ch_min,
           CAST(MAX(p) AS INT) AS ch_max
         FROM px GROUP BY doc_id, fmt, w, h, c""",
    // Every resized pixel recomputed from the fixture formula: the
    // 2x2 block at (2x, 2y) clamps at the right/bottom edges, value =
    // floor(blockSum / blockCount) — the identical single integer
    // division the Spark kernel performs between two real codec
    // passes.
    "llm_image_resize" ->
      """WITH m AS (
           SELECT doc_id,
             1 + CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
               1, 2)) AS BIGINT) % 12 AS INT) AS w,
             1 + CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
               3, 2)) AS BIGINT) % 10 AS INT) AS h,
             CASE WHEN doc_id % 3 = 2 THEN 'bmp' ELSE 'png' END AS fmt,
             CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 3 END AS nch
           FROM documents WHERE doc_id < 300),
         o AS (
           SELECT doc_id, fmt, w, h, nch,
             (w + 1) // 2 AS ow, (h + 1) // 2 AS oh
           FROM m),
         k AS (
           SELECT doc_id, fmt, w, h, nch, ow, oh,
             unnest(range(0, ow * oh * nch)) AS k
           FROM o),
         q AS (
           SELECT doc_id, fmt, w, h, nch, ow, oh,
             (k % nch) AS c,
             ((k % (ow * nch)) // nch) AS x,
             (k // (ow * nch)) AS y
           FROM k),
         v AS (
           SELECT doc_id, fmt, ow, oh, c,
             ((doc_id * 31 + (2 * y) * 7 + (2 * x) * 3 + c * 11) % 256
              + CASE WHEN 2 * x + 1 < w THEN
                  (doc_id * 31 + (2 * y) * 7 + (2 * x + 1) * 3 + c * 11)
                    % 256 ELSE 0 END
              + CASE WHEN 2 * y + 1 < h THEN
                  (doc_id * 31 + (2 * y + 1) * 7 + (2 * x) * 3 + c * 11)
                    % 256 ELSE 0 END
              + CASE WHEN 2 * x + 1 < w AND 2 * y + 1 < h THEN
                  (doc_id * 31 + (2 * y + 1) * 7 + (2 * x + 1) * 3
                   + c * 11) % 256 ELSE 0 END)
             // ((CASE WHEN 2 * x + 1 < w THEN 2 ELSE 1 END)
                * (CASE WHEN 2 * y + 1 < h THEN 2 ELSE 1 END)) AS p
           FROM q)
         SELECT doc_id, fmt AS rz_src_format, ow AS rz_width,
           oh AS rz_height, CAST(c AS INT) AS channel,
           CAST(SUM(p) AS BIGINT) AS ch_sum,
           CAST(MIN(p) AS INT) AS ch_min,
           CAST(MAX(p) AS INT) AS ch_max
         FROM v GROUP BY doc_id, fmt, ow, oh, c""",
    // 2x2 grid mean-pool straight from the pixel formula: pixel
    // (x = (k%(w*nch))//nch, y = k//(w*nch)) falls in cell
    // (y*2//h)*2 + (x*2//w); feature fi = cell*nch + c, value =
    // SUM(p)*1e6 // COUNT — the identical single integer division the
    // Spark kernel performs after the real decode. Cells with no
    // pixels (w or h < 2) fill with 0 via the left join.
    "llm_media_features" ->
      """WITH m AS (
           SELECT doc_id,
             1 + CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
               1, 2)) AS BIGINT) % 12 AS INT) AS w,
             1 + CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
               3, 2)) AS BIGINT) % 10 AS INT) AS h,
             CASE WHEN doc_id % 3 = 2 THEN 'bmp' ELSE 'png' END AS fmt,
             CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 3 END AS nch
           FROM documents WHERE doc_id < 300),
         k AS (
           SELECT doc_id, fmt, w, h, nch,
             unnest(range(0, w * h * nch)) AS k
           FROM m),
         px AS (
           SELECT doc_id, w, h, nch,
             ((k // (w * nch)) * 2 // h) * 2 +
               (((k % (w * nch)) // nch) * 2 // w) AS cell,
             (k % nch) AS c,
             (doc_id * 31 + (k // (w * nch)) * 7 +
              ((k % (w * nch)) // nch) * 3 + (k % nch) * 11) % 256 AS p
           FROM k),
         agg AS (
           SELECT doc_id, cell * nch + c AS fi,
             CAST(CAST(SUM(p) AS BIGINT) * 1000000 // COUNT(*) AS BIGINT)
               AS f
           FROM px GROUP BY doc_id, cell, nch, c),
         allfi AS (
           SELECT doc_id, fmt, w, h, nch,
             unnest(range(0, 4 * nch)) AS fi
           FROM m)
         SELECT a.doc_id, a.fmt AS mf_format, a.w AS mf_width,
           a.h AS mf_height, CAST(a.fi AS INT) AS fi,
           CAST(COALESCE(g.f, 0) AS BIGINT) AS f
         FROM allfi a LEFT JOIN agg g
           ON g.doc_id = a.doc_id AND g.fi = a.fi""",
    // Stage replay end-to-end: archive -> response body -> main text
    // (collapse formula + constant kept paragraph) -> Gopher booleans
    // over the extracted text's tokens.
    "llm_pipeline8" -> {
      val stopArr = qualityStopwords.map(m => s"'$m'").mkString("[", ",", "]")
      s"""WITH raw AS (
            SELECT doc_id,
              trim(regexp_replace(documents.text, '\\s+', ' ', 'g')) AS ct
            FROM documents),
          m AS (
            SELECT doc_id,
              CASE WHEN length(ct) >= 40
                THEN ct || chr(10) ||
                  'About this corpus: a deterministic fixture paragraph kept by the density rule.'
                ELSE
                  'About this corpus: a deterministic fixture paragraph kept by the density rule.'
              END AS text
            FROM raw),
          t AS (SELECT doc_id, text, $duckToks AS ws FROM m),
          s AS (
            SELECT doc_id, text, len(ws) AS n,
              COALESCE(list_sum(list_transform(ws, w -> length(w))), 0)
                AS sumlen,
              len(list_filter(ws, w -> list_contains($stopArr, w)))
                AS stops,
              len(list_distinct(ws)) AS u
            FROM t)
          SELECT doc_id, md5(text) AS main_md5,
            CAST(n AS BIGINT) AS n_tokens,
            (n >= 25 AND n <= 100000) AS rule_len,
            (n > 0 AND 3*n <= sumlen AND sumlen <= 10*n) AS rule_mean,
            (stops >= 2) AS rule_stop,
            (n > 0 AND 1000*u >= 300*n) AS rule_rep,
            ((n >= 25 AND n <= 100000)
              AND (n > 0 AND 3*n <= sumlen AND sumlen <= 10*n)
              AND (stops >= 2)
              AND (n > 0 AND 1000*u >= 300*n)) AS keep
          FROM s"""
    },
    // Keep rule replayed: content kept iff collapsed length >= 40; the
    // constant about-paragraph always survives; nav/tiny/footer always
    // drop; kept blocks join with \n.
    "llm_main_content" ->
      """WITH d AS (
           SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS t
           FROM documents),
         m AS (
           SELECT doc_id,
             CASE WHEN length(t) >= 40
               THEN t || chr(10) ||
                 'About this corpus: a deterministic fixture paragraph kept by the density rule.'
               ELSE
                 'About this corpus: a deterministic fixture paragraph kept by the density rule.'
             END AS mt
           FROM d)
         SELECT doc_id, CAST(length(mt) AS BIGINT) AS main_len,
           md5(mt) AS main_md5
         FROM m""",
    // Every parsed WARC field recomputed from the synthesis formula:
    // fixed request lengths/md5, response Content-Length = 44 HTTP
    // header bytes + 33 html wrapper bytes + the text's UTF-8 bytes.
    "llm_warc_extract" ->
      """WITH d AS (
           SELECT doc_id, text,
             'https://ex' || CAST(doc_id % 7 AS VARCHAR) || '.com/p/'
               || CAST(doc_id AS VARCHAR) AS u
           FROM documents WHERE doc_id < 300),
         r0 AS (
           SELECT doc_id, CAST(0 AS INT) AS rec_idx,
             'request' AS warc_type, u AS warc_url,
             CAST(NULL AS VARCHAR) AS warc_date,
             CAST(27 AS BIGINT) AS content_length,
             TRUE AS declared_len_ok,
             CAST(NULL AS INT) AS http_status,
             CAST(NULL AS VARCHAR) AS http_content_type,
             md5('GET / HTTP/1.1' || chr(13) || chr(10) || 'Host: h'
               || chr(13) || chr(10) || chr(13) || chr(10)) AS body_md5
           FROM d),
         r1 AS (
           SELECT doc_id, CAST(1 AS INT) AS rec_idx,
             'response' AS warc_type, u AS warc_url,
             '2024-01-01T00:00:00Z' AS warc_date,
             CAST(77 + octet_length(encode(text)) AS BIGINT)
               AS content_length,
             TRUE AS declared_len_ok,
             CAST(200 AS INT) AS http_status,
             'text/html' AS http_content_type,
             md5('<html><body><p>' || text || '</p></body></html>')
               AS body_md5
           FROM d)
         SELECT * FROM r0 UNION ALL SELECT * FROM r1""",
    // The WET round trip collapses to: extracted text = whitespace-
    // normalized document text (the html wrapper contributes tags
    // only), re-parsed with a validating Content-Length and the
    // refers-to chain intact.
    "llm_wet_roundtrip" ->
      """WITH d AS (
           SELECT doc_id,
             trim(regexp_replace(text, '\s+', ' ', 'g')) AS t,
             'https://ex' || CAST(doc_id % 7 AS VARCHAR) || '.com/p/'
               || CAST(doc_id AS VARCHAR) AS u
           FROM documents)
         SELECT doc_id, 'conversion' AS wet_type, u AS wet_url,
           '<urn:doc:' || CAST(doc_id AS VARCHAR) || '>' AS wet_refers_to,
           CAST(octet_length(encode(t)) AS BIGINT) AS wet_len,
           TRUE AS len_ok, md5(t) AS text_md5
         FROM d""",
    // Decision replay per (domain family, path): d0 blocks all, d1
    // blocks ids ending 3 for graftbot, d2's longer Allow /p/* beats
    // Disallow /, d3 has no robots.txt -> allowed.
    "llm_robots_table" ->
      """SELECT doc_id,
           'd' || CAST(doc_id % 4 AS VARCHAR) || '.com' AS domain,
           '/p/' || CAST(doc_id AS VARCHAR) AS path,
           CASE doc_id % 4
             WHEN 0 THEN FALSE
             WHEN 1 THEN doc_id % 10 <> 3
             ELSE TRUE END AS robots_allowed,
           CASE doc_id % 4
             WHEN 0 THEN '/'
             WHEN 1 THEN CASE WHEN doc_id % 10 = 3
               THEN '/p/*3$' ELSE NULL END
             WHEN 2 THEN '/p/*'
             ELSE NULL END AS robots_rule
         FROM documents""",
    // Politeness replay: blocked iff the path ends in 0 or 5 UNLESS it
    // ends in 50 (the longer Allow pattern out-specifies); the winning
    // rule is NULL when nothing matched, '/p/*50$' on the override.
    "llm_pipeline9" ->
      """WITH d AS (
           SELECT doc_id,
             trim(regexp_replace(text, '\s+', ' ', 'g')) AS t
           FROM documents
           WHERE (doc_id % 10 NOT IN (0, 5)) OR (doc_id % 100 = 50))
         SELECT doc_id,
           '/p/' || CAST(doc_id AS VARCHAR) AS path,
           CASE WHEN doc_id % 100 = 50 THEN '/p/*50$'
             ELSE NULL END AS rule,
           CAST(octet_length(encode(t)) AS BIGINT) AS wet_len,
           TRUE AS len_ok, md5(t) AS text_md5
         FROM d""",
    "llm_audio_stats" ->
      """WITH m AS (
           SELECT doc_id,
             16 + CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
               6, 2)) AS BIGINT) % 32 AS INT) AS ns
           FROM documents WHERE doc_id < 300),
         gi AS (
           SELECT doc_id, ns, unnest(range(0, ns)) AS i FROM m),
         v AS (
           SELECT doc_id, ns,
             CASE WHEN i % 17 = 0 THEN 32767
                  WHEN i % 23 = 5 THEN 32768
                  ELSE (doc_id * 40503 + i * 9973) % 65536
             END AS code
           FROM gi),
         a AS (
           SELECT doc_id, ns,
             CASE WHEN code >= 32768 THEN code - 65536 ELSE code END AS s
           FROM v)
         SELECT doc_id, CAST(ns AS BIGINT) AS pcm_samples,
           CAST(SUM(s * s) AS BIGINT) AS pcm_sum_sq,
           CAST(MAX(ABS(s)) AS INT) AS pcm_peak,
           CAST(SUM(CASE WHEN s IN (32767, -32768) THEN 1 ELSE 0 END)
             AS BIGINT) AS pcm_clipped
         FROM a GROUP BY doc_id, ns""",
    "llm_byte_hist" ->
      """WITH hb AS (
           SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS nb
           FROM documents WHERE doc_id < 300),
         e AS (
           SELECT doc_id, unnest(list_transform(range(1, nb + 1), j ->
             substr(hx, 2 * CAST(j AS INT) - 1, 1))) AS nib
           FROM hb)
         SELECT doc_id, nib, CAST(COUNT(*) AS BIGINT) AS n
         FROM e GROUP BY 1, 2""",
    "llm_multimodal_meta" ->
      """SELECT doc_id, octet_length(CAST(text AS BLOB)) AS byte_len,
           md5(text) AS content_md5
         FROM documents""",
    // Recomputes the ENTIRE stubbed media chain: fake decode dims from
    // the content hash (hex chars 1-4 / 5-8 mod 4080 + 16; format from
    // the low 2 bits of byte 8 = hex char 18 mod 4), resize identity
    // hash, mid-frame offset, and the per-dim hash features.
    "llm_media_pipeline" -> {
      val vExpr = duckHex8("resized_md5 || ':' || CAST(dim AS VARCHAR)")
      s"""WITH media AS (
            SELECT doc_id, md5(text) AS hex,
              octet_length(CAST(text AS BLOB)) AS blen
            FROM documents WHERE doc_id < 200),
          meta AS (
            SELECT doc_id,
              CASE ((strpos('0123456789abcdef', substr(hex, 18, 1)) - 1) % 4)
                WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' WHEN 2 THEN 'webp'
                ELSE 'gif' END AS format,
              CAST(16 + (${duckHexAt("hex", 1, 4)} % 4080) AS INT) AS width,
              CAST(16 + (${duckHexAt("hex", 5, 4)} % 4080) AS INT) AS height,
              md5(hex || ':256x256') AS resized_md5,
              CAST(FLOOR((1 * greatest(blen - 1, 1)) / 2) AS BIGINT)
                AS frame_mid
            FROM media),
          dims AS (SELECT CAST(x AS INT) AS dim
                   FROM (VALUES (0), (1), (2), (3)) v(x))
          SELECT doc_id, format, width, height, resized_md5, frame_mid, dim,
            CAST(FLOOR(CAST($vExpr % 10000 AS DOUBLE) / 10000.0 * 1000000)
              AS BIGINT) AS v_micro
          FROM meta, dims"""
    },
    "llm_ngram_pairs" ->
      s"""WITH toks AS (
            SELECT doc_id, $duckToks AS ws FROM documents),
          sh AS (
            SELECT doc_id,
              list_distinct(CASE WHEN len(ws) < 3 THEN []
                ELSE list_transform(range(1, len(ws) - 1), i ->
                  ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT)+1] || ' ' ||
                  ws[CAST(i AS INT)+2]) END) AS sh
            FROM toks),
          nonempty AS (SELECT * FROM sh WHERE len(sh) > 0),
          pairs AS (
            SELECT l.doc_id AS id_a, r.doc_id AS id_b,
              CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) /
              CAST(len(list_distinct(l.sh || r.sh)) AS DOUBLE) AS j
            FROM nonempty l JOIN nonempty r ON l.doc_id < r.doc_id)
          SELECT id_a, id_b,
            CAST(FLOOR(j * 1000000) AS BIGINT) AS jaccard_micro
          FROM pairs WHERE j >= 0.8""",
    "llm_knn_graph" ->
      s"""WITH v0 AS (
           SELECT vec_id,
             ${duckHyperCell("embedding", 2)} AS cell,
             embedding FROM embeddings),
         pop AS (SELECT cell, COUNT(*) AS n FROM v0 GROUP BY cell),
         v AS (
           SELECT v0.vec_id, v0.cell, v0.embedding,
             CASE WHEN p.n > $knnGraphMaxCellPop THEN
               CAST(('0x' || substr(md5(CAST(v0.vec_id AS VARCHAR)), 1, 14))
                 AS BIGINT)
               % CAST(CEIL(CAST(p.n AS DOUBLE)
                   / $knnGraphMaxCellPop) AS BIGINT)
             ELSE 0 END AS sub
           FROM v0 JOIN pop p USING (cell)),
         pairs AS (
           SELECT l.vec_id AS lid, r.vec_id AS rid,
             list_sum(list_transform(range(1, len(l.embedding) + 1), i ->
               CAST(l.embedding[CAST(i AS INT)] AS DOUBLE)
               * CAST(r.embedding[CAST(i AS INT)] AS DOUBLE))) /
             (sqrt(list_sum(list_transform(l.embedding, x ->
                CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
              sqrt(list_sum(list_transform(r.embedding, x ->
                CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
           FROM v l JOIN v r
             ON l.cell = r.cell AND l.sub = r.sub
            AND l.vec_id <> r.vec_id),
         ranked AS (
           SELECT lid, rid, c,
             ROW_NUMBER() OVER (PARTITION BY lid ORDER BY c DESC, rid)
               AS rn
           FROM pairs)
         SELECT lid, rid, CAST(FLOOR(c * 1000000) AS BIGINT) AS cosine_micro
         FROM ranked WHERE rn <= 3""",
    "llm_simhash_pairs" ->
      s"""WITH toks AS (
            SELECT doc_id, $duckToks AS ws FROM documents),
          sh AS (
            SELECT doc_id,
              array_to_string(list_transform(range(0, 16), j ->
                CASE WHEN list_sum(list_transform(ws, t ->
                  ((strpos('0123456789abcdef',
                      substr(md5(t), CAST(j // 4 + 1 AS INT), 1)) - 1)
                    // CAST(2 ** (3 - j % 4) AS INT)) % 2 * 2 - 1)) > 0
                THEN '1' ELSE '0' END), '') AS h
            FROM toks),
          banded AS (
            SELECT doc_id, h, CAST(b AS INT) AS band,
              substr(h, CAST(b*4+1 AS INT), 4) AS chunk
            FROM sh, (VALUES (0), (1), (2), (3)) bands(b)),
          pop AS (
            SELECT band, chunk, COUNT(*) AS n
            FROM banded GROUP BY band, chunk),
          bsub AS (
            SELECT b.doc_id, b.h, b.band, b.chunk,
              CASE WHEN p.n > $simhashMaxBucketPop THEN
                CAST(('0x' || substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 14))
                  AS BIGINT)
                % CAST(CEIL(CAST(p.n AS DOUBLE)
                    / $simhashMaxBucketPop) AS BIGINT)
              ELSE 0 END AS sub
            FROM banded b JOIN pop p USING (band, chunk)),
          cand AS (
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
              l.h AS h_a, r.h AS h_b
            FROM bsub l JOIN bsub r
              ON l.band = r.band AND l.chunk = r.chunk
             AND l.sub = r.sub
             AND l.doc_id < r.doc_id)
          SELECT id_a, id_b,
            CAST(list_sum(list_transform(range(1, 17), i ->
              CASE WHEN substr(h_a, CAST(i AS INT), 1)
                     <> substr(h_b, CAST(i AS INT), 1)
                THEN 1 ELSE 0 END)) AS INT) AS hamming
          FROM cand
          WHERE list_sum(list_transform(range(1, 17), i ->
              CASE WHEN substr(h_a, CAST(i AS INT), 1)
                     <> substr(h_b, CAST(i AS INT), 1)
                THEN 1 ELSE 0 END)) <= 3""",
    "llm_chunking" ->
      s"""WITH t AS (
            SELECT doc_id, $duckToks AS ws FROM documents),
          n AS (
            SELECT doc_id, ws,
              greatest(CAST(ceil((len(ws) - 32) / 24.0) AS INT) + 1, 1)
                AS n_chunks
            FROM t),
          chunks AS (
            SELECT doc_id, CAST(i AS INT) AS chunk_idx,
              array_to_string(ws[CAST(i*24+1 AS INT):CAST(i*24+32 AS INT)],
                ' ') AS chunk_text,
              least(len(ws) - CAST(i AS INT)*24, 32) AS chunk_tokens
            FROM n, LATERAL (SELECT unnest(range(0, n_chunks)) AS i))
          SELECT doc_id, chunk_idx, md5(chunk_text) AS chunk_md5,
            chunk_tokens
          FROM chunks""",
    "llm_bpe_merges" -> bpeMergesOracleSql(3),
    "llm_bpe_batch" -> bpeBatchedOracleSql(4, 4),
    // Capstone 4: the bpe_encode chain (training included) + the
    // quality ranking + the one-window budget cut, all static.
    "llm_pipeline4" ->
      s"""WITH ${bpeCtes(3)},
          ns AS (
            SELECT replace(s, '.', '') AS w,
              CAST(len(list_filter(string_split(s, '..'), x -> x <> ''))
                AS BIGINT) AS n_syms
            FROM s3),
          dtoks AS (SELECT doc_id, $duckToks AS ws FROM documents),
          dw AS (SELECT doc_id, unnest(ws) AS w FROM dtoks),
          enc AS (
            SELECT d.doc_id,
              CAST(COALESCE(SUM(ns.n_syms), 0) AS BIGINT) AS bpe_tokens
            FROM documents d
            LEFT JOIN dw ON dw.doc_id = d.doc_id
            LEFT JOIN ns ON ns.w = dw.w
            GROUP BY d.doc_id),
          tq AS (SELECT doc_id, text, $duckToks AS ws FROM documents),
          q AS (
            SELECT doc_id,
              CAST(FLOOR($duckQualityScore * 1000000) AS BIGINT)
                AS quality_micro
            FROM tq),
          j AS (SELECT e.doc_id, q.quality_micro, e.bpe_tokens
                FROM enc e JOIN q USING (doc_id)),
          sel AS (
            SELECT doc_id, quality_micro, bpe_tokens,
              SUM(bpe_tokens) OVER (ORDER BY quality_micro DESC, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM j)
          SELECT doc_id, quality_micro, bpe_tokens,
            CAST(cum AS BIGINT) AS cum_bpe_tokens
          FROM sel WHERE cum <= 45000""",
    "llm_bpe_encode" -> bpeEncodeOracleSql(3),
    // Fertility: the bpe_encode chain aggregated per lang; the micro
    // ratio uses the same overflow-safe div + scaled-remainder form.
    "llm_fertility" ->
      s"""WITH ${bpeCtes(3)},
          ns AS (
            SELECT replace(s, '.', '') AS w,
              CAST(len(list_filter(string_split(s, '..'), x -> x <> ''))
                AS BIGINT) AS n_syms
            FROM s3),
          dtoks AS (SELECT doc_id, lang, $duckToks AS ws FROM documents),
          dw AS (SELECT doc_id, lang, unnest(ws) AS w FROM dtoks),
          agg AS (
            SELECT lang, CAST(SUM(length(dw.w)) AS BIGINT) AS alnum_chars,
              CAST(SUM(ns.n_syms) AS BIGINT) AS bpe_tokens
            FROM dw JOIN ns USING (w) GROUP BY lang)
          SELECT lang, alnum_chars, bpe_tokens,
            CAST(CASE WHEN bpe_tokens = 0 THEN 0 ELSE
              (alnum_chars // bpe_tokens) * 1000000 +
              ((alnum_chars % bpe_tokens) * 1000000) // bpe_tokens
            END AS BIGINT) AS chars_per_token_micro
          FROM agg""",
    "llm_bpe_pairs" ->
      s"""WITH toks AS (SELECT $duckToks AS ws FROM documents),
          w AS (SELECT unnest(ws) AS w FROM toks),
          wc AS (SELECT w, COUNT(*) AS wc FROM w GROUP BY w),
          p AS (
            SELECT unnest(list_transform(range(1, length(w)), i ->
              substr(w, CAST(i AS INT), 2))) AS pair, wc
            FROM wc WHERE length(w) >= 2),
          pc AS (SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt
                 FROM p GROUP BY pair),
          r AS (SELECT pair, cnt, row_number()
                  OVER (ORDER BY cnt DESC, pair) AS rk FROM pc)
          SELECT pair, cnt, CAST(rk AS BIGINT) AS rk
          FROM r WHERE rk <= 50""",
    "llm_vocab" ->
      s"""WITH t AS (
            SELECT doc_id, doc_id AS doc_key, $duckToks AS ws
            FROM documents),
          tok AS (
            SELECT doc_key, unnest(ws) AS token FROM t)
          SELECT token, COUNT(*) AS total_count,
            COUNT(DISTINCT doc_key) AS doc_freq
          FROM tok GROUP BY token
          ORDER BY total_count DESC, token LIMIT 100""",
    // BM25: idf = ln((N-df+0.5)/(df+0.5)+1); per-(doc,term) scores are
    // FLOORed to micros BEFORE the per-doc sum, exactly as the Spark side.
    "llm_bm25" ->
      s"""WITH t AS (
            SELECT doc_id, $duckToks AS ws FROM documents),
          dl AS (SELECT doc_id, len(ws) AS dl FROM t),
          stats AS (
            SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS dl_sum
            FROM dl),
          tf AS (
            SELECT doc_id, tok, COUNT(*) AS tf
            FROM (SELECT doc_id, unnest(ws) AS tok FROM t)
            WHERE tok IN ('spark', 'join', 'vector', 'stream')
            GROUP BY doc_id, tok),
          dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok)
          SELECT doc_id,
            CAST(SUM(CAST(FLOOR(
              ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
              * (tf * 2.2)
              / (tf + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
                  / (CAST(dl_sum AS DOUBLE) / CAST(n_docs AS DOUBLE))))
              * 1000000) AS BIGINT)) AS BIGINT) AS score_micro
          FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id)
          CROSS JOIN stats
          GROUP BY doc_id
          ORDER BY score_micro DESC, doc_id LIMIT 25""",
    "llm_split" ->
      s"""SELECT doc_id,
            CASE WHEN ${duckHex8("'sp:' || CAST(doc_id AS VARCHAR)")}
                   % 10000 < 8000 THEN 'train'
                 WHEN ${duckHex8("'sp:' || CAST(doc_id AS VARCHAR)")}
                   % 10000 < 9000 THEN 'val'
                 ELSE 'test' END AS split
          FROM documents""",
    // Rational tf-idf: tf/df is a single correctly-rounded division in
    // both engines; equal rationals tie-break on the term.
    "llm_keywords" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS ws FROM documents),
          tok AS (SELECT doc_id, unnest(ws) AS term FROM t),
          tf AS (SELECT doc_id, term, COUNT(*) AS tf
                 FROM tok GROUP BY doc_id, term),
          dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
          ranked AS (
            SELECT doc_id, term, tf, df,
              ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY CAST(tf AS DOUBLE) / df DESC, term) AS rank
            FROM tf JOIN dfreq USING (term))
          SELECT doc_id, term, tf, df, rank
          FROM ranked WHERE rank <= 3""")
}
