package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale design: every near-dup variant is CANDIDATE-GENERATION by LSH
  * bucketing (shuffle on band key, pairs only within buckets) followed by
  * exact verification on the candidates -- never an O(n^2) cross join.
  * At 100 TB the band-key shuffle is the only wide stage and is keyed so
  * AQE can split skewed buckets.
  */
object Dedup {

  /** Library-wide DEFAULT hot-bucket cap for every quadratic candidate
    * generator (minhash bands, simhash chunks, semantic cells): buckets
    * whose population exceeds this sub-split deterministically,
    * bounding pair volume by pop*cap. 256 keeps the largest per-bucket
    * self-join at ~32k pairs while leaving any real (non-boilerplate)
    * bucket untouched — gate corpora observe pops of 3-4. Callers that
    * want exact uncapped semantics pass `Int.MaxValue` explicitly; the
    * r17 2M-doc CLI run proved inherited-uncapped is the fatal default.
    */
  val DefaultHotCap: Int = 256

  /** Exact dedup by content hash: one row per distinct hash with the
    * canonical (min) id and the duplicate count. `keep` joins back to
    * select survivors.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"),
        count(lit(1)).as("dup_count"))

  /** Quality-aware exact-dedup representative selection -- the DECISION
    * stage of dedup: within each content-hash group, the representative
    * is the highest-score member (ties broken by min id), and every
    * member row is returned with its cluster size and an `is_rep` flag
    * so a consumer can keep reps, audit losers, or re-weight by
    * `cluster_size` (duplicate count is an upweighting signal -- "Deduplicating
    * Training Data Makes Language Models Better" keeps one copy but the
    * count is what importance-samplers consume).
    *
    * Scale shape: one hash-partitioned window per content-hash group --
    * group width is the duplicate multiplicity of one exact text, which
    * stays small under any real corpus (a pathological constant document
    * is one AQE-splittable partition), so no single-partition funnel.
    */
  def exactRepresentatives(df: DataFrame, idCol: String, textCol: String,
      scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("content_hash")
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    df.withColumn("content_hash", md5(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .withColumn("cluster_size", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("content_hash")))
      .withColumn("is_rep", col("__rn") === 1)
      .drop("__rn")
  }

  /** Survivors of exact dedup (keeps min id per content hash). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("content_hash", md5(col(textCol)))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("content_hash").orderBy(col(idCol))))
      .where(col("__rn") === 1).drop("__rn", "content_hash")

  /** Compiled n-gram shingler: word windows of the shared compiled
    * tokenizer, space-joined — byte-equal to
    * `shingles(tokens(text), n)` (fewer than n tokens → EMPTY; null
    * text → empty too, which every call site's size-filter treated
    * identically). The interpreted HOF form fed the signature UDF and
    * was the real bottleneck of the 16M dedup stage once the digest
    * loop was tightened.
    */
  private[graft] def shingleArr(s: String, n: Int): Array[String] = {
    if (s == null) return Array.empty
    val toks = TextAnalysis.alnumTokens(s)
    if (toks.length < n) Array.empty
    else {
      val out = new Array[String](toks.length - n + 1)
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < out.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j)); j += 1
        }
        out(i) = sb.toString
        i += 1
      }
      out
    }
  }

  // Both parameterized UDFs are MEMOIZED: a fresh lambda per query
  // construction would defeat CacheManager's canonicalized plan-match
  // substitution (the llm_pipeline2 lesson) — persisted minhash stages
  // must canonicalize equal across rebuilds.
  private val distinctShinglesUdfCache =
    new java.util.concurrent.ConcurrentHashMap[Int,
      org.apache.spark.sql.expressions.UserDefinedFunction]()

  /** array_distinct(shingles(tokens(text), n)) compiled: first-
    * occurrence order preserved (the array_distinct contract).
    */
  private[graft] def distinctShinglesUdf(n: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    distinctShinglesUdfCache.computeIfAbsent(n, { nn =>
      udf((s: String) => {
        val all = shingleArr(s, nn)
        val seen = scala.collection.mutable.HashSet.empty[String]
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < all.length) {
          if (seen.add(all(i))) out += all(i)
          i += 1
        }
        out.toSeq
      })
    })

  private val shinglesUdfCache =
    new java.util.concurrent.ConcurrentHashMap[Int,
      org.apache.spark.sql.expressions.UserDefinedFunction]()

  /** shingles(tokens(text), n) compiled: ALL shingles in order,
    * duplicates kept — the raw form the frequency-counting consumers
    * (DSIR, exact-rep) explode.
    */
  private[graft] def shinglesUdf(n: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    shinglesUdfCache.computeIfAbsent(n, { nn =>
      udf((s: String) => shingleArr(s, nn).toSeq)
    })

  /** MinHash LSH band keys. Returns (id, band, band_hash); docs with no
    * shingles have no bands.
    */
  def minhashBandKeys(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, bandRows: Int): DataFrame = {
    // The signature loop is compute-bound (k x shingles md5s per row);
    // single-row-group files would otherwise pin it to one task. Spread a
    // NARROW (id, text) projection, hash-partitioned by id -- never the
    // full input row (the r5 regression: round-robin repartition of the
    // raw frame pushed every document column through a
    // sort-before-repartition pass + full-width exchange, consumed twice
    // by the pair self-join). Hash partitioning is deterministic, needs
    // no pre-sort, and md5-hex ids spread uniformly; both self-join
    // sides share this exact subtree so ReuseExchange runs it once.
    val spread = df.select(col(idCol).as("id"), col(textCol).as("__text"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("id"))
    // tokenize + shingle + sign in ONE native-expression pass over the
    // row's UTF8String bytes (r20 — no per-row String transcode; the
    // empty-shingle handling lives inside the kernel: empty -> no
    // bands, so posexplode drops the row exactly like the old size()
    // pre-filter)
    spread.select(col("id"),
      posexplode(graft.functions.MinhashBandKeys(col("__text"),
        shingleN, k, bandRows)).as(Seq("band", "band_hash")))
  }

  /** MinHash+LSH near-dup pairs.
    *
    * shingle(n-gram) -> k-minhash signature -> bands -> bucket join ->
    * exact Jaccard verification >= threshold. Returns (id_a, id_b,
    * jaccard) with id_a < id_b.
    *
    * `maxBandPop` closes the same quadratic hole the simhash/knn/
    * semantic caps close (r13): N near-identical documents (web-scale
    * boilerplate) share EVERY band hash, so the within-bucket self-join
    * goes O(N^2) regardless of banding. A (band, band_hash) bucket
    * whose population exceeds the cap sub-splits into ceil(pop/cap)
    * deterministic md5(id)-mod-k sub-buckets (the semanticKeyed
    * protocol), bounding pair volume by pop*cap. Only the HOT buckets
    * (pop > cap) ride the broadcast — tiny by definition at any corpus
    * size, unlike the full bucket histogram, whose key space here is
    * unbounded (md5 band hashes, not fixed-width chunks). Recall trade
    * is one-sided: capped candidates are a SUBSET of the uncapped
    * candidates. Note the approximation honestly: a bucket of N docs
    * sub-splits into ceil(N/cap) components with NO cross-sub pairs, so
    * a cluster wholly inside one hot bucket may come out as up to
    * ceil(N/cap) clusters (cluster dedup then retains one survivor per
    * SUB-cluster, and [[sourceOverlapMatrix]] undercounts cross-source
    * pairs accordingly). When the cap engages, the operator logs how
    * many buckets sub-split (slf4j "graft.llmops.Dedup") so a
    * measurement consumer can see the approximation; when no bucket
    * exceeds the cap the output is EXACTLY the uncapped output.
    *
    * The cap DEFAULTS ON (256, [[DefaultHotCap]]) as of r18: the r17
    * 2M-document CLI run proved the uncapped path is not survivable (a
    * bare caller inherited Int.MaxValue and the pairs stage never
    * finished). Pass `maxBandPop = Int.MaxValue` explicitly for exact
    * uncapped semantics on corpora known to be boilerplate-free.
    *
    * With a finite cap, plan CONSTRUCTION is eager: deciding the
    * empty-hot short-circuit runs the bounded hot-bucket histogram as
    * a driver-blocking job before this method returns (see
    * [[minhashKeyed]]).
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 32, bandRows: Int = 4,
      threshold: Double = 0.7, maxBandPop: Int = DefaultHotCap): DataFrame = {
    require(maxBandPop > 0, "maxBandPop must be positive")
    // persisted: consumed by BOTH verification attach joins on different
    // keys (id_a / id_b), which exchange reuse can't cover (round-7
    // measurement, same rationale as ngramJaccardPairs.ordered).
    val base = graft.core.Caches.scoped(
      df.select(col(idCol).as("id"),
        distinctShinglesUdf(shingleN)(col(textCol)).as("sh"))
        .where(size(col("sh")) > 0))
    // candidate ids first (narrow self-join on the band keys), shingle
    // arrays attached once per side AFTER pair dedup -- the wide arrays
    // never ride through the LSH shuffle.
    val banded = minhashKeyed(df, idCol, textCol, shingleN, k, bandRows,
      maxBandPop)
    val candidates = banded.as("l")
      .join(banded.as("r"),
        col("l.band") === col("r.band") &&
          col("l.band_hash") === col("r.band_hash") &&
          col("l.__sub") === col("r.__sub") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    candidates
      .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        graft.functions.JaccardSimilarity(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** The LSH join keying as [[minhashPairs]] applies it: (id, band,
    * band_hash, __sub) with the hot-band md5 sub-split — exposed so the
    * ScaleCurve harness derives capped candidate volume from exactly
    * the keys the join uses (the [[Ann.knnKeyed]] pattern).
    *
    * EAGER when `maxBandPop` is finite (the default): CONSTRUCTING the
    * returned DataFrame runs one driver-blocking Spark job — the
    * hot-bucket histogram count that decides the empty-hot
    * short-circuit. The counted frame is bounded (post-aggregation,
    * over-cap buckets only), but a caller building plans speculatively
    * (a notebook, a planner) pays the full tokenize+shingle+sign scan
    * at construction, not at first action. Pass
    * `maxBandPop = Int.MaxValue` for a fully lazy (uncapped) plan.
    */
  private[graft] def minhashKeyed(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int, k: Int, bandRows: Int,
      maxBandPop: Int): DataFrame = {
    val banded00 =
      minhashBandKeys(df, idCol, textCol, shingleN, k, bandRows)
    if (maxBandPop == Int.MaxValue) banded00.withColumn("__sub", lit(0L))
    else {
      // pinned: the capped path consumes the signature scan (k x
      // shingles md5s per row — the operator's compute) from TWO
      // subtrees (hot-bucket histogram + the keyed join side), which
      // exchange reuse cannot cover; without the persist the scan runs
      // twice. Narrow (id, band, band_hash) rows, disk-spillable.
      val banded0 = graft.core.Caches.scoped(banded00)
      // the hot frame is itself pinned: the driver count below AND the
      // broadcast join both consume it, and without the persist the
      // non-empty branch would pay the histogram aggregation TWICE
      // (the r19 bench caught exactly that: llm_minhash_capped 1.43x)
      val hot = graft.core.Caches.scoped(
        banded0.groupBy("band", "band_hash")
          .agg(count(lit(1)).as("__pop"))
          .where(col("__pop") > maxBandPop)
          .select(col("band"), col("band_hash"),
            ceil(col("__pop").cast("double") / maxBandPop).cast("long")
              .as("__k")))
      // empty-hot short-circuit (r19): the histogram is a bounded
      // aggregate over the persisted scan; when NO bucket exceeds the
      // cap, the sub-split machinery is a no-op by construction (__k
      // null everywhere → __sub = 0), so skip the broadcast join and
      // the md5-mod expression entirely. One tiny driver action on an
      // already-aggregated frame; byte-identical output either way —
      // and it reclaims most of the cap-default overhead on clean
      // corpora (llm_minhash_pairs was 1.46× its pre-cap time). When
      // the cap DOES engage, say so: sub-splitting is a recall
      // approximation (clusters may split ceil(pop/cap) ways) that a
      // measurement consumer must be able to see in the log.
      val nHot = hot.count()
      if (nHot == 0L) banded0.withColumn("__sub", lit(0L))
      else {
        org.slf4j.LoggerFactory.getLogger("graft.llmops.Dedup").warn(
          s"minhash hot-bucket cap engaged: $nHot bucket(s) exceed " +
            s"maxBandPop=$maxBandPop and sub-split; capped pairs are a " +
            "subset (clusters may split ceil(pop/cap) ways)")
        banded0.join(broadcast(hot), Seq("band", "band_hash"), "left")
          .withColumn("__sub",
            when(col("__k").isNull, lit(0L))
              .otherwise(pmod(
                conv(substring(md5(col("id").cast("string")), 1, 14),
                  16, 10).cast("long"), col("__k"))))
          .drop("__k")
      }
    }
  }

  /** Cross-source near-duplicate overlap matrix: for each unordered
    * source pair, how many verified near-dup pairs connect them (plus
    * the within-source diagonal) and the summed Jaccard in micros. The
    * dataset-forensics view a curation run reads before setting dedup
    * policy ("how much of source A is a copy of source B" -- e.g.
    * CommonCrawl vs a curated mirror).
    *
    * Built ON TOP of the capped minhash chain ([[minhashPairs]]), so the
    * only added cost is attaching each pair end's source: two joins of
    * the (tiny) verified-pair frame against the (id, source) projection
    * -- AQE broadcasts the pair side when it is small, and at 100 TB the
    * pair frame is still orders of magnitude smaller than the corpus.
    * The final matrix aggregate is at most |sources|^2 rows.
    *
    * MEASUREMENT CAVEAT: this is a measurement API riding the CAPPED
    * pair chain, so with the default `maxBandPop` a hot bucket's
    * sub-split drops its cross-sub pairs and the matrix UNDERCOUNTS
    * overlap for sources whose duplicates pile into hot buckets (the
    * operator logs when that happens). The default stays capped because
    * the uncapped plan is not survivable on a real crawl (the r17 2M
    * postmortem); pass `maxBandPop = Int.MaxValue` explicitly for an
    * exact matrix on corpora known to be boilerplate-free.
    */
  def sourceOverlapMatrix(df: DataFrame, idCol: String, srcCol: String,
      textCol: String, shingleN: Int = 3, k: Int = 32, bandRows: Int = 4,
      threshold: Double = 0.7,
      maxBandPop: Int = DefaultHotCap): DataFrame =
    sourceOverlapMatrixFrom(
      minhashPairs(df, idCol, textCol, shingleN, k, bandRows, threshold,
        maxBandPop),
      df.select(col(idCol).as("id"), col(srcCol).as("source")))

  /** Matrix core over an EXISTING verified-pair frame (id_a, id_b and
    * either jaccard or an already-floored jaccard_micro -- the DedupApp
    * pairs/ artifact stores micros) -- the pipeline shape, where pairs
    * are a materialized stage table, not a per-query recompute.
    */
  def sourceOverlapMatrixFrom(pairs: DataFrame, src: DataFrame)
      : DataFrame = {
    val withMicro =
      if (pairs.columns.contains("jaccard_micro")) pairs
      else pairs.withColumn("jaccard_micro",
        floor(col("jaccard") * 1000000).cast("long"))
    withMicro
      .join(src.select(col("id").as("id_a"), col("source").as("src_a")),
        Seq("id_a"))
      .join(src.select(col("id").as("id_b"), col("source").as("src_b")),
        Seq("id_b"))
      .groupBy(least(col("src_a"), col("src_b")).as("src_lo"),
        greatest(col("src_a"), col("src_b")).as("src_hi"))
      .agg(count(lit(1)).as("pair_count"),
        sum("jaccard_micro").as("jaccard_micro_sum"))
  }

  private val simhashLongUdfCache =
    new java.util.concurrent.ConcurrentHashMap[Int,
      org.apache.spark.sql.expressions.UserDefinedFunction]()

  /** Compiled simhash of the raw TEXT, packed into a LONG: bit j of
    * token t = bit (3 - j%4) of hex nibble j/4 of md5(t), simhash bit =
    * majority vote, and bit (bits-1-j) of the result is bit j of the
    * '0'/'1' string form (render it with `lpad(bin(sh), bits, '0')`).
    * One digest per token instead of a per-(token, bit) HOF walk, and
    * tokenized INSIDE the pass by the shared compiled tokenizer (the
    * interpreted tokens() HOF was most of the scan's cost at crawl
    * scale). Memoized per bits so rebuilt plans stay plan-cache
    * substitutable. bits <= 64.
    */
  def simhashTextLongUdf(bits: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    require(bits > 0 && bits % 4 == 0 && bits <= 64,
      s"bits must be a positive multiple of 4 <= 64, got $bits")
    simhashLongUdfCache.computeIfAbsent(bits, { b =>
      udf((text: String) => {
        val toks = TextAnalysis.alnumTokens(text)
        // one digest per token OCCURRENCE (r22: the r21 count-weighted
        // form — HashMap distinct-count, digest × count votes — lost the
        // same-host gate A/B 9–19% on every simhash gate: this corpus's
        // per-doc token repetition is too low to amortize the map)
        val md = java.security.MessageDigest.getInstance("MD5")
        val votes = new Array[Int](b)
        var i = 0
        while (i < toks.length) {
          val d = md.digest(toks(i).getBytes("UTF-8"))
          var j = 0
          while (j < b) {
            val nibIdx = j / 4
            val nib = (d(nibIdx / 2) >> (4 * (1 - nibIdx % 2))) & 0xf
            votes(j) += (((nib >> (3 - j % 4)) & 1) * 2) - 1
            j += 1
          }
          i += 1
        }
        var sh = 0L
        var j = 0
        while (j < b) {
          sh = (sh << 1) | (if (votes(j) > 0) 1L else 0L)
          j += 1
        }
        sh
      })
    })
  }

  /** SimHash near-dup pairs: `bits`-bit simhash, banded into bits/bandBits
    * chunks for candidate generation, hamming-distance verification.
    *
    * `maxBucketPop` bounds the quadratic failure mode of short hashes /
    * low-entropy corpora: when many docs share a band chunk (16-bit
    * simhash over a shared-vocabulary corpus collides by construction;
    * at web scale, boilerplate does the same), the within-bucket join is
    * O(pop^2). A (band, chunk) bucket whose population exceeds the cap
    * sub-splits into ceil(pop/cap) deterministic md5(id)-mod-k
    * sub-buckets ([[semanticKeyed]] protocol), bounding per-bucket pair
    * volume by pop*cap. Recall trade is one-sided -- a pair split across
    * sub-buckets in EVERY band it collides in is no longer compared --
    * and hot buckets are exactly where hamming-verified survivors are
    * interchangeable. The (band, chunk) histogram has at most
    * (bits/bandBits) * 2^bandBits rows; it is broadcast when bandBits
    * keeps that bounded, shuffled otherwise.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 64, bandBits: Int = 16, maxHamming: Int = 3,
      maxBucketPop: Int = DefaultHotCap): DataFrame = {
    require(maxBucketPop > 0, "maxBucketPop must be positive")
    // the LONG representation below caps the operator at 64 bits — no
    // caller exceeds the word2vec-conventional 64 (the gate uses 16)
    require(bits <= 64, s"simhashPairs supports bits <= 64, got $bits")
    require(bits > 0 && bandBits > 0 && bits % bandBits == 0,
      s"bandBits must be positive and divide bits, got bits=$bits " +
        s"bandBits=$bandBits")
    // scoped-persisted: the simhash-UDF corpus scan (one md5 per token)
    // has multiple consumers -- both self-join sides plus the capped
    // path's bucket-population aggregate -- and exchange reuse cannot
    // cover the pops branch. (id, LONG hash) is the narrowest frame in
    // the operator (r22 — was a '0'/'1' CHAR string: 8 bytes instead
    // of `bits` chars through the pin, the band explode and both join
    // sides, and hamming becomes one xor+popcount instead of a char
    // loop; bit j of the long = char j of the string, so band buckets,
    // sub-splits and hamming counts are identical).
    val base = graft.core.Caches.scoped(
      df.select(col(idCol).as("id"),
        simhashTextLongUdf(bits)(col(textCol)).as("sh")))
    val nBands = bits / bandBits
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    val bandStructs = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        (shiftrightunsigned(col("sh"), bits - (b + 1) * bandBits)
          .bitwiseAND(lit(mask))).as("chunk"))
    }
    val banded0 = base.select(col("id"), col("sh"),
      explode(array(bandStructs: _*)).as("b"))
      .select(col("id"), col("sh"), col("b.band"), col("b.chunk"))
    val banded =
      if (maxBucketPop == Int.MaxValue) banded0.withColumn("__sub", lit(0L))
      else {
        val pops = banded0.groupBy("band", "chunk")
          .agg(count(lit(1)).as("__pop"))
          .select(col("band"), col("chunk"),
            when(col("__pop") > maxBucketPop,
              ceil(col("__pop").cast("double") / maxBucketPop).cast("long"))
              .otherwise(lit(1L)).as("__k"))
        // broadcast only when the THEORETICAL bucket-key bound (one row
        // per populated (band, chunk)) is small -- bandBits alone is the
        // wrong gate: at bandBits=20 with 64-bit hashes there are
        // nBands<<bandBits = 4M possible keys, megabytes per task
        val maxKeys =
          if (bandBits >= 40) Long.MaxValue else nBands.toLong << bandBits
        val popsH = if (maxKeys <= (1L << 20)) broadcast(pops) else pops
        banded0.join(popsH, Seq("band", "chunk"))
          .withColumn("__sub",
            pmod(conv(substring(md5(col("id").cast("string")), 1, 14),
              16, 10).cast("long"), col("__k")))
          .drop("__k")
      }
    banded.as("l")
      .join(banded.as("r"),
        col("l.band") === col("r.band") &&
          col("l.chunk") === col("r.chunk") &&
          col("l.__sub") === col("r.__sub") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        col("l.sh").as("sh_a"), col("r.sh").as("sh_b"))
      .dropDuplicates("id_a", "id_b")
      // xor + popcount over the LONG signatures (r22): equals the
      // per-char diff count of the '0'/'1' strings bit-for-bit, inside
      // whole-stage codegen (bit_count returns INT)
      .withColumn("hamming",
        expr("bit_count(sh_a ^ sh_b)"))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Exact n-gram Jaccard pairs (every pair with J >= threshold) via
    * PREFIX FILTERING (the SSJoin/PPJoin family, public literature):
    * under any single global token order, two sets with J(A,B) >= t must
    * share at least one token within each side's first
    * |s| - ceil(t*|s|) + 1 tokens. Ordering tokens by ascending corpus
    * document-frequency puts the RAREST shingles in the prefix, so the
    * candidate equi-join on prefix tokens stays near-linear even when all
    * documents have similar lengths (the case that degenerates a
    * length-banding scheme to O(n^2)). Exact: verification recomputes
    * true Jaccard on the candidates; completeness is the prefix lemma.
    *
    * Scale shape: shuffles are groupBy(token) for frequencies, the
    * token-frequency join, groupBy(id) to rebuild ordered arrays, and the
    * prefix-token equi-join -- all key-partitioned, AQE-splittable; no
    * cross join anywhere. The ordered per-doc shingle array (already
    * shuffled for prefix extraction) also serves as the verification
    * input (Jaccard is order-insensitive), so the raw text is never
    * joined back. `ordered` has THREE consumers on different join keys
    * (prefix explode, id_a attach, id_b attach), so exchange reuse can't
    * cover them all; it is persisted (MEMORY_AND_DISK) -- re-measured in
    * round 7 at 2.5x faster warm than recomputing (the round-3 note that
    * persist lost predates the df-ordered prefix rework). At 100 TB
    * write `ordered` to a stage table: same pattern, durable.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    val base = df.select(col(idCol).as("id"),
      distinctShinglesUdf(shingleN)(col(textCol)).as("sh"))
      .where(size(col("sh")) > 0)
    val toks = base.select(col("id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    // Per-doc tokens sorted by (df, tok) -- a deterministic total order.
    val ordered = toks.join(freq, "tok")
      .groupBy("id")
      .agg(first(col("sz")).as("sz"),
        sort_array(collect_list(struct(col("df"), col("tok")))).as("o"))
      .select(col("id"), col("sz"),
        transform(col("o"), x => x("tok")).as("o"))
    val orderedP = graft.core.Caches.scoped(ordered)
    val plen = (col("sz") - ceil(col("sz") * threshold) + 1).cast("int")
    val pref = orderedP.select(col("id"), col("sz"),
      explode(slice(col("o"), lit(1), plen)).as("tok"))
    // J >= t bounds the size ratio: |A| >= t|B| and |B| >= t|A|.
    val cand = pref.as("l")
      .join(pref.as("r"),
        col("l.tok") === col("r.tok") && col("l.id") < col("r.id") &&
          col("l.sz") >= col("r.sz") * threshold &&
          col("r.sz") >= col("l.sz") * threshold)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    cand
      .join(orderedP.select(col("id").as("id_a"), col("o").as("sh_a")),
        Seq("id_a"))
      .join(orderedP.select(col("id").as("id_b"), col("o").as("sh_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.JaccardSimilarity(col("sh_a"), col("sh_b"))
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Embedding near-dup: cosine >= threshold pairs via random-hyperplane
    * LSH cells (candidates must share the full cell; exact cosine
    * verifies). Hyperplanes, NOT sign-of-leading-dims: real embedding
    * models produce non-zero-centered dimensions, so leading-dim sign
    * patterns collapse most of the corpus into one bucket (near-O(n^2)
    * pairs inside it); md5-derived random hyperplanes (Ann.planeWeight)
    * are rotation/offset-robust with the standard 1 - theta/pi collision
    * rate per bit. Brute-force fallback when planes = 0 (small data /
    * recall experiments).
    */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.9, planes: Int = 8, seed: Int = 42): DataFrame = {
    val v = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val withKey =
      if (planes <= 0) v.withColumn("bucket", lit("0"))
      else Ann.withHyperplaneCell(v, "v", planes, seed)
        .withColumnRenamed("cell", "bucket")
    withKey.as("l").join(withKey.as("r"),
      col("l.bucket") === col("r.bucket") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        graft.functions.CosineSimilarity(col("l.v"), col("r.v")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Semantic dedup (the SemDeDup shape from the public literature,
    * Abbas et al. 2023 "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication"): cluster document embeddings with
    * trained k-means centroids, then within each cluster flag every doc
    * that has a SMALLER-id doc at cosine >= threshold as a semantic
    * duplicate (keep-first greedy -- the deterministic, SQL-expressible
    * variant of SemDeDup's within-cluster pruning). Returns one row per
    * input doc: (idCol, cell, semantic_dup).
    *
    * Scale shape: centroids train on a bounded deterministic sample
    * ([[Ann.trainCentroids]]) and ride the assignment UDF's closure;
    * the only wide stages are the cell-keyed self-join (pairs exist
    * within a cluster only -- the clustering IS the candidate generator,
    * same role as a band key) and the id-keyed flag join. Cluster sizes
    * are bounded by nCells sizing (at 100 TB: ~sqrt(n) cells keeps
    * within-cell pair volume near-linear) PLUS `maxCellPop`: a cell
    * whose population exceeds the cap is sub-split into
    * k = ceil(pop / maxCellPop) deterministic sub-buckets (md5(id) mod
    * k -- the same judgment call as [[dropHotFingerprints]], applied to
    * the embedding-space analog of a hot fingerprint), so no single
    * degenerate mega-cluster (near-identical boilerplate docs at web
    * scale) can make its join quadratic: per-(cell, sub) pair volume is
    * bounded by ~maxCellPop^2 regardless of cluster skew.
    *
    * Recall tradeoff of the cap (mirrors dropHotFingerprints): a dup
    * pair split across sub-buckets of a hot cell is no longer compared.
    * Hot cells are exactly the boilerplate clusters where greedy
    * keep-first pruning is least meaningful, and expected recall inside
    * a sub-split cell stays 1/k per pair while total candidate volume
    * drops from pop^2/2 to pop*maxCellPop/2 -- linear in pop. The
    * sub-key is md5-derived so a DuckDB oracle re-makes the identical
    * split (both engines: first 14 hex chars of md5(cast(id as
    * string)) parsed base-16, mod k).
    *
    * The threshold compares floor(cosine * 1e6) against an integer so a
    * SQL oracle re-makes the same decision; see the gate's FP-margin
    * guard for the cross-engine rounding protocol. The cap machinery
    * itself is integer-exact (counts, ceil of an exact small-int ratio,
    * md5 bits) and adds no FP surface.
    */
  /** Cell + hot-cell sub-bucket assignment shared by
    * [[semanticDupFlags]], its bounded-candidates spec, and the
    * ScaleCurve harness: (id, __v, cell, __sub). Pair candidates exist
    * only within an exact (cell, __sub) match.
    */
  private[graft] def semanticKeyed(df: DataFrame, idCol: String,
      vecCol: String, centroids: Array[Array[Double]],
      maxCellPop: Int): DataFrame = {
    require(maxCellPop > 0, "maxCellPop must be positive")
    // pinned: the centroid-cell assignment (a full distance sweep per
    // row) feeds the cell histogram AND the keyed output — and the
    // caller self-joins the keyed frame besides. Map-side work has no
    // exchange for ReuseExchange to catch, so without the persist the
    // sweep reruns per consumer.
    val base = graft.core.Caches.scoped(Ann.withIvfCentroidCell(
      df.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("__v")),
      "__v", centroids))
    if (maxCellPop == Int.MaxValue) base.withColumn("__sub", lit(0L))
    else {
      // Cell histogram is bounded by nCells -> broadcastable by
      // construction; the corpus joins it map-side.
      val pops = base.groupBy("cell").agg(count(lit(1)).as("__pop"))
      base.join(broadcast(pops), Seq("cell"))
        .withColumn("__k",
          when(col("__pop") > maxCellPop,
            ceil(col("__pop").cast("double") / maxCellPop).cast("long"))
            .otherwise(lit(1L)))
        .withColumn("__sub",
          pmod(conv(substring(md5(col("id").cast("string")), 1, 14),
            16, 10).cast("long"), col("__k")))
        .drop("__pop", "__k")
    }
  }

  def semanticDupFlags(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], thresholdMicro: Long,
      maxCellPop: Int = DefaultHotCap): DataFrame = {
    // keyed is consumed THREE times (both self-join sides + the
    // flag attach) — same pin rationale as semanticKeyed's base
    val keyed = graft.core.Caches.scoped(
      semanticKeyed(df, idCol, vecCol, centroids, maxCellPop))
    val base = keyed.drop("__sub")
    val dups = keyed.as("l").join(keyed.as("r"),
        col("l.cell") === col("r.cell") &&
          col("l.__sub") === col("r.__sub") && col("r.id") < col("l.id"))
      .where(floor(graft.functions.CosineSimilarity(col("l.__v"),
        col("r.__v")) * 1000000).cast("long") >= thresholdMicro)
      .select(col("l.id").as("id")).distinct()
    base.join(dups.withColumn("__d", lit(true)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cell"),
        coalesce(col("__d"), lit(false)).as("semantic_dup"))
  }

  // --- shared window-fingerprint core (r21) --------------------------
  private val HexDigits = "0123456789abcdef".toCharArray

  private def hexOf(d: Array[Byte]): String = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexDigits(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Hex MD5 of every `window`-token rolling window (short docs -> one
    * whole-stream hash), computed over ONE joined byte buffer: tokens
    * are [a-z0-9]+ runs (pure ASCII), so the UTF-8 bytes of
    * `slice.mkString(" ")` are a CONTIGUOUS RANGE of the space-joined
    * full token stream. One `md.update(buf, off, len)` per window
    * replaces the per-window slice + mkString + getBytes allocations
    * that dominated this scan family's wall (every window re-copied
    * `window` tokens); digests are byte-identical by construction and
    * LlmOpsSpec pins equality with the column-expression reference.
    * The k-gram hashes [[winnowedFingerprints]] selects from.
    */
  private[graft] def windowHexes(toks: Array[String],
      window: Int): Array[String] =
    windowDigests(toks, window).map(hexOf)

  /** Raw 16-byte MD5 digests of every `window`-token rolling window —
    * the [[windowHexes]] core without the hex encode (r22): operators
    * whose fingerprints never leave the plan (self-join keys, counts)
    * shuffle and cache 16 BYTES per window instead of a 32-char string
    * (guide §2.3 "narrower types") and skip the per-window hex pass.
    * Hex ⇄ bytes is a bijection, so equality joins, distincts and
    * document-frequency counts are identical either way.
    */
  private[llmops] def windowDigests(toks: Array[String],
      window: Int): Array[Array[Byte]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val n = toks.length
    var total = 0
    var i = 0
    while (i < n) { total += toks(i).length + 1; i += 1 }
    val buf = new Array[Byte](math.max(total - 1, 0))
    val starts = new Array[Int](math.max(n, 1))
    var p = 0
    i = 0
    while (i < n) {
      starts(i) = p
      val t = toks(i)
      var j = 0
      while (j < t.length) { buf(p) = t.charAt(j).toByte; p += 1; j += 1 }
      if (i < n - 1) { buf(p) = ' '.toByte; p += 1 }
      i += 1
    }
    if (n < window) {
      md.update(buf, 0, buf.length)
      Array(md.digest())
    } else {
      val out = new Array[Array[Byte]](n - window + 1)
      i = 0
      while (i <= n - window) {
        val end = starts(i + window - 1) + toks(i + window - 1).length
        md.update(buf, starts(i), end - starts(i))
        out(i) = md.digest()
        i += 1
      }
      out
    }
  }

  /** Distinct raw 16-byte digests of every `window`-token rolling
    * window, deduplicated INSIDE the pass in first-occurrence order
    * (`array_distinct` of the window fingerprints without a second
    * array walk). The form every fingerprint self-join consumes: the
    * hashes never leave the plan, so they travel as 16 bytes instead of
    * a 32-char hex string (r22). Null text has no fingerprints (a null
    * array, which explode drops).
    */
  def distinctWindowFingerprintBytesUdf(window: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((text: String) => if (text == null) None else Some {
      val hs = windowDigests(TextAnalysis.alnumTokens(text), window)
      val seen = new java.util.HashSet[java.nio.ByteBuffer](hs.length * 2)
      val out =
        new scala.collection.mutable.ArrayBuffer[Array[Byte]](hs.length)
      var i = 0
      while (i < hs.length) {
        if (seen.add(java.nio.ByteBuffer.wrap(hs(i)))) out += hs(i)
        i += 1
      }
      out.toSeq
    })

  /** Drop window fingerprints shared by more than `maxDocFreq` documents
    * before any fingerprint self-join. A span occurring in m documents
    * emits m^2/2 candidate pairs from the equi-join -- AQE's skew split
    * can repartition such a bucket but cannot shrink the quadratic pair
    * volume, so one boilerplate span (license header, navigation bar --
    * guaranteed at web scale) would dominate the whole job. Ultra-hot
    * spans are boilerplate, not duplication signal: dropping them is the
    * same judgment call as [[lineDedup]]'s heavy-hitter line filter, and
    * the hot SET is tiny by definition (heavy hitters), so it BROADCASTS
    * into a left_anti join -- the fingerprint stream never re-shuffles.
    *
    * Recall tradeoff: a pair whose ONLY shared spans are hot ones is no
    * longer reported. Those pairs are precisely "two docs quoting the
    * same boilerplate" -- the false-positive class span dedup wants to
    * exclude; genuine near-dups share cold spans too. `wf` must be
    * distinct per (id, wh) so count(*) is document frequency.
    */
  private def dropHotFingerprints(wf: DataFrame, maxDocFreq: Int): DataFrame = {
    require(maxDocFreq > 0, "maxDocFreq must be positive")
    // scoped-pinned (r22): `capped` is consumed by BOTH self-join sides,
    // and each side's broadcast build re-ran the document-frequency
    // aggregation (the r22 plan dump showed the HashAggregate+Exchange
    // subtree twice). The hot set is tiny by definition (over-frequency
    // fingerprints only).
    val hot = graft.core.Caches.scoped(
      wf.groupBy("wh").agg(count(lit(1)).as("__df"))
        .where(col("__df") > maxDocFreq)
        .select("wh"))
    wf.join(broadcast(hot), Seq("wh"), "left_anti")
  }

  /** Exact-substring duplication pairs: docs sharing >= minShared
    * distinct `window`-token rolling-hash fingerprints. The distributed
    * analog of suffix-array substring dedup from the published
    * training-data literature ("docs sharing any 50-token span are
    * duplicates"): a shared window hash IS a shared exact token span
    * (md5 collisions aside), and the fingerprints are the ONLY thing
    * shuffled -- 16 bytes per window, never the text. Scale shape: one
    * explode + a key-partitioned self-join on the window hash + a pair
    * groupBy; hot hashes (boilerplate spans) are the skew risk, so the
    * join key is the hash itself and AQE's skew-split applies.
    */
  def substringDupPairs(df: DataFrame, idCol: String, textCol: String,
      window: Int = 20, minShared: Int = 1,
      maxDocFreq: Int = 1000): DataFrame = {
    // scoped-persisted: the md5-per-window UDF subtree has THREE
    // consumers (hot-hash count, both self-join sides) that exchange
    // reuse cannot cover; 16 B/window + id is the narrowest frame in the
    // operator. At 100 TB this is the stage-table pattern (write wf,
    // then join). Harnesses release scoped caches between queries.
    val wf = graft.core.Caches.scoped(
      df.select(col(idCol).as("id"),
        explode(distinctWindowFingerprintBytesUdf(window)(col(textCol)))
          .as("wh")))
    val capped = dropHotFingerprints(wf, maxDocFreq)
    capped.as("l").join(capped.as("r"),
        col("l.wh") === col("r.wh") && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .agg(count(lit(1)).as("shared_windows"))
      .where(col("shared_windows") >= minShared)
  }

  /** (first position, digest) pairs: the digests of
    * [[distinctWindowFingerprintBytesUdf]], each DISTINCT digest emitted
    * once with the 0-based TOKEN index of its first window -- the
    * span-localization input. Deduping inside the UDF (ordered walk +
    * seen set) makes the per-doc min-position a MAP-SIDE fact: no (id,
    * hash) groupBy shuffle ever runs. Null text has no fingerprints.
    */
  def windowFingerprintPositionBytesUdf(window: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((text: String) => if (text == null) None else Some {
      val toks = TextAnalysis.alnumTokens(text)
      val hs = windowDigests(toks, window)
      if (toks.length < window) Seq((0, hs(0)))
      else {
        val seen = new java.util.HashSet[java.nio.ByteBuffer](hs.length * 2)
        val out =
          new scala.collection.mutable.ArrayBuffer[(Int, Array[Byte])]()
        var i = 0
        while (i < hs.length) {
          if (seen.add(java.nio.ByteBuffer.wrap(hs(i)))) out += ((i, hs(i)))
          i += 1
        }
        out.toSeq
      }
    })

  /** Duplicate-SPAN localization: where [[substringDupPairs]] says two
    * docs share spans, this says WHICH spans -- (id_a, id_b, a_start,
    * b_start) per shared distinct fingerprint, with each side's FIRST
    * (minimum) token index for that window, so a consumer can cut the
    * span rather than drop the document (what the exact-substring dedup
    * literature actually does). Pairs are still gated by `minShared`
    * (count over the pair's span rows -- a window over pair keys, input
    * already bounded by the capped candidate join), and hot fingerprints
    * are dropped by the same [[dropHotFingerprints]] broadcast anti-join
    * before the self-join.
    */
  def substringDupSpans(df: DataFrame, idCol: String, textCol: String,
      window: Int = 20, minShared: Int = 1,
      maxDocFreq: Int = 1000): DataFrame = {
    val wp = graft.core.Caches.scoped(
      df.select(col(idCol).as("id"),
          explode(windowFingerprintPositionBytesUdf(window)(col(textCol)))
            .as("w"))
        .select(col("id"), col("w._2").as("wh"),
          col("w._1").cast("long").as("start")))
      // distinct-per-doc by UDF construction (no groupBy shuffle);
      // scoped-persisted for the same three consumers as substringDupPairs
    val capped = dropHotFingerprints(wp, maxDocFreq)
    val spans = capped.as("l").join(capped.as("r"),
        col("l.wh") === col("r.wh") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        col("l.start").as("a_start"), col("r.start").as("b_start"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a", "id_b")
    spans.withColumn("__c", count(lit(1)).over(w))
      .where(col("__c") >= minShared)
      .drop("__c")
  }

  /** Cut duplicated spans OUT of documents -- the exact-substring dedup
    * REMEDY from the training-data literature (remove the span, keep
    * the document). For every span pair from [[substringDupSpans]] the
    * HIGHER-id side is cut (keep-first, the semantic-dedup convention):
    * tokens [b_start, b_start + window) drop, overlapping cut windows
    * merge naturally, and the surviving tokens reassemble in order.
    * Returns one row per input doc: (idCol, n_tokens, kept_tokens,
    * clean_text) -- [[lineDedup]]'s reassembly contract; clean_text is
    * over the NORMALIZED (lowercased, alnum-run) tokens, the same
    * stream the fingerprints hashed.
    *
    * Scale shape: cut starts aggregate to one array per AFFECTED doc
    * (bounded by that doc's distinct windows) and join back on the id;
    * the cut itself is one compiled map-side pass over (text, starts).
    * Unaffected docs ride the left join with a null starts array.
    */
  def cutDupSpans(df: DataFrame, idCol: String, textCol: String,
      spans: DataFrame, window: Int): DataFrame = {
    require(window > 0)
    val cuts = spans.select(col("id_b").as("id"), col("b_start").as("__s"))
      .distinct()
      .groupBy("id").agg(sort_array(collect_list(col("__s"))).as("__starts"))
    // null text keeps its row: no tokens, nothing to cut
    val cutUdf = udf((text: String, starts: Seq[Long]) => {
      val toks = TextAnalysis.alnumTokens(text)
      val ss = if (starts == null) Array.empty[Long] else starts.toArray
      val keep = toks.indices.filter(i =>
        !ss.exists(s => i >= s && i < s + window))
      (toks.length, keep.length, keep.map(toks).mkString(" "))
    })
    df.select(col(idCol).as("id"), col(textCol).as("__t"))
      .join(cuts, Seq("id"), "left")
      .withColumn("__r", cutUdf(col("__t"), col("__starts")))
      .select(col("id").as(idCol),
        col("__r._1").cast("long").as("n_tokens"),
        col("__r._2").cast("long").as("kept_tokens"),
        col("__r._3").as("clean_text"))
  }

  /** Containment near-dup pairs: |W_a n W_b| / |W_a| (and the b-side
    * fraction) over distinct rolling-window fingerprints. The ASYMMETRIC
    * companion to Jaccard dedup: a short document quoted inside a long
    * one has low Jaccard but containment ~1 on the short side -- the
    * quote/subset case every serious dedup pipeline handles separately.
    * Candidate generation is the same shared-window equi-join as
    * [[substringDupPairs]]; per-doc window counts attach by a narrow
    * (id, count) join. Integer-count divisions, floored to micros.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      window: Int = 12, minMicros: Long = 500000,
      maxDocFreq: Int = 1000): DataFrame = {
    // scoped-persisted: FOUR consumers (sizes, hot count, two join sides).
    val wf = graft.core.Caches.scoped(
      df.select(col(idCol).as("id"),
        explode(distinctWindowFingerprintBytesUdf(window)(col(textCol)))
          .as("wh")))
    // Denominators stay UNCAPPED (a doc's full distinct-window count):
    // capping only the shared-window numerator UNDER-estimates
    // containment for boilerplate-heavy docs -- conservative, never a
    // false positive from the cap.
    val sizes = wf.groupBy("id").agg(count(lit(1)).as("nw"))
    val capped = dropHotFingerprints(wf, maxDocFreq)
    val shared = capped.as("l").join(capped.as("r"),
        col("l.wh") === col("r.wh") && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .agg(count(lit(1)).as("shared_windows"))
    shared
      .join(sizes.select(col("id").as("id_a"), col("nw").as("nw_a")),
        Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("nw").as("nw_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("shared_windows"),
        floor(col("shared_windows").cast("double") * 1000000.0 /
          col("nw_a").cast("double")).cast("long").as("containment_a_micro"),
        floor(col("shared_windows").cast("double") * 1000000.0 /
          col("nw_b").cast("double")).cast("long").as("containment_b_micro"))
      .where(greatest(col("containment_a_micro"),
        col("containment_b_micro")) >= minMicros)
  }

  /** Connected components over a near-dup pair list: (id, cluster_id)
    * with cluster_id = the MIN id reachable through any chain of pairs.
    * This is the step that turns pairwise similarity into DEDUP GROUPS --
    * near-duplication is not transitive, so A~B and B~C must land A, B,
    * C in one cluster with one survivor even when A~C was never emitted.
    *
    * Algorithm: min-label propagation with POINTER JUMPING. Each round
    * (a) relaxes every node's label to the min of its neighbors' labels
    * (one shuffle join on the edge list), then (b) replaces each label by
    * its label's label (one self-join) -- path halving, so a chain of
    * length d converges in O(log d) rounds rather than O(d). Both steps
    * are key-partitioned equi-joins; nothing ever collects the graph to
    * the driver, and each round's frame is persisted so the convergence
    * count and the next round share one evaluation. This is the
    * MapReduce-CC shape from public literature (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond"); the driver only
    * runs the O(log d) loop and a scalar changed-count per round.
    *
    * Only ids that appear in `pairs` are returned (singletons are their
    * own cluster by definition; callers join survivors back to the
    * corpus with a left_anti on clustered non-canonical ids).
    */
  /** Rounds the last connectedComponents call took to converge --
    * observable evidence of the O(log diameter) bound (bench dumps it
    * with the other engine metrics).
    */
  val ccRounds: graft.core.Metrics.Gauge = graft.core.Metrics.default.gauge(
    "graft_cc_convergence_rounds",
    "Rounds the last connected-components run took to converge")

  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 25): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // The pair generator feeding CC (minhash shingle->sign->band->verify)
    // is usually the most expensive subtree in the whole job, and the
    // symmetrize union below references it TWICE -- unpersisted, both
    // union branches would re-execute the full generator DAG. Persist +
    // materialize the projected pairs first so the generator runs once.
    val half = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .persist(MEMORY_AND_DISK)
    half.count()
    // persisted PRE-PARTITIONED on dst, the relax join's key: the edge
    // list is read once per round, and InMemoryRelation keeps the
    // partitioning, so no round re-shuffles the edges -- only the small
    // labels frame moves each iteration.
    val edges = half
      .union(half.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("dst"))
      .persist(MEMORY_AND_DISK)
    // label(v) = min(v, neighbors(v)) -- every node appears as src of
    // some edge because the edge list is symmetric.
    var labels = edges.groupBy(col("src").as("id"))
      .agg(least(min(col("dst")), first(col("src"))).as("label"))
      .persist(MEMORY_AND_DISK)
    var changed = 1L
    var iters = 0
    while (changed > 0 && iters < maxIters) {
      // (a) relax: min over neighbor labels, via labels attached to dst.
      val nbr = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("label")).as("nl"))
      val relaxed = labels.join(nbr, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
      // (b) pointer jump: label := label(label). A label that is not a
      // node id (already a root) keeps itself.
      val jumped0 = relaxed.as("x")
        .join(relaxed.select(col("id").as("label"),
          col("label").as("ll")).as("y"), Seq("label"), "left")
        .select(col("id"), coalesce(col("ll"), col("label")).as("label"))
      // TRUNCATE the logical lineage every round (the bpeTrainBatched
      // checkpoint pattern): without this the label frame's plan nests
      // ~8 joins per iteration, and EVERY later action — the next
      // round, the convergence count, and every downstream consumer of
      // the returned clusters — re-runs Catalyst analysis+optimization
      // over the whole accumulated history. Measured on a 10k-doc /
      // 100k-pair corpus: each post-CC action cost ~10 s of pure
      // driver-side re-planning (recounting an already-cached result
      // took 10.2 s); the loop itself compounded the same cost per
      // round. createDataFrame over the persisted RDD keeps full
      // fault-tolerance (the RDD's own lineage survives) while the
      // plan becomes a leaf.
      val spark = jumped0.sparkSession
      val jumped = spark.createDataFrame(
        jumped0.rdd, jumped0.schema).persist(MEMORY_AND_DISK)
      changed = jumped.join(labels.withColumnRenamed("label", "old"), Seq("id"))
        .where(col("label") =!= col("old")).count()
      labels.unpersist()
      labels = jumped
      iters += 1
    }
    half.unpersist()
    edges.unpersist()
    ccRounds.set(iters.toDouble)
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds")
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Survivors after near-dup clustering: the corpus minus every
    * clustered id that is not its cluster's canonical (min) member.
    * Composition of [[connectedComponents]] over any pair generator.
    */
  def nearDupSurvivors(df: DataFrame, idCol: String,
      clusters: DataFrame): DataFrame = {
    val losers = clusters.where(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Near-dup survivors keeping the BEST member of each cluster by
    * `scoreCol` (quality score, length, recency — whatever the
    * curation policy ranks by) instead of [[nearDupSurvivors]]'
    * arbitrary min-id canonical: real dedup should keep the best copy,
    * not a hash-ordering accident. Ties break on the id ascending, so
    * the winner is total-ordered and engine-independent.
    *
    * Scale shape: clusters is (id, cluster_id) from
    * [[connectedComponents]]; the winner per cluster comes from one
    * max_by-shaped aggregation over (cluster_id) — rows per group =
    * cluster size, no window over the corpus — then a semi-join keeps
    * winners plus every unclustered document.
    */
  def nearDupSurvivorsBy(df: DataFrame, idCol: String, scoreCol: String,
      clusters: DataFrame): DataFrame = {
    val scored = clusters
      .join(df.select(col(idCol).as("id"), col(scoreCol).as("__s")),
        Seq("id"))
    // winner = max (__s, then MIN id on ties) in ONE aggregation:
    // min_by over the orderable struct (-score, id) — the minimum is
    // the largest score, ties resolved by the smallest id, for any
    // orderable id type. (The previous two-stage max+min-at-max shape
    // re-joined the scored frame against its own aggregate: one extra
    // join + exchange per call, and a cluster whose every score was
    // NULL got no winner at all — `__s === max(null)` is null — so the
    // whole cluster was silently deleted.) Scores are compared as
    // doubles (exact for |score| < 2^53); a NULL score coalesces to
    // -infinity = "worst", so an all-null cluster still keeps its
    // min-id member rather than vanishing.
    val winners = scored.groupBy("cluster_id")
      .agg(min_by(col("id"), struct(
        (lit(0d) - coalesce(col("__s").cast("double"),
          lit(Double.NegativeInfinity))).as("neg_score"),
        col("id").as("id"))).as(idCol))
      .select(idCol)
    val losers = clusters.select(col("id").as(idCol))
      .join(winners, Seq(idCol), "left_anti")
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Dedup observability report: one row summarizing a clustering —
    * corpus size, how many docs sit in any cluster, cluster count,
    * largest cluster, docs removed by min-id dedup, and the removal
    * ratio in integer micros (what a pipeline dashboards after every
    * dedup stage; the reference has no analog). All exact integer
    * aggregates over the (id, cluster_id) frame — one pass, no window.
    */
  def dedupReport(df: DataFrame, idCol: String,
      clusters: DataFrame): DataFrame = {
    val nDocs = df.select(col(idCol)).distinct().count()
    val sizes = clusters.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
    sizes.agg(
      lit(nDocs).as("n_docs"),
      coalesce(sum(col("sz")), lit(0L)).as("n_clustered"),
      count(lit(1)).as("n_clusters"),
      coalesce(max(col("sz")), lit(0L)).as("max_cluster"),
      coalesce(sum(col("sz") - 1), lit(0L)).as("n_removed"))
      .withColumn("removed_ratio_micro",
        floor(col("n_removed") * lit(1000000L) /
          greatest(col("n_docs"), lit(1L))).cast("long"))
  }

  /** Line-level dedup with reassembly (the CCNet / RefinedWeb paragraph
    * filter): split each document into non-overlapping `window`-token
    * lines, drop every line whose exact content occurs in more than
    * max(1, maxDocFrac * corpus) DISTINCT documents (cross-document
    * boilerplate -- headers, navigation, license blurbs), and reassemble
    * the surviving lines in original order.
    *
    * Returns (idCol, n_lines, kept_lines, clean_text); documents whose
    * every line is boilerplate keep a row with kept_lines = 0 and
    * clean_text = ''.
    *
    * Scale shape: the over-represented hash set is the corpus's heavy
    * hitters -- tiny by definition -- so it BROADCASTS into a left_anti
    * join and the document text itself never rides a shuffle: the wide
    * stages are a 16-byte-hash groupBy (count distinct docs per line)
    * and the per-document reassembly groupBy on the id. The line subtree
    * is deliberately computed twice (once under the heavy-hitter agg,
    * once under the anti-join) -- two narrow scans beat persisting an
    * exploded 100 TB corpus.
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
      window: Int, maxDocFrac: Double): DataFrame = {
    require(window > 0 && maxDocFrac > 0)
    val lines = df.select(col(idCol).as("id"),
      posexplode(bind(tokens(col(textCol))) { t =>
        when(size(t) === 0, array().cast("array<string>"))
          .otherwise(transform(
            sequence(lit(0),
              ceil(size(t).cast("double") / window).cast("int") - 1),
            i => concat_ws(" ", slice(t, i * window + 1, lit(window)))))
      }).as(Seq("line_idx", "line")))
      .withColumn("lh", md5(col("line")))
    val nDocs = df.select(count(lit(1)).as("n_docs"))
    // nd > max(1, frac*N): the fraction keeps the threshold meaningful
    // across corpus sizes, the floor of 1 keeps tiny corpora from
    // dropping every line.
    val heavy = lines.groupBy("lh")
      .agg(countDistinct(col("id")).as("nd"))
      .crossJoin(broadcast(nDocs))
      .where(col("nd").cast("double") >
        greatest(lit(1.0), lit(maxDocFrac) * col("n_docs").cast("double")))
      .select("lh")
    val rebuilt = lines.join(broadcast(heavy), Seq("lh"), "left_anti")
      .groupBy("id")
      .agg(count(lit(1)).as("kept_lines"),
        array_join(transform(
          array_sort(collect_list(struct(col("line_idx"), col("line")))),
          s => s.getField("line")), " ").as("clean_text"))
    df.select(col(idCol).as("id"),
        bind(tokens(col(textCol))) { t =>
          greatest(ceil(size(t).cast("double") / window).cast("int"), lit(0))
        }.as("n_lines"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_lines"),
        coalesce(col("kept_lines"), lit(0L)).as("kept_lines"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Incremental (cross-snapshot) dedup: flag each document of a NEW
    * batch that duplicates the existing reference corpus -- `dup_exact`
    * (byte-identical text already present) and `dup_near` (MinHash-band
    * candidate verified at shingle-Jaccard >= threshold). The filter for
    * ingest-time dedup is `!dup_exact && !dup_near`; the flags frame
    * keeps the gate (and operational audits) richer than a survivor
    * list.
    *
    * Scale shape: the new batch is typically orders of magnitude smaller
    * than the at-rest corpus, and NOTHING here depends on that ratio
    * being small: exact matching is an equi-join on 16-byte content
    * hashes; near matching generates candidates by the same banded-LSH
    * bucket join as [[minhashPairs]] (new x ref within a band bucket
    * only), then verifies exact Jaccard on the candidate pairs. No side
    * is ever broadcast unconditionally -- AQE picks broadcast when the
    * new batch's band keys are small enough.
    *
    * `maxRefBandPop` caps the REFERENCE side per band key (default 256,
    * deterministic md5(id) pick): a hot band in the at-rest corpus —
    * thousands of retained near-identical pages sharing a signature —
    * would otherwise multiply every colliding new doc by the family
    * size in the candidate join. Detection only needs ONE verified
    * match, so keeping `cap` family representatives per band preserves
    * it; the residual miss (all kept members verify below threshold
    * while a dropped one would not) is the same one-sided trade as
    * [[minhashPairs]]' sub-split cap, retried across every band.
    */
  def incrementalDedupFlags(newDf: DataFrame, refDf: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3, k: Int = 8,
      bandRows: Int = 4, threshold: Double = 0.8,
      maxRefBandPop: Int = DefaultHotCap): DataFrame = {
    val refHashes = refDf.select(md5(col(textCol)).as("__h")).distinct()
    val exactIds = newDf
      .select(col(idCol).as("id"), md5(col(textCol)).as("__h"))
      .join(refHashes, Seq("__h"), "left_semi")
      .select(col("id"))
    val newBands = minhashBandKeys(newDf, idCol, textCol, shingleN, k,
      bandRows)
    val refBands0 = minhashBandKeys(refDf, idCol, textCol, shingleN, k,
      bandRows)
    val refBands = if (maxRefBandPop == Int.MaxValue) refBands0 else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("band", "band_hash")
        .orderBy(md5(col("id").cast("string")).asc, col("id").asc)
      refBands0.withColumn("__rn", row_number().over(w))
        .where(col("__rn") <= maxRefBandPop)
        .drop("__rn")
    }
    val candidates = newBands.as("l")
      .join(refBands.as("r"),
        col("l.band") === col("r.band") &&
          col("l.band_hash") === col("r.band_hash"))
      .select(col("l.id").as("id"), col("r.id").as("ref_id"))
      .dropDuplicates("id", "ref_id")
    def shingleSide(df: DataFrame, out: String): DataFrame =
      df.select(col(idCol).as(out),
        distinctShinglesUdf(shingleN)(col(textCol))
          .as(s"__sh_$out"))
    val nearIds = candidates
      .join(shingleSide(newDf, "id"), Seq("id"))
      .join(shingleSide(refDf, "ref_id"), Seq("ref_id"))
      .where(graft.functions.JaccardSimilarity(col("__sh_id"),
        col("__sh_ref_id")) >= threshold)
      .select(col("id")).distinct()
    newDf.select(col(idCol).as("id"))
      .join(exactIds.withColumn("__e", lit(true)), Seq("id"), "left")
      .join(nearIds.withColumn("__n", lit(true)), Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("__e"), lit(false)).as("dup_exact"),
        coalesce(col("__n"), lit(false)).as("dup_near"))
  }

  /** One winnowing-selected fingerprint: 0-based k-gram start position
    * and the k-gram's md5 hex.
    */
  case class WinnowFp(p: Long, h: String)

  /** Per-document winnowing result: the k-gram hash count and the
    * selected fingerprints in ascending-position order.
    */
  case class WinnowDoc(n_kgrams: Long, fps: Seq[WinnowFp])

  /** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    * SIGMOD 2003 -- the MOSS scheme): hash every k-token gram, slide a
    * window of w consecutive hashes, and in each window select the
    * MINIMUM hash, rightmost occurrence on ties; the distinct selected
    * (position, hash) set is the document's fingerprint sample. The
    * guarantee: any shared token run of length >= k + w - 1 between two
    * documents yields at least one shared SELECTED fingerprint, at an
    * expected density of only 2/(w+1) of the full k-gram stream -- so
    * downstream fingerprint self-joins ([[substringDupPairs]]-style)
    * shuffle ~2/(w+1) of the volume for a known detection floor.
    *
    * Docs with fewer than k tokens contribute one whole-doc hash (the
    * short-doc arm of [[windowHexes]]); when fewer than w hashes exist
    * the window shrinks to the hash count (one global window), so every
    * non-null doc keeps >= 1 fingerprint. Null text has none
    * (n_kgrams = 0, empty fps).
    *
    * Scale shape: winnowing is a per-document LINEAR SCAN -- this runs
    * it inside one compiled UDF (the repo's standard for md5-heavy
    * per-token loops; an exploded windows/groupBy formulation would
    * shuffle w x 16 B per k-gram for work that never crosses document
    * boundaries). Zero shuffle: the operator is embarrassingly parallel
    * over input partitions; only the ~2/(w+1)-dense output rides any
    * downstream join. Selections are non-decreasing in position as the
    * window slides, so the scan dedupes against the last selection only.
    *
    * Returns (idCol, n_kgrams, fps: array<struct<p,h>>) with fps in
    * ascending-p order.
    */
  def winnowedFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
    val winnowUdf = udf((text: String) =>
      if (text == null) WinnowDoc(0L, Seq.empty)
      else {
        // k-gram hashes via the joined-buffer core (byte-identical; the
        // short-doc branch is windowHexes' own `n < window` path)
        val hs = windowHexes(TextAnalysis.alnumTokens(text), k)
        val weff = math.min(w, hs.length)
        val sel = scala.collection.mutable.ArrayBuffer.empty[WinnowFp]
        var q = 0
        while (q <= hs.length - weff) {
          var best = q
          var j = q + 1
          while (j < q + weff) {
            if (hs(j) <= hs(best)) best = j // rightmost min on ties
            j += 1
          }
          if (sel.isEmpty || sel.last.p != best.toLong)
            sel += WinnowFp(best.toLong, hs(best))
          q += 1
        }
        WinnowDoc(hs.length.toLong, sel.toSeq)
      })
    df.select(col(idCol), winnowUdf(col(textCol)).as("__w"))
      .select(col(idCol), col("__w.n_kgrams").as("n_kgrams"),
        col("__w.fps").as("fps"))
  }

  /** Duplicate-candidate pairs over the WINNOWED fingerprint sample:
    * docs sharing >= minShared selected fingerprint hashes. Same join
    * shape as [[substringDupPairs]] but the fingerprint stream entering
    * the shuffle is the ~2/(w+1)-dense winnowing selection instead of
    * every k-gram -- the scheme's guarantee (a shared token run of
    * length >= k + w - 1 always yields a shared SELECTED hash) makes
    * minShared = 1 a sound detection floor rather than a sampling
    * accident. The [[dropHotFingerprints]] boilerplate cap applies
    * unchanged: a hash is keyed identically however it was selected.
    */
  def winnowedDupPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, minShared: Int = 1,
      maxDocFreq: Int = 1000): DataFrame = {
    // array_distinct BEFORE the explode: per-doc hash dedup is map-side
    // (a doc can select one hash at several positions), so no
    // distinct() shuffle ever sees the fingerprint stream.
    val fp = graft.core.Caches.scoped(
      winnowedFingerprints(df, idCol, textCol, k, w)
        .select(col(idCol).as("id"),
          explode(array_distinct(col("fps.h"))).as("wh")))
    val capped = dropHotFingerprints(fp, maxDocFreq)
    capped.as("l").join(capped.as("r"),
        col("l.wh") === col("r.wh") && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .where(col("shared_fps") >= minShared)
  }
}
