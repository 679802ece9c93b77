package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.llmops.{Ann, Dedup, Multimodal, TextAnalysis}
import graft.ReferenceKernels._

class LlmOpsSpec extends SparkSpec {

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val embeddings = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("tokens/shingles/jaccard basics") {
    import spark.implicits._
    val df = Seq("The quick brown fox; the quick brown dog").toDF("t")
    val row = df.select(tokens(col("t")).as("tk"),
      shingles(tokens(col("t")), 3).as("sh")).head()
    assert(row.getSeq[String](0) ==
      Seq("the", "quick", "brown", "fox", "the", "quick", "brown", "dog"))
    assert(row.getSeq[String](1).head == "the quick brown")
    assert(row.getSeq[String](1).length == 6)
  }

  test("urlCanonCol: variants of one page collapse; identity-bearing " +
    "differences survive") {
    import spark.implicits._
    def canon(u: String): String =
      Seq(u).toDF("u")
        .select(graft.llmops.Web.urlCanonCol(col("u"))).head().getString(0)
    val base = canon("https://site.com/p/x?a=1&b=2")
    // case, www., default port, param order, tracking params, trailing
    // slash, fragment: all presentation, not identity
    assert(canon("HTTPS://WWW.Site.COM:443/p/x/?b=2&utm_source=t&a=1#f")
      === base)
    assert(canon("https://site.com/p/x?fbclid=zz&a=1&b=2") === base)
    assert(base === "https://site.com/p/x?a=1&b=2")
    // identity-bearing differences survive
    assert(canon("https://site.com/p/x?a=1&b=3") !== base)      // value
    assert(canon("https://site.com/p/X?a=1&b=2") !== base)      // path case
    assert(canon("https://site.com:8443/p/x?a=1&b=2") !== base) // real port
    assert(canon("http://site.com/p/x?a=1&b=2") !== base)       // scheme
    // ref= is tracking; prefix_ref= is not (anchored key match)
    assert(canon("https://s.com/?ref=tw") === canon("https://s.com/"))
    assert(canon("https://s.com/?xref=tw") !== canon("https://s.com/"))
    // http default port strips; "/" path == ""
    assert(canon("http://s.com:80/") === canon("http://s.com"))
    // garbage never throws, canonicalizes to ""
    assert(canon("not a url") === "")
    assert(canon("") === "")
  }

  test("urlDedupFlags: variants mark dups against the smallest id; " +
    "unparseable URLs never do") {
    import spark.implicits._
    val df = Seq(
      (1L, "https://site.com/p/x?a=1"),
      (2L, "HTTPS://WWW.site.com/p/x/?a=1&utm_source=t"), // dup of 1
      (3L, "https://site.com/p/y?a=1"),                   // different page
      (4L, "garbage"),
      (5L, "garbage")                                     // both unparseable
    ).toDF("doc_id", "url")
    val got = graft.llmops.Web.urlDedupFlags(df, "doc_id", "url")
      .select("doc_id", "url_is_dup").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got === Map(1L -> false, 2L -> true, 3L -> false,
      4L -> false, 5L -> false))
  }

  test("JaccardSimilarity codegen expression == jaccardUdf on random sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def arr(): Seq[String] =
      Seq.fill(rnd.nextInt(12))(s"tok${rnd.nextInt(8)}") // dup-heavy
    val rows = Seq.fill(200)((arr(), arr())) ++ Seq(
      (Seq.empty[String], Seq.empty[String]),        // empty union -> 0.0
      (Seq("a"), Seq.empty[String]),
      (Seq("a", "a", "b"), Seq("b", "b", "a")),      // dup collapse
      (Seq("ü", "héllo"), Seq("ü", "wörld")))        // non-ASCII
    val df = rows.toDF("a", "b")
    val got = df.select(
      graft.functions.JaccardSimilarity(col("a"), col("b")).as("e"),
      jaccardUdf(col("a"), col("b")).as("u")).collect()
    got.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
    // interpreted path (eval, not codegen) agrees too
    val e = graft.functions.JaccardSimilarity(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq("x", "y"), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq("y", "z"), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)))
    assert(e.eval(null) === (1.0 / 3.0))
    // null input -> null (BinaryExpression null-safety)
    assert(df.limit(1).select(graft.functions.JaccardSimilarity(
      lit(null).cast("array<string>"), col("b"))).head().isNullAt(0))
  }

  test("dropPiiDense: density cut is exact; null/empty text kept") {
    import spark.implicits._
    val df = Seq(
      ("clean", "a" * 1000),                                  // 0/1000 keep
      ("edge", ("x" * 960) + " u@a.io 10.0.0.1 12345678"),    // 3 in ~985
      ("dense", "u@a.io 10.0.0.1 12345678 u2@a.io"),          // 4 in ~35
      ("empty", ""),
      ("nul", null: String)).toDF("id", "t")
    val kept = graft.functions.TextFunctions
      .dropPiiDense(df, "t", maxPerKiloChars = 5)
      .select("id").collect().map(_.getString(0)).toSet
    assert(kept.contains("clean") && kept.contains("edge"))
    assert(!kept.contains("dense"))
    assert(kept.contains("empty") && kept.contains("nul"))
    // counts: email local part with >=7 digits would ALSO match the
    // digit-run rule only if word-bounded; '@' breaks \b, documented
    val n = df.where(col("id") === "dense").select(
      piiTotal(col("t"))).head().getLong(0)
    assert(n === 4L)
  }

  test("exact dedup keeps canonical min id") {
    import spark.implicits._
    val df = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa")).toDF("id", "text")
    val groups = Dedup.exactGroups(df, "id", "text")
    assert(groups.count() == 2)
    assert(groups.where("dup_count = 2").select("canonical_id")
      .head().getLong(0) == 1L)
    assert(Dedup.exactDedup(df, "id", "text").count() == 2)
  }

  test("minhash LSH finds shuffled near-dup, skips unrelated") {
    import spark.implicits._
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val b = a + " nu" // tiny tail change: high shingle overlap
    val c = "one two three four five six seven eight nine ten eleven twelve"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("id", "text")
    val pairs = Dedup.minhashPairs(df, "id", "text", threshold = 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("connected components: chains close transitively, components stay apart") {
    import spark.implicits._
    // component {1..5} as a pure chain (diameter 4, exercises pointer
    // jumping), component {10,11}, and a lone pair {20,21}.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (20L, 21L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
    // min id wins regardless of edge direction / order
    val rev = Seq((5L, 1L), (9L, 3L)).toDF("id_a", "id_b")
    val got2 = Dedup.connectedComponents(pairs.union(rev), "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(got2(9L) == 1L && got2(5L) == 1L)
    // empty edge list -> empty clustering
    assert(Dedup.connectedComponents(
      pairs.where(lit(false)), "id_a", "id_b").count() == 0)
  }

  test("connected components: randomized graphs match a union-find oracle") {
    import spark.implicits._
    // Deterministic randomized adversary: random edge sets (including
    // long chains that force multiple pointer-jump rounds) checked
    // against a driver-side union-find -- an independent O(n a(n))
    // re-derivation of the same closure.
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 10 + rnd.nextInt(15)
      val chain = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))
      val extra = Seq.fill(rnd.nextInt(12))(
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter { case (a, b) => a != b }
      val edges = if (trial == 1) chain else extra // trial 1: pure chain
      if (edges.nonEmpty) {
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expected = parent.keys.map(k => k -> find(k)).toMap
        val got = Dedup.connectedComponents(
          edges.toDF("id_a", "id_b"), "id_a", "id_b")
          .as[(Long, Long)].collect().toMap
        assert(got == expected, s"trial $trial: $edges")
      }
    }
  }

  test("nearDupSurvivorsBy keeps the best-scored member, min-id on ties") {
    import spark.implicits._
    // clusters: {1,2,3} and {7,8}; 5 unclustered
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("id", "cluster_id")
    val docs = Seq(
      (1L, 10L), (2L, 99L), (3L, 99L), // 2 and 3 tie at 99 -> keep 2
      (7L, 5L), (8L, 50L),             // keep 8 (not min id!)
      (5L, 1L)                         // unclustered always kept
    ).toDF("doc_id", "score")
    val kept = graft.llmops.Dedup
      .nearDupSurvivorsBy(docs, "doc_id", "score", clusters)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 8L, 5L))
  }

  test("nearDupSurvivorsBy: all-null-score clusters keep their min-id " +
    "member (regression: whole cluster silently deleted)") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (7L, 7L), (8L, 7L))
      .toDF("id", "cluster_id")
    val docs = Seq[(Long, Option[Long])](
      (1L, None), (2L, None),          // all-null cluster -> keep min id 1
      (7L, None), (8L, Some(3L)),      // scored member beats null -> 8
      (5L, None)                       // unclustered always kept
    ).toDF("doc_id", "score")
    val kept = graft.llmops.Dedup
      .nearDupSurvivorsBy(docs, "doc_id", "score", clusters)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 8L, 5L))
  }

  test("nearDupSurvivorsBy matches a brute-force argmax on randomized " +
    "clusterings (incl. null scores and docs outside any cluster)") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    (1 to 5).foreach { trial =>
      val n = 40
      val docs = (0L until n).map(id =>
        (id, if (rnd.nextInt(4) == 0) None else Some(rnd.nextInt(5).toLong)))
      val clusters = (0L until n).filter(_ => rnd.nextInt(3) > 0)
        .map(id => (id, id % 7)) // 7 clusters by residue
      val expected = {
        val byCluster = clusters.groupBy(_._2)
        val score = docs.toMap
        val losers = byCluster.values.flatMap { members =>
          val ids = members.map(_._1)
          // worst-for-null, then min id — the documented policy
          val win = ids.minBy(id =>
            (score(id).map(s => -s.toDouble)
              .getOrElse(Double.PositiveInfinity), id))
          ids.filterNot(_ == win)
        }.toSet
        (0L until n).filterNot(losers).toSet
      }
      val got = graft.llmops.Dedup.nearDupSurvivorsBy(
        docs.toDF("doc_id", "score"),
        "doc_id", "score", clusters.toDF("id", "cluster_id"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got === expected, s"trial $trial")
    }
  }

  test("nearDupSurvivorsBy is a one-pass argmax: exactly 3 joins in the " +
    "optimized plan (scored attach + two anti-joins, no agg re-join)") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L)).toDF("id", "cluster_id")
    val docs = Seq((1L, 10L), (2L, 99L)).toDF("doc_id", "score")
    val plan = graft.llmops.Dedup
      .nearDupSurvivorsBy(docs, "doc_id", "score", clusters)
      .queryExecution.optimizedPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.length === 3,
      s"expected 3 joins, got ${joins.length}:\n$plan")
  }

  test("dedupReport: exact one-row summary incl. the empty clustering") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L))
      .toDF("id", "cluster_id") // sizes 3 and 1; 5 unclustered
    val r = graft.llmops.Dedup.dedupReport(docs, "doc_id", clusters).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) === ((5L, 4L, 2L, 3L, 2L)))
    assert(r.getLong(5) === 400000L) // 2/5 removed
    val empty = graft.llmops.Dedup.dedupReport(docs, "doc_id",
      clusters.where(lit(false))).head()
    assert((empty.getLong(1), empty.getLong(2), empty.getLong(4),
      empty.getLong(5)) === ((0L, 0L, 0L, 0L)))
  }

  test("near-dup survivors: one canonical member per cluster, singletons kept") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 7L).toDF("id")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("id", "cluster_id")
    val kept = Dedup.nearDupSurvivors(docs, "id", clusters)
      .as[Long].collect().toSet
    // 2 is a non-canonical member of cluster 1; 3 is its own canonical;
    // 7 never appeared in a pair.
    assert(kept == Set(1L, 3L, 7L))
  }

  test("simhash: order-invariant (hamming 0 for shuffled doc), disjoint docs excluded") {
    import spark.implicits._
    val a = "red green blue yellow purple orange pink brown black white"
    val shuffled = a.split(" ").reverse.mkString(" ")
    val df = Seq((1L, a), (2L, shuffled),
      (3L, "cat dog mouse horse cow sheep goat hen duck pig"))
      .toDF("id", "text")
    val pairs = Dedup.simhashPairs(df, "id", "text", bits = 64,
      maxHamming = 3).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L &&
      r.getInt(2) == 0))
    assert(!pairs.exists(r => r.getLong(1) == 3L || r.getLong(0) == 3L))
  }

  test("ngram jaccard pairs on real docs stay under control") {
    val pairs = Dedup.ngramJaccardPairs(docs.limit(50), "doc_id", "text",
      threshold = 0.2)
    pairs.collect().foreach { r =>
      assert(r.getDouble(2) >= 0.2 && r.getDouble(2) <= 1.0)
    }
  }

  test("brute-force ANN: top-1 of a row's own vector is itself") {
    val q = embeddings.where("vec_id = 7")
      .select(col("embedding").cast("array<double>")).head()
      .getSeq[Double](0)
    val top = Ann.bruteForceTopK(embeddings, "vec_id", "embedding", q, 3)
      .collect()
    assert(top.head.getLong(0) == 7L)
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
    assert(top.head.getDouble(1) >= top(1).getDouble(1))
  }

  test("IVF ANN: query's own cell contains the exact match") {
    val q = embeddings.where("vec_id = 7")
      .select(col("embedding").cast("array<double>")).head()
      .getSeq[Double](0)
    val top = Ann.ivfTopK(embeddings, "vec_id", "embedding", q, 3, bits = 4)
      .collect()
    assert(top.head.getLong(0) == 7L)
  }

  test("knnJoin yields k neighbors per left row within cells") {
    val knn = Ann.knnJoin(embeddings.limit(40), embeddings.limit(40),
      "vec_id", "embedding", k = 2, planes = 2)
    val counts = knn.groupBy("lid").count().collect()
    assert(counts.nonEmpty)
    counts.foreach(r => assert(r.getLong(1) <= 2))
  }

  test("knnJoin hot-cell cap bounds mega-cluster candidates") {
    import spark.implicits._
    // 60 identical vectors land in ONE hyperplane cell no matter how
    // many planes (the web-boilerplate shape that defeats LSH); 3
    // opposite-sign vectors form a healthy cell.
    val hot = (1L to 60L).map(i => (i, Seq(1.0, 0.0, 0.0, 0.0)))
    val cold = (100L to 102L).map(i => (i, Seq(-1.0, 0.0, 0.0, 0.0)))
    val df = (hot ++ cold).toDF("vec_id", "embedding")
    // cap = 10 -> hot cell (pop 60) sub-splits into ceil(60/10) = 6
    // md5(id)-mod-6 sub-buckets; cold cell (pop 3) keeps sub = 0.
    val knn = Ann.knnJoin(df, df, "vec_id", "embedding", k = 2,
      planes = 4, maxCellPop = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val perLid = knn.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perLid.values.forall(_ <= 2))
    // every hot-cell edge stays inside one md5 sub-bucket: the join
    // never compared rows across sub-buckets, so per-left candidate
    // count is bounded by the sub population (~cap), not the cell's 60
    knn.filter(_._1 <= 60L).foreach { case (lid, rid) =>
      assert(subBucketOf(lid, 6) == subBucketOf(rid, 6),
        s"edge ($lid,$rid) crosses sub-buckets")
    }
    // cold cell is under the cap: uncapped all-pairs semantics intact
    assert(knn.count { case (l, r) => l >= 100L && r >= 100L } == 6)
  }

  test("langId deterministic and stable on documents") {
    val out = TextAnalysis.withLangId(docs.limit(20), "text")
      .select("lang_pred").distinct().collect().map(_.getString(0))
    assert(out.forall(Set("de", "en", "es", "fr", "zh", "und").contains))
  }

  test("quality features: ratios bounded, score in [0,1]") {
    val out = TextAnalysis.withQuality(docs.limit(50), "text").collect()
    out.foreach { r =>
      val s = r.getAs[Double]("quality_score")
      assert(s >= 0.0 && s <= 1.0)
      assert(r.getAs[Double]("alpha_ratio") <= 1.0)
    }
  }

  test("withQuality (compiled single-pass counts) is bit-identical " +
    "to the expression form on corpus + adversarial rows") {
    import spark.implicits._
    // the old column-expression form (qualityFeatures + qualityScore,
    // the ReferenceKernels parity reference) vs the r19
    // single-pass UDF rewrite — every feature AND the float score must
    // match bit-for-bit, including unicode, empty, whitespace-only,
    // and null rows
    val weird = Seq(
      (9000001L, ""), (9000002L, "   \t\n "),
      (9000003L, "ÜBER Straße 42!!! ΣΟΦΙΑ"),
      (9000004L, "the and of to 12345 ++--** the"),
      (9000005L, "😀 emoji 𝔘ni code 99"),
      (9000006L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val base = docs.select(col("doc_id"), col("text")).limit(200)
      .unionByName(weird)
    val cols = Seq("n_chars", "n_tokens", "mean_token_len",
      "alpha_ratio", "digit_ratio", "punct_ratio", "stopword_ratio",
      "quality_score")
    val neu = TextAnalysis.withQuality(base, "text")
      .orderBy("doc_id").select("doc_id", cols: _*).collect()
    val old = {
      val feats = qualityFeatures(col("text"))
      feats.foldLeft(base) { case (acc, (n, c)) => acc.withColumn(n, c) }
        .withColumn("quality_score", qualityScore(col("text")))
    }.orderBy("doc_id").select("doc_id", cols: _*).collect()
    assert(neu.toSeq == old.toSeq)
  }

  test("compiled scan family (langid/tokcounts/fingerprint/gopher) " +
    "is bit-identical to the expression forms") {
    import spark.implicits._
    val weird = Seq(
      (9000001L, ""), (9000002L, "   \t\n "),
      (9000003L, "ÜBER Straße 42!!! ΣΟΦΙΑ der die und ist"),
      (9000004L, "the and of to 12345 ++--** the le la les de et"),
      (9000005L, "😀 emoji 𝔘ni code 99 el la de que y en"),
      (9000006L, null.asInstanceOf[String]),
      (9000007L, "one"), (9000008L, "a b a b a b a b a b"))
      .toDF("doc_id", "text")
    val base = docs.select(col("doc_id"), col("text")).limit(200)
      .unionByName(weird)

    // tokenizer: the shared compiled walk vs the regex-split column
    val tokUdf = udf((s: String) =>
      if (s == null) None else Some(TextAnalysis.alnumTokens(s).toSeq))
    val tokRows = base.select(tokens(col("text")).as("a"),
      tokUdf(col("text")).as("b")).collect()
    tokRows.foreach(r => assert(r.get(0) == r.get(1)))

    // langId: compiled vs expression argmax
    val lidRows = base.select(langId(col("text")).as("a"),
      TextAnalysis.langIdUdf(col("text")).as("b")).collect()
    lidRows.foreach(r => assert(r.get(0) == r.get(1)))

    // token counts: compiled pair vs the two regex columns
    val tcRows = base.select(
      whitespaceTokenCount(col("text")).as("a1"),
      bpeishTokenCount(col("text")).as("a2"),
      TextAnalysis.tokenCountsUdf(col("text")).as("b")).collect()
    tcRows.foreach { r =>
      val b = Option(r.getStruct(2))
      assert(r.get(0) == b.map(_.get(0)).orNull)
      assert(r.get(1) == b.map(_.get(1)).orNull)
    }

    // fingerprint: compiled md5 vs the column chain (null -> md5(""))
    val fpRows = base.select(fingerprint(col("text")).as("a"),
      TextAnalysis.fingerprintUdf(col("text")).as("b")).collect()
    fpRows.foreach(r => assert(r.get(0) == r.get(1)))

    // classifier: compiled weight-table pass vs the per-token
    // expression chain
    val clfRows = base.select(
      hashedWeightSum(tokens(col("text")), 64, "clf").as("a1"),
      size(tokens(col("text"))).as("a2"),
      TextAnalysis.classifierCountsUdf(64, "clf")(col("text")).as("b"))
      .collect()
    clfRows.foreach { r =>
      val b = Option(r.getStruct(2))
      assert(r.get(0) == b.map(_.get(0)).orNull)
      // size(null) is -1 under the legacy default; the struct is null
      // for null text — both mean "no tokens", asserted via sum only
      if (b.nonEmpty) assert(r.get(1) == b.get.get(1))
    }

    // gopher rules: compiled counts vs the original HOF expression
    val stopArr = array(qualityStopwords.map(lit): _*)
    val oldG = bind(tokens(col("text"))) { toks =>
      val n = size(toks).cast("long")
      val sumLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
      val stops = size(filter(toks, t => array_contains(stopArr, t)))
      val uniq = size(array_distinct(toks)).cast("long")
      struct(n, (n >= 50 && n <= 100000).as("rl"),
        (n > 0 && lit(3L) * n <= sumLen && sumLen <= lit(10L) * n)
          .as("rm"),
        (stops >= 2).as("rs"),
        (n > 0 && lit(1000L) * uniq >= lit(300L) * n).as("rr"))
    }
    val gNew = TextAnalysis.gopherRules(base, "text")
      .select("doc_id", "n_tokens", "rule_len", "rule_mean",
        "rule_stop", "rule_rep").orderBy("doc_id").collect()
    val gOld = base.withColumn("g", oldG)
      .select(col("doc_id"), col("g.*")).orderBy("doc_id").collect()
    assert(gNew.map(_.toSeq).toSeq == gOld.map(_.toSeq).toSeq)
  }

  test("compiled PII kernels (redactPiiUdf / piiTotalUdf) equal the " +
    "regexp-chain forms (same java.util.regex engine, one transcode)") {
    import spark.implicits._
    val weird = Seq(
      (9200001L, ""), (9200002L, null.asInstanceOf[String]),
      (9200003L, "mail a.b+c@x-y.co.uk or bad@@x..y and 10.0.0.254"),
      (9200004L, "digits 123456 1234567 12345678901234567890 end"),
      (9200005L, "ip 999.1.1.1 mixed ünicode@exämple.com 1.2.3.4"),
      (9200006L, "a@b.co 1.1.1.1 1234567 a@b.co 1.1.1.1 1234567"))
      .toDF("doc_id", "text")
    val base = docs.select(col("doc_id"), col("text")).limit(200)
      .unionByName(weird)
    val rows = base.select(
      redactPii(col("text")).as("a"), redactPiiUdf(col("text")).as("b"),
      piiTotal(coalesce(col("text"), lit(""))).as("c"),
      piiTotalUdf(col("text")).as("d")).collect()
    rows.foreach { r =>
      assert(r.get(0) == r.get(1), s"redact diverged: ${r.get(0)} vs ${r.get(1)}")
      assert(r.get(2) == r.get(3), s"count diverged: ${r.get(2)} vs ${r.get(3)}")
    }
  }

  test("compiled c4LineClean is value-identical to the HOF expression " +
    "form on corpus + adversarial rows") {
    import spark.implicits._
    val weird = Seq(
      (9100001L, ""), (9100002L, "   \t\n "),
      (9100003L, "A fine line with six words here.\nshort.\n" +
        "this line mentions JavaScript libraries quite a lot.\n" +
        "Ends with bang and has enough words in it!\n" +
        "  padded line with plenty of words ends right.  \n" +
        "no terminal punctuation on this long enough line"),
      (9100004L, "Lorem Ipsum dolor sit amet line one ends here.\n" +
        "Another perfectly good long line ends with a period."),
      (9100005L, "Good long line one two three four five six.\n" +
        "But a { brace } kills the document despite kept lines."),
      (9100006L, null.asInstanceOf[String]),
      (9100007L, "Üni code line with enough wörds ends properly.\n" +
        "second ünicode line also long enough to keep it.\ntail"),
      (9100008L, "crlf line with enough words should fail here.\r\n" +
        "tab\tseparated words count as separate words right here."),
      (9100009L, "ends with quote and has the word count.\"\n\n\n"),
      (9100010L, "temp 300K line with enough words ends now."))
      .toDF("doc_id", "text")
    val base = docs.select(col("doc_id"), col("text")).limit(200)
      .unionByName(weird)
    val cols = Seq("n_lines", "kept_lines", "clean_text", "c4_keep")
    for ((mlw, mkl) <- Seq((5, 3), (3, 1))) {
      val neu = graft.llmops.Web.c4LineClean(base, "doc_id", "text",
        mlw, mkl).orderBy("doc_id").select("doc_id", cols: _*).collect()
      val old = c4LineCleanExpr(base, "doc_id", "text",
        mlw, mkl).orderBy("doc_id").select("doc_id", cols: _*).collect()
      assert(neu.map(_.toSeq).toSeq == old.map(_.toSeq).toSeq,
        s"c4 parity broke at (minLineWords=$mlw, minKeptLines=$mkl)")
    }
  }

  test("native UTF8String kernels (MinhashBandKeys / QualityCountsExpr) " +
    "are value-identical to the retained UDFs, incl. the unicode " +
    "slow-path traps") {
    import spark.implicits._
    val weird = Seq(
      (9000001L, ""), (9000002L, "   \t\n "),
      (9000003L, "ÜBER Straße 42!!! ΣΟΦΙΑ der die und ist"),
      (9000004L, "the and of to 12345 ++--** the le la les de et"),
      (9000005L, "😀 emoji 𝔘ni code 99 el la de que y en"),
      (9000006L, null.asInstanceOf[String]),
      // Kelvin sign U+212A lowercases to ASCII 'k': the ONE class of
      // input where a naive byte-walk would tokenize differently from
      // String.toLowerCase — must take the slow path and still match
      (9000007L, "temp 300K rising the and"),
      (9000008L, "UPPER Case MiXeD the of 007"),
      (9000009L, "one two"), (9000010L, "a"))
      .toDF("doc_id", "text")
    val base = docs.select(col("doc_id"), col("text")).limit(200)
      .unionByName(weird)

    // band keys: native expression vs the parity-reference UDF (null
    // text -> empty array in BOTH)
    for ((n, k, br) <- Seq((3, 32, 4), (2, 8, 2))) {
      val rows = base.select(
        graft.functions.MinhashBandKeys(col("text"), n, k, br).as("a"),
        coalesce(bandKeysUdf(n, k, br)(col("text")),
          array().cast("array<string>")).as("b")).collect()
      rows.foreach(r => assert(r.get(0) == r.get(1),
        s"band keys diverged at (n=$n,k=$k,br=$br): ${r.get(0)} vs ${r.get(1)}"))
    }

    // quality counts: native expression vs the UDF struct (null text ->
    // null struct in both)
    val qcRows = base.select(
      graft.functions.QualityCountsExpr(col("text")).as("a"),
      qualityCountsUdf(col("text")).as("b")).collect()
    qcRows.foreach { r =>
      val a = Option(r.getStruct(0)).map(_.toSeq)
      val b = Option(r.getStruct(1)).map(_.toSeq)
      assert(a == b, s"quality counts diverged: $a vs $b")
    }
  }

  test("token counts: bpeish >= ws tokens on plain text") {
    val out = TextAnalysis.withTokenCounts(docs.limit(50), "text").collect()
    out.foreach { r =>
      assert(r.getAs[Int]("bpeish_tokens") >= r.getAs[Int]("ws_tokens"))
    }
  }

  test("repetition signals: repeated spans score high, varied text low") {
    import spark.implicits._
    val df = Seq(
      (1L, "spam spam spam spam spam spam"),           // one token repeated
      (2L, "go stop go stop go stop go stop"),          // one bigram dominates
      (3L, "alpha beta gamma delta epsilon zeta eta"))  // all distinct
      .toDF("doc_id", "text")
    val out = TextAnalysis.withRepetition(df, "text")
      .select("doc_id", "top_token_frac", "top_bigram_frac",
        "dup_trigram_frac")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    // 6x same token; 4 trigram slots, 1 distinct -> dup 3/4
    assert(out(1L) == ((1.0, 1.0, 0.75)))
    assert(out(2L)._1 == 0.5)                      // 'go' 4 of 8
    assert(out(2L)._2 == 4.0 / 7.0)                // 'go stop' 4 of 7
    assert(out(2L)._3 == 4.0 / 6.0)                // 6 slots, 2 distinct
    assert(out(3L) == ((1.0 / 7.0, 1.0 / 6.0, 0.0))) // nothing repeats
    // empty doc: all zeros, no div-by-zero
    val z = TextAnalysis.withRepetition(Seq((9L, "")).toDF("doc_id", "text"),
      "text").select("top_token_frac", "top_bigram_frac", "dup_trigram_frac")
      .head()
    assert(z.getDouble(0) == 0.0 && z.getDouble(1) == 0.0 &&
      z.getDouble(2) == 0.0)
  }

  test("substring dup pairs: shared token spans found, unrelated docs not") {
    import spark.implicits._
    val span = (1 to 15).map(i => s"tok$i").mkString(" ")
    val df = Seq(
      (1L, s"intro words $span trailing one"),
      (2L, s"different lead in text $span and more"),
      (3L, "completely unrelated content with its own words here entirely"))
      .toDF("doc_id", "text")
    val pairs = Dedup.substringDupPairs(df, "doc_id", "text",
      window = 12, minShared = 2).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    // a 15-token shared span yields 4 shared 12-token windows
    assert(pairs.head.getLong(2) == 4L)
  }

  test("semantic dedup flags smaller-id near-duplicates within clusters") {
    import spark.implicits._
    // 1 and 5 nearly parallel (same cluster, cos ~ 0.99995); 9 opposite
    val df = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (5L, Seq(0.999, 0.01, 0.0, 0.0)),
      (9L, Seq(-1.0, 0.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val cents = Array(Array(1.0, 0.0, 0.0, 0.0), Array(-1.0, 0.0, 0.0, 0.0))
    val out = graft.llmops.Dedup.semanticDupFlags(df, "vec_id", "embedding",
      cents, thresholdMicro = 990000L)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(out == Map(1L -> false, 5L -> true, 9L -> false))
  }

  test("semantic dedup hot-cell cap bounds mega-cluster pair blowup") {
    import spark.implicits._
    // 40 identical embeddings = one degenerate mega-cluster (the
    // web-scale boilerplate shape), plus a 3-doc healthy cell.
    val hot = (1L to 40L).map(i => (i, Seq(1.0, 0.0, 0.0, 0.0)))
    val cold = (100L to 102L).map(i => (i, Seq(0.0, 1.0, 0.0, 0.0)))
    val df = (hot ++ cold).toDF("vec_id", "embedding")
    val cents = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0))
    // cap = 8 -> the hot cell (pop 40) sub-splits into ceil(40/8) = 5
    // md5-keyed sub-buckets; the cold cell (pop 3) keeps sub = 0.
    val keyed = Dedup.semanticKeyed(df, "vec_id", "embedding", cents,
      maxCellPop = 8)
    val subs = keyed.groupBy("cell", "__sub").count()
      .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2)))
    val hotSubs = subs.filter(_._1._1 == 0)
    assert(hotSubs.map(_._2).sum == 40L)
    assert(hotSubs.forall { case ((_, s), _) => s >= 0 && s < 5 })
    // candidate volume: sum n_i*(n_i-1)/2 over (cell, sub) groups must
    // sit far below the uncapped 40*39/2 = 780 -- the bound the cap buys
    val candidates = subs.map { case (_, n) => n * (n - 1) / 2 }.sum
    assert(candidates < 250,
      s"capped candidates $candidates ~ quadratic (uncapped = 780+3)")
    // semantics under the cap: identical vectors, so within each
    // non-empty sub-bucket exactly the min-id doc is unflagged
    val flags = Dedup.semanticDupFlags(df, "vec_id", "embedding", cents,
      thresholdMicro = 990000L, maxCellPop = 8)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(flags.size == 43)
    val unflaggedHot = flags.filter { case (id, f) => id <= 40 && !f }.keys
    assert(unflaggedHot.size == hotSubs.length,
      "one survivor per non-empty sub-bucket")
    assert(flags(100L) == false && flags(101L) && flags(102L))
    // uncapped control: the mega-cluster welds to a single survivor
    val un = Dedup.semanticDupFlags(df, "vec_id", "embedding", cents,
      thresholdMicro = 990000L)
      .collect().count(r => r.getLong(0) <= 40 && !r.getBoolean(2))
    assert(un == 1)
  }

  test("vector operators accept a null embedding: no flag, no edge, " +
    "no pair") {
    import spark.implicits._
    // 1, 2 and 3 identical (one cell, over the cap of 2 -> the hot-cell
    // sub-split runs); 4 alone in the opposite cell; 5 is null
    val df = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(1.0, 0.0, 0.0, 0.0)),
      (3L, Seq(1.0, 0.0, 0.0, 0.0)),
      (4L, Seq(-1.0, 0.0, 0.0, 0.0)),
      (5L, null)).toDF("vec_id", "embedding")
    val cents = Array(Array(1.0, 0.0, 0.0, 0.0), Array(-1.0, 0.0, 0.0, 0.0))
    Seq(2, Int.MaxValue).foreach { cap =>
      val flags = Dedup.semanticDupFlags(df, "vec_id", "embedding", cents,
        thresholdMicro = 990000L, maxCellPop = cap).collect()
        .map(r => r.getLong(0) -> r).toMap
      assert(flags.keySet == Set(1L, 2L, 3L, 4L, 5L), s"cap $cap")
      assert(flags(5L).isNullAt(1) && !flags(5L).getBoolean(2), s"cap $cap")
      assert(!flags(1L).getBoolean(2) && !flags(4L).getBoolean(2))
    }
    val knn = Ann.knnJoin(df, df, "vec_id", "embedding", k = 2, planes = 4,
      maxCellPop = 2).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(knn.nonEmpty)
    assert(!knn.exists { case (l, r) => l == 5L || r == 5L })
    Seq(8, 0).foreach { planes =>
      val pairs = Dedup.embeddingPairs(df, "vec_id", "embedding",
        threshold = -1.0, planes = planes).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.nonEmpty, s"planes $planes")
      assert(!pairs.exists { case (a, b) => a == 5L || b == 5L },
        s"planes $planes")
    }
  }

  test("image header parser: real PNG/GIF/BMP/JPEG layouts, safe on junk") {
    def bytes(hex: String): Array[Byte] =
      hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // PNG 640x480: sig + IHDR, big-endian u32 dims
    assert(Multimodal.imageHeaderMeta(bytes(
      "89504E470D0A1A0A0000000D49484452" + "00000280" + "000001E0" +
        "0806000000")) == ("png", 640, 480))
    // GIF89a 320x200: little-endian u16 dims
    assert(Multimodal.imageHeaderMeta(bytes(
      "474946383961" + "4001" + "C800" + "F70000")) == ("gif", 320, 200))
    // BMP 800x600 (LE i32; negative height = top-down -> abs)
    assert(Multimodal.imageHeaderMeta(bytes(
      "424D" + "0" * 24 + "28000000" + "20030000" + "58020000" + "0100"))
      == ("bmp", 800, 600))
    assert(Multimodal.imageHeaderMeta(bytes(
      "424D" + "0" * 24 + "28000000" + "20030000" + "A8FDFFFF" + "0100"))
      == ("bmp", 800, 600))
    // JPEG: SOI + APP0 (skipped via its length) + SOF0 240x320
    //   SOF0 payload: len=0011, precision 08, height 0140, width 00F0
    assert(Multimodal.imageHeaderMeta(bytes(
      "FFD8" + "FFE0" + "0010" + "4A46494600010100000100010000" +
        "FFC0" + "0011" + "08" + "0140" + "00F0" +
        "03012200021101031101")) == ("jpeg", 240, 320))
    // TIFF little-endian, LONG dims: II 42, IFD@8, 2 entries
    assert(Multimodal.imageHeaderMeta(bytes(
      "49492A00" + "08000000" + "0200" +
        "0001" + "0400" + "01000000" + "80020000" + // 256 LONG 640
        "0101" + "0400" + "01000000" + "E0010000" + // 257 LONG 480
        "00000000")) == ("tiff", 640, 480))
    // TIFF big-endian, SHORT dims packed in the value field's first
    // two bytes (MM byte order)
    assert(Multimodal.imageHeaderMeta(bytes(
      "4D4D002A" + "00000008" + "0002" +
        "0100" + "0003" + "00000001" + "01400000" + // 256 SHORT 320
        "0101" + "0003" + "00000001" + "00C80000" + // 257 SHORT 200
        "00000000")) == ("tiff", 320, 200))
    // truncated TIFF (IFD offset past the payload) never throws
    assert(Multimodal.imageHeaderMeta(bytes("49492A00" + "FF000000")) ==
      ("tiff", -1, -1))
    // junk / truncated / empty never throw
    assert(Multimodal.imageHeaderMeta(Array[Byte]()) == ("unknown", -1, -1))
    assert(Multimodal.imageHeaderMeta(bytes("DEADBEEF")) ==
      ("unknown", -1, -1))
    assert(Multimodal.imageHeaderMeta(bytes("FFD8FFFE")) == ("jpeg", -1, -1))
    // and the DataFrame form attaches the parse per row
    import spark.implicits._
    val df = Seq((1L, "89504E470D0A1A0A0000000D49484452" + "00000280" +
      "000001E0" + "0806000000")).toDF("id", "hx")
      .select(col("id"), unhex(col("hx")).as("payload"))
    val out = Multimodal.withImageHeaderMeta(df, "payload")
      .select("img_format", "img_width", "img_height").head()
    assert(out.getString(0) == "png" && out.getInt(1) == 640 &&
      out.getInt(2) == 480)
  }

  test("url parts + registered domain: suffix-aware, garbage-safe") {
    import spark.implicits._
    import graft.llmops.Web
    val df = Seq(
      (1L, "https://a.b.co.uk/x/y?q=1#f"),
      (2L, "http://WWW.Example.COM/p"),
      (3L, "ftp://files.example.org"),        // no path
      (4L, "not a url at all"),               // garbage -> empty parts
      (5L, "https://localhost/x")             // single-label host
    ).toDF("id", "url")
    val out = Web.withRegisteredDomain(
      Web.withUrlParts(df, "url"), "url_host")
      .select("id", "url_scheme", "url_host", "url_path", "domain")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
      .toMap
    assert(out(1L) == (("https", "a.b.co.uk", "/x/y", "b.co.uk")))
    assert(out(2L) == (("http", "www.example.com", "/p", "example.com")))
    assert(out(3L) == (("ftp", "files.example.org", "", "example.org")))
    assert(out(4L) == (("", "", "", "")))
    assert(out(5L) == (("https", "localhost", "/x", "localhost")))
    // blocklist drops by REGISTERED domain, not full host
    val hosts = Seq((1L, "a.b.co.uk"), (2L, "www.example.com"),
      (3L, "sub.example.com"), (4L, "other.org"))
      .toDF("id", "host")
    val kept = Web.blocklistFilter(hosts, "host", Seq("example.com"))
      .select("id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 4L))
    // per-domain counts aggregate over the registered domain
    val counts = Web.domainCounts(hosts, "host")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("b.co.uk" -> 1L, "example.com" -> 2L,
      "other.org" -> 1L))
    // quota caps per registered domain, deterministically by md5(id)
    val many = (1L to 30L).map(i => (i, "x.example.com"))
      .toDF("id", "host")
    val capped = Web.domainQuota(many, "host", "id", n = 5)
      .select("id").as[Long].collect()
    assert(capped.length == 5)
    val expect = (1L to 30L).sortBy(i =>
      (java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString, i)).take(5).toSet
    assert(capped.toSet == expect)
  }

  test("sitemap parsing: urlset/sitemapindex, CDATA, entities, " +
    "truncation, garbage tolerance") {
    import graft.llmops.Web
    val urlset = """<?xml version="1.0"?>
      <urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
        <url><loc>https://a.com/p?x=1&amp;y=2</loc>
             <lastmod>2024-03-01</lastmod></url>
        <url><loc><![CDATA[https://a.com/cdata]]></loc></url>
        <url><priority>0.5</priority></url>
        <url><loc>https://a.com/torn</url0"""
    val e = Web.sitemapEntries(urlset)
    assert(e === Vector(
      Web.SitemapEntry("https://a.com/p?x=1&y=2", "2024-03-01", false),
      Web.SitemapEntry("https://a.com/cdata", null, false)))
    val index = """<sitemapindex>
      <sitemap><loc> https://a.com/s1.xml </loc>
        <lastmod>2024-01-02</lastmod></sitemap>
      <sitemap><loc>https://a.com/s2.xml</loc></sitemap>
      </sitemapindex>"""
    assert(Web.sitemapEntries(index) === Vector(
      Web.SitemapEntry("https://a.com/s1.xml", "2024-01-02", true),
      Web.SitemapEntry("https://a.com/s2.xml", null, true)))
    assert(Web.sitemapEntries(null) === Vector.empty)
    assert(Web.sitemapEntries("not xml at all") === Vector.empty)
    assert(Web.sitemapEntries("<urlset><url><loc></loc></url></urlset>")
      === Vector.empty) // empty loc skipped
    // standard entity-decode ordering: &amp; decodes LAST, so a
    // doubly-escaped '&amp;lt;' yields the literal '&lt;', never '<'
    val dbl = Web.sitemapEntries(
      "<urlset><url><loc>https://a.com/p?q=&amp;lt;tag&amp;gt;</loc>" +
        "</url></urlset>")
    assert(dbl.head.loc === "https://a.com/p?q=&lt;tag&gt;")
  }

  test("public-suffix list: rule kinds, precedence, no-registrable " +
    "hosts, and the quota key shift") {
    import spark.implicits._
    import graft.llmops.Web
    val psl = Web.parsePsl(
      "// comment\ncom\nio\ngithub.io\nsg\ncom.sg\n*.ck\n!www.ck\n" +
        "jp\n*.kawasaki.jp\n!city.kawasaki.jp\nuk\nco.uk   trailing note\n")
    def rd(h: String) = Option(Web.registeredDomainPsl(psl, h))
    assert(rd("a.github.io") === Some("a.github.io")) // private registry
    assert(rd("x.y.com.sg") === Some("y.com.sg"))
    assert(rd("w.example.ck") === Some("w.example.ck")) // wildcard
    assert(rd("sub.www.ck") === Some("www.ck")) // exception
    // *.kawasaki.jp makes b.kawasaki.jp itself a public suffix, so the
    // registrable name is one label deeper
    assert(rd("a.b.kawasaki.jp") === Some("a.b.kawasaki.jp"))
    assert(rd("b.kawasaki.jp") === None) // IS a public suffix
    assert(rd("x.city.kawasaki.jp") === Some("city.kawasaki.jp")) // deep exc
    assert(rd("b.example.com") === Some("example.com"))
    assert(rd("deep.a.b.co.uk") === Some("b.co.uk"))
    assert(rd("github.io") === None) // IS a public suffix
    assert(rd("unknowntld") === None) // bare label under default rule
    assert(rd("x.unknowntld") === Some("x.unknowntld")) // default '*'
    assert(rd("UPPER.Example.COM.") === Some("example.com")) // case+dot
    assert(rd("a..b.com") === None) // garbage
    assert(rd(null) === None)
    // the quota key shifts: under the heuristic all github.io sites
    // share ONE quota bucket; under the PSL each site is its own domain
    val docs = (1L to 8L).map(i => (i, s"site$i.github.io"))
      .toDF("id", "host")
    val heurKept = Web.domainQuota(docs, "host", "id", n = 2).count()
    val pslKept = Web.domainQuota(docs, "host", "id", n = 2,
      psl = Some(psl)).count()
    assert(heurKept === 2L) // one bucket 'github.io'
    assert(pslKept === 8L) // eight distinct registered domains
  }

  test("link extraction: quote styles, case, fragment cut, non-links") {
    import spark.implicits._
    import graft.llmops.Web
    val df = Seq(
      (1L, "<a href=\"/x\">a</a><A HREF='/y#frag'>b</A>" +
        "<a class=\"z\" href = \"https://e.com/p?q=1\">c</a>"),
      (2L, "<a name=\"anchor\">no href</a><p>plain</p>"),
      (3L, null: String)).toDF("id", "html")
    val out = Web.withExtractedLinks(df, "html").orderBy("id")
      .select("links").collect()
    assert(out(0).getSeq[String](0) ===
      Seq("/x", "/y", "https://e.com/p?q=1"))
    assert(out(1).getSeq[String](0) === Seq.empty)
    assert(out(2).getSeq[String](0) === Seq.empty)
    // attribute-name boundary: data-href / xhref are NOT hrefs (a false
    // frontier edge per page compounds at crawl scale), while a real
    // href after other attrs still extracts
    val bdf = Seq(
      (1L, "<a data-href=\"/fake\">x</a>"),
      (2L, "<a data-href=\"/fake\" href=\"/real\">x</a>"),
      (3L, "<link xrel=canonical href=\"/f\">" +
        "<link data-href=\"/g\" rel=canonical>"))
      .toDF("id", "html")
    val bout = Web.withExtractedLinks(bdf, "html").orderBy("id")
      .select("links").collect()
    assert(bout(0).getSeq[String](0) === Seq.empty)
    assert(bout(1).getSeq[String](0) === Seq("/real"))
    val cdf = Web.withCanonicalUrl(
      bdf.withColumn("url", lit("https://ex.com/")), "url", "html")
      .orderBy("id").select("canonical_url").collect()
      .map(r => Option(r.getString(0)))
    assert(cdf.toSeq === Seq(None, None, None))
  }

  test("canonical url: both attr orders, relative resolution, " +
    "fragment cut, absent -> null") {
    import spark.implicits._
    import graft.llmops.Web
    val df = Seq(
      (1L, "https://ex.com/v/1",
        "<link rel=\"canonical\" href=\"/c/9\">"),
      (2L, "https://ex.com/v/2",
        "<link href='https://c.com/x' rel='canonical'>"),
      (3L, "https://ex.com/v/3", "<link rel=canonical href=\"/c#s\">"),
      (4L, "https://ex.com/v/4", "<link rel=\"stylesheet\" href=\"/s\">"),
      (5L, "https://ex.com/d/5", "<link rel=canonical href=\"up\">"),
      (6L, null: String, "<link rel=canonical href=\"/c\">"))
      .toDF("id", "url", "html")
    val out = Web.withCanonicalUrl(df, "url", "html").orderBy("id")
      .select("canonical_url").collect().map(r => Option(r.getString(0)))
    assert(out.toSeq === Seq(Some("https://ex.com/c/9"),
      Some("https://c.com/x"), Some("https://ex.com/c"), None,
      Some("https://ex.com/d/up"), None))
  }

  test("charset sniffing: header beats meta beats http-equiv; quotes " +
    "and case tolerated; none -> null") {
    import spark.implicits._
    import graft.llmops.Web
    val df = Seq(
      (1L, "text/html; charset=ISO-8859-1", "<meta charset='utf-8'>"),
      (2L, "text/html", "<META CHARSET=\"Windows-1251\">"),
      (3L, "text/html", "<meta http-equiv='Content-Type' " +
        "content='text/html; charset=Shift_JIS'>"),
      (4L, "text/html", "<body>nothing declared</body>"),
      (5L, "text/html;charset=utf-8", ""),
      (6L, null: String, null: String),
      // attribute boundary: data-charset is NOT a declaration; a
      // charset after earlier attributes IS
      (7L, "text/html", "<meta data-charset=\"koi8-r\">"),
      (8L, "text/html", "<meta id=\"enc\" charset=\"gbk\">"))
      .toDF("id", "ct", "html")
    val out = Web.withCharset(df, "ct", "html").orderBy("id")
      .select("charset").collect().map(r => Option(r.getString(0)))
    assert(out.toSeq === Seq(Some("iso-8859-1"), Some("windows-1251"),
      Some("shift_jis"), None, Some("utf-8"), None, None, Some("gbk")))
  }

  test("url resolution: the RFC 3986 section 5.4 golden vectors " +
    "(fragments dropped by policy)") {
    import graft.llmops.Web.resolveUrl
    val base = "http://a/b/c/d;p?q"
    val normal = Seq(
      "g:h" -> "g:h",
      "g" -> "http://a/b/c/g",
      "./g" -> "http://a/b/c/g",
      "g/" -> "http://a/b/c/g/",
      "/g" -> "http://a/g",
      "//g" -> "http://g",
      "?y" -> "http://a/b/c/d;p?y",
      "g?y" -> "http://a/b/c/g?y",
      // the RFC keeps fragments; frontier identity drops them
      "#s" -> "http://a/b/c/d;p?q",
      "g#s" -> "http://a/b/c/g",
      "g?y#s" -> "http://a/b/c/g?y",
      ";x" -> "http://a/b/c/;x",
      "g;x" -> "http://a/b/c/g;x",
      "g;x?y#s" -> "http://a/b/c/g;x?y",
      "" -> "http://a/b/c/d;p?q",
      "." -> "http://a/b/c/",
      "./" -> "http://a/b/c/",
      ".." -> "http://a/b/",
      "../" -> "http://a/b/",
      "../g" -> "http://a/b/g",
      "../.." -> "http://a/",
      "../../" -> "http://a/",
      "../../g" -> "http://a/g")
    val abnormal = Seq(
      "../../../g" -> "http://a/g",
      "../../../../g" -> "http://a/g",
      "/./g" -> "http://a/g",
      "/../g" -> "http://a/g",
      "g." -> "http://a/b/c/g.",
      ".g" -> "http://a/b/c/.g",
      "g.." -> "http://a/b/c/g..",
      "..g" -> "http://a/b/c/..g",
      "./../g" -> "http://a/b/g",
      "./g/." -> "http://a/b/c/g/",
      "g/./h" -> "http://a/b/c/g/h",
      "g/../h" -> "http://a/b/c/h",
      "g;x=1/./y" -> "http://a/b/c/g;x=1/y",
      "g;x=1/../y" -> "http://a/b/c/y")
    (normal ++ abnormal).foreach { case (ref, want) =>
      assert(resolveUrl(base, ref) === want, s"ref=$ref")
    }
    // authority with empty path; scheme-relative with path + query
    assert(resolveUrl("http://a?q", "g") === "http://a/g")
    assert(resolveUrl("https://h/x", "//o/p/../q?z") === "https://o/q?z")
    // absolute ref's own dot segments normalize; scheme lowercases
    assert(resolveUrl("http://a/", "HTTP://B/x/../y") === "http://B/y")
    // garbage contract
    assert(resolveUrl("not a url", "/x") === "")
    assert(resolveUrl(null, "/x") === "")
    assert(resolveUrl("http://a/", null) === "")
  }

  test("resolved links column: array map, empties dropped, null safe") {
    import spark.implicits._
    import graft.llmops.Web
    val df = Seq(
      (1L, "https://ex.com/dir/page", "<a href=\"one\">1</a>" +
        "<a href=\"/two\">2</a><a href=\"../three#f\">3</a>"),
      (2L, "garbage base", "<a href=\"/x\">x</a>"),
      (3L, "https://ex.com/", null: String)).toDF("id", "url", "html")
    val out = Web.withResolvedLinks(
      Web.withExtractedLinks(df, "html"), "url", "links")
      .orderBy("id").select("resolved_links").collect()
    assert(out(0).getSeq[String](0) === Seq("https://ex.com/dir/one",
      "https://ex.com/two", "https://ex.com/three"))
    assert(out(1).getSeq[String](0) === Seq.empty) // base garbage -> dropped
    assert(out(2).getSeq[String](0) === Seq.empty)
  }

  test("html text extraction: tags, script/style, entities, garbage") {
    import graft.llmops.Web.extractHtmlText
    assert(extractHtmlText(
      "<html><body><h1>Hi</h1><p>a <b>b</b> c</p></body></html>")
      == "Hi a b c")
    // script/style CONTENTS dropped, case-insensitive close tags;
    // dropped elements separate the surrounding words
    assert(extractHtmlText(
      "<STYLE>p{x}</STYLE>keep<script>var x='<p>no</p>';</SCRIPT>end")
      == "keep end")
    // entity decode + unknown passthrough + nbsp
    assert(extractHtmlText("a &amp; b &lt;c&gt; &quot;d&quot; " +
      "&#39;e&#39; f&nbsp;g &bogus; &stray h")
      == "a & b <c> \"d\" 'e' f g &bogus; &stray h")
    // whitespace collapse across newlines/tabs
    assert(extractHtmlText("<p>\n  one\t two\n</p>\n<p>three</p>")
      == "one two three")
    // comment CONTENTS skipped entirely -- the embedded '>' and the
    // commented-out markup must not leak, and the trailing '--' of the
    // closer must not surface
    assert(extractHtmlText(
      "a<!-- <p>dead nav</p> x > y --> b") == "a b")
    assert(extractHtmlText("a<!-- never closed <p>gone") == "a")
    // CDATA section contents skipped like comments
    assert(extractHtmlText("a<![CDATA[ raw <b> bytes ]]>b") == "a b")
    assert(extractHtmlText("a<![CDATA[ unterminated") == "a")
    // DOCTYPE is an ordinary one-'>' declaration
    assert(extractHtmlText("<!DOCTYPE html><p>x</p>") == "x")
    // truncated tag drops the malformed tail; unclosed script drops rest
    assert(extractHtmlText("ok <a href=") == "ok")
    assert(extractHtmlText("pre<script>never closed") == "pre")
    assert(extractHtmlText(null) == "")
    assert(extractHtmlText("") == "")
  }

  test("wav header parser: canonical RIFF layout, chunk walk, junk-safe") {
    def bytes(hex: String): Array[Byte] =
      hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // canonical 44100 Hz stereo 16-bit, 1000-byte data chunk:
    // RIFF size | WAVE | fmt(16) PCM ch=2 rate=AC44 byteRate blockAlign
    val canon = "52494646" + "0C040000" + "57415645" +
      "666D7420" + "10000000" + "0100" + "0200" + "44AC0000" +
      "10B10200" + "0400" + "1000" + "64617461" + "E8030000"
    assert(Multimodal.wavHeaderMeta(bytes(canon)) == ((2, 44100, 16, 1000L)))
    // a LIST chunk (odd size -> word-aligned skip) before fmt/data
    val listed = "52494646" + "FF000000" + "57415645" +
      "4C495354" + "05000000" + "494E464F41" + "00" + // LIST, 5 bytes + pad
      "666D7420" + "10000000" + "0100" + "0100" + "401F0000" +
      "803E0000" + "0200" + "1000" + "64617461" + "64000000"
    assert(Multimodal.wavHeaderMeta(bytes(listed)) == ((1, 8000, 16, 100L)))
    // junk / truncated / RIFF-but-not-WAVE never throw
    assert(Multimodal.wavHeaderMeta(Array[Byte]()) == ((-1, -1, -1, -1L)))
    assert(Multimodal.wavHeaderMeta(bytes("DEADBEEF")) ==
      ((-1, -1, -1, -1L)))
    assert(Multimodal.wavHeaderMeta(bytes(
      "52494646" + "04000000" + "41564920")) == ((-1, -1, -1, -1L)))
    // adversarial chunk sizes >= 2^31: 0xFFFFFFF7/F8 once made the Int
    // step zero (infinite loop) and 0x80000000 made it negative
    // (negative index) -- the walk must terminate with no throw
    for (sz <- Seq("F7FFFFFF", "F8FFFFFF", "00000080", "FFFFFFFF"))
      assert(Multimodal.wavHeaderMeta(bytes(
        "52494646" + "FF000000" + "57415645" + "4C495354" + sz + "0000"))
        == ((-1, -1, -1, -1L)), s"size $sz must bail, not loop/throw")
    // null payload (the most common crawl-column garbage)
    assert(Multimodal.wavHeaderMeta(null) == ((-1, -1, -1, -1L)))
    assert(Multimodal.imageHeaderMeta(null) == (("unknown", -1, -1)))
    // DataFrame form attaches the parse per row
    import spark.implicits._
    val df = Seq((1L, canon)).toDF("id", "hx")
      .select(col("id"), unhex(col("hx")).as("payload"))
    val out = Multimodal.withWavHeaderMeta(df, "payload")
      .select("wav_channels", "wav_sample_rate", "wav_bits", "wav_data_len")
      .head()
    assert(out.getInt(0) == 2 && out.getInt(1) == 44100 &&
      out.getInt(2) == 16 && out.getLong(3) == 1000L)
  }

  test("simhash hot-bucket cap: capped pairs are a subset of uncapped") {
    import spark.implicits._
    // shared-vocab corpus (every doc drawn from 6 tokens) -> short-hash
    // band collisions everywhere; the cap's recall loss must be
    // ONE-SIDED: it can only drop pairs, never invent or rescore one.
    val toks = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val df = (1L to 60L).map { i =>
      (i, (0 until 12).map(j => toks(((i * 7 + j * 5) % 6).toInt))
        .mkString(" "))
    }.toDF("doc_id", "text")
    def run(cap: Int) = Dedup.simhashPairs(df, "doc_id", "text",
      bits = 16, bandBits = 4, maxHamming = 3, maxBucketPop = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val uncapped = run(Int.MaxValue)
    val capped = run(8)
    assert(capped.subsetOf(uncapped),
      s"cap invented pairs: ${(capped -- uncapped).take(3)}")
    assert(capped.size < uncapped.size,
      "cap=8 on 60 colliding docs must actually drop candidates")
    // hamming values of surviving pairs are identical to uncapped's
    val byPair = uncapped.map(t => (t._1, t._2) -> t._3).toMap
    capped.foreach { case (a, b, h) => assert(byPair((a, b)) == h) }
  }

  test("minhashPairs: a BARE caller inherits the hot-bucket cap (r18 " +
    "library default) — pair volume bounded, never inflated") {
    import spark.implicits._
    // 600 identical documents: every band bucket has pop 600 > 256, the
    // exact boilerplate pile that killed the uncapped 2M CLI run in r17.
    // With the library default the bucket sub-splits ceil(600/256)=3
    // ways, so distinct pairs ~= 3*C(200,2) ~= 60k, not C(600,2)=179,700.
    val df = (1L to 600L)
      .map(i => (i, "common boilerplate navigation footer text block"))
      .toDF("id", "text")
    val n = Dedup.minhashPairs(df, "id", "text",
      shingleN = 3, k = 8, bandRows = 4, threshold = 0.8).count()
    assert(n > 0, "capped buckets must still produce within-sub pairs")
    assert(n < 100000L,
      s"bare caller produced $n pairs — the default cap is not applied")
    // explicit opt-out still yields the full quadratic set
    val un = Dedup.minhashPairs(df, "id", "text",
      shingleN = 3, k = 8, bandRows = 4, threshold = 0.8,
      maxBandPop = Int.MaxValue).count()
    assert(un == 600L * 599L / 2L)
  }

  test("wav header roundtrip property: build -> parse inverts for any params") {
    val rnd = new scala.util.Random(42)
    def le16(v: Int) = f"$v%04X".grouped(2).toSeq.reverse.mkString
    def le32(v: Long) = f"$v%08X".grouped(2).toSeq.reverse.mkString
    (1 to 200).foreach { _ =>
      val ch = 1 + rnd.nextInt(8)
      val rate = 1 + rnd.nextInt(200000)
      val bits = 8 * (1 + rnd.nextInt(4))
      val dataLen = rnd.nextInt(10000000).toLong
      val block = ch * bits / 8
      val hex = "52494646" + le32(36 + dataLen) + "57415645" +
        "666D7420" + "10000000" + "0100" + le16(ch) + le32(rate) +
        le32(rate.toLong * block) + le16(block) + le16(bits) +
        "64617461" + le32(dataLen)
      val bytes = hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      assert(Multimodal.wavHeaderMeta(bytes) == ((ch, rate, bits, dataLen)),
        s"roundtrip failed for ch=$ch rate=$rate bits=$bits len=$dataLen")
    }
  }

  test("hot-fingerprint cap bounds boilerplate pair blowup; spans localize") {
    import spark.implicits._
    // one 12-token boilerplate span in ALL 40 docs (license-header
    // analog), one genuine 15-token dup span in docs 1 and 2 only.
    val boiler = (1 to 12).map(i => s"b$i").mkString(" ")
    val span = (1 to 15).map(i => s"tok$i").mkString(" ")
    val df = (1L to 40L).map { i =>
      val own = (1 to 12).map(j => s"own${i}x$j").mkString(" ")
      val dup = if (i <= 2) s" $span" else ""
      (i, s"$boiler $own$dup")
    }.toDF("doc_id", "text")
    // uncapped: the hot span alone welds every doc pair -- 40*39/2
    // candidate pairs, the quadratic blowup the cap exists to stop
    assert(Dedup.substringDupPairs(df, "doc_id", "text", window = 12,
      minShared = 1, maxDocFreq = 1000).count() == 780L)
    // cap below the boilerplate doc-frequency: only the genuine pair
    val pairs = Dedup.substringDupPairs(df, "doc_id", "text", window = 12,
      minShared = 2, maxDocFreq = 10).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(pairs.head.getLong(2) == 4L) // 15-token span -> 4 shared windows
    // span localization: both docs are boiler(12)+own(12)+span, so the 4
    // shared windows start at token 24..27 on both sides
    val spans = Dedup.substringDupSpans(df, "doc_id", "text", window = 12,
      minShared = 2, maxDocFreq = 10).collect()
    assert(spans.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(spans.map(r => (r.getLong(2), r.getLong(3))).toSet ==
      Set((24L, 24L), (25L, 25L), (26L, 26L), (27L, 27L)))
    // containment: hot-only pairs (e.g. 3-4) vanish; the genuine pair
    // keeps its UNCAPPED denominator (28 distinct windows, 4 cold shared
    // -> 142857 micro)
    val cont = Dedup.containmentPairs(df, "doc_id", "text", window = 12,
      minMicros = 100000, maxDocFreq = 10).collect()
    assert(cont.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(cont.head.getLong(3) == 142857L)
  }

  test("pii redaction: emails, IPs, digit runs; short numbers survive") {
    import spark.implicits._
    val out = Seq(
      "mail bob.smith+x@sub.example.org now",
      "server at 192.168.0.1 port 8080",
      "call 5551234567 or ext 12345",
      "clean text with nothing to hide")
      .toDF("t")
      .select(redactPii(col("t")))
      .as[String].collect()
    assert(out(0) == "mail <EMAIL> now")
    assert(out(1) == "server at <IP> port 8080") // 8080 too short for <NUM>
    assert(out(2) == "call <NUM> or ext 12345") // 5-digit ext survives
    assert(out(3) == "clean text with nothing to hide")
  }

  test("span cut removes the duplicated span from the higher-id doc only") {
    import spark.implicits._
    val span = (1 to 15).map(i => s"tok$i").mkString(" ")
    val df = Seq(
      (1L, s"oneaa onebb onecc onedd oneee onef oneg oneh onei onej onek onel $span"),
      (2L, s"twoaa twobb twocc twodd twoee twof twog twoh twoi twoj twok twol $span"),
      (3L, "completely unrelated words that stand entirely on their own here"))
      .toDF("doc_id", "text")
    val spans = graft.llmops.Dedup.substringDupSpans(df, "doc_id", "text",
      window = 12, minShared = 2)
    val out = graft.llmops.Dedup.cutDupSpans(df, "doc_id", "text", spans,
      window = 12)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1 is the keep-first side: untouched (27 tokens)
    assert(out(1L) == ((27L, 27L,
      s"oneaa onebb onecc onedd oneee onef oneg oneh onei onej onek onel $span")))
    // doc 2 loses the 4 shared windows' union = tokens 12..26 (the span)
    assert(out(2L)._1 == 27L && out(2L)._2 == 12L)
    assert(out(2L)._3 ==
      "twoaa twobb twocc twodd twoee twof twog twoh twoi twoj twok twol")
    // untouched doc keeps everything
    assert(out(3L)._1 == out(3L)._2)
  }

  test("collocations: repeated adjacent pair outranks common-word pairs") {
    import spark.implicits._
    // "new york" always adjacent (lift high); "the" pairs with many
    // different successors (lift low); "rare pair" appears once (cut by
    // minCount).
    val docs = (1 to 6).map(i =>
      s"the cat in new york saw the dog in new york near gate$i") ++
      Seq("the alpha the beta the gamma the delta", "rare pair")
    val out = TextAnalysis.collocations(docs.toDF("text"), "text",
      minCount = 2, k = 10).collect()
    val byBigram = out.map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(byBigram.contains("new york"))
    assert(!byBigram.keySet.exists(_.startsWith("rare")))
    val theIn = out.filter(_.getString(0).startsWith("the "))
      .map(_.getLong(4))
    assert(theIn.forall(_ < byBigram("new york")))
    // counts are exact: "new york" occurs 12 times across 6 docs
    val ny = out.find(_.getString(0) == "new york").get
    assert(ny.getLong(1) == 12L)
  }

  test("fingerprint is word-order invariant") {
    import spark.implicits._
    val df = Seq(("a", "one two three"), ("b", "three two one two"))
      .toDF("id", "text")
    val fps = TextAnalysis.withFingerprint(df, "text")
      .select("fingerprint").collect().map(_.getString(0))
    assert(fps(0) == fps(1))
  }

  test("multimodal: media meta stub attaches deterministic schema") {
    import spark.implicits._
    val df = Seq(("a", "somebytes"), ("b", "other")).toDF("id", "payload")
      .withColumn("media", col("payload").cast("binary"))
    val out = Multimodal.withMediaMeta(df, "media")
    val row = out.where("id = 'a'").select("byte_len", "content_md5",
      "format", "width", "height").head()
    assert(row.getInt(0) == 9)
    assert(row.getString(1).length == 32)
    assert(row.getInt(3) >= 16 && row.getInt(4) >= 16)
    // deterministic across runs
    val row2 = Multimodal.withMediaMeta(df, "media").where("id = 'a'")
      .select("width").head()
    assert(row2.getInt(0) == row.getInt(3))
  }

  test("multimodal: resize identity + batched features are deterministic") {
    import spark.implicits._
    val df = Seq(("a", "somebytes"), ("b", "other"), ("c", "third"))
      .toDF("id", "payload")
      .withColumn("media", col("payload").cast("binary"))
    val meta = Multimodal.withMediaMeta(df, "media")
    val resized = Multimodal.withResizedMeta(meta, "content_md5", 256, 256)
    val r = resized.where("id = 'a'")
      .select("resized_md5", "resized_width", "resized_height").head()
    assert(r.getString(0).length == 32 && r.getInt(1) == 256)
    // resize identity is a pure function of (content, target dims)
    assert(Multimodal.withResizedMeta(meta, "content_md5", 256, 256)
      .where("id = 'a'").select("resized_md5").head().getString(0)
      == r.getString(0))
    assert(Multimodal.withResizedMeta(meta, "content_md5", 128, 128)
      .where("id = 'a'").select("resized_md5").head().getString(0)
      != r.getString(0))
    // features: dims-length, [0,1), batch size must not change values
    val f1 = Multimodal.withMediaFeatures(resized, "resized_md5", dims = 6,
      batchSize = 2).select("id", "media_embedding")
      .as[(String, Seq[Double])].collect().toMap
    val f2 = Multimodal.withMediaFeatures(resized, "resized_md5", dims = 6,
      batchSize = 64).select("id", "media_embedding")
      .as[(String, Seq[Double])].collect().toMap
    assert(f1 == f2)
    assert(f1("a").length == 6)
    assert(f1.values.forall(_.forall(v => v >= 0.0 && v < 1.0)))
    assert(f1("a") != f1("b"))
  }

  test("hyperplane cells stay balanced on offset (all-positive-mean) vectors") {
    import spark.implicits._
    // Deliberately non-zero-centered vectors: every dim in [0, 1] with
    // mean 0.5 (the DeterministicEmbedder regime, and the shape of
    // sigmoid-output embedding models) but genuine angular diversity.
    // This is the case r4 #2 flagged: sign-of-leading-dim bucketing sees
    // only positive values, collapses the corpus into ONE cell, and
    // pair-generation degenerates to O(n^2). Random hyperplanes mix
    // positive and negative weights, so the dots straddle zero.
    val n = 512
    val dims = 16
    val rows = (0 until n).map { i =>
      (i.toLong, (0 until dims).map { d =>
        0.5 + 0.5 * math.sin(i * 37 + d * 101)
      })
    }
    val offset = rows.toDF("vec_id", "embedding")
    // the degenerate comparison: sign-bit cells put EVERYTHING in '1111'
    val signCells = Ann.withCell(offset, "embedding", 4)
      .select("cell").distinct().count()
    assert(signCells == 1L, "sign-bit cells should collapse on [0,1] data")
    // hyperplane cells (gate default planes=8) must stay spread
    val planes = 8
    val hist = Ann.withHyperplaneCell(offset, "embedding", planes)
      .groupBy("cell").count().as[(String, Long)].collect()
    val largest = hist.map(_._2).max
    assert(hist.length > 4, s"only ${hist.length} distinct cells")
    assert(largest <= n / 3,
      s"hot cell of $largest rows out of $n -- bucketing collapsed")
    // Subquadratic candidate work: sum over cells of c^2 well under the
    // one-bucket degenerate n^2. (When vectors are angularly
    // NEAR-IDENTICAL -- e.g. mean >> wobble -- dense cells are correct:
    // every pair is a true near-dup and the output itself is O(n^2).)
    val pairWork = hist.map(c => c._2 * c._2).sum
    assert(pairWork < n.toLong * n / 5,
      s"within-cell pair work $pairWork ~ O(n^2)")
    // and the operator built on the cells still yields verified pairs
    val pairs = Dedup.embeddingPairs(offset, "vec_id", "embedding",
      threshold = 0.95, planes = planes)
    assert(pairs.count() > 0)
  }

  test("embedding near-dup pairs empty at high threshold (sanity)") {
    val pairs = Dedup.embeddingPairs(embeddings, "vec_id", "embedding",
      threshold = 0.95, planes = 4)
    assert(pairs.count() == 0)
  }

  test("hyperplane LSH ANN: exact match found, recall vs brute force sane") {
    val q = embeddings.where("vec_id = 11")
      .select(col("embedding").cast("array<double>")).head()
      .getSeq[Double](0)
    val top = Ann.hyperplaneTopK(embeddings, "vec_id", "embedding", q,
      k = 5, planes = 8, probes = 6)
    val rows = top.collect()
    assert(rows.head.getLong(0) == 11L)
    assert(math.abs(rows.head.getDouble(1) - 1.0) < 1e-9)
    // deterministic across invocations
    val again = Ann.hyperplaneTopK(embeddings, "vec_id", "embedding", q,
      k = 5, planes = 8, probes = 6).collect()
    assert(rows.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq)
  }

  test("line dedup drops cross-doc boilerplate, keeps unique lines") {
    import spark.implicits._
    // "x y" occurs in all 4 docs (boilerplate); the rest are unique.
    val df = Seq(
      (1L, "x y aa bb"), (2L, "x y cc dd"), (3L, "x y ee ff"),
      (4L, "x y gg hh ii")).toDF("id", "text")
    val out = Dedup.lineDedup(df, "id", "text", window = 2,
      maxDocFrac = 0.5).collect().map(r =>
        r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getString(3)))).toMap
    // threshold = max(1, 0.5*4) = 2 docs; "x y" is in 4 > 2 -> dropped.
    assert(out(1L) == ((2, 1L, "aa bb")))
    assert(out(4L) == ((3, 2L, "gg hh ii")))
    // a doc that is ALL boilerplate keeps a row with empty text
    val all = Dedup.lineDedup(
      Seq((1L, "x y"), (2L, "x y"), (3L, "x y"), (4L, "x y"), (5L, "q r"))
        .toDF("id", "text"), "id", "text", 2, 0.5).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(all(1L) == "" && all(5L) == "q r")
  }

  test("containment catches a quote that Jaccard misses") {
    import spark.implicits._
    val quote = (1 to 14).map("q" + _).mkString(" ") // 14 tokens
    val long = (1 to 80).map("w" + _).mkString(" ") + " " + quote
    val df = Seq((1L, quote), (2L, long),
      (3L, (1 to 30).map("z" + _).mkString(" "))).toDF("id", "text")
    val pairs = Dedup.containmentPairs(df, "id", "text", window = 12,
      minMicros = 500000).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(3), r.getLong(4)))).toMap
    // doc 1 (3 windows, all inside doc 2) is fully contained
    assert(pairs.contains((1L, 2L)))
    assert(pairs((1L, 2L))._1 == 1000000L) // containment_a = 1.0
    assert(pairs((1L, 2L))._2 < 100000L) // long side barely contained
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("line dedup identity: threshold above corpus drops nothing") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vocab = Vector("ax", "bx", "cx", "dx", "ex")
    val docs = (0 until 20).map { i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(9))(vocab(rnd.nextInt(5)))
        .mkString(" "))
    }
    val df = docs.toDF("id", "text")
    // maxDocFrac = 1.0 -> threshold = N, no line can exceed it
    val out = Dedup.lineDedup(df, "id", "text", window = 2,
      maxDocFrac = 1.0).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2),
        r.getString(3)))).toMap
    docs.foreach { case (id, text) =>
      val toks = text.split(" ").toSeq
      val expected = toks.grouped(2).map(_.mkString(" ")).mkString(" ")
      val (n, kept, clean) = out(id)
      assert(clean == expected, s"doc $id")
      assert(n == (toks.size + 1) / 2 && kept == n)
    }
  }

  test("incremental dedup flags exact and near dups of the new batch") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val ref = Seq((2L, base), (4L, "totally different words here entirely"))
      .toDF("id", "text")
    val newB = Seq(
      (1L, base), // exact dup of ref 2
      (3L, base + " extra"), // near dup (high jaccard)
      (5L, "unrelated fresh content nothing shared with anything at all"))
      .toDF("id", "text")
    val flags = Dedup.incrementalDedupFlags(newB, ref, "id", "text",
      shingleN = 3, k = 8, bandRows = 4, threshold = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2)))).toMap
    assert(flags(1L) == ((true, true)))
    assert(flags(3L) == ((false, true)))
    assert(flags(5L) == ((false, false)))
    assert(flags.size == 3)
  }

  test("incremental dedup: hot reference family capped per band, " +
    "detection preserved by the kept representatives") {
    import spark.implicits._
    // 600 near-identical retained pages share every band key; capping
    // the ref side at 8 bounds the candidate join at 8 per band while
    // a colliding new doc still verifies against a kept representative
    val shared = (1 to 100).map(w => s"tok$w").mkString(" ")
    val hotRef = (1L to 600L).map(i => (i, s"$shared tail$i"))
      .toDF("id", "text")
    val newB = Seq(
      (9001L, s"$shared tailX"), // near dup of the whole family
      (9002L, "completely different text with no shared tokens at all"))
      .toDF("id", "text")
    val flags = Dedup.incrementalDedupFlags(newB, hotRef, "id", "text",
      maxRefBandPop = 8)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(flags(9001L) === true)
    assert(flags(9002L) === false)
  }

  test("hashed classifier: integer-exact, empty-doc safe, sign label") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta alpha"), (2L, ";;;")).toDF("id", "text")
    val out = TextAnalysis.withClassifier(df, "text", dims = 16,
      seed = "t").select("id", "clf_weight_sum", "clf_score_micro",
        "clf_keep").collect().map(r => r.getLong(0) -> r).toMap
    // empty-token doc: zero sum, zero score, keep = false
    assert(out(2L).getLong(1) == 0L && out(2L).getLong(2) == 0L &&
      !out(2L).getBoolean(3))
    // repeated token contributes its weight twice
    val w = TextAnalysis.withClassifier(
      Seq((10L, "alpha"), (11L, "beta")).toDF("id", "text"), "text", 16, "t")
      .select("id", "clf_weight_sum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L).getLong(1) == 2 * w(10L) + w(11L))
    assert(out(1L).getBoolean(3) == (out(1L).getLong(1) > 0))
  }

  test("integer pagerank: exact hand-computed ranks on a path graph") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val r1 = graft.llmops.Graphs.pageRank(pairs, "id_a", "id_b",
      iters = 1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // base 150000; center gets 850*(1e6 + 1e6) div 1000, ends get
    // 850*(1e6 div 2) div 1000 -- all exact integers
    assert(r1 == Map(1L -> 575000L, 2L -> 1850000L, 3L -> 575000L))
    val r3 = graft.llmops.Graphs.pageRank(pairs, "id_a", "id_b",
      iters = 3).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r3(1L) == r3(3L)) // symmetry survives iteration
    assert(r3(2L) > r3(1L)) // center stays the most central
    // deterministic under repartitioning
    val again = graft.llmops.Graphs.pageRank(pairs.repartition(7),
      "id_a", "id_b", iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r3 == again)
  }

  test("compiled window fingerprints byte-equal to the column expression") {
    // the joined-buffer k-gram hash core (what winnowing selects from)
    // vs the column-expression reference
    val hexesUdf = udf((s: String) =>
      if (s == null) None
      else Some(Dedup.windowHexes(TextAnalysis.alnumTokens(s), 12).toSeq))
    val rows = docs.limit(50).select(
      windowFingerprints(col("text"), 12).as("expr"),
      hexesUdf(col("text")).as("udf"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
    // short-doc path: fewer tokens than the window
    import spark.implicits._
    val shorty = Seq("one two").toDF("text").select(
      windowFingerprints(col("text"), 12).as("expr"),
      hexesUdf(col("text")).as("udf"))
      .head()
    assert(shorty.getSeq[String](0) == shorty.getSeq[String](1))
  }

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  test("distinct window fingerprints == array_distinct of the expression " +
    "form; positions UDF == first index of each distinct hash") {
    import spark.implicits._
    val edge = Seq((9001L, "one two"), (9002L, ""),
      (9003L, "KKelvin sign 42 mixes UNICODE with digits and CAPS"),
      (9004L, ("dup " * 30) + "tail")).toDF("doc_id", "text")
    val sample = docs.limit(50).select("doc_id", "text").union(edge)
    val rows = sample.select(
      array_distinct(windowFingerprints(col("text"), 12)).as("expr"),
      Dedup.distinctWindowFingerprintBytesUdf(12)(col("text")).as("bytes"),
      windowFingerprints(col("text"), 12).as("all"),
      Dedup.windowFingerprintPositionBytesUdf(12)(col("text")).as("pos"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Array[Byte]](1).map(hex) == r.getSeq[String](0))
      // positions: (first index of hash, hash), in first-occurrence order
      val all = r.getSeq[String](2)
      val want = all.zipWithIndex.groupBy(_._1)
        .map { case (h, xs) => (xs.map(_._2).min, h) }.toSeq.sortBy(_._1)
      val got = r.getSeq[org.apache.spark.sql.Row](3)
        .map(p => (p.getInt(0), hex(p.getAs[Array[Byte]](1))))
      assert(got == want)
    }
  }

  test("binary window fingerprints hex-encode to the string forms (r22)") {
    import spark.implicits._
    val edge = Seq((9001L, "one two"), (9002L, ""),
      (9003L, "KKelvin sign 42 mixes UNICODE with digits and CAPS"),
      (9004L, ("dup " * 30) + "tail")).toDF("doc_id", "text")
    val sample = docs.limit(50).select("doc_id", "text").union(edge)
    val rows = sample.select(col("text"),
      Dedup.distinctWindowFingerprintBytesUdf(12)(col("text")).as("bytes"),
      Dedup.windowFingerprintPositionBytesUdf(12)(col("text")).as("posb"))
      .collect()
    // the string form, driver-side: md5 hex of each space-joined
    // 12-token window of the regex-split lowercased text
    def md5Hex(s: String): String = hex(java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8")))
    rows.foreach { r =>
      val toks = r.getString(0).toLowerCase(java.util.Locale.ROOT)
        .split("[^a-z0-9]+").filter(_.nonEmpty)
      val windows =
        if (toks.length < 12) Seq(toks.mkString(" "))
        else toks.sliding(12).map(_.mkString(" ")).toSeq
      val hexes = windows.map(md5Hex)
      assert(r.getSeq[Array[Byte]](1).map(hex) == hexes.distinct)
      val pb = r.getSeq[org.apache.spark.sql.Row](2)
        .map(p => (p.getInt(0), hex(p.getAs[Array[Byte]](1))))
      assert(pb == hexes.zipWithIndex.distinctBy(_._1).map(_.swap))
    }
  }

  test("chunkedMeanEmbeddingUdf bit-equal to chunk + embed + meanPool") {
    import spark.implicits._
    val edge = Seq((9001L, "one two"), (9002L, ""),
      (9003L, ("word " * 100).trim)).toDF("doc_id", "text")
    val sample = docs.limit(60).select("doc_id", "text").union(edge)
    val e = graft.embed.DeterministicEmbedder(dims = 4)
    val embedUdf = udf((s: String) => e.embed(s))
    val staged = graft.functions.VectorFunctions.meanPool(
      TextAnalysis.chunkDocuments(sample, "text", window = 32, stride = 24)
        .withColumn("emb", embedUdf(col("chunk_text"))),
      "doc_id", "emb", "chunk_idx")
      .select(col("doc_id"), col("doc_embedding"))
      .as[(Long, Seq[Double])].collect().toMap
    val fused = sample.select(col("doc_id"),
      TextAnalysis.chunkedMeanEmbeddingUdf(32, 24, 4)(col("text"))
        .as("v"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(fused.keySet == staged.keySet)
    // bit-equality, not approx: same integer bucket sums, same fold
    // order, same single divisions
    staged.foreach { case (id, v) => assert(fused(id) == v, s"doc $id") }
  }

  test("compiled simhash is byte-equal to the column expression") {
    val both = docs.limit(50).select(
      simhash(tokens(col("text")), 16).as("expr16"),
      simhash(tokens(col("text")), 64).as("expr64"),
      // the packed-long kernel simhashPairs carries
      Dedup.simhashTextLongUdf(16)(col("text")).as("long16"),
      Dedup.simhashTextLongUdf(64)(col("text")).as("long64"),
      // the llm_simhash gate's rendering of the same kernel
      lpad(bin(Dedup.simhashTextLongUdf(16)(col("text"))), 16, "0")
        .as("gate16"))
      .collect()
    // bit (bits-1-j) of the long == char j of the string form
    def unpack(sh: Long, bits: Int): String =
      (0 until bits).map(j => if (((sh >>> (bits - 1 - j)) & 1L) == 1L) '1'
        else '0').mkString
    both.foreach { r =>
      assert(unpack(r.getLong(2), 16) == r.getString(0))
      assert(r.getLong(2) >>> 16 == 0L)
      assert(unpack(r.getLong(3), 64) == r.getString(1))
      assert(r.getString(4) == r.getString(0))
    }
  }

  test("hll register merge equals the union's registers") {
    import spark.implicits._
    val a = (0 until 400).map(i => ("g" + (i % 2), "a" + i)).toDF("g", "v")
    val b = (0 until 400).map(i => ("g" + (i % 2), "b" + (i % 150)))
      .toDF("g", "v")
    val merged = graft.llmops.Sketches.hllMergeRegisters(
      graft.llmops.Sketches.hllRegisters(a, "g", "v", p = 5),
      graft.llmops.Sketches.hllRegisters(b, "g", "v", p = 5), "g")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2))
      .toMap
    val direct = graft.llmops.Sketches.hllRegisters(a.union(b), "g", "v",
      p = 5).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(merged == direct)
  }

  test("histogram quantiles: within one bin of the exact quantile") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val values = (0 until 2000).map(_ => rnd.nextInt(1000).toLong)
    val df = values.toDF("v")
    val qs = graft.llmops.Sketches.histogramQuantiles(df, "v",
      binWidth = 10, qMillis = Seq(500, 900, 990)).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    val sorted = values.sorted
    def exactQ(qm: Int): Long =
      sorted((qm * sorted.size + 999) / 1000 - 1)
    Seq(500, 900, 990).foreach { qm =>
      val est = qs(qm)
      val exact = exactQ(qm)
      assert(est <= exact && exact < est + 10,
        s"q$qm: est $est exact $exact")
    }
  }

  test("count-min sketch: estimates over-count, exact for unique slots") {
    import spark.implicits._
    val vals = (Seq.fill(50)("heavy") ++ (0 until 30).map("t" + _)).toDF("v")
    val sk = graft.llmops.Sketches.cmSketch(vals, "v", depth = 4,
      width = 64)
    // total mass per row equals the input count
    val rowSums = sk.groupBy("row").agg(sum("cnt").as("s"))
      .select("s").as[Long].collect()
    assert(rowSums.length == 4 && rowSums.forall(_ == 80L))
    val est = graft.llmops.Sketches.cmEstimate(sk,
      Seq("heavy", "t0", "absent").toDF("v"), "v", depth = 4, width = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("heavy") >= 50L) // CMS never under-counts seen values
    assert(est("t0") >= 1L && est("t0") <= 80L)
    assert(est("heavy") > est("t0"))
  }

  test("hll sketch: registers dedupe, estimate tracks exact cardinality") {
    import spark.implicits._
    val df = (0 until 5000).map(i => ("g" + (i % 2), "v" + (i % 1000)))
      .toDF("g", "v")
    val est = graft.llmops.Sketches.hllDistinct(df, "g", "v", p = 6)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    // each group sees 500 distinct values; raw HLL at m=64 is within
    // ~2/sqrt(64) = 25% with overwhelming probability
    est.values.foreach { e => assert(e > 300 && e < 700, s"estimate $e") }
    // duplicates must not move the registers at all
    val est2 = graft.llmops.Sketches.hllDistinct(
      df.union(df), "g", "v", p = 6)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(est == est2)
    // corrected estimate falls back to linear counting when almost all
    // buckets are empty
    val small = graft.llmops.Sketches.correctedEstimate(
      rawEst = 10.0, bucketsSeen = 4, p = 6)
    assert(small > 0 && small < 10.0)
  }

  test("rp filter-and-refine ANN: self-match at top, exact final scores") {
    val q = embeddings.where("vec_id = 11")
      .select(col("embedding").cast("array<double>")).head()
      .getSeq[Double](0)
    val rows = Ann.rpTopK(embeddings, "vec_id", "embedding", q, k = 5,
      planes = 8, rerank = 50, seed = 7).collect()
    assert(rows.length == 5)
    assert(rows.head.getLong(0) == 11L)
    assert(math.abs(rows.head.getDouble(1) - 1.0) < 1e-9)
    // final scores are exact cosines, descending
    val scores = rows.map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("random projection matches per-component driver-side dot") {
    val w = (0 until 4).map(p =>
      (0 until 64).map(d => Ann.planeWeight(7, p, d)))
    val row = embeddings.where("vec_id = 3")
      .select(col("embedding").cast("array<double>").as("e"),
        graft.functions.VectorFunctions.randomProjection(
          col("embedding"), w).as("proj")).head()
    val e = row.getSeq[Double](0)
    val proj = row.getSeq[Double](1)
    assert(proj.length == 4)
    (0 until 4).foreach { p =>
      var s = 0.0
      var i = 0
      while (i < e.length) { s += e(i) * w(p)(i); i += 1 }
      assert(math.abs(proj(p) - s) < 1e-12)
    }
  }

  test("bloom: members always hit, misses mostly clean, params checked") {
    import spark.implicits._
    import graft.llmops.Sketches
    val members = spark.range(200).select(concat(lit("m"), col("id"))
      .as("v"))
    val sk = Sketches.bloomSketch(members, "v", mBits = 62 * 64, k = 3,
      salt = "t")
    // no member can miss (Bloom's one-sided guarantee)
    val hits = Sketches.bloomContains(sk, members, "v", 62 * 64, 3, "t")
    assert(hits.where(!col("might_contain")).count() == 0)
    // absent probes: FP rate near theory ((1-e^(-kn/m))^k ~ 2.6% here),
    // never anywhere near 50%
    val absent = spark.range(1000).select(concat(lit("a"), col("id"))
      .as("v"))
    val fp = Sketches.bloomContains(sk, absent, "v", 62 * 64, 3, "t")
      .where(col("might_contain")).count()
    assert(fp < 100, s"fp=$fp out of 1000")
    // sketch word count bounded by layout, bits 62/63 never set
    val rows = sk.collect()
    assert(rows.forall(r => r.getLong(0) < 64 && r.getLong(1) > 0 &&
      (r.getLong(1) >>> 62) == 0))
    // width mismatch: probing with smaller mBits than the build fails
    intercept[IllegalArgumentException] {
      Sketches.bloomContains(sk, absent, "v", mBits = 62, k = 3, salt = "t")
    }
  }

  test("bpe train: greedy merges, round chaining, overlap semantics") {
    import spark.implicits._
    // words: banana x3, bananas x1, nan x1
    val df = Seq((1L, "banana banana bananas"), (2L, "banana nan"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bpeTrain(df, "text", rounds = 3)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    // round 1 pairs: banana (b-a,a-n,n-a,a-n,n-a) x4, bananas adds a-s,
    // nan adds n-a,a-n -> "a n": 4*2+1=9, "n a": 4*2+1=9, tie -> "a n"
    assert(out(0) == ((1L, "a n", 9L)))
    // round 2: banana -> b [an] [an] a (x3), bananas -> b an an a s,
    // nan -> n [an]: "b an" 4, "an an" 4, "an a" 4, "a s" 1, "n an" 1
    // -> three-way tie at 4, pair-asc picks "an a" (< "an an" < "b an")
    assert(out(1) == ((2L, "an a", 4L)))
    // round 3: banana -> b an [an a->ana] = b an ana (greedy: the LAST
    // an absorbs a; the first an already passed): "b an" 4, "an ana" 4,
    // "ana s" 1, "n an" 1 -> tie, "an ana" < "b an"
    assert(out(2) == ((3L, "an ana", 4L)))
    // encode under those merges (all three apply, including round 3's):
    // banana = b [an][ana] -> b [anana] -> 2 tokens, bananas = 3,
    // nan = [n, an] -> 2
    val enc = TextAnalysis.bpeEncode(df, "doc_id", "text",
      out.map(_._2).toSeq)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(enc.toSeq == Seq((1L, 3L, 2L + 2L + 3L), (2L, 2L, 2L + 2L)))
    // empty merge list degenerates to char counts
    val raw = TextAnalysis.bpeEncode(df, "doc_id", "text", Seq.empty)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(raw.toSeq == Seq((1L, 3L, 19L), (2L, 2L, 9L)))
  }

  test("bpe batched deep-vocabulary mode: perRound=1 batched IS " +
    "sequential; relaxed fill is alphabet-bounded then converges") {
    import spark.implicits._
    // hash-word sample: the Bpe1k production stream at spec size (the
    // sf corpus's 31-word vocabulary can't exercise deep training)
    val df = spark.range(40).toDF("doc_id")
      .select(col("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(3)),
          i => md5(concat(col("doc_id").cast("string"), lit(":"),
            i.cast("string"))))).as("text"))
    // (a) the exact identity behind the 1k run: with perRound=1 the
    // batched trainer takes sequential BPE's argmax every round, so the
    // merge tables agree pair-for-pair, count-for-count — including
    // across the every-8-rounds lineage checkpoint boundary
    val seq = TextAnalysis.bpeTrain(df, "text", rounds = 24)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    val bat1 = TextAnalysis.bpeTrainBatched(df, "text", rounds = 24,
      perRound = 1).as[(Long, Long, String, Long)].collect()
      .sortBy(_._1).map(t => (t._1, t._3, t._4)).toSeq
    assert(bat1 == seq)
    // (b) relaxed mode on the 16-symbol alphabet: round 1 can select at
    // most 8 disjoint pairs however large perRound is; later rounds grow
    // with the symbol inventory; targetMerges stops the run exactly
    val deep = TextAnalysis.bpeTrainBatched(df, "text", rounds = 64,
      perRound = 32, requireFull = false, targetMerges = 100)
      .as[(Long, Long, String, Long)].collect()
    assert(deep.length == 100)
    val r1 = deep.filter(_._1 == 1L)
    assert(r1.length <= 8, s"round 1 fill ${r1.length} > alphabet bound 8")
    // every round's batch is symbol-disjoint ACROSS pairs (the
    // exactness condition; a self-pair "a a" legitimately uses its own
    // symbol twice, so dedupe within each pair first)
    deep.groupBy(_._1).foreach { case (_, rows) =>
      val syms = rows.flatMap(_._3.split(" ").distinct)
      assert(syms.distinct.length == syms.length)
    }
    // and relaxed rank-1 of round 1 is still sequential's first argmax
    assert(deep.minBy(t => (t._1, t._2))._3 == seq.head._2)
  }

  test("bpe batched training: disjoint batch equals sequential prefix") {
    import spark.implicits._
    val df = Seq((1L, "banana banana bananas cherry cherry"),
      (2L, "banana nan cherry grape grape")).toDF("doc_id", "text")
    val batched = TextAnalysis.bpeTrainBatched(df, "text",
      rounds = 2, perRound = 2)
      .as[(Long, Long, String, Long)].collect()
      .sortBy(t => (t._1, t._2))
    assert(batched.length == 4)
    // within each round: ranks dense from 1 and pairs symbol-disjoint
    batched.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == Seq(1L, 2L))
      val syms = rows.flatMap(_._3.split(" "))
      assert(syms.distinct.length == syms.length,
        s"batch not symbol-disjoint: ${rows.map(_._3).mkString(", ")}")
    }
    // the round-1 batch is sequential BPE's merge sequence restricted to
    // disjoint pairs: rank-1 IS sequential round 1's argmax, and
    // sequential BPE eventually picks the same rank-2 pair (it spends
    // earlier rounds on the chain the batch deferred; disjointness
    // means those merges never change rank-2's count)
    val seq6 = TextAnalysis.bpeTrain(df, "text", rounds = 6)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(batched(0)._3 == seq6(0)._2 && batched(0)._4 == seq6(0)._3)
    assert(seq6.map(_._2).contains(batched(1)._3))
    // too-greedy batches fail loudly instead of silently under-filling
    intercept[IllegalArgumentException] {
      TextAnalysis.bpeTrainBatched(
        Seq((1L, "ab ab")).toDF("doc_id", "text"), "text",
        rounds = 1, perRound = 3)
    }
  }

  test("bpe pair counts: word-frequency weighted, overlaps counted, ranked") {
    import spark.implicits._
    // word counts: aaab x2, ab x1, x x1 (single char -> no pairs)
    val df = Seq((1L, "aaab x"), (2L, "aaab ab")).toDF("doc_id", "text")
    val out = TextAnalysis.bpePairCounts(df, "text", k = 10)
      .as[(String, Long, Long)].collect().sortBy(_._3)
    // aaab pairs: aa, aa, ab (overlapping "aa" counts twice) -> aa: 2*2=4
    // ab: 2 (from aaab) + 1 (word ab) = 3
    assert(out.toSeq == Seq(("aa", 4L, 1L), ("ab", 3L, 2L)))
    // tiebreak: equal counts rank by pair asc
    val tie = TextAnalysis.bpePairCounts(
      Seq((1L, "cd ab")).toDF("doc_id", "text"), "text", 10)
      .as[(String, Long, Long)].collect().sortBy(_._3)
    assert(tie.toSeq == Seq(("ab", 1L, 1L), ("cd", 1L, 2L)))
  }

  test("gopher rules: each rule fires on its own pathology, keep is the and") {
    import spark.implicits._
    val good = "the quick brown fox jumps over a lazy dog and then it " +
      "runs far away to find more of that good food for the winter"
    val df = Seq(
      (1L, good),                        // passes everything
      (2L, "too short"),                 // fails rule_len (and stop)
      (3L, ("spam " * 30).trim),         // fails rule_rep (1 distinct tok)
      (4L, ("extraordinarily " * 20).trim), // every token 15 chars: mean>10
      (5L, "")                           // empty: fails len (n=0 guard)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(df, "text", minTokens = 20,
      maxTokens = 1000, minStopHits = 2, repMilli = 300)
      .select("doc_id", "rule_len", "rule_mean", "rule_stop", "rule_rep",
        "keep")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, true, true, true, true, true)))
    assert(!out(2L)._2 && !out(2L)._6)          // too short
    assert(out(3L)._2 && !out(3L)._5)           // repetitive
    assert(!out(4L)._3 && !out(4L)._6)          // mean token len > 10
    assert(!out(5L)._2 && !out(5L)._3 && !out(5L)._6) // empty: guards hold
    // every output row carries all 4 booleans; no rows dropped
    assert(out.size == 5)
  }

  test("exact representatives: best score wins, ties to min id, sizes right") {
    import spark.implicits._
    val df = Seq(
      (1L, "same text", 10L), (2L, "same text", 30L), (3L, "same text", 30L),
      (4L, "unique here", 5L)).toDF("doc_id", "text", "score")
    val out = Dedup.exactRepresentatives(df, "doc_id", "text", "score")
      .select("doc_id", "cluster_size", "is_rep")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out(2L) == ((2L, 3L, true)))  // top score 30, min id among ties
    assert(!out(1L)._3 && !out(3L)._3)
    assert(out(4L) == ((4L, 1L, true))) // singleton is its own rep
  }

  test("winnowing matches brute-force rightmost-min and keeps its guarantees") {
    import spark.implicits._
    val k = 2
    val w = 3
    // 60 real docs plus hand-shaped edges: short doc (< k tokens),
    // fewer hashes than the window, and an all-equal-hash doc whose
    // repeated token stream forces the rightmost tie-break.
    val sample = docs.select(col("doc_id").as("id"), col("text"))
      .limit(60)
      .union(Seq((9001L, "solo"), (9002L, "alpha beta gamma"),
        (9003L, "x x x x x x x x")).toDF("id", "text"))
    val out = Dedup.winnowedFingerprints(sample, "id", "text", k, w)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[org.apache.spark.sql.Row](2)
          .map(f => (f.getLong(0), f.getString(1)))))
    val texts = sample.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    assert(out.length == texts.size)
    out.foreach { case (id, nk, fps) =>
      val toks = texts(id).toLowerCase(java.util.Locale.ROOT)
        .split("[^a-z0-9]+").filter(_.nonEmpty)
      val hs = if (toks.length < k) Array(md5hex(toks.mkString(" ")))
        else (0 to toks.length - k)
          .map(i => md5hex(toks.slice(i, i + k).mkString(" "))).toArray
      assert(nk == hs.length.toLong)
      // brute-force reference: distinct rightmost-min of every window
      val weff = math.min(w, hs.length)
      val want = (0 to hs.length - weff).map { q =>
        val win = hs.slice(q, q + weff)
        val m = win.min
        val p = q + win.lastIndexOf(m)
        (p.toLong, hs(p))
      }.distinct.sortBy(_._1)
      assert(fps == want, s"doc $id")
      // selection is sampled from the hash stream at guaranteed density:
      // every window of weff consecutive hashes holds >= 1 selection
      val ps = fps.map(_._1).toSet
      (0 to hs.length - weff).foreach { q =>
        assert((q until q + weff).exists(j => ps.contains(j.toLong)))
      }
    }
    // the all-ties doc selects exactly the rightmost position of each
    // window: positions weff-1 .. n_h-1 (k=2 over 8 tokens -> 7 hashes)
    val ties = out.find(_._1 == 9003L).get
    assert(ties._3.map(_._1) == Seq(2L, 3L, 4L, 5L, 6L))
    // short-doc arm: single whole-doc fingerprint at position 0
    assert(out.find(_._1 == 9001L).get._3.map(_._1) == Seq(0L))
  }

  test("winnowed dup pairs: guarantee floor holds, unrelated docs stay apart") {
    import spark.implicits._
    val k = 8
    val w = 4
    // shared run of 12 tokens > k + w - 1 = 11 -> the scheme
    // GUARANTEES a shared selected fingerprint between docs 1 and 2
    val run = "the winnowing guarantee says eleven shared tokens always " +
      "yield one selected hash"
    val df = Seq(
      (1L, s"prefix alpha words then $run and a tail here"),
      (2L, s"different beginning tokens $run closing words instead"),
      (3L, "entirely unrelated content nothing in common with the " +
        "others at all in any window")).toDF("id", "text")
    val pairs = Dedup.winnowedDupPairs(df, "id", "text", k, w)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
    // the winnowed join volume is a strict subset of the k-gram stream
    val fp = Dedup.winnowedFingerprints(df, "id", "text", k, w)
      .agg(sum(size(col("fps"))).cast("long").as("s"),
        sum(col("n_kgrams")).as("kg")).head()
    assert(fp.getLong(0) < fp.getLong(1))
  }

  test("window-fingerprint operators accept null text: no fingerprints, " +
    "no pairs, and the span cut keeps the row with zero tokens") {
    import spark.implicits._
    val span = (1 to 15).map(i => s"tok$i").mkString(" ")
    val clean = Seq(
      (1L, s"intro words $span trailing one"),
      (2L, s"different lead in text $span and more"))
      .toDF("doc_id", "text")
    val df = clean.union(Seq((3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text"))
    def pairs(d: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(Dedup.substringDupPairs(df, "doc_id", "text",
      window = 12)) == Set((1L, 2L)))
    val spans = Dedup.substringDupSpans(df, "doc_id", "text", window = 12)
    assert(pairs(spans) == Set((1L, 2L)))
    assert(pairs(Dedup.containmentPairs(df, "doc_id", "text",
      window = 12)) == Set((1L, 2L)))
    val win = Dedup.winnowedFingerprints(df, "doc_id", "text", 8, 4)
      .where(col("doc_id") === 3L).head()
    assert(win.getLong(1) == 0L && win.getSeq[Any](2).isEmpty)
    assert(pairs(Dedup.winnowedDupPairs(df, "doc_id", "text", 8, 4)) ==
      Set((1L, 2L)))
    val cut = Dedup.cutDupSpans(df, "doc_id", "text", spans, window = 12)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(cut.keySet == Set(1L, 2L, 3L))
    assert(cut(3L).getLong(1) == 0L && cut(3L).getLong(2) == 0L)
    assert(cut(2L).getLong(2) < cut(2L).getLong(1))
  }

  test("simhashPairs rejects a bandBits that does not divide bits") {
    import spark.implicits._
    val df = Seq((1L, "a b c"), (2L, "a b d")).toDF("id", "text")
    assertThrows[IllegalArgumentException](
      Dedup.simhashPairs(df, "id", "text", bits = 16, bandBits = 0))
    assertThrows[IllegalArgumentException](
      Dedup.simhashPairs(df, "id", "text", bits = 16, bandBits = 5))
  }

  test("nbClassify: learns token-class association from the seed; " +
    "OOV-only docs fall back to the prior; one row per input doc") {
    import spark.implicits._
    val labeled = Seq(
      (true, "good clean prose with clear sentences"),
      (true, "good writing and clear good structure"),
      (false, "spam spam click buy now spam"),
      (false, "buy click spam offer now")).toDF("lab", "text")
    val docs = Seq(
      (1L, "good clear prose"),          // positive-class tokens
      (2L, "spam click buy"),            // negative-class tokens
      (3L, "zzz qqq unseen"),            // pure OOV -> prior only
      (4L, "")                           // no tokens at all
    ).toDF("doc_id", "text")
    val out = TextAnalysis.nbClassify(docs, labeled, "doc_id", "text",
      "lab").collect().map(r =>
        r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out.size == 4)
    assert(out(1L)._2 && !out(2L)._2)
    // prior = floor(ln((2+1)/(2+1)) * 1e6) = 0: balanced seed
    assert(out(3L)._1 == 0L && out(4L)._1 == 0L)
    // multinomial: a repeated positive token raises the score
    val rep = TextAnalysis.nbClassify(
      Seq((9L, "good good")).toDF("doc_id", "text"), labeled,
      "doc_id", "text", "lab").head().getLong(1)
    assert(rep == 2 * TextAnalysis.nbClassify(
      Seq((9L, "good")).toDF("doc_id", "text"), labeled,
      "doc_id", "text", "lab").head().getLong(1))
  }

  test("c4LineClean: per-rule line drops and doc-level flags") {
    import spark.implicits._
    val good = "this line has enough words to survive easily."
    val df = Seq(
      // every line rule, one line each
      (1L, Seq(good,
        "no terminal punctuation here at all words",  // punctuation rule
        "short line.",                                // word-count rule
        "a javascript heavy boilerplate navigation line.", // js rule
        good.replace('.', '!')).mkString("\n")),
      // doc rules: enough good lines but poisoned text
      (2L, Seq(good, good, good, "lorem ipsum dolor sit amet.")
        .mkString("\n")),
      (3L, Seq(good, good, good, "code { block } here today ok.")
        .mkString("\n")),
      (4L, Seq(good, good).mkString("\n"))   // < 3 kept lines
    ).toDF("doc_id", "text")
    val out = graft.llmops.Web.c4LineClean(df, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Long]("kept_lines"),
          r.getAs[Boolean]("c4_keep"), r.getAs[String]("clean_text"))))
      .toMap
    assert(out(1L)._1 == 5 && out(1L)._2 == 2)     // good + good! survive
    assert(!out(1L)._3)                            // only 2 kept < 3
    assert(out(1L)._4 == good + "\n" + good.replace('.', '!'))
    assert(out(2L)._2 == 4 && !out(2L)._3)         // lorem ipsum doc rule
    assert(out(3L)._2 == 4 && !out(3L)._3)         // curly-brace doc rule
    assert(out(4L)._2 == 2 && !out(4L)._3)
    // a clean 3-good-line doc keeps
    val ok = graft.llmops.Web.c4LineClean(
      Seq((9L, Seq(good, good, good).mkString("\n"))).toDF("doc_id", "text"),
      "doc_id", "text").head()
    assert(ok.getAs[Boolean]("c4_keep"))
  }

  test("nbClassify: scores are exactly additive over concatenation " +
    "(micro-floored llr sums are integers, so no FP drift)") {
    import spark.implicits._
    val labeled = docs.where(col("doc_id") % 3 === 0)
      .withColumn("lab", col("lang") === "en")
    val sample = docs.where(col("doc_id") % 3 =!= 0).limit(20)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val pairs = sample.grouped(2).collect { case Array(a, b) => (a, b) }
      .toSeq
    val parts = pairs.zipWithIndex.flatMap { case (((ia, ta), (ib, tb)), i) =>
      Seq((i * 10L, ta), (i * 10L + 1, tb), (i * 10L + 2, ta + " " + tb))
    }.toDF("doc_id", "text")
    val scored = graft.llmops.TextAnalysis.nbClassify(parts, labeled,
      "doc_id", "text", "lab")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // prior enters once per doc: score(a++b) - prior = (score(a) - prior)
    // + (score(b) - prior), exactly, because the per-token llr micros
    // are LONGS summed in any order.
    val prior = {
      // score of an all-OOV doc is exactly the prior
      val oov = graft.llmops.TextAnalysis.nbClassify(
        Seq((0L, "zzzqqq")).toDF("doc_id", "text"), labeled,
        "doc_id", "text", "lab").head().getLong(1)
      oov
    }
    pairs.indices.foreach { i =>
      assert(scored(i * 10L + 2) - prior ==
        (scored(i * 10L) - prior) + (scored(i * 10L + 1) - prior),
        s"additivity broke for pair $i")
    }
  }

  test("c4LineClean: the line filter is idempotent over the full " +
    "fixture corpus (every kept line stays kept on re-clean)") {
    import spark.implicits._
    // synthesize multi-line docs exactly like the llm_c4_clean gate
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val nLines = greatest(floor((size(toks) + lit(7)) / lit(8)), lit(1L))
    val lines = transform(sequence(lit(0L), nLines - 1), j =>
      concat(array_join(slice(toks, (j * 8 + 1).cast("int"), lit(8)), " "),
        when(pmod(j, lit(3)) < 2, lit(".")).otherwise(lit(""))))
    val synth = docs.select(col("doc_id"),
      array_join(lines, "\n").as("text"))
    val once = graft.llmops.Web.c4LineClean(synth, "doc_id", "text")
      .select(col("doc_id"), col("kept_lines"),
        col("clean_text").as("text"))
    val twice = graft.llmops.Web.c4LineClean(
      once.where(col("kept_lines") > 0), "doc_id", "text")
    val bad = twice.where(col("kept_lines") =!= col("n_lines") ||
      col("clean_text") =!= col("text")).count()
    assert(bad == 0)
    assert(twice.count() > 0)
  }

  test("sourceOverlapMatrix: near-dup pairs roll up to unordered " +
    "source cells; unrelated sources never meet") {
    import spark.implicits._
    val txt = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq(
      (1L, "crawl", txt),
      (2L, "mirror", txt),                     // cross-source dup
      (3L, "crawl", txt + " word"),            // near-dup of 1 (same src)
      (4L, "books", "entirely different content with no shared shingles " +
        "anywhere in this document body at all")).toDF(
      "doc_id", "source", "text")
    val m = Dedup.sourceOverlapMatrix(df, "doc_id", "source", "text",
      shingleN = 3, k = 8, bandRows = 4, threshold = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getLong(2)).toMap
    assert(m.keySet.forall { case (lo, hi) => lo <= hi })
    assert(m.contains(("crawl", "mirror")))
    assert(m.keySet.forall { case (lo, hi) =>
      lo != "books" && hi != "books" })
  }
}
