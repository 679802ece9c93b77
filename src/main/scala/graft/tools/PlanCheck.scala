package graft.tools

import org.apache.spark.sql.functions._
import graft.core.GraftSession

/** Dump physical plans of the load-bearing pipelines for scale review:
  * confirms predicate pushdown (PushedFilters), column pruning
  * (ReadSchema), broadcast joins, and TakeOrderedAndProject top-k.
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = GraftSession.bench("graft-plan-check")

    def show(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      println(s"\n========== $name ==========")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode))
    }

    // 1. Filter+projection pushdown into the parquet scan.
    show("q2_filter pushdown") {
      graft.gate.RelationalQueries.queries("q2_filter")(spark, sf)
    }
    // 2. Broadcast dimension joins.
    show("q3_join_agg broadcast") {
      graft.gate.RelationalQueries.queries("q3_join_agg")(spark, sf)
    }
    // 3. Top-k => TakeOrderedAndProject (no global sort).
    show("q7_topk") {
      graft.gate.RelationalQueries.queries("q7_topk")(spark, sf)
    }
    // 3b. Sessionize: ONE shuffle on the key, session merge inside agg.
    show("q22_sessionize single shuffle") {
      graft.gate.RelationalQueries.queries("q22_sessionize")(spark, sf)
    }
    // 3c. As-of join: union + window carry -- one shuffle, no join node.
    show("q23_asof_join window carry") {
      graft.gate.RelationalQueries.queries("q23_asof_join")(spark, sf)
    }
    // 4. Hybrid query end-to-end.
    import spark.implicits._
    val files = spark.createDataset(graft.core.Fixtures.all)
    val t = graft.ingest.IngestJob.tables(spark,
      graft.ingest.IngestJob.gamesFromText(spark, files))
    val e = graft.embed.DeterministicEmbedder(16)
    val v = graft.embed.VectorsJob.build(spark, t.games, t.players,
      t.positions, e)
    val plan = graft.query.QueryIntent.analyse(graft.query.QueryIntent
      .Request("games where white is rated at least 2500", Some(5)))
    show("hybrid ranked results") {
      graft.query.HybridExecutor.execute(spark,
        graft.query.HybridExecutor.Tables(t.games, t.players, Some(v)),
        plan, e).results
    }
    // 5. KNN scored scan on its own.
    show("vector knn top-k") {
      graft.query.HybridExecutor.vectorHits(v, plan,
        graft.query.HybridExecutor.queryVector(plan, e))
    }

    // 6. ANN at rest: cell-partitioned vectors + probe => the cell
    // predicate must appear as PartitionFilters on the scan (files of
    // non-probed cells never open), not as a row filter.
    {
      val emb = graft.core.Tables.embeddings(spark, sf)
      val cents = graft.llmops.Ann.trainCentroids(emb, "embedding",
        nCells = 16)
      val dir = TempDirs.create("plancheck_ann") + "/vectors"
      graft.llmops.Ann.writePartitionedByCell(emb, "embedding", cents, dir)
      val q = emb.where(col("vec_id") === 7)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      val probe = graft.llmops.Ann.ivfCentroidTopKAtRest(spark, dir,
        "vec_id", "embedding", q, 10, cents, probes = 4)
      show("ann at rest: partition-pruned probe")(probe)
      val scan = probe.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      val total = spark.read.parquet(dir)
      val totalParts = total.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head.selectedPartitions.partitionCount
      val cells = graft.llmops.Ann.probeCells(q, cents, 4)
      val probedRows = total.where(col("cell").isin(cells: _*)).count()
      println(s"partition filters : ${scan.partitionFilters.mkString(", ")}")
      println(s"cell partitions   : ${scan.selectedPartitions.partitionCount} probed" +
        s" of $totalParts at rest")
      println(s"rows scanned      : $probedRows probed of ${total.count()}" +
        " at rest")
    }
    // 7. Round-7 shapes. (a) ngram pairs: the persisted `ordered` frame
    // must appear as an InMemoryRelation scan for ALL THREE consumers
    // (prefix explode + both attach joins -- different keys, exchange
    // reuse can't dedup them). (b) substring dup: the wf self-join's two
    // sides are one subtree -- expect a ReusedExchange. (c) repetition:
    // one map-side projection, NO Exchange anywhere. (d) connected
    // components: converges in O(log d) driver rounds (gauge).
    {
      val docs = graft.core.Tables.documents(spark, sf)
      val ngram = graft.llmops.Dedup.ngramJaccardPairs(docs, "doc_id",
        "text", shingleN = 3, threshold = 0.8)
      val imrs = ngram.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }
      println(s"\nngram pairs: ${imrs.size} InMemoryRelation scans " +
        "(ordered reused by prefix self-join x2 + id_a + id_b attaches)")
      // At gate scale AQE broadcasts one side of the wh self-join (no
      // shuffle at all -- the plan you'd want); at 100 TB it degrades to
      // a sort-merge join whose identical sides share one exchange via
      // ReuseExchange. Execute, then report which shape ran.
      val sub = graft.llmops.Dedup.substringDupPairs(docs, "doc_id",
        "text", window = 12, minShared = 2)
      sub.collect()
      val subStr = sub.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      def occurrences(hay: String, needle: String): Int =
        hay.sliding(needle.length).count(_ == needle)
      println("substring dup self-join: " +
        s"BroadcastHashJoin=${occurrences(subStr, "BroadcastHashJoin")}, " +
        s"SortMergeJoin=${occurrences(subStr, "SortMergeJoin")}, " +
        s"ReusedExchange=${occurrences(subStr, "ReusedExchange")}")
      val rep = graft.llmops.TextAnalysis.withRepetition(docs, "text")
      val exch = rep.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      println(s"repetition signals: ${exch.size} shuffles (map-side only)")
      val pairs = graft.llmops.Dedup.minhashPairs(docs, "doc_id", "text",
        shingleN = 3, k = 8, bandRows = 4, threshold = 0.8)
      graft.llmops.Dedup.connectedComponents(pairs, "id_a", "id_b").count()
      println("connected components rounds: " +
        graft.core.Metrics.default.snapshot
          .find(_._1.startsWith("graft_cc_convergence_rounds"))
          .map(_._2).getOrElse(-1.0))
    }
    // 8. Curation additions. (a) line dedup: the heavy-hitter line set
    // must arrive via a BROADCAST left_anti join (document text never
    // rides a shuffle; the only exchanges are the 16-byte-hash groupBy
    // and the per-doc reassembly). (b) classifier: a pure map-side
    // projection -- NO exchange at all. (c) rpTopK: both stages must be
    // TakeOrderedAndProject with zero shuffles.
    {
      val docs = graft.core.Tables.documents(spark, sf)
      val ld = graft.llmops.Dedup.lineDedup(docs, "doc_id", "text",
        window = 2, maxDocFrac = 0.03)
      val ldStr = ld.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      def occ(hay: String, needle: String): Int =
        hay.sliding(needle.length).count(_ == needle)
      println("\nline dedup: " +
        s"BroadcastHashJoin LeftAnti=${occ(ldStr, "BroadcastHashJoin") min occ(ldStr, "LeftAnti")}, " +
        s"shuffles=${occ(ldStr, "Exchange hashpartitioning")}")
      val clf = graft.llmops.TextAnalysis.withClassifier(docs, "text")
      val clfExch = clf.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      println(s"hashed classifier: ${clfExch.size} shuffles (map-side only)")
      val emb = graft.core.Tables.embeddings(spark, sf)
      val q = emb.where(col("vec_id") === 7)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      val rp = graft.llmops.Ann.rpTopK(emb, "vec_id", "embedding", q,
        k = 10, planes = 8, rerank = 50, seed = 7)
      val rpStr = rp.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      println("rp ann: " +
        s"TakeOrderedAndProject=${occ(rpStr, "TakeOrderedAndProject")}, " +
        s"shuffles=${occ(rpStr, "Exchange hashpartitioning")}")
      // temperature mix: the per-group thresholds arrive by BROADCAST;
      // the corpus side is filter-only (its only exchange is none).
      val tm = graft.llmops.Curation.temperatureMix(docs, "doc_id",
        "lang", "tmix")
      val tmStr = tm.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      println("temperature mix: " +
        s"BroadcastHashJoin=${occ(tmStr, "BroadcastHashJoin")}, " +
        s"hash exchanges=${occ(tmStr, "Exchange hashpartitioning")} " +
        "(any belong to the tiny count agg, not the corpus side)")
      // count-min estimate: the sketch (<= depth*width rows) broadcasts.
      val toks = docs.select(explode(
        graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
      val cms = graft.llmops.Sketches.cmEstimate(
        graft.llmops.Sketches.cmSketch(toks, "tok"), toks.limit(5), "tok")
      val cmsStr = cms.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      println("cms estimate: " +
        s"BroadcastHashJoin=${occ(cmsStr, "BroadcastHashJoin")}")
    }
    // 9. Round-8 additions. (a) hot-fingerprint cap: the hot set must
    // arrive via a BROADCAST left_anti join (the fingerprint stream
    // never re-shuffles for the cap). (b) DSIR: the <= buckets-row
    // weight table broadcasts; corpus-side exchanges are the per-doc
    // agg + id join only. (c) semantic dedup: candidates keyed on the
    // trained cell (the cluster IS the band key). (d) batch serving:
    // the JOB COUNT (AQE materializes one job per query stage) must be
    // CONSTANT in batch size -- the entire point of the one-pass design.
    {
      val docs = graft.core.Tables.documents(spark, sf)
      def occ(hay: String, needle: String): Int =
        hay.sliding(needle.length).count(_ == needle)
      val capped = graft.llmops.Dedup.substringDupPairs(docs, "doc_id",
        "text", window = 12, minShared = 2, maxDocFreq = 1000)
      capped.collect()
      val capStr = capped.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      println("\nhot-fingerprint cap: " +
        s"LeftAnti=${occ(capStr, "LeftAnti")}, " +
        s"BroadcastHashJoin=${occ(capStr, "BroadcastHashJoin")}")
      val w = graft.llmops.Curation.dsirWeights(docs,
        docs.where(col("lang") === "en"), "text", shingleN = 2,
        buckets = 256)
      val ds = graft.llmops.Curation.dsirScores(docs, "doc_id", "text", w,
        shingleN = 2, buckets = 256)
      val dsStr = ds.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      println("dsir scores: " +
        s"BroadcastHashJoin=${occ(dsStr, "BroadcastHashJoin")} (weights), " +
        s"hash exchanges=${occ(dsStr, "Exchange hashpartitioning")} " +
        "(per-doc agg + id join)")
      val emb2 = graft.core.Tables.embeddings(spark, sf)
      val cents = graft.llmops.Ann.trainCentroids(emb2, "embedding", 16)
      val sd = graft.llmops.Dedup.semanticDupFlags(emb2, "vec_id",
        "embedding", cents, 900000L)
      val sdStr = sd.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      println("semantic dedup: " +
        s"joins=${occ(sdStr, "Join")} keyed on cell + id flag join, " +
        s"hash exchanges=${occ(sdStr, "Exchange hashpartitioning")}")
      // batch serving: same fixture tables as section 4.
      val questions = (1 to 10).map(i =>
        s"games where white is rated at least ${2000 + 50 * i}")
      def plansOf(n: Int) = questions.take(n).map(q =>
        graft.query.QueryIntent.analyse(
          graft.query.QueryIntent.Request(q, Some(5)))).toSeq
      val ht = graft.query.HybridExecutor.Tables(t.games, t.players, Some(v))
      def jobsFor(tag: String, n: Int): Int = {
        spark.sparkContext.setJobGroup(tag, tag)
        graft.query.HybridExecutor.executeBatch(spark, ht, plansOf(n), e)
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.statusTracker.getJobIdsForGroup(tag).length
      }
      jobsFor("warm", 2) // JIT + plan-cache warm, not reported
      val j2 = jobsFor("batch2", 2)
      val j10 = jobsFor("batch10", 10)
      println(s"batch serving Spark jobs: N=2 -> $j2, N=10 -> $j10 " +
        "(equal = stage count independent of batch size)")

      // 8 (round-8 continuation). (a) bloom probe: the sketch must
      // BROADCAST into the probe join (mBits/62 rows vs a corpus-sized
      // probe stream). (b) budget select: every Window must be
      // partitioned (by __pid) -- a "No Partition Defined" global
      // window over data would be the scale-killer; the only
      // single-partition window is over the <= n-row totals frame.
      // (c) LM scoring: the bucket-count model broadcasts.
      val toks0 = docs.select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col("text")))
          .as("token"))
      val bsk = graft.llmops.Sketches.bloomSketch(
        toks0.select("token").distinct(), "token", 124 * 25, 3, "pc")
      val bpr = graft.llmops.Sketches.bloomContains(bsk,
        toks0.select("token").distinct(), "token", 124 * 25, 3, "pc")
      val bprStr = bpr.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      println("bloom probe: " +
        s"BroadcastHashJoin=${occ(bprStr, "BroadcastHashJoin")} (sketch), " +
        s"hash exchanges=${occ(bprStr, "Exchange hashpartitioning")}")
      val bq = graft.llmops.Curation.budgetSelect(
        docs.select(col("doc_id"), col("n_chars"),
          col("n_chars").as("sc")), "doc_id", "n_chars", "sc",
        50000L, partitions = 4)
      val bqStr = bq.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      println("budget select: " +
        s"windows=${occ(bqStr, "Window")} (data window partitioned by " +
        s"__pid -- ${occ(bqStr, "__pid")} refs; the other is the " +
        "<= n-row totals frame), " +
        s"broadcast=${occ(bqStr, "BroadcastHashJoin")} (offsets frame)")
      val lm = graft.llmops.Curation.lmScores(docs,
        docs.where(col("lang") === "en"), "doc_id", "text",
        shingleN = 2, buckets = 256)
      val lmStr = lm.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      println("lm scores: " +
        s"BroadcastHashJoin=${occ(lmStr, "BroadcastHashJoin")} " +
        "(count model + id join), " +
        s"hash exchanges=${occ(lmStr, "Exchange hashpartitioning")}")
    }
    // 10. Round-8 late additions. (a) gopher rules: pure map-side
    // projection, NO exchange. (b) source stats: exactly the content-
    // hash groupBy + hash join + tiny source agg -- document text never
    // rides more than the two keyed shuffles. (c) exact representatives:
    // ONE hash exchange (the content-hash window); no join at all.
    // (d) shard plan: same partitioned-window discipline as budget
    // select -- the only single-partition window is the <= n-row totals
    // frame.
    {
      val docs = graft.core.Tables.documents(spark, sf)
      def occ(hay: String, needle: String): Int =
        hay.sliding(needle.length).count(_ == needle)
      val gr = graft.llmops.TextAnalysis.gopherRules(docs, "text")
      val grExch = gr.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      println(s"\ngopher rules: ${grExch.size} shuffles (map-side only)")
      val ss = graft.llmops.Curation.sourceStats(docs, "doc_id", "text",
        "source")
      val ssStr = ss.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      println("source stats: " +
        s"hash exchanges=${occ(ssStr, "Exchange hashpartitioning")} " +
        "(content-hash agg + hash join + per-source agg), " +
        s"joins=${occ(ssStr, "Join")}")
      val er = graft.llmops.Dedup.exactRepresentatives(docs, "doc_id",
        "text", "n_chars")
      val erStr = er.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      println("exact representatives: " +
        s"hash exchanges=${occ(erStr, "Exchange hashpartitioning")} " +
        s"(content-hash window), joins=${occ(erStr, "Join")}")
      val sp = graft.llmops.Curation.shardPlan(
        docs.select("doc_id", "n_chars"), "doc_id", "n_chars", 16384L,
        epoch = 1, partitions = 4)
      val spStr = sp.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      println("shard plan: " +
        s"windows=${occ(spStr, "Window")} (data window partitioned by " +
        s"__pid -- ${occ(spStr, "__pid")} refs), " +
        s"broadcast=${occ(spStr, "BroadcastHashJoin")} (offsets frame)")
      // (e) winnowing: a per-document linear scan -- the whole operator
      // must stay map-side (zero exchanges, zero joins).
      val wn = graft.llmops.Dedup.winnowedFingerprints(docs, "doc_id",
        "text", k = 8, w = 4)
      val wnExch = wn.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      require(wnExch.isEmpty,
        s"winnowing must be shuffle-free, found ${wnExch.size} exchanges")
      println(s"winnowing: ${wnExch.size} shuffles (per-doc scan, " +
        "map-side only)")
      // (f) round-11 capped candidate generators: the hot-cell/bucket
      // histograms are bounded by construction (2^planes cells;
      // nBands * 2^bandBits chunks) and MUST ride broadcast joins --
      // a sort-merge join on the sub-key would mean the cap itself
      // introduced a corpus-sized shuffle.
      val emb = graft.core.Tables.embeddings(spark, sf)
      val knn = graft.llmops.Ann.knnJoin(emb, emb, "vec_id", "embedding",
        k = 3, planes = 2, maxCellPop = 150)
      val knnStr = knn.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      require(occ(knnStr, "SortMergeJoin") == 0,
        "capped knnJoin must not sort-merge")
      println("knnJoin capped: " +
        s"broadcast=${occ(knnStr, "BroadcastHashJoin")} " +
        "(sub-k histogram to both sides + within-cell join), " +
        s"sortmerge=${occ(knnStr, "SortMergeJoin")}")
      val shp = graft.llmops.Dedup.simhashPairs(docs, "doc_id", "text",
        bits = 16, bandBits = 4, maxHamming = 3, maxBucketPop = 48)
      val shpStr = shp.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      require(occ(shpStr, "SortMergeJoin") == 0,
        "capped simhashPairs must not sort-merge")
      println("simhashPairs capped: " +
        s"broadcast=${occ(shpStr, "BroadcastHashJoin")} " +
        "(bucket histogram to banded rows + banded self-join), " +
        s"sortmerge=${occ(shpStr, "SortMergeJoin")}")
      // (g) web-curation funnel: extraction is map-side, the blocklist
      // rides a broadcast anti-join, and the ONLY wide stage is the
      // per-domain quota window's hash exchange.
      val webFunnel = graft.llmops.Web.domainQuota(
        graft.llmops.Web.blocklistFilter(
          docs.select(col("doc_id"),
            concat(lit("w"),
              org.apache.spark.sql.functions.substring(
                md5(col("doc_id").cast("string")), 1, 2),
              lit(".example.com")).as("host")),
          "host", Seq("blocked.com")),
        "host", "doc_id", n = 20)
      val webStr = webFunnel.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      require(occ(webStr, "SortMergeJoin") == 0,
        "web funnel must not sort-merge")
      require(occ(webStr, "Exchange hashpartitioning") <= 1,
        "web funnel must shuffle only for the quota window")
      println("web funnel: " +
        s"broadcast=${occ(webStr, "BroadcastHashJoin")} (blocklist), " +
        s"hash exchanges=${occ(webStr, "Exchange hashpartitioning")} " +
        "(quota window only)")
    }
    // 11. Round-13 stage tables: downstream dedup-family consumers must
    // read the materialized parquet ARTIFACT, not re-plan the
    // shingle->sign->band->verify generator DAG — the consumer plan's
    // only leaves are parquet scans (of the stage + optionally the
    // documents table), with the generator's signature UDF absent.
    {
      def occ(hay: String, needle: String): Int =
        hay.sliding(needle.length).count(_ == needle)
      val clusters = graft.gate.Stages.dupClusters(spark, sf)
      val cStr = clusters.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      require(occ(cStr, "BatchScan") + occ(cStr, "FileScan") >= 1 &&
        occ(cStr, "Generate") == 0,
        "staged clusters must be a parquet scan, not the generator DAG")
      println("\nstaged dup clusters: plan leaves = parquet scan only " +
        s"(joins=${occ(cStr, "Join")}, generators=${occ(cStr, "Generate")})")
      val kb = graft.llmops.Dedup.nearDupSurvivorsBy(
        graft.core.Tables.documents(spark, sf), "doc_id", "n_chars",
        clusters)
      val kbStr = kb.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      println("keep-best over staged clusters: " +
        s"joins=${occ(kbStr, "Join")} (one-pass argmax: scored attach + " +
        s"2 anti-joins), generators=${occ(kbStr, "Generate")}")
      // IVF x SQ8 at rest: probe predicate must prune partitions of the
      // codes artifact (section 6's discipline, SQ8 tier).
      val emb3 = graft.core.Tables.embeddings(spark, sf)
      val q3 = emb3.where(col("vec_id") === 7)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      val cents3 = graft.llmops.Ann.trainCentroids(emb3, "embedding", 16)
      val m3 = graft.llmops.Pq.sq8Train(emb3, "embedding")
      val cand = graft.llmops.Pq.ivfSq8CandidatesAtRest(spark,
        graft.gate.Stages.ivfSq8Codes(spark, sf), "vec_id", q3, m3,
        cents3, probes = 4, k = 10)
      val scan3 = cand.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      require(scan3.partitionFilters.nonEmpty,
        "ivf x sq8 probe must be a partition filter")
      println("ivf x sq8 at rest: " +
        s"${scan3.selectedPartitions.partitionCount} of 16 cell " +
        "partitions listed (codes artifact, 1 B/dim)")
    }
    // 12. Naive-Bayes classifier: the trained model join must BROADCAST
    // (the model is bounded by the seed vocabulary) — the corpus-side
    // token explode must never shuffle on the token key. The only
    // token-keyed exchange allowed is the SEED training aggregation.
    {
      def occ(hay: String, needle: String): Int =
        hay.sliding(needle.length).count(_ == needle)
      val docs12 = graft.core.Tables.documents(spark, sf)
      val nb = graft.llmops.TextAnalysis.nbClassify(docs12,
        docs12.where(col("doc_id") % 3 === 0)
          .withColumn("is_en", col("lang") === "en"),
        "doc_id", "text", "is_en")
      val nbStr = nb.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      // the persisted seed-count subtree prints under BOTH its consumers
      // (totals + model), so count DISTINCT exchange nodes by plan_id.
      val tokenExch = nbStr.linesIterator.filter(l =>
        l.contains("Exchange hashpartitioning") && l.contains("token"))
        .map(l => l.substring(l.indexOf("plan_id"))).toSet.size
      require(tokenExch <= 1,
        s"nb scoring must not shuffle the corpus on token (seed training" +
          s" aggregation is the only allowed token exchange); got " +
          s"$tokenExch")
      require(occ(nbStr, "BroadcastHashJoin") >= 1,
        "nb model join must broadcast")
      println("\nnb classifier: token-keyed exchanges=" + tokenExch +
        " (seed train only), broadcast joins=" +
        occ(nbStr, "BroadcastHashJoin") + " (model + final attach)")
      graft.core.Caches.releaseScoped()
      // C4 cleaning must stay a single map-side codegen'd projection:
      // no exchange, no join, no generator in the plan.
      val c4 = graft.llmops.Web.c4LineClean(docs12, "doc_id", "text")
      val c4Str = c4.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      require(occ(c4Str, "Exchange") == 0 && occ(c4Str, "Join") == 0 &&
        occ(c4Str, "Generate") == 0,
        "c4LineClean must be a pure map-side projection")
      println("c4 clean: exchanges=0, joins=0 (scan-stage filter shape)")

      // Crawl front end (r16): WARC parse -> url parts -> robots
      // decision -> politeness filter -> extract -> WET render must be
      // ONE shuffle-free map-side chain — at 100 TB this runs as the
      // scan stage, and any Exchange here would reshuffle the whole
      // crawl before a single byte is curated.
      val arc16 = docs12.select(col("doc_id"), concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: " +
          "https://ex.com/p/"), col("doc_id").cast("string"),
        lit("\r\n\r\nHTTP/1.1 200 OK\r\n\r\n<p>"), col("text"),
        lit("</p>\r\n\r\n")).as("arc"))
      val crawlFront = {
        val recs = graft.llmops.Warc.withWarcRecords(arc16, "arc")
          .where(col("warc_type") === "response")
        val parts = graft.llmops.Web.withUrlParts(recs, "warc_url")
        val polite = graft.llmops.Web.withRobotsAllowed(parts,
          "url_path", "User-agent: *\nDisallow: /p/*0$\n", "bot")
          .where(col("robots_allowed"))
        graft.llmops.Warc.toWet(polite,
          graft.llmops.Web.htmlTextUdf(col("warc_body")))
      }
      val cfStr = crawlFront.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      require(occ(cfStr, "Exchange") == 0 && occ(cfStr, "Join") == 0,
        "crawl front end must be a shuffle-free map-side chain")
      println("crawl front end (warc->robots->wet): exchanges=0, " +
        "joins=0 (scan-stage shape)")

      // Per-domain robots policy table must BROADCAST onto the corpus
      // (policy rows << corpus rows); a SortMergeJoin here would
      // shuffle the whole crawl by domain just to read its policy.
      val pol16 = spark.range(0, 3).toDF("pid")
        .select(concat(lit("d"), col("pid").cast("string"),
          lit(".com")).as("domain"),
          lit("User-agent: *\nDisallow: /\n").as("robots_txt"))
      val byPol = graft.llmops.Web.withRobotsAllowedByPolicy(
        docs12.select(col("doc_id"),
          concat(lit("d"), pmod(col("doc_id"), lit(4)).cast("string"),
            lit(".com")).as("domain"),
          lit("/x").as("path")),
        "domain", "path", pol16, "domain", "robots_txt", "bot")
      val bpStr = byPol.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      require(occ(bpStr, "BroadcastHashJoin") >= 1 &&
        occ(bpStr, "SortMergeJoin") == 0,
        "robots policy table must broadcast, never sort-merge")
      println("robots policy table: broadcast join, corpus side " +
        "never shuffles")

      // r17: the transcoding crawl front end — byte-transparent parse
      // -> charset sniff -> CharsetDecoder transcode -> WET render —
      // must ALSO be a shuffle-free map-side chain (it replaces the
      // UTF-8 chain 1:1 at the scan stage).
      val arcB17 = docs12.select(col("doc_id"), concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: " +
          "https://ex.com/p/").cast("binary"),
        col("doc_id").cast("string").cast("binary"),
        lit("\r\n\r\nHTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
          "<p>").cast("binary"),
        col("text").cast("binary"),
        lit("</p>\r\n\r\n").cast("binary")).as("arc"))
      val transFront = {
        val recs = graft.llmops.Warc.withWarcRecords(arcB17, "arc",
          byteTransparent = true)
          .where(col("warc_type") === "response")
        val sniffed = graft.llmops.Web.withCharset(recs,
          "http_content_type", "warc_body")
        val txt = graft.llmops.Web.withTranscodedBody(sniffed,
          "warc_body", "charset")
        graft.llmops.Warc.toWet(txt,
          graft.llmops.Web.htmlTextUdf(col("text_utf8")))
      }
      val tfStr = transFront.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      require(occ(tfStr, "Exchange") == 0 && occ(tfStr, "Join") == 0,
        "transcoding crawl front end must be a shuffle-free map-side chain")
      println("transcode front end (transparent warc->sniff->decode->" +
        "wet): exchanges=0, joins=0")

      // r17: crawl-delay policy join must broadcast like the verdict
      // join, and the per-domain schedule window must be the ONLY
      // exchange it adds (hashpartitioning by domain — never a global
      // sort).
      val sched = graft.llmops.Web.frontierSchedule(
        graft.llmops.Web.withCrawlDelayByPolicy(
          docs12.select(col("doc_id"),
            concat(lit("d"), pmod(col("doc_id"), lit(4)).cast("string"),
              lit(".com")).as("domain"),
            concat(lit("https://u/"), col("doc_id").cast("string"))
              .as("url"), col("doc_id").as("n_refs")),
          "domain", pol16, "domain", "robots_txt", "bot"),
        "domain", "url", "n_refs", "robots_delay_ms")
      val scStr = sched.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      require(occ(scStr, "BroadcastHashJoin") >= 1 &&
        occ(scStr, "SortMergeJoin") == 0,
        "crawl-delay policy join must broadcast")
      // two domain-keyed hash exchanges are the budget: the POLICY
      // side's dedup groupBy (policy-sized — rows are domains with a
      // robots.txt, not corpus) and the corpus-side window partition.
      // Anything more, or ANY range partitioning, is a global-sort
      // regression.
      val domExch = scStr.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning") && l.contains("domain"))
      require(domExch <= 2,
        s"frontier schedule budget is policy-agg + window domain " +
          s"exchanges; got $domExch")
      require(occ(scStr, "Exchange rangepartitioning") == 0,
        "frontier schedule must never globally sort")
      println("frontier schedule: broadcast delay join, " +
        s"$domExch domain hash exchanges (policy agg + window), " +
        "no range partitioning")
    }

    // r18: the single-decode --frontier contract — the frontier's
    // link scan over the `pages` intermediate must COLUMN-PRUNE the
    // text away (read only url + resolved_links), or the "one decode,
    // cheap re-reads" story silently re-reads the whole corpus text.
    locally {
      val dir = TempDirs.create("plan_pages")
      spark.range(0, 100).selectExpr("id AS doc_id",
        "concat('https://ex', CAST(id % 3 AS STRING), '.com/p/', " +
          "CAST(id AS STRING)) AS url",
        "'x' AS domain", "repeat('t', 100) AS text",
        "CAST(100 AS LONG) AS n_chars",
        "array(concat('https://ex', CAST(id % 3 AS STRING), " +
          "'.com/n/', CAST(id AS STRING))) AS resolved_links")
        .write.mode("overwrite").parquet(dir)
      val pagesDf = spark.read.parquet(dir)
      val links = pagesDf
        .select(explode(col("resolved_links")).as("link"))
        .select(graft.llmops.Web.urlCanonCol(col("link")).as("url"))
        .groupBy("url").agg(count(lit(1)).as("n_refs"))
        .join(pagesDf.select(graft.llmops.Web
          .urlCanonCol(col("url")).as("url")).distinct(),
          Seq("url"), "left_anti")
      val lStr = links.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      val reads = lStr.linesIterator.filter(_.contains("ReadSchema"))
        .toSeq
      require(reads.nonEmpty, "expected parquet scans in frontier plan")
      require(reads.forall(!_.contains("text")),
        "frontier derivation must never read the text column:\n" +
          reads.mkString("\n"))
      println("single-decode frontier: " + reads.size +
        " pruned pages scans, text column never read")
    }
    spark.stop()
  }
}
