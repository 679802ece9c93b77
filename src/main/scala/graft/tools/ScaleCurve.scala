package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llmops.Dedup
import graft.core.GraftSession

/** Dedup-family scaling curves: run the LSH / fingerprint pair
  * generators on 1x / 4x / 16x replicas of the sf documents corpus and
  * print rows/s + pair counts per scale -- measured evidence for the
  * "candidate generation stays near-linear" plan-shape claims recorded
  * in BASELINE.md.
  *
  * Replicas use DISJOINT VOCABULARY per copy (every token run gets a
  * per-copy suffix, so copy j's shingles/windows/signatures never
  * collide with copy k's): the TRUE pair set at scale s is exactly s
  * times the base corpus's, and any super-linear growth in candidates,
  * pairs, or wall time is the algorithm's own doing, not the data's.
  *
  *   runMain graft.tools.ScaleCurve [sfDir] [scalesCsv]
  */
object ScaleCurve {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val scales = (if (args.length > 1) args(1) else "1,4,16")
      .split(",").map(_.trim.toInt).toSeq
    val spark = GraftSession.bench("graft-scale-curve",
      "spark.sql.shuffle.partitions" -> "32")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))

    // Semantic-dedup scaling input: replicas with IDENTICAL vectors are
    // the adversarial case -- every copy lands in the same centroid
    // cells, so cell population grows with scale exactly like a
    // web-scale boilerplate mega-cluster. The hot-cell cap
    // (semanticKeyed's md5 sub-split) must keep candidate volume linear
    // where the uncapped join would go quadratic.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cents = graft.llmops.Ann.trainCentroids(emb, "embedding",
      nCells = 16)
    def embAt(k: Int): DataFrame =
      (0 until k).map { j =>
        if (j == 0) emb
        else emb.select((col("vec_id") + lit(j * 10000000L)).as("vec_id"),
          col("embedding"))
      }.reduce(_ union _)
    val semCap = 32
    // ANN scaling inputs: one fixed query vector + SQ8 bounds trained on
    // the base table (replica values are identical, so the model is
    // scale-invariant by construction).
    val annQ = emb.where(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val sq8m = graft.llmops.Pq.sq8Train(emb, "embedding")

    def corpusAt(k: Int): DataFrame =
      (0 until k).map { j =>
        if (j == 0) docs
        else docs.select(
          (col("doc_id") + lit(j * 10000000L)).as("doc_id"),
          // suffix every token run: copy-local vocabulary
          regexp_replace(col("text"), "([A-Za-z0-9]+)", s"$$1q$j")
            .as("text"))
      }.reduce(_ union _)

    // one pass collects total pairs AND cross-copy pairs (copies have
    // disjoint vocabulary, so cross-copy > 0 would mean the candidate
    // generator welds unrelated docs -- the quadratic failure mode).
    def timed(pairs: => DataFrame): (Long, Long, Double) = {
      val t0 = System.nanoTime()
      val r = pairs
        .select(expr("id_a div 10000000").as("ca"),
          expr("id_b div 10000000").as("cb"))
        .agg(count(lit(1)).as("n"),
          count(when(col("ca") =!= col("cb"), 1)).as("x"))
        .head()
      (r.getLong(0), r.getLong(1), (System.nanoTime() - t0) / 1e9)
    }

    var baseKgrams = -1L // winnow k-gram total at the first scale
    scales.foreach { s =>
      val c = corpusAt(s)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val rows = c.count() // materialize outside the timed sections
      val (mh, mhX, mhSec) = timed(Dedup.minhashPairs(c, "doc_id", "text",
        shingleN = 3, k = 8, bandRows = 4, threshold = 0.8))
      // ADVERSARIAL minhash (r13): IDENTICAL-text replicas — every copy
      // of a doc shares every band hash, the web-boilerplate
      // mega-cluster case the disjoint-vocabulary corpus above cannot
      // produce. Candidate volume from the join keys themselves (the
      // knnKeyed protocol): uncapped must grow ~quadratically with the
      // replica factor, maxBandPop=4 must hold it ~linear.
      val ident = (0 until s).map { j =>
        if (j == 0) docs
        else docs.select((col("doc_id") + lit(j * 10000000L)).as("doc_id"),
          col("text"))
      }.reduce(_ union _)
      def candVolume(cap: Int): Long = {
        val keyed = Dedup.minhashKeyed(ident, "doc_id", "text",
          shingleN = 3, k = 8, bandRows = 4, maxBandPop = cap)
        keyed.groupBy("band", "band_hash", "__sub")
          .agg(count(lit(1)).as("n"))
          .agg(sum(col("n") * (col("n") - 1))).head().getLong(0) / 2
      }
      val mhIdentUncapped = candVolume(Int.MaxValue)
      val mhIdentCapped = candVolume(4)
      // the n*cap bound, machine-checked like the simhash/knn caps:
      // per bucket the sub-split bounds pair volume by ~pop*cap/2, so
      // globally <= (banded rows) * cap / 2 = rows * nBands * cap / 2
      // (+ sub-bucket rounding slack)
      require(mhIdentCapped <= rows * 2 * 4 / 2 + rows,
        s"minhash cap bound violated at scale $s: $mhIdentCapped")
      val (mhCapPairs, _, mhCapSec) = timed(
        Dedup.minhashPairs(ident, "doc_id", "text", shingleN = 3, k = 8,
          bandRows = 4, threshold = 0.8, maxBandPop = 4))
      val (sh, shX, shSec) = timed(Dedup.simhashPairs(c, "doc_id", "text",
        bits = 64, bandBits = 16, maxHamming = 3))
      val (sub, subX, subSec) = timed(Dedup.substringDupPairs(c, "doc_id",
        "text", window = 12, minShared = 2))
      // Prefix-sum family: shardPlan (the distributed exclusive prefix
      // sum under epoch-shuffled order). Linearity evidence = wall time
      // and shard count both scale with rows; the invariant checks
      // (every offset < target, shard ids dense 0..max, chars conserved)
      // prove the sampled-boundary machinery still places every row
      // correctly as ranges multiply.
      val spT0 = System.nanoTime()
      val withChars = c.withColumn("n_chars", length(col("text")))
      val sp = graft.llmops.Curation.shardPlan(withChars, "doc_id",
        "n_chars", targetTokens = 65536L, epoch = 1, partitions = 32)
      val spAgg = sp.agg(
        countDistinct(col("shard_id")).as("shards"),
        max(col("shard_id")).as("maxShard"),
        max(col("shard_offset")).as("maxOff"),
        sum(col("n_chars")).as("chars")).head()
      val spSec = (System.nanoTime() - spT0) / 1e9
      val (nShards, maxShard, maxOff, chars) = (spAgg.getLong(0),
        spAgg.getLong(1), spAgg.getLong(2), spAgg.getLong(3))
      val expectShards = (chars + 65536L - 1) / 65536L
      require(maxOff < 65536L && nShards == maxShard + 1 &&
        nShards == expectShards,
        s"shardPlan invariant broke at scale $s: " +
          s"$nShards/$expectShards shards, maxOff $maxOff")
      // Winnowing: map-side scan, so wall time should track rows and the
      // selected density should hold at the scheme's ~2/(w+1). The
      // per-copy token suffix leaves token COUNTS unchanged, so total
      // k-grams must scale exactly with the replica factor.
      val wnT0 = System.nanoTime()
      val wn = Dedup.winnowedFingerprints(c, "doc_id", "text", k = 8,
          w = 4)
        .agg(sum(col("n_kgrams")).as("kg"),
          sum(size(col("fps")).cast("long")).as("sel")).head()
      val wnSec = (System.nanoTime() - wnT0) / 1e9
      val (kg, selN) = (wn.getLong(0), wn.getLong(1))
      if (baseKgrams < 0) baseKgrams = kg / s
      require(kg == baseKgrams * s,
        s"winnow k-grams not linear at scale $s: $kg vs ${baseKgrams * s}")
      // Semantic dedup under the hot-cell cap: capped candidate volume
      // must stay within the linear bound sum(pop_i * cap) while the
      // UNCAPPED volume (computed from the same histogram, no join)
      // grows quadratically with the replica factor.
      val sdT0 = System.nanoTime()
      val se = embAt(s)
      val keyed = Dedup.semanticKeyed(se, "vec_id", "embedding", cents,
        maxCellPop = semCap)
      val subHist = keyed.groupBy("cell", "__sub")
        .agg(count(lit(1)).as("n"))
        .agg(sum(expr("n * (n - 1) div 2")).as("cand"),
          sum(col("n")).as("rows")).head()
      val (semCand, semRows) = (subHist.getLong(0), subHist.getLong(1))
      val semDups = Dedup.semanticDupFlags(se, "vec_id", "embedding",
        cents, thresholdMicro = 900000L, maxCellPop = semCap)
        .where(col("semantic_dup")).count()
      val sdSec = (System.nanoTime() - sdT0) / 1e9
      val semUncapped = keyed.groupBy("cell").agg(count(lit(1)).as("n"))
        .agg(sum(expr("n * (n - 1) div 2")).as("c")).head().getLong(0)
      require(semCand <= semRows * semCap,
        s"semantic capped candidates $semCand exceed linear bound " +
          s"${semRows * semCap} at scale $s")
      // KNN-graph join under the hot-cell cap: identical-vector replicas
      // pile every copy into ONE hyperplane cell (LSH's adversarial
      // case), so uncapped within-cell candidates grow quadratically
      // with the replica factor while the md5 sub-split keeps capped
      // volume within the linear sum(pop_i * cap) bound. Edge count
      // stays k-bounded per row; wall time tracks capped candidates.
      val knnCap = 64
      val knnT0 = System.nanoTime()
      val knnKeyed = graft.llmops.Ann.knnKeyed(se, "vec_id", "embedding",
        planes = 4, seed = 42, maxCellPop = knnCap)
      val knnHist = knnKeyed.groupBy("cell", "__sub")
        .agg(count(lit(1)).as("n"))
        .agg(sum(expr("n * (n - 1) div 2")).as("cand"),
          sum(expr("n * (n - 1)")).as("ordCand")).head()
      val knnCand = knnHist.getLong(0)
      val knnEdges = graft.llmops.Ann.knnJoin(se, se, "vec_id",
        "embedding", k = 3, planes = 4, maxCellPop = knnCap).count()
      val knnSec = (System.nanoTime() - knnT0) / 1e9
      val knnUncapped = knnKeyed.groupBy("cell")
        .agg(count(lit(1)).as("n"))
        .agg(sum(expr("n * (n - 1) div 2")).as("c")).head().getLong(0)
      require(knnCand <= semRows * knnCap,
        s"knn capped candidates $knnCand exceed linear bound " +
          s"${semRows * knnCap} at scale $s")
      require(knnEdges <= semRows * 3,
        s"knn edges $knnEdges exceed k-bound ${semRows * 3} at scale $s")
      // Web-curation funnel (round 11): HTML extraction is map-side, the
      // blocklist is a broadcast anti-join, and the per-domain quota
      // window is the ONLY wide stage -- wall should track rows. Hosts
      // derive from md5(doc_id), so replicas spread over the same ~56
      // unblocked domains and the quota output is capped at
      // 20 * domains regardless of corpus size (the per-domain cap
      // invariant, machine-checked here).
      val webT0 = System.nanoTime()
      val webHtml = concat(
        lit("<html><head><title>t</title><style>b{x}</style></head>" +
          "<body><p>"), col("text"), lit("</p></body></html>"))
      val webHash = md5(col("doc_id").cast("string"))
      val webTld = element_at(
        array(lit("com"), lit("org"), lit("co.uk"), lit("com.au")),
        (pmod(conv(substring(webHash, 3, 1), 16, 10).cast("int"),
          lit(4)) + lit(1)))
      val webHost = concat(lit("w"), substring(webHash, 1, 2), lit(".s"),
        substring(webHash, 4, 1), lit("."), webTld)
      val crawled = c.select(col("doc_id"), webHost.as("host"),
        graft.llmops.Web.htmlTextUdf(webHtml).as("text"))
      val webBlocked = (0 to 7).map(x => s"s${"0123456789abcdef" (x)}.com")
      val webKept = graft.llmops.Web.domainQuota(
        graft.llmops.Web.blocklistFilter(crawled, "host", webBlocked),
        "host", "doc_id", n = 20)
        .agg(count(lit(1)).as("n"),
          countDistinct(col("domain")).as("nd")).head()
      val webSec = (System.nanoTime() - webT0) / 1e9
      val (webRows, webDomains) = (webKept.getLong(0), webKept.getLong(1))
      require(webRows <= webDomains * 20,
        s"domain quota violated at scale $s: $webRows rows over " +
          s"$webDomains domains")
      // ANN at-rest IVF: write the replicas partitioned by trained cell,
      // then probe 4/16 cells -- the scan fraction (rows in probed
      // cells / total) should hold ~constant as rows grow, and file
      // pruning means query wall time tracks the PROBED volume only.
      val annPath = s"/tmp/scalecurve_ann_$s"
      graft.llmops.Ann.writePartitionedByCell(
        se.select(col("vec_id"), col("embedding")), "embedding", cents,
        annPath)
      val probed = graft.llmops.Ann.probeCells(annQ, cents, 4).toSet
      val cellPops = keyed.groupBy("cell").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val probedRows = cellPops.filter { case (c, _) => probed(c) }
        .values.sum
      val ivfT0 = System.nanoTime()
      val ivfN = graft.llmops.Ann.ivfCentroidTopKAtRest(spark, annPath,
        "vec_id", "embedding", annQ, 10, cents, probes = 4).collect().length
      val ivfSec = (System.nanoTime() - ivfT0) / 1e9
      // SQ8 integer scan: full pass over 1-byte/dim codes + exact top-k
      val sqT0 = System.nanoTime()
      val sqN = graft.llmops.Pq.sq8IntTopK(
        graft.llmops.Pq.withSq8(se, "embedding", sq8m), "vec_id", annQ,
        sq8m, 10).collect().length
      val sqSec = (System.nanoTime() - sqT0) / 1e9
      // IVF x SQ8 at rest (r13): codes written cell-partitioned, probe
      // prunes to the same 4/16 cells as the float at-rest tier, but the
      // candidate scan reads 1 B/dim integer codes — scan fraction
      // stays the IVF constant while scanned BYTES divide by 8.
      val sqArPath = s"/tmp/scalecurve_ivfsq8_$s"
      graft.llmops.Pq.writeIvfSq8AtRest(
        se.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
        cents, sq8m, sqArPath)
      val sqArT0 = System.nanoTime()
      val sqArN = graft.llmops.Pq.ivfSq8CandidatesAtRest(spark, sqArPath,
        "vec_id", annQ, sq8m, cents, probes = 4, k = 10).collect().length
      val sqArSec = (System.nanoTime() - sqArT0) / 1e9
      require(ivfN == 10 && sqN == 10 && sqArN == 10,
        s"ANN top-k short at scale $s")
      // Trained-NB scoring (r13): the model trains on the FIXED
      // base-corpus seed while the scored corpus replicates — the
      // model stays seed-bounded (broadcast) by construction, every
      // corpus row must come back scored exactly once, and wall tracks
      // the corpus-side explode + one id-keyed shuffle only.
      val nbT0 = System.nanoTime()
      val nbSeed = docs.where(col("doc_id") % 3 === 0)
        .withColumn("is_en", col("doc_id") % 2 === 0)
      val nbRows = graft.llmops.TextAnalysis.nbClassify(c, nbSeed,
        "doc_id", "text", "is_en").count()
      val nbSec = (System.nanoTime() - nbT0) / 1e9
      require(nbRows == rows,
        s"nb scored $nbRows of $rows rows at scale $s")
      println(f"""{"scale":$s,"rows":$rows,""" +
        f""""minhash_pairs":$mh,"minhash_cross":$mhX,""" +
        f""""minhash_sec":$mhSec%.2f,""" +
        f""""minhash_rows_per_sec":${rows / mhSec}%.0f,""" +
        f""""minhash_ident_uncapped_cand":$mhIdentUncapped,""" +
        f""""minhash_ident_capped_cand":$mhIdentCapped,""" +
        f""""minhash_ident_capped_pairs":$mhCapPairs,""" +
        f""""minhash_ident_capped_sec":$mhCapSec%.2f,""" +
        f""""simhash_pairs":$sh,"simhash_cross":$shX,""" +
        f""""simhash_sec":$shSec%.2f,""" +
        f""""simhash_rows_per_sec":${rows / shSec}%.0f,""" +
        f""""substring_pairs":$sub,"substring_cross":$subX,""" +
        f""""substring_sec":$subSec%.2f,""" +
        f""""substring_rows_per_sec":${rows / subSec}%.0f,""" +
        f""""shardplan_shards":$nShards,"shardplan_sec":$spSec%.2f,""" +
        f""""shardplan_rows_per_sec":${rows / spSec}%.0f,""" +
        f""""winnow_kgrams":$kg,"winnow_selected":$selN,""" +
        f""""winnow_density":${selN.toDouble / kg}%.4f,""" +
        f""""winnow_sec":$wnSec%.2f,""" +
        f""""winnow_rows_per_sec":${rows / wnSec}%.0f,""" +
        f""""semantic_rows":$semRows,"semantic_cand":$semCand,""" +
        f""""semantic_uncapped_cand":$semUncapped,""" +
        f""""semantic_dups":$semDups,"semantic_sec":$sdSec%.2f,""" +
        f""""knn_cand":$knnCand,"knn_uncapped_cand":$knnUncapped,""" +
        f""""knn_edges":$knnEdges,"knn_sec":$knnSec%.2f,""" +
        f""""web_kept":$webRows,"web_domains":$webDomains,""" +
        f""""web_sec":$webSec%.2f,""" +
        f""""ivf_probed_rows":$probedRows,""" +
        f""""ivf_scan_frac":${probedRows.toDouble / semRows}%.4f,""" +
        f""""ivf_atrest_sec":$ivfSec%.2f,""" +
        f""""sq8_rows":$semRows,"sq8_sec":$sqSec%.2f,""" +
        f""""sq8_rows_per_sec":${semRows / sqSec}%.0f,""" +
        f""""ivfsq8_atrest_probed":$probedRows,""" +
        f""""ivfsq8_atrest_sec":$sqArSec%.2f,""" +
        f""""nb_rows":$nbRows,"nb_sec":$nbSec%.2f,""" +
        f""""nb_rows_per_sec":${rows / nbSec}%.0f}""")
      c.unpersist()
    }
    spark.stop()
  }
}
