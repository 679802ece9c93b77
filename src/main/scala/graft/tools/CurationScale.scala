package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.GraftSession

/** End-to-end LLM-curation pipeline at replicated scale — the llmops
  * analogue of [[PipelineScale]] (which proves the chess path at 100k
  * games). Replicates the sf documents table R× with ten exact-variant
  * groups per source doc (replica r appends one suffix token ``v<r%10>``),
  * the web-crawl duplication shape:
  *
  *   - 90% of the corpus is EXACT duplicate pressure → stage 1
  *     (hash dedup + best-copy representatives) must collapse R×n → 10×n.
  *   - each surviving group of 10 is mutually NEAR-dup (one-token suffix
  *     diff) → stage 2 (capped minhash pairs → connected components →
  *     survivors) must collapse 10×n → ~n with every hot band bucket
  *     sub-split by the maxBandPop cap (the groups all collide).
  *   - the curation tail runs on survivors: Gopher rules + the TRAINED
  *     NB classifier (seed = doc_id % 3 == 0, labeled by lang) +
  *     decontamination (Bloom tier) + hash-ranked exact sample + epoch
  *     shuffle + shard plan.
  *
  * Every stage WRITES PARQUET and the next stage reads it back — stage
  * timings measure real execution of the real artifact chain, exactly
  * how the DedupApp/CurateApp runners compose at 100 TB.
  *
  * Usage: runMain graft.tools.CurationScale [sfDir] [replicas] [variantMod]
  * Default 200 replicas over sf0.1 = 1,000,000 input documents.
  * variantMod (default 10) sets distinct exact-variants per source doc:
  * raising it scales the NEAR-DUP stage input (exact survivors =
  * variantMod x distinct texts) instead of only the exact-dedup input —
  * the knob that puts real bytes through the shingle/minhash shuffles.
  */
object CurationScale {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val replicas = if (args.length > 1) args(1).toInt else 200
    val variantMod = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.bench("graft-curation-scale")
    val root = TempDirs.create("curation_scale")

    val counters = new StageCounters(spark.sparkContext)

    // stage harness: materialize as parquet, read the artifact back
    var stageSecs = List.empty[(String, Double, Long)]
    def stage(name: String)(build: => DataFrame): DataFrame = {
      val p = s"$root/$name"
      counters.begin(name)
      val t0 = System.nanoTime()
      build.write.mode("overwrite").parquet(p)
      val out = spark.read.parquet(p)
      val n = out.count()
      val secs = (System.nanoTime() - t0) / 1e9
      counters.drain()
      stageSecs ::= ((name, secs, n))
      println(f"[scale] $name%-14s $secs%7.1f s -> $n%,12d rows  " +
        counters.summary(name))
      out
    }

    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val n0 = base.count()

    // replica ids keep the source id recoverable (id*R + r); the suffix
    // token makes exactly 10 distinct exact-variants per source doc.
    val docs = stage("land") {
      base.withColumn("r", explode(sequence(lit(0), lit(replicas - 1))))
        .select((col("doc_id") * replicas + col("r")).as("doc_id"),
          concat(col("text"), lit(" v"), (col("r") % variantMod).cast("string"))
            .as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    val nIn = stageSecs.head._3
    println(f"[scale] input = ${n0}%,d x $replicas%d = $nIn%,d docs")

    val exact = stage("exact_dedup") {
      graft.llmops.Dedup
        .exactRepresentatives(docs, "doc_id", "text", "n_chars")
        .where(col("is_rep"))
        .select("doc_id", "text", "lang", "source", "n_chars")
    }
    // INVARIANT (machine-checked): exactly 10 exact-variants per
    // DISTINCT source text survive hash dedup, independent of the
    // replica factor (the base corpus itself contains a handful of
    // duplicate texts, which collapse across their variant groups too).
    val nExact = stageSecs.head._3
    val nDistinctText = base.agg(countDistinct(col("text")))
      .head().getLong(0)
    require(nExact == nDistinctText * math.min(variantMod, replicas),
      s"exact dedup invariant: got $nExact, want " +
        s"${nDistinctText * math.min(variantMod, replicas)}")

    var nPairs = -1L
    val survivors = stage("near_dedup") {
      val pairs = graft.llmops.Dedup.minhashPairs(exact, "doc_id",
        "text", shingleN = 3, k = 8, bandRows = 4, threshold = 0.8,
        maxBandPop = 64)
      pairs.cache()
      nPairs = pairs.count()
      val clusters = graft.llmops.Dedup.connectedComponents(
        pairs, "id_a", "id_b")
      graft.llmops.Dedup.nearDupSurvivorsBy(exact, "doc_id", "n_chars",
        clusters)
    }
    // INVARIANTS (machine-checked): (a) verified pair volume respects
    // the hot-band cap's n*bands*cap bound (k=8/bandRows=4 -> 2 bands);
    // (b) near-dedup actually collapsed the 10-variant groups — the
    // survivor set is within 2x of the source corpus, not within 2x of
    // the exact-rep set it started from.
    val nSurv = stageSecs.head._3
    require(nPairs >= 0 && nPairs <= nExact * 2 * 64,
      s"pair-volume cap invariant: $nPairs > ${nExact * 2 * 64}")
    // Two regimes: at variantMod<=10 the groups collapse to ~1 cluster
    // per source text (bound 3x n0). At variantMod>>10 every variant
    // group is a HOT bucket the maxBandPop cap deliberately sub-splits
    // (the linear-not-quadratic trade), so groups fragment into a few
    // clusters each — the honest bound there is a >=10x reduction of
    // the exact-rep set, not per-text uniqueness.
    require(nSurv < math.max(3 * n0, nExact / 10),
      s"collapse invariant: $nSurv survivors vs $n0 source docs / " +
        s"$nExact exact reps")

    val kept = stage("quality_nb") {
      val ruled = graft.llmops.TextAnalysis.gopherRules(survivors,
        "text", minTokens = 5, maxTokens = 100000)
      val nb = graft.llmops.TextAnalysis.nbClassify(ruled,
        ruled.where(col("doc_id") % 3 === 0)
          .withColumn("is_en", col("lang") === "en"),
        "doc_id", "text", "is_en")
      ruled.where(col("keep"))
        .join(nb.select("doc_id", "nb_pred"), Seq("doc_id"))
    }

    val clean = stage("decontam") {
      val benchmark = base.where(col("doc_id") % 97 === 0)
        .select(col("text"))
      // minHits 3: the synthetic corpus shares a small vocabulary, so
      // single-3-gram hits are ubiquitous; 3+ distinct shared shingles
      // is the contamination signal (the llm_decontam gate's regime).
      graft.llmops.Curation.decontaminate(kept, benchmark, "doc_id",
        "text", shingleN = 3, minHits = 3, bloomBits = 15872)
    }
    val nClean = stageSecs.head._3

    // the sampled-set size is captured INSIDE the stage (r14 ADVICE:
    // comparing the shard plan's own row count against its own distinct
    // ids only proved no-double-assignment — a plan that dropped docs
    // shrank both counts equally and still passed; the "no doc dropped"
    // half needs the pre-plan cardinality)
    var nSampledIn = -1L
    val shards = stage("sample_shard") {
      val sampled = graft.llmops.Curation.exactSample(clean, "doc_id",
        n = (nClean * 4 / 5).toInt, salt = "scale").cache()
      nSampledIn = sampled.count()
      graft.llmops.Curation.shardPlan(
        graft.llmops.Curation.withEpochShuffle(sampled, "doc_id",
          epoch = 1),
        "doc_id", "n_chars", targetTokens = 16384, epoch = 1)
    }
    val nShards = shards.agg(countDistinct("shard_id")).head().getLong(0)
    // INVARIANT (machine-checked): the shard plan covers each sampled
    // doc exactly once — no doc dropped (plan rows == docs sampled
    // BEFORE the plan ran), none double-assigned (distinct == rows).
    val nPlanRows = stageSecs.head._3
    val distinctDocs = shards.agg(countDistinct("doc_id")).head().getLong(0)
    require(nPlanRows == nSampledIn,
      s"shard-coverage invariant (dropped): $nPlanRows plan rows vs " +
        s"$nSampledIn sampled docs")
    require(distinctDocs == nPlanRows,
      s"shard-coverage invariant (double-assigned): $distinctDocs " +
        s"distinct vs $nPlanRows rows")

    val total = stageSecs.map(_._2).sum
    val work = total - stageSecs.find(_._1 == "land").get._2
    println(f"[scale] shards: $nShards%,d  (pairs: $nPairs%,d)")
    println(f"[scale] TOTAL $total%.1f s (pipeline after landing " +
      f"$work%.1f s) = ${nIn / work}%,.0f docs/s end-to-end")
    println("[scale] invariants: exact-variant count, pair-volume cap, " +
      "collapse bound, shard coverage — all checked")
    // BASELINE.md-ready per-stage table (chronological order)
    println("[scale] stage          secs        rows      rows/s " +
      "shufW_MB shufR_MB spillD_MB peakMem_MB")
    stageSecs.reverse.foreach { case (name, secs, n) =>
      val m = counters(name)
      println(f"[scale] $name%-14s $secs%6.1f ${n}%,12d ${n / secs}%,11.0f " +
        f"${m(0) / 1e6}%8.0f ${m(1) / 1e6}%8.0f ${m(3) / 1e6}%9.0f " +
        f"${m(4) / 1e6}%10.0f")
    }
    spark.stop()
  }
}
