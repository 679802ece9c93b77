package graft.app

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.llmops.Dedup
import graft.core.GraftSession

/** Operational runner for the near-dup STAGE PIPELINE over a documents
  * table: materialize each stage as a parquet artifact under `outDir`,
  * exactly the layout a 100 TB curation run would leave behind —
  *
  *   pairs/      verified MinHash/LSH near-dup pairs (id_a, id_b,
  *               jaccard_micro) — stage 1
  *   clusters/   connected components (id, cluster_id) over stage 1
  *   survivors/  the corpus minus non-best cluster members (keep-best
  *               by --score-col, min-id ties; all columns preserved)
  *   report/     the one-row observability summary (corpus size,
  *               clustered docs, clusters, largest, removals, ratio)
  *   overlap/    (with --source-col=) cross-source near-dup overlap
  *               matrix over the pairs/ artifact — dedup-policy
  *               forensics
  *
  * Downstream jobs consume the artifacts instead of re-running the
  * shingle->sign->band->verify DAG; each stage reads the PREVIOUS
  * stage's parquet, so a failed run resumes at the failed stage by
  * re-pointing at the same outDir (earlier artifacts are reused as-is
  * with --resume).
  *
  *   runMain graft.app.DedupApp <documentsParquet> <outDir>
  *     [--id-col=doc_id] [--text-col=text] [--score-col=n_chars]
  *     [--threshold=0.8] [--shingle=3] [--hashes=8] [--band-rows=4]
  *     [--max-band-pop=256] [--resume]
  *
  * --max-band-pop is the HOT-BUCKET cap, ON by default (256): a real
  * crawl has bands where thousands of near-identical pages collide,
  * and the uncapped candidate self-join is O(pop^2) on exactly those
  * buckets — a 2M-near-identical corpus never finishes (measured this
  * round before the default). Capped buckets sub-split into
  * ceil(pop/cap) deterministic groups, bounding pair volume by
  * pop x cap; the recall trade is one-sided and tiny (a dup pair split
  * across sub-groups can still meet in any of the other k/bandRows
  * bands).
  */
object DedupApp {

  final case class Config(docs: String, outDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      scoreCol: String = "n_chars", threshold: Double = 0.8,
      shingleN: Int = 3, k: Int = 8, bandRows: Int = 4,
      maxBandPop: Int = graft.llmops.Dedup.DefaultHotCap,
      resume: Boolean = false, sourceCol: Option[String] = None,
      incremental: Option[String] = None)

  def parse(args: Array[String]): Config = {
    require(args.length >= 2, "usage: DedupApp <documentsParquet> <outDir>" +
      " [--id-col=] [--text-col=] [--score-col=] [--threshold=]" +
      " [--shingle=] [--hashes=] [--band-rows=] [--max-band-pop=]" +
      " [--resume] [--source-col=] [--incremental=<priorRunDir>]")
    def flag(name: String): Option[String] =
      args.collectFirst { case s if s.startsWith(s"--$name=") =>
        s.stripPrefix(s"--$name=") }
    Config(args(0), args(1),
      idCol = flag("id-col").getOrElse("doc_id"),
      textCol = flag("text-col").getOrElse("text"),
      scoreCol = flag("score-col").getOrElse("n_chars"),
      threshold = flag("threshold").map(_.toDouble).getOrElse(0.8),
      shingleN = flag("shingle").map(_.toInt).getOrElse(3),
      k = flag("hashes").map(_.toInt).getOrElse(8),
      bandRows = flag("band-rows").map(_.toInt).getOrElse(4),
      maxBandPop = flag("max-band-pop").map(_.toInt)
        .getOrElse(graft.llmops.Dedup.DefaultHotCap),
      resume = args.contains("--resume"),
      sourceCol = flag("source-col"),
      incremental = flag("incremental"))
  }

  /** Incremental mode (`--incremental=<priorRunDir>`): instead of a
    * full-corpus pair/cluster rebuild, the NEW snapshot is checked
    * against the prior run's retained corpus (its survivors/ artifact)
    * with the exact-hash semi-join + banded-candidate verify of
    * [[Dedup.incrementalDedupFlags]]. Artifacts under the new outDir:
    *
    *   flags/      (id, dup_exact, dup_near) for every NEW doc — vs
    *               the PRIOR retained corpus only
    *   additions/  the new docs that are NOT duplicates of the prior
    *               retained corpus, SELF-DEDUPED within the batch
    *               (exact reps + minhash keep-best — without this, two
    *               identical novel docs both survived forever)
    *   survivors/  the UPDATED retained corpus: prior survivors +
    *               additions — the stage the next incremental run
    *               points at
    *   report/     n_new / n_dup_exact / n_dup_near / n_batch_dup /
    *               n_added / n_prior_retained / n_retained
    *
    * Monotonicity contract (spec-enforced): a prior run's removals can
    * never be undone — survivors here is prior-survivors UNION
    * additions, so adding documents only ever grows the retained set
    * with genuinely novel content.
    */
  def runIncremental(spark: SparkSession, cfg: Config, priorDir: String)
      : Seq[(String, Long)] = {
    val docs = spark.read.parquet(cfg.docs)
    val prior = spark.read.parquet(s"$priorDir/survivors")
    def stage(name: String)(build: => org.apache.spark.sql.DataFrame) =
      graft.core.StageIo.stage(spark, "dedup", cfg.outDir, name,
        cfg.resume)(build)
    val flags = stage("flags") {
      Dedup.incrementalDedupFlags(docs, prior, cfg.idCol, cfg.textCol,
        shingleN = cfg.shingleN, k = cfg.k, bandRows = cfg.bandRows,
        threshold = cfg.threshold, maxRefBandPop = cfg.maxBandPop)
    }
    val additions = stage("additions") {
      val novel = docs.join(flags.where(!col("dup_exact") && !col("dup_near"))
        .select(cfg.idCol), Seq(cfg.idCol), "left_semi")
      // WITHIN-BATCH self-dedup before the union (r14 ADVICE): the
      // flags above compare new docs only against the PRIOR retained
      // corpus, so two identical novel docs in the same snapshot were
      // both unflagged and retained forever — later incremental runs
      // never re-examine survivors against each other. Exact reps
      // first (keep-best by scoreCol, min-id ties — the full-mode
      // protocol), then the same capped minhash → CC → keep-best chain
      // restricted to the novel batch.
      val exactReps = Dedup.exactRepresentatives(novel, cfg.idCol,
        cfg.textCol, cfg.scoreCol).where(col("is_rep"))
        .drop("content_hash", "cluster_size", "is_rep")
      val pairs = Dedup.minhashPairs(exactReps, cfg.idCol, cfg.textCol,
        shingleN = cfg.shingleN, k = cfg.k, bandRows = cfg.bandRows,
        threshold = cfg.threshold, maxBandPop = cfg.maxBandPop)
      val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
      Dedup.nearDupSurvivorsBy(exactReps, cfg.idCol, cfg.scoreCol, clusters)
    }
    val survivors = stage("survivors") {
      // prior survivors keep their exact rows; additions append. Column
      // order aligned by name so the union is schema-safe.
      prior.unionByName(additions.select(prior.columns.map(col).toSeq: _*))
    }
    val report = stage("report") {
      import spark.implicits._
      val nNovel = flags.where(!col("dup_exact") && !col("dup_near")).count()
      val nAdded = additions.count()
      Seq((docs.count(),
        flags.where(col("dup_exact")).count(),
        flags.where(col("dup_near")).count(),
        nNovel - nAdded, // within-batch dups removed by the self-dedup
        nAdded, prior.count(), survivors.count()))
        .toDF("n_new", "n_dup_exact", "n_dup_near", "n_batch_dup",
          "n_added", "n_prior_retained", "n_retained")
    }
    val r = report.head()
    report.schema.fieldNames.toSeq.map(n => n -> r.getAs[Long](n))
  }

  /** Run the pipeline; returns the report row as (name -> value) for
    * callers/tests. Pure function of (spark, cfg) — main only prints.
    */
  def run(spark: SparkSession, cfg: Config): Seq[(String, Long)] = {
    cfg.incremental match {
      case Some(priorDir) => return runIncremental(spark, cfg, priorDir)
      case None => ()
    }
    val docs = spark.read.parquet(cfg.docs)
    def stage(name: String)(build: => org.apache.spark.sql.DataFrame) =
      graft.core.StageIo.stage(spark, "dedup", cfg.outDir, name,
        cfg.resume)(build)

    val pairs = stage("pairs") {
      Dedup.minhashPairs(docs, cfg.idCol, cfg.textCol,
        shingleN = cfg.shingleN, k = cfg.k, bandRows = cfg.bandRows,
        threshold = cfg.threshold, maxBandPop = cfg.maxBandPop)
        .select(col("id_a"), col("id_b"),
          floor(col("jaccard") * 1000000).cast("long").as("jaccard_micro"))
    }
    val clusters = stage("clusters") {
      Dedup.connectedComponents(pairs, "id_a", "id_b")
    }
    stage("survivors") {
      Dedup.nearDupSurvivorsBy(docs, cfg.idCol, cfg.scoreCol, clusters)
    }
    // optional forensics artifact: the cross-source overlap matrix over
    // the SAME pairs/ stage (only when the corpus has a source column)
    cfg.sourceCol.foreach { sc =>
      stage("overlap") {
        Dedup.sourceOverlapMatrixFrom(pairs,
          docs.select(col(cfg.idCol).as("id"), col(sc).as("source")))
      }
    }
    val report = stage("report") {
      Dedup.dedupReport(docs, cfg.idCol, clusters)
    }
    val r = report.head()
    report.schema.fieldNames.toSeq.map(n => n -> r.getAs[Long](n))
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val spark = GraftSession.app("graft-dedup")
    val report = run(spark, cfg)
    println("[dedup] stage artifacts under " + cfg.outDir +
      (if (cfg.incremental.isDefined)
        ": flags/ additions/ survivors/ report/ (incremental vs " +
          cfg.incremental.get + ")"
      else ": pairs/ clusters/ survivors/ report/"))
    report.foreach { case (k, v) => println(f"[dedup] $k%-20s $v") }
    spark.stop()
  }
}
