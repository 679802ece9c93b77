package graft.app

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.llmops.{Curation, TextAnalysis}
import graft.core.GraftSession

/** Operational runner for a curation pipeline over a documents table —
  * the llm_pipeline gate chain as durable STAGE ARTIFACTS (the third
  * runner beside DedupApp and AnnIndexApp):
  *
  *   scored/     quality features + composite score per doc
  *   kept/       docs passing the quality cut, decontaminated against
  *               the optional benchmark parquet, then deterministically
  *               sampled at --rate (hash-of-id: layout/RNG independent)
  *   shards/     the deterministic shard-export plan over the kept set
  *               (doc_id, shard_id, shard_offset) at --shard-tokens
  *   report/     one row: docs in, scored, kept, sampled, shards
  *
  * Each stage reads the previous stage's parquet; --resume reuses
  * completed artifacts (the DedupApp contract).
  *
  * `--shard-tokens` defaults to the TRAINING-SIZED 16384 (r20,
  * reverting r19's corpus-scaled auto): a logical shard is the unit of
  * epoch shuffle and pack order, so it must stay training-sized at any
  * corpus scale — auto's `ceil(total/512)` meant ~48B-token shards and
  * 512-unit epoch shuffles at 100 TB. The physical file count is NOT
  * the logical shard count's problem anymore: `--export` groups whole
  * shards into at most `--shard-files` files, so a 100 TB corpus plans
  * billions of 16k-token logical shards while still writing a bounded
  * file set. (`--shard-tokens=auto` is accepted and resolves to the
  * default; a consumer that writes one file PER LOGICAL SHARD from the
  * shards/ plan must size `--shard-tokens` itself.)
  *
  * `--export` additionally materializes `export/`: the kept documents
  * physically laid out for training — at most `--shard-files` output
  * files, each holding WHOLE shards sorted by (shard_id,
  * shard_offset), so any file streams its shards' documents in
  * epoch-shuffled pack order. Bounded file count by construction (one
  * shuffle on shard_id mod shardFiles), never one file per shard.
  * Export joins the text to the narrow shard plan on doc_id first —
  * the ALTERNATIVE (assigning shards inside the kept stage so export
  * repartitions only) was A/B-measured at 8M in r20 and is net SLOWER:
  * see the note at the shards stage below.
  *
  *   runMain graft.app.CurateApp <documentsParquet> <outDir>
  *     [--benchmark=<parquet>] [--min-quality=0.5] [--rate=1.0]
  *     [--shard-tokens=16384] [--shard-files=512] [--epoch=1]
  *     [--export] [--resume]
  */
object CurateApp {

  final case class Config(docs: String, outDir: String,
      benchmark: Option[String] = None, minQuality: Double = 0.5,
      rate: Double = 1.0, shardTokens: Option[Long] = None,
      shardFiles: Int = 512, epoch: Int = 1,
      export: Boolean = false,
      resume: Boolean = false)

  def parse(args: Array[String]): Config = {
    require(args.length >= 2, "usage: CurateApp <documentsParquet> " +
      "<outDir> [--benchmark=] [--min-quality=] [--rate=]" +
      " [--shard-tokens=<n>|auto] [--shard-files=] [--epoch=]" +
      " [--resume]")
    def flag(name: String): Option[String] =
      args.collectFirst { case s if s.startsWith(s"--$name=") =>
        s.stripPrefix(s"--$name=") }
    val shardFiles = flag("shard-files").map(_.toInt).getOrElse(512)
    require(shardFiles > 0, "--shard-files must be positive")
    Config(args(0), args(1),
      benchmark = flag("benchmark"),
      minQuality = flag("min-quality").map(_.toDouble).getOrElse(0.5),
      rate = flag("rate").map(_.toDouble).getOrElse(1.0),
      shardTokens = flag("shard-tokens").filter(_ != "auto")
        .map(_.toLong),
      shardFiles = shardFiles,
      epoch = flag("epoch").map(_.toInt).getOrElse(1),
      export = args.contains("--export"),
      resume = args.contains("--resume"))
  }

  /** The training-sized logical-shard default: the unit of epoch
    * shuffle / pack order, independent of corpus size (the physical
    * file count is bounded separately by `--export` + `--shard-files`).
    */
  val DefaultShardTokens = 16384L

  /** The shard-size target a config resolves to: the explicit
    * `--shard-tokens` when given, else [[DefaultShardTokens]]. Exposed
    * for the spec and PipelineApp's manifest params.
    */
  def resolveShardTokens(cfg: Config): Long =
    cfg.shardTokens.getOrElse(DefaultShardTokens)

  def run(spark: SparkSession, cfg: Config): Seq[(String, Long)] = {
    val docs = spark.read.parquet(cfg.docs)
    def stage(name: String)(build: => org.apache.spark.sql.DataFrame) =
      graft.core.StageIo.stage(spark, "curate", cfg.outDir, name,
        cfg.resume)(build)

    val scored = stage("scored") {
      // quality cut compares INTEGER micros (floor(score*1e6)) so the
      // artifact is engine-exact and the cut reproducible from it
      TextAnalysis.withQuality(docs, "text")
        .withColumn("quality_micro",
          floor(col("quality_score") * 1000000).cast("long"))
        .drop("quality_score", "mean_token_len", "alpha_ratio",
          "stopword_ratio")
    }
    val target = resolveShardTokens(cfg)
    val kept = stage("kept") {
      val q = scored.where(
        col("quality_micro") >= math.floor(cfg.minQuality * 1000000).toLong)
      val clean = cfg.benchmark match {
        case Some(b) => Curation.decontaminate(q,
          spark.read.parquet(b), "doc_id", "text")
        case None => q
      }
      if (cfg.rate >= 1.0) clean
      else Curation.deterministicSample(clean, "doc_id", cfg.rate,
        salt = s"curate:${cfg.epoch}")
    }
    // The shard plan stays a NARROW side-computation (doc_id, n_chars)
    // joined back at export time — r20 A/B-MEASURED against folding
    // the assignment into the kept stage (prefix sum over the wide
    // rows, export repartition-only): at 8M docs the fold made kept
    // 12.5 -> 81.8+ s (the pack window exchanges + persists + writes
    // the TEXT) while export only dropped 69.8 -> 55.9 s — net ~55 s
    // SLOWER end-to-end. One narrow plan + one doc_id join + one
    // bounded file-grouping shuffle is the cheaper shape.
    val shards = stage("shards") {
      Curation.shardPlan(kept.select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", target, cfg.epoch)
        .select("doc_id", "shard_id", "shard_offset")
    }
    // --export: the PHYSICAL training-shard materialization the plan
    // exists for. One shuffle on a BOUNDED key (shard_id mod
    // shardFiles — never one-file-per-shard, the r18 file-count
    // explosion), each output file holding whole shards sorted by
    // (shard_id, shard_offset), so a reader streams any file and sees
    // every document of its shards in epoch-shuffled pack order. At
    // 1000 executors this is the same bounded write; file CONTENT is
    // deterministic (hash partition on shard_id + in-file sort).
    if (cfg.export) stage("export") {
      shards.join(kept, Seq("doc_id"))
        .repartition(cfg.shardFiles,
          pmod(col("shard_id"), lit(cfg.shardFiles.toLong)))
        .sortWithinPartitions("shard_id", "shard_offset")
    }
    stage("report") {
      import spark.implicits._
      // coalesce: max(shard_id) is NULL over an empty kept set (strict
      // --min-quality / aggressive decontamination) — report 0 shards
      // instead of dying with an NPE at the final stage.
      Seq((docs.count(), scored.count(), kept.count(),
        shards.select(coalesce(max(col("shard_id")) + 1L, lit(0L)))
          .head().getLong(0)))
        .toDF("n_docs", "n_scored", "n_kept", "n_shards")
    }.head() match { case r =>
      r.schema.fieldNames.toSeq.map(n => n -> r.getAs[Long](n))
    }
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val spark = GraftSession.app("graft-curate")
    val report = run(spark, cfg)
    println("[curate] stage artifacts under " + cfg.outDir +
      ": scored/ kept/ shards/ report/")
    report.foreach { case (k, v) => println(f"[curate] $k%-12s $v") }
    spark.stop()
  }
}
