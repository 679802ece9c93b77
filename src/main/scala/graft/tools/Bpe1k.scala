package graft.tools

import org.apache.spark.sql.functions._
import graft.core.GraftSession

/** Production-scale BPE evidence: train >= 1,024 merges with
  * [[graft.llmops.TextAnalysis.bpeTrainBatched]] and record wall /
  * round-count / merges-per-round — the regime a real 10^4-10^5-merge
  * vocabulary lives in, far past the 32-merge oracle gate.
  *
  * The sf documents table itself cannot support this: its synthetic
  * text has 31 distinct words (total merge capacity ~150), so the
  * training stream here is DERIVED from it — each doc contributes
  * `wordsPerDoc` md5-hex words (16-symbol alphabet, 32 chars each),
  * giving ~80k distinct words and ample merge capacity while staying
  * deterministic from doc_id. Early rounds are alphabet-bounded (16
  * symbols -> at most 8 disjoint merges in round 1), so the batch runs
  * with requireFull=false and the per-round fill curve is part of the
  * record.
  *
  *   runMain graft.tools.Bpe1k [sfDir] [targetMerges] [perRound]
  */
object Bpe1k {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val target = if (args.length > 1) args(1).toInt else 1024
    val perRound = if (args.length > 2) args(2).toInt else 32
    val wordsPerDoc = 16
    val spark = GraftSession.bench("graft-bpe1k",
      "spark.sql.shuffle.partitions" -> "32")
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(wordsPerDoc - 1)),
          i => md5(concat(col("doc_id").cast("string"), lit(":"),
            i.cast("string"))))).as("text"))
    val t0 = System.nanoTime()
    val merges = graft.llmops.TextAnalysis.bpeTrainBatched(corpus, "text",
      rounds = 512, perRound = perRound, requireFull = false,
      targetMerges = target)
    val byRound = merges.groupBy("round")
      .agg(count(lit(1)).as("n")).orderBy("round")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nMerges = byRound.map(_._2).sum
    val wall = (System.nanoTime() - t0) / 1e9
    val fill = byRound.map { case (r, n) => s"$r:$n" }.mkString(",")
    println(s"[bpe1k] merges/round fill: $fill")
    println(f"""{"target":$target,"merges":$nMerges,"rounds":${byRound.length},""" +
      f""""per_round":$perRound,"wall_sec":$wall%.1f,""" +
      f""""sec_per_round":${wall / byRound.length}%.2f,""" +
      f""""sec_per_merge":${wall / nMerges}%.4f}""")
    spark.stop()
  }
}
