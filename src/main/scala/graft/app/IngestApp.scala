package graft.app

import graft.embed.{DeterministicEmbedder, VectorsJob}
import graft.ingest.IngestJob
import graft.core.GraftSession

/** CLI: ingest a directory/glob of PGN files into parquet tables.
  *
  *   runMain graft.app.IngestApp <pgnPathOrGlob> <outDir> [dims]
  *
  * Mirrors `chessmate ingest` (reference lib/cli/ingest_command.ml) +
  * the embedding worker's vector build (embedding_worker.ml), collapsed
  * into one batch lineage: parse -> replay -> tables -> vectors.
  */
object IngestApp {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: IngestApp <pgnPath> <outDir> [dims] [--splittable]")
    val Array(in, out) = args.take(2)
    val dims = args.drop(2).find(!_.startsWith("--")).map(_.toInt)
      .getOrElse(64)
    val spark = GraftSession.app("graft-ingest")

    // --splittable: record-boundary-splitting reader for single huge
    // dump files (one file fans out across tasks; identical game_ids)
    val records =
      if (args.contains("--splittable")) IngestJob.readPgnSplittable(spark, in)
      else IngestJob.readPgn(spark, in)
    val t = IngestJob.tables(spark, records, persistRecords = true)
    IngestJob.write(t, out)
    val games = spark.read.parquet(s"$out/games")
    val players = spark.read.parquet(s"$out/players")
    val positions = spark.read.parquet(s"$out/positions")
    val vectors = VectorsJob.build(spark, games, players, positions,
      DeterministicEmbedder(dims))
    VectorsJob.write(vectors, out)

    val issues = spark.read.parquet(s"$out/issues")
    println(s"[ingest] games=${games.count()} players=${players.count()} " +
      s"positions=${positions.count()} vectors=${spark.read.parquet(s"$out/vectors").count()} " +
      s"issues=${issues.count()}")
    issues.select("source_file", "game_index", "error").show(20, truncate = false)
    spark.stop()
  }
}
