package graft.tools

import org.apache.spark.sql.functions._
import graft.core.GraftSession

/** The 10x scale proof the 20k stress row doesn't give: the FULL
  * pipeline — splittable bzip2 ingest -> relational tables -> embedding
  * build -> hybrid query — from ONE compressed dump at 100k+ games
  * (a shape the wholetext reader cannot even read: a 664 MB single
  * string OOMs an 8 GB driver, measured round 12). Prints one JSON line
  * for BASELINE.md.
  *
  *   runMain graft.tools.PipelineScale [nGames] [splitMB] [embedDims]
  */
object PipelineScale {
  def main(args: Array[String]): Unit = {
    val nGames = if (args.nonEmpty) args(0).toInt else 100000
    // split size is in COMPRESSED bytes (fractional MB accepted): bzip2
    // packs this highly repetitive corpus ~90x, so 0.25 MB compressed
    // splits (~36 parallel tasks at 100k games; bzip2 re-sync blocks
    // are ~10 KB compressed here, far finer than the splits) decompress
    // to ~20 MB of text each — sized so the task count matches the
    // machine, not the raw byte count
    val splitMB = if (args.length > 1) args(1).toDouble else 0.25
    val dims = if (args.length > 2) args(2).toInt else 256
    val spark = GraftSession.bench("graft-pipeline-scale")

    // ONE bzip2 dump: distinct Event + White per game (distinct
    // game_ids AND a real player dimension).
    val dir = TempDirs.create("graft_pipeline_scale")
    val base = graft.core.Fixtures.extendedSampleGame
    val codec = new org.apache.hadoop.io.compress.BZip2Codec()
    codec.setConf(new org.apache.hadoop.conf.Configuration())
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      codec.createOutputStream(
        new java.io.FileOutputStream(s"$dir/dump.pgn.bz2")), "UTF-8"),
      1 << 20)
    (1 to nGames).foreach { i =>
      out.write(base
        .replace("[Event \"Interpolis International Tournament\"]",
          s"""[Event "Scale $i"]""")
        .replace("[White \"Seirawan, Y\"]",
          s"""[White "Player W${i % 5000}"]"""))
      out.write("\n\n")
    }
    out.close()
    val mb = java.nio.file.Files.size(
      java.nio.file.Paths.get(s"$dir/dump.pgn.bz2")) / 1048576.0

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // 1) splittable ingest straight into the relational tables
    val (t, ingestSec) = timed {
      val records = graft.ingest.IngestJob.readPgnSplittable(spark, dir,
        hadoopConf = Map(
          "mapreduce.input.fileinputformat.split.maxsize" ->
            math.max(65536L, (splitMB * (1L << 20)).toLong).toString))
      val tt = graft.ingest.IngestJob.tables(spark, records,
        persistRecords = true)
      tt.games.cache().count(); tt.players.cache().count()
      tt.positions.cache().count()
      tt
    }
    val nPos = t.positions.count()
    val nPlayers = t.players.count()
    require(t.games.count() == nGames.toLong,
      s"ingest dropped games: ${t.games.count()} != $nGames")

    // 2) embedding build (dedup-by-fen: distinct FENs embed once)
    val embedder = graft.embed.DeterministicEmbedder(dims)
    val (vectors, embedSec) = timed {
      val v = graft.embed.VectorsJob.build(spark, t.games, t.players,
        t.positions, embedder)
      v.cache().count()
      v
    }

    // 3) hybrid query serving over the full corpus (page-only, the
    // serving configuration), warm + 5 timed runs
    val plan = graft.query.QueryIntent.analyse(graft.query.QueryIntent
      .Request("games where white is rated at least 2500", Some(5)))
    val summaries = graft.query.HybridExecutor.summaries(t.games, t.players)
    summaries.cache(); summaries.count()
    val ht = graft.query.HybridExecutor.Tables(t.games, t.players,
      Some(vectors), summariesPrebuilt = Some(summaries))
    val run = () => graft.query.HybridExecutor.execute(spark, ht, plan,
      embedder, computeTotal = false).results.count()
    run()
    val lats = (1 to 5).map(_ => timed(run())._2).sorted

    println(f"""{"games":$nGames,"bz2_mb":$mb%.1f,"split_mb":$splitMB%.2f,""" +
      f""""positions":$nPos,"players":$nPlayers,""" +
      f""""ingest_sec":$ingestSec%.1f,""" +
      f""""ingest_games_per_sec":${nGames / ingestSec}%.0f,""" +
      f""""embed_sec":$embedSec%.1f,""" +
      f""""embed_positions_per_sec":${nPos / embedSec}%.0f,""" +
      f""""query_p50_sec":${lats(2)}%.3f,"query_min_sec":${lats.head}%.3f,""" +
      f""""dims":$dims}""")
    spark.stop()
  }
}
