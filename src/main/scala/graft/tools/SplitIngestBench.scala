package graft.tools

import graft.core.GraftSession


/** S1-at-scale evidence: ingest wall for ONE large PGN dump file via the
  * wholetext reader (a single task regardless of cluster size) vs
  * [[graft.ingest.IngestJob.readPgnSplittable]] (input splits fan out
  * across the executor pool). Prints one JSON line.
  *
  *   runMain graft.tools.SplitIngestBench [nGames] [splitMB] [--bz2]
  *
  * With --bz2 the dump is written bzip2-compressed (the one common
  * SPLITTABLE codec): the wholetext reader decompresses the whole file
  * in one task; the splittable reader's input splits align to
  * compression blocks and decompress in parallel.
  */
object SplitIngestBench {
  def main(args: Array[String]): Unit = {
    val nGames = if (args.nonEmpty) args(0).toInt else 20000
    val splitMB = if (args.length > 1 && !args(1).startsWith("--"))
      args(1).toInt else 8
    val bz2 = args.contains("--bz2")
    val spark = GraftSession.bench("graft-split-ingest-bench")

    val dir = TempDirs.create("graft_split_bench")
    val base = graft.core.Fixtures.extendedSampleGame
    val fileName = if (bz2) "big.pgn.bz2" else "big.pgn"
    val raw = new java.io.FileOutputStream(s"$dir/$fileName")
    val sink: java.io.OutputStream =
      if (bz2) {
        val codec = new org.apache.hadoop.io.compress.BZip2Codec()
        codec.setConf(new org.apache.hadoop.conf.Configuration())
        codec.createOutputStream(raw)
      } else raw
    val out = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(sink, "UTF-8"), 1 << 20)
    (1 to nGames).foreach { i =>
      out.write(base.replace(
        "[Event \"Interpolis International Tournament\"]",
        s"""[Event "Bench $i"]"""))
      out.write("\n\n")
    }
    out.close()
    val bytes = java.nio.file.Files.size(
      java.nio.file.Paths.get(s"$dir/$fileName"))

    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }

    // order: splittable first so wholetext gets any page-cache benefit
    // (bias AGAINST the new reader)
    val (splitSec, nSplit) = time {
      graft.ingest.IngestJob.readPgnSplittable(spark, dir, hadoopConf =
        Map("mapreduce.input.fileinputformat.split.maxsize" ->
          (splitMB.toLong << 20).toString)).count()
    }
    val (wholeSec, nWhole) = time {
      graft.ingest.IngestJob.readPgn(spark, dir).count()
    }
    println(f"""{"games":$nGames,"file_mb":${bytes / 1048576.0}%.1f,""" +
      f""""split_mb":$splitMB,"bz2":$bz2,"whole_sec":$wholeSec%.2f,""" +
      f""""split_sec":$splitSec%.2f,""" +
      f""""speedup":${wholeSec / splitSec}%.2f,""" +
      f""""whole_games_per_sec":${nWhole / wholeSec}%.0f,""" +
      f""""split_games_per_sec":${nSplit / splitSec}%.0f,""" +
      f""""rows_equal":${nWhole == nSplit}}""")
    spark.stop()
  }
}
