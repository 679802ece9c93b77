package graft.tools

import org.apache.spark.sql.functions._

import graft.app.CurateApp
import graft.core.GraftSession

/** Profile the curate stage chain (scored/kept/shards/report — the exact
  * [[graft.app.CurateApp]] bodies) over a synthetic corpus shaped like
  * the 8M crawl run's docs (~190 alnum tokens, ~1.1 KB text), reporting
  * wall seconds PER STAGE. The r18 8M run spent ~1,905 of 2,343 s in
  * curate ("the shard-export tail", VERDICT r18 item 1); this tool is
  * the measurement harness for fixing it: run once at a given doc count
  * before and after a change, compare stage walls at identical inputs.
  *
  * Usage: runMain graft.tools.ShardTail [nDocs] [shardTokens|auto]
  *   [outRoot] [--export] [--shard-files=N]
  * Default 2,000,000 docs, the CurateApp default shard sizing.
  * `--export` also materializes the bounded physical shards and prints
  * the output file count (the r20 one-wide-shuffle export path).
  */
object ShardTail {
  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    val nDocs = if (pos.nonEmpty) pos(0).toLong else 2000000L
    val shardTokens = if (pos.length > 1) pos(1) else "16384"
    val root = if (pos.length > 2) pos(2)
      else TempDirs.create("shard_tail")
    val doExport = flags.contains("--export")
    val shardFiles = flags.collectFirst {
      case f if f.startsWith("--shard-files=") =>
        f.stripPrefix("--shard-files=").toInt }.getOrElse(512)
    val spark = GraftSession.bench("graft-shard-tail")

    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[shardtail] $name%-10s ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    // ~190 tokens/doc, ~1.1 KB — the 8M run's doc shape. Deterministic
    // per-id text (hash-derived words) so re-runs compare like for like.
    // nDocs in the path (ADVICE r20): re-running at the same outRoot
    // with a different nDocs must not silently reuse the old corpus
    val docsPath = s"$root/docs_$nDocs"
    if (graft.core.StageIo.committed(spark, docsPath))
      println(s"[shardtail] reusing corpus at $docsPath")
    else timed("gen") {
      spark.range(nDocs).toDF("doc_id")
        .withColumn("text", concat_ws(" ",
          transform(sequence(lit(0), lit(189)), i =>
            substring(md5(concat(col("doc_id").cast("string"),
              lit(":"), i.cast("string"))), lit(1),
              (pmod(xxhash64(col("doc_id"), i), lit(7)) + 2)
                .cast("int")))))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(docsPath)
    }

    // minQuality=0 keeps every doc so the shards stage packs the FULL
    // corpus (the synthetic hash-word text scores low on stopwords)
    val cfg = CurateApp.Config(docsPath, s"$root/curate",
      minQuality = 0.0,
      shardTokens =
        if (shardTokens == "auto") None else Some(shardTokens.toLong),
      shardFiles = shardFiles, export = doExport,
      resume = flags.contains("--resume"))
    val report = timed("curate") { CurateApp.run(spark, cfg) }
    report.foreach { case (k, v) => println(f"[shardtail] $k%-12s $v") }
    if (doExport) {
      val files = new java.io.File(s"$root/curate/export").listFiles()
        .count(_.getName.endsWith(".parquet"))
      println(s"[shardtail] export files $files (bound $shardFiles)")
    }
    spark.stop()
  }
}
