package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llmops.TextAnalysis
import graft.core.GraftSession

/** Per-operator wall profile of the TEXT-SCAN family over a synthetic
  * web-shaped corpus (the ShardTail doc generator) — the harness that
  * caught the r19 withQuality finding (interpreted higher-order
  * functions re-walking each document): run it after any scan-operator
  * change and compare rows. Each op is forced end-to-end through an
  * un-prunable aggregate (max of a hash over every output column), so
  * the number is compute, not IO.
  *
  * Usage: runMain graft.tools.ScanProf [nDocs] [opName...]
  */
object ScanProf {
  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toLong else 2000000L
    val only = args.drop(1).toSet
    val spark = GraftSession.bench("graft-scan-prof")

    val docsPath = TempDirs.create("scanprof") + "/docs"
    spark.range(nDocs).toDF("doc_id")
      .withColumn("text", concat_ws(" ",
        transform(sequence(lit(0), lit(189)), i =>
          substring(md5(concat(col("doc_id").cast("string"),
            lit(":"), i.cast("string"))), lit(1),
            (pmod(xxhash64(col("doc_id"), i), lit(7)) + 2)
              .cast("int")))))
      .write.mode("overwrite").parquet(docsPath)
    val docs = spark.read.parquet(docsPath)

    def timed(name: String)(build: => DataFrame): Unit =
      if (only.isEmpty || only(name)) {
        val out = build
        val probe = out.agg(max(xxhash64(out.columns.map(col): _*)))
        val t0 = System.nanoTime()
        probe.head()
        println(f"[scanprof] $name%-12s " +
          f"${(System.nanoTime() - t0) / 1e9}%7.1f s  ($nDocs%,d docs)")
      }

    // line-structured corpus for the C4 line rules (the flat generator
    // has no newlines or terminal punctuation, so c4 would be a no-op
    // scan): ~19 ten-word sentences per doc, each ending in '.',
    // newline-separated — written once so the transform never rides
    // the timed probe
    val c4Path = docsPath + "_c4"
    docs.withColumn("text",
        regexp_replace(col("text"), "((\\S+ ){9}\\S+) ", "$1.\n"))
      .write.mode("overwrite").parquet(c4Path)
    val c4docs = spark.read.parquet(c4Path)

    timed("quality") { TextAnalysis.withQuality(docs, "text") }
    timed("c4") { graft.llmops.Web.c4LineClean(c4docs, "doc_id", "text") }
    timed("maincontent") {
      graft.llmops.Web.withMainContent(c4docs, "text") }
    timed("langid") { TextAnalysis.withLangId(docs, "text") }
    timed("gopher") { TextAnalysis.gopherRules(docs, "text") }
    timed("tokcounts") { TextAnalysis.withTokenCounts(docs, "text") }
    timed("repetition") { TextAnalysis.withRepetition(docs, "text") }
    timed("fingerprint") { TextAnalysis.withFingerprint(docs, "text") }
    timed("pii") { docs.withColumn("red",
      graft.functions.TextFunctions.redactPii(col("text"))) }
    timed("pii_udf") { docs.withColumn("red",
      graft.functions.TextFunctions.redactPiiUdf(col("text"))) }
    timed("pii_scan") { docs.withColumn("red",
      graft.functions.PiiRedactExpr(col("text"))) }
    timed("classifier") { TextAnalysis.withClassifier(docs, "text") }
    spark.stop()
  }
}
