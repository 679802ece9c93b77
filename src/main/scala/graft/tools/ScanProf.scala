package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.llmops.TextAnalysis
import graft.core.GraftSession

/** The kernel profile: per-operator and per-kernel walls of the
  * TEXT-SCAN family over a synthetic web-shaped corpus (the ShardTail
  * doc generator) — the harness that caught the r19 withQuality finding
  * (interpreted higher-order functions re-walking each document): run
  * it after any scan-operator or kernel change and compare rows. Each
  * row is forced end-to-end through an un-prunable aggregate (max of a
  * hash over every output column), so the number is compute, not IO.
  *
  * Every row reports the min of 3 reps in ONE JVM, so a comparison is
  * immune to host drift across runs and the first rep's JIT warmup
  * (routinely 3-10x the steady state) never lands in the number. The
  * minhash band rows (`bands_expr`, `bands8_expr`, `posexp8_expr`) run
  * over nDocs/20 docs, because the k x shingles digest work dominates,
  * on a `where(id < n).repartition(32)` frame: a `limit(n).cache()`
  * frame is ONE partition and hides any multi-thread effect (the r20
  * MinhashBandKeys ThreadLocal regression read as parity until the
  * frame was repartitioned).
  *
  * Usage: runMain graft.tools.ScanProf [nDocs] [rowName...]
  */
object ScanProf {
  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toLong else 2000000L
    val nBandDocs = nDocs / 20
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

    def minOf3(probe: DataFrame): Double = {
      var best = Double.MaxValue
      for (_ <- 1 to 3) {
        val t0 = System.nanoTime()
        probe.head()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      best
    }
    def timed(name: String, n: Long = nDocs)(build: => DataFrame): Unit =
      if (only.isEmpty || only(name)) {
        val out = build
        val best = minOf3(out.agg(max(xxhash64(out.columns.map(col): _*))))
        println(f"[scanprof] $name%-12s $best%7.2f s  ($n%,d docs)")
      }
    def kernel(name: String, n: Long = nDocs,
        base: DataFrame = docs)(c: Column): Unit =
      timed(name, n)(base.select(c.as("k")))

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
    kernel("qc_expr")(graft.functions.QualityCountsExpr(col("text")))
    timed("c4") { graft.llmops.Web.c4LineClean(c4docs, "doc_id", "text") }
    timed("maincontent") {
      graft.llmops.Web.withMainContent(c4docs, "text") }
    timed("langid") { TextAnalysis.withLangId(docs, "text") }
    timed("gopher") { TextAnalysis.gopherRules(docs, "text") }
    timed("tokcounts") { TextAnalysis.withTokenCounts(docs, "text") }
    timed("repetition") { TextAnalysis.withRepetition(docs, "text") }
    timed("fingerprint") { TextAnalysis.withFingerprint(docs, "text") }
    timed("pii_scan") { docs.withColumn("red",
      graft.functions.PiiRedactExpr(col("text"))) }
    kernel("piitot_scan")(graft.functions.PiiTotalExpr(col("text")))
    timed("classifier") { TextAnalysis.withClassifier(docs, "text") }

    // NOT limit(): a limit-then-cache frame is ONE partition
    val bandRows = Seq("bands_expr", "bands8_expr", "posexp8_expr")
    if (only.isEmpty || bandRows.exists(only)) {
      val bdocs = docs.where(col("doc_id") < nBandDocs).repartition(32)
        .cache()
      bdocs.count()
      kernel("bands_expr", nBandDocs, bdocs)(
        graft.functions.MinhashBandKeys(col("text"), 3, 32, 4))
      kernel("bands8_expr", nBandDocs, bdocs)(
        graft.functions.MinhashBandKeys(col("text"), 3, 8, 4))
      // the posexplode shape minhashBandKeys actually runs
      timed("posexp8_expr", nBandDocs)(bdocs.select(posexplode(
        graft.functions.MinhashBandKeys(col("text"), 3, 8, 4))
        .as(Seq("band", "bh"))))
      bdocs.unpersist()
    }
    spark.stop()
  }
}
