package graft.tools

import org.apache.spark.sql.functions._

import graft.llmops.{Dedup, TextAnalysis}
import graft.core.GraftSession

/** Kernel-level expr-vs-udf A/B harness: min-of-3 reps in ONE JVM over
  * the ScanProf synthetic corpus, so the comparison is immune to the
  * host drift that contaminates cross-run records (the r20 canary
  * never returned to the quiet band). Two traps this harness exists to
  * avoid, both hit in r20:
  *
  *  - `limit(n).cache()` collapses the bench frame to ONE partition,
  *    hiding any multi-thread effect — the MinhashBandKeys ThreadLocal
  *    regression (1.7x under 32 threads) read as parity until the
  *    frame was `where(id < n).repartition(32)`.
  *  - single-rep timings mix JIT warmup into the number; the first rep
  *    here routinely reads 3-10x the steady state.
  *
  * Usage: runMain graft.tools.KProf [nDocs] [nBandDocs] [name...]
  * (names filter which rows run; bands rows use the smaller nBandDocs
  * because the k x shingles digest work dominates).
  */
object KProf {
  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toLong else 2000000L
    val nB = if (args.length > 1) args(1).toLong else nDocs / 20
    val only = args.drop(2).toSet
    val spark = GraftSession.bench("graft-kprof")
    val docsPath = TempDirs.create("kprof") + "/docs"
    spark.range(nDocs).toDF("doc_id")
      .withColumn("text", concat_ws(" ",
        transform(sequence(lit(0), lit(189)), i =>
          substring(md5(concat(col("doc_id").cast("string"),
            lit(":"), i.cast("string"))), lit(1),
            (pmod(xxhash64(col("doc_id"), i), lit(7)) + 2).cast("int")))))
      .write.mode("overwrite").parquet(docsPath)
    val docs = spark.read.parquet(docsPath)

    def minOf3(df: => org.apache.spark.sql.DataFrame): Double = {
      var best = Double.MaxValue
      for (_ <- 1 to 3) {
        val t0 = System.nanoTime()
        df.head()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      best
    }
    def timed(name: String, n: Long,
        base: org.apache.spark.sql.DataFrame)(
        c: org.apache.spark.sql.Column): Unit =
      if (only.isEmpty || only(name)) {
        val best = minOf3(base.agg(max(xxhash64(c))))
        println(f"[kprof] $name%-18s $best%7.2f s  ($n%,d docs)")
      }

    timed("pii_expr", nDocs, docs)(
      hash(graft.functions.TextFunctions.redactPii(col("text"))))
    timed("pii_udf", nDocs, docs)(
      hash(graft.functions.TextFunctions.redactPiiUdf(col("text"))))
    timed("pii_scan", nDocs, docs)(
      hash(graft.functions.PiiRedactExpr(col("text"))))
    timed("piitot_udf", nDocs, docs)(
      hash(graft.functions.TextFunctions.piiTotalUdf(col("text"))))
    timed("piitot_scan", nDocs, docs)(
      hash(graft.functions.PiiTotalExpr(col("text"))))
    timed("qc_expr", nDocs, docs)(
      hash(graft.functions.QualityCountsExpr(col("text"))))
    timed("qc_udf", nDocs, docs)(
      hash(TextAnalysis.qualityCountsUdf(col("text"))))

    // NOT limit(): a limit-then-cache frame is ONE partition
    val bdocs = docs.where(col("doc_id") < nB).repartition(32).cache()
    bdocs.count()
    timed("bands_expr", nB, bdocs)(
      hash(graft.functions.MinhashBandKeys(col("text"), 3, 32, 4)))
    timed("bands_udf", nB, bdocs)(
      hash(Dedup.bandKeysUdf(3, 32, 4)(col("text"))))
    timed("bands8_expr", nB, bdocs)(
      hash(graft.functions.MinhashBandKeys(col("text"), 3, 8, 4)))
    timed("bands8_udf", nB, bdocs)(
      hash(Dedup.bandKeysUdf(3, 8, 4)(col("text"))))

    // the posexplode shape minhashBandKeys actually runs
    def timedGen(name: String)(bands: org.apache.spark.sql.Column): Unit =
      if (only.isEmpty || only(name)) {
        val df = bdocs.select(posexplode(bands).as(Seq("band", "bh")))
        val best = minOf3(df.agg(max(xxhash64(col("band"), col("bh")))))
        println(f"[kprof] $name%-18s $best%7.2f s  ($nB%,d docs)")
      }
    timedGen("posexp8_expr")(
      graft.functions.MinhashBandKeys(col("text"), 3, 8, 4))
    timedGen("posexp8_udf")(Dedup.bandKeysUdf(3, 8, 4)(col("text")))
    spark.stop()
  }
}
