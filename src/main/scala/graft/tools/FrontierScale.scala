package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.GraftSession

/** Single-decode `--frontier` proof at crawl scale (r18): the ingest
  * stage used to decode the WARC corpus TWICE when the frontier was
  * requested (once for docs, once for link extraction); it now decodes
  * ONCE into a `pages` intermediate and derives both outputs from
  * column-pruned parquet reads. This harness measures both shapes on
  * the same generated corpus and asserts the frontier rows are
  * IDENTICAL:
  *
  *  - leg A: PipelineApp.runIngest with frontier=true (the shipped
  *    single-pass path);
  *  - leg B: the r17 two-pass shape, replicated inline — decode ->
  *    docs, then a SECOND full decode -> links -> schedule.
  *
  * Corpus: WarcScale-style gz shards with `links` anchors per page
  * (WarcScale.record's opt-in link graph). A warm-up decode runs first
  * so both legs measure warm page cache. Prints one JSON line for
  * BASELINE.md.
  *
  * Usage: runMain graft.tools.FrontierScale
  *   [records] [payloadBytes] [shards] [links] [--dir=<reuse>]
  */
object FrontierScale {

  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    val reuseDir = flags.collectFirst {
      case f if f.startsWith("--dir=") => f.substring(6) }
    val nRecords = if (pos.nonEmpty) pos(0).toLong else 2000000L
    val payloadBytes = if (pos.length > 1) pos(1).toInt else 1024
    val shards = if (pos.length > 2) pos(2).toInt else 32
    val links = if (pos.length > 3) pos(3).toInt else 3
    val spark = GraftSession.bench("graft-frontier-scale")
    import spark.implicits._

    val dir = reuseDir.getOrElse(TempDirs.create("frontier_scale"))
    val have = {
      val p = java.nio.file.Paths.get(dir)
      java.nio.file.Files.exists(p) &&
        scala.util.Using.resource(java.nio.file.Files.list(p))(
          _.anyMatch(_.toString.endsWith(".warc.gz")))
    }
    if (!have) {
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(dir))
      val t0 = System.nanoTime()
      val raw = spark.range(0, shards, 1, shards).map { s =>
        val gzPath = java.nio.file.Paths.get(dir, f"seg-$s%05d.warc.gz")
        val gz = new java.util.zip.GZIPOutputStream(
          new java.io.BufferedOutputStream(
            java.nio.file.Files.newOutputStream(gzPath), 1 << 20),
          1 << 16)
        var bytes = 0L
        var i = s * nRecords / shards
        val hi = (s + 1) * nRecords / shards
        while (i < hi) {
          val rec = WarcScale.record(i, payloadBytes, links)
            .getBytes("UTF-8")
          gz.write(rec); bytes += rec.length
          i += 1
        }
        gz.close()
        bytes
      }.reduce(_ + _)
      println(f"[frontier] generated ${nRecords}%,d records / " +
        f"${raw / 1e9}%.2f GB raw, $links links/page, $shards gz " +
        f"shards in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    } else println(s"[frontier] reusing corpus at $dir")

    if (flags.contains("--gen-only")) { // corpus factory for other runs
      println(s"[frontier] gen-only: corpus at $dir")
      spark.stop(); return
    }

    def timed[A](f: => A): (A, Double) = {
      val t = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t) / 1e9)
    }

    val reps = flags.collectFirst {
      case f if f.startsWith("--reps=") => f.substring(7).toInt }
      .getOrElse(2)

    // warm the page cache so leg order doesn't bias the comparison
    val (_, warmSec) = timed(
      graft.llmops.Warc.readWarcDir(spark, dir).count())

    val base = graft.app.PipelineApp.parse(Array("-", "/tmp/ignored",
      s"--warc=$dir", "--frontier"))

    // ---- leg A: the shipped single-pass ingest+frontier ----
    // reps: the first iteration of whichever leg runs first pays JIT/
    // codegen warm-up for the shared UDF kernels; min-of-N is the
    // steady-state comparison (legs alternate, same warm cache)
    val outA = TempDirs.create("frontier_one")
    var oneSec = Double.MaxValue

    // ---- leg B: the r17 two-pass shape, inline ----
    val outB = TempDirs.create("frontier_two")
    def decoded(): DataFrame = {
      val raw = graft.llmops.Warc.readWarcDir(spark, dir,
        byteTransparent = true)
        .where(col("warc_type") === "response" &&
          (col("http_status").isNull || col("http_status") === 200))
      val recs = graft.llmops.Web.withTranscodedBody(
        graft.llmops.Web.withCharset(raw,
          "http_content_type", "warc_body"),
        "warc_body", "charset", "html_utf8")
      graft.llmops.Web.withUrlParts(recs, "warc_url")
        .withColumn("domain",
          graft.llmops.Web.registeredDomainCol(col("url_host")))
    }
    var twoSec = Double.MaxValue
    def legTwo(): Unit = {
      // pass 1: decode -> docs
      val polite1 = decoded()
      polite1.withColumn("text",
          graft.llmops.Web.mainContentUdf(col("html_utf8")))
        .where(length(col("text")) > 0)
        .select(xxhash64(col("source_file"), col("rec_idx"))
            .bitwiseAND(lit(Long.MaxValue)).as("doc_id"),
          col("warc_url").as("url"), col("domain"), col("text"),
          length(col("text")).cast("long").as("n_chars"))
        .write.mode("overwrite").parquet(s"$outB/ingest/docs")
      // pass 2: decode AGAIN -> links -> schedule (the r17 shape)
      val polite2 = decoded()
      val linkUrls = graft.llmops.Web.withResolvedLinks(
        graft.llmops.Web.withExtractedLinks(polite2, "html_utf8"),
        "warc_url", "links")
        .select(explode(col("resolved_links")).as("link"))
        .select(graft.llmops.Web.urlCanonCol(col("link")).as("url"))
      val crawled = polite2.select(
        graft.llmops.Web.urlCanonCol(col("warc_url")).as("url"))
        .distinct()
      val fresh = linkUrls.groupBy("url")
        .agg(count(lit(1)).as("n_refs"))
        .join(crawled, Seq("url"), "left_anti")
      val fParts = graft.llmops.Web.withUrlParts(fresh, "url")
        .withColumn("domain",
          graft.llmops.Web.registeredDomainCol(col("url_host")))
        .withColumn("robots_delay_ms", lit(1000L))
      graft.llmops.Web.frontierSchedule(fParts, "domain", "url",
        "n_refs", "robots_delay_ms")
        .select(col("url"), col("domain"), col("n_refs"),
          col("robots_delay_ms"), col("fetch_slot"),
          col("fetch_time_ms"))
        .write.mode("overwrite").parquet(s"$outB/ingest/frontier")
    }

    (1 to reps).foreach { r =>
      val (_, a) = timed(graft.app.PipelineApp.runIngest(
        spark, base.copy(outDir = outA), dir, s"$outA/ingest"))
      val (_, b) = timed(legTwo())
      println(f"[frontier] rep $r: single-pass $a%.1f s, " +
        f"two-pass $b%.1f s")
      oneSec = math.min(oneSec, a); twoSec = math.min(twoSec, b)
    }

    // ---- identity: same frontier rows, both directions (the shipped
    // path also carries a lastmod column — all-null on a sitemap-free
    // corpus — so compare on the r17 shape's columns) ----
    val cmpCols = Seq("url", "domain", "n_refs", "robots_delay_ms",
      "fetch_slot", "fetch_time_ms").map(col)
    val fA = spark.read.parquet(s"$outA/ingest/frontier")
      .select(cmpCols: _*)
    val fB = spark.read.parquet(s"$outB/ingest/frontier")
      .select(cmpCols: _*)
    val (nA, nB) = (fA.count(), fB.count())
    require(nA == nB, s"frontier row counts differ: $nA vs $nB")
    require(fA.exceptAll(fB).isEmpty && fB.exceptAll(fA).isEmpty,
      "frontier rows differ between single-pass and two-pass shapes")
    val docsA = spark.read.parquet(s"$outA/ingest/docs").count()
    val docsB = spark.read.parquet(s"$outB/ingest/docs").count()
    require(docsA == docsB, s"docs differ: $docsA vs $docsB")

    println(f"[frontier] warm-up decode $warmSec%.1f s; single-pass " +
      f"ingest+frontier $oneSec%.1f s vs two-pass $twoSec%.1f s " +
      f"(${twoSec / oneSec}%.2fx); $nA%,d identical frontier rows, " +
      f"$docsA%,d docs")
    println(s"""{"metric":"frontier_single_decode","value":$oneSec,""" +
      s""""unit":"sec","two_pass_sec":$twoSec,"records":$nRecords,""" +
      s""""links_per_page":$links,"frontier_rows":$nA,"docs":$docsA}""")
    spark.stop()
  }
}
