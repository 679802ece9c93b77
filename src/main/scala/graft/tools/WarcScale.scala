package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.llmops.Warc
import graft.core.GraftSession

/** WARC reader throughput at GB scale: synthesize sharded `.warc`
  * files in parallel (one file per task — the crawl-segment shape),
  * then measure [[Warc.readWarc]] (splittable) and [[Warc.readWarcGz]]
  * (gzip members) end-to-end with field extraction. Invariants:
  * record count exact, every Content-Length validates, per-file
  * rec_idx contiguous from 0, and a 1%% deterministic sample of
  * response bodies matches the generator formula.
  *
  * Every ~97th record embeds "WARC/1.0\r\n" inside its payload, so the
  * splittable read exercises the false-split healing path at volume,
  * not just in the unit spec.
  *
  * Usage: runMain graft.tools.WarcScale [records] [payloadBytes]
  *   [shards] [--dir=<path>] (default 2,000,000 x ~1 KB x 32 ~= 2 GB;
  *   --dir reuses an already-generated segment directory so repeated
  *   benches don't pay the one-off generation)
  */
object WarcScale {

  def payloadText(i: Long, payloadBytes: Int): String = {
    val unit = s"record $i lorem ipsum dolor sit amet consectetur "
    val sb = new StringBuilder
    while (sb.length < payloadBytes) sb ++= unit
    if (i % 97 == 0) sb ++= "\r\nWARC/1.0\r\nnot a real record header\r\n"
    sb.toString
  }

  /** `links` > 0 embeds that many relative anchors per page (target
    * ids deterministic from i), so frontier-shaped experiments get a
    * real link graph; the default 0 keeps legacy corpora byte-stable
    * for warm-vs-warm reader comparisons.
    */
  def record(i: Long, payloadBytes: Int, links: Int = 0): String = {
    val crlf = "\r\n"
    val anchors = (0 until links).map(k =>
      s"""<a href="/p/${(i * 7 + k * 131 + 3) % 3000000}">l$k</a> """)
      .mkString
    val html = s"<html><body>$anchors" +
      s"<p>${payloadText(i, payloadBytes)}</p></body></html>"
    val http = s"HTTP/1.1 200 OK${crlf}Content-Type: text/html$crlf$crlf$html"
    s"WARC/1.0${crlf}WARC-Type: response$crlf" +
      s"WARC-Target-URI: https://ex${i % 1000}.com/p/$i$crlf" +
      s"WARC-Date: 2024-01-01T00:00:00Z$crlf" +
      s"Content-Length: ${http.getBytes("UTF-8").length}$crlf$crlf" +
      http + crlf + crlf
  }

  /** `--onebig=N`: the bounded-memory proof for the streaming gz
    * reader. ONE `.warc.gz` file, ONE gzip member, N records — the
    * pre-r16 readAllBytes path held the whole decompressed text (plus
    * its UTF-16 String and chunk copies, ~5x raw) in a single task;
    * the streaming reader holds a 64 KB window + one record. Run under
    * a deliberately small heap (SPARK_DRIVER_MEM=3g with N=1,000,000 x
    * ~1 KB ≈ 1.2 GB raw) to make the bound observable, not asserted.
    */
  private def oneBig(spark: SparkSession, nRecords: Long,
      payloadBytes: Int, reuseDir: Option[String]): Unit = {
    val dir = reuseDir.getOrElse(
      TempDirs.create("warc_onebig"))
    val path = java.nio.file.Paths.get(dir, "big.warc.gz")
    val t0 = System.nanoTime()
    var raw = 0L
    if (!java.nio.file.Files.exists(path)) {
      val out = new java.util.zip.GZIPOutputStream(
        new java.io.BufferedOutputStream(
          java.nio.file.Files.newOutputStream(path), 1 << 20), 1 << 16)
      var i = 0L
      while (i < nRecords) {
        val rec = record(i, payloadBytes).getBytes("UTF-8")
        out.write(rec); raw += rec.length
        i += 1
      }
      out.close()
      println(f"[warc] onebig: generated ${nRecords}%,d records / " +
        f"${raw / 1e9}%.2f GB raw in ONE gzip member " +
        f"(${java.nio.file.Files.size(path) / 1e6}%,.0f MB at rest, " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s)")
    } else println(s"[warc] onebig: reusing $path")
    import org.apache.spark.sql.functions._
    val t1 = System.nanoTime()
    val agg = graft.llmops.Warc.readWarcGz(spark, dir).agg(
      count(lit(1)), sum(when(col("declared_len_ok"), 0L).otherwise(1L)),
      min("rec_idx"), max("rec_idx"), sum(length(col("warc_body"))))
      .head()
    val secs = (System.nanoTime() - t1) / 1e9
    require(agg.getLong(0) == nRecords,
      s"onebig: ${agg.getLong(0)} records, expected $nRecords")
    require(agg.getLong(1) == 0, s"onebig: ${agg.getLong(1)} bad lengths")
    require(agg.getLong(2) == 0L && agg.getLong(3) == nRecords - 1,
      "onebig: rec_idx not contiguous")
    val heap = Runtime.getRuntime.maxMemory() / 1e9
    println(f"[warc] onebig: streamed ${nRecords}%,d records " +
      f"(${agg.getLong(4) / 1e9}%.2f G chars) from one member in " +
      f"$secs%.1f s = ${nRecords / secs}%,.0f rec/s under a " +
      f"$heap%.1f GB max heap (single task; invariants green)")
  }

  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    val reuseDir = flags.collectFirst {
      case f if f.startsWith("--dir=") => f.substring(6)
    }
    val oneBigN = flags.collectFirst {
      case f if f.startsWith("--onebig=") => f.substring(9).toLong
    }
    val nRecords = if (pos.nonEmpty) pos(0).toLong else 2000000L
    val payloadBytes = if (pos.length > 1) pos(1).toInt else 1024
    val shards = if (pos.length > 2) pos(2).toInt else 32
    val spark = GraftSession.bench("graft-warc-scale")
    import spark.implicits._
    oneBigN.foreach { n =>
      oneBig(spark, n, payloadBytes, reuseDir)
      spark.stop(); return
    }
    val dir = reuseDir.getOrElse(
      TempDirs.create("warc_scale"))

    // parallel shard generation: each task streams its records straight
    // to one .warc file (and its .warc.gz twin)
    val t0 = System.nanoTime()
    // --dir reuses only when the corpus is actually there — an empty
    // (or fresh) dir generates into it, so a known path can be built
    // on first run and reused on later ones
    // Files.list streams hold a directory fd until closed — leak-free
    // via Using (repeated tool runs in one JVM otherwise accumulate)
    val reusable = reuseDir.isDefined && {
      val p = java.nio.file.Paths.get(dir)
      java.nio.file.Files.exists(p) &&
        scala.util.Using.resource(java.nio.file.Files.list(p))(
          _.anyMatch(_.toString.endsWith(".warc")))
    }
    val written = if (reusable) {
      val sz = scala.util.Using.resource(
        java.nio.file.Files.list(java.nio.file.Paths.get(dir)))(
        _.filter(_.toString.endsWith(".warc"))
          .mapToLong(java.nio.file.Files.size).sum())
      println(f"[warc] reusing $dir ($sz%,d raw bytes)")
      sz
    } else spark.range(0, shards, 1, shards).map { s =>
      val path = java.nio.file.Paths.get(dir, f"seg-$s%05d.warc")
      val gzPath = java.nio.file.Paths.get(dir, f"seg-$s%05d.warc.gz")
      val out = new java.io.BufferedOutputStream(
        java.nio.file.Files.newOutputStream(path), 1 << 20)
      val gz = new java.io.BufferedOutputStream(
        java.nio.file.Files.newOutputStream(gzPath), 1 << 20)
      var bytes = 0L
      // balanced ranges that cover nRecords EXACTLY even when
      // shards does not divide it (the old nRecords/shards truncation
      // made the n == nRecords invariant fail spuriously)
      var i = s * nRecords / shards
      val hi = (s + 1) * nRecords / shards
      while (i < hi) {
        val rec = record(i, payloadBytes).getBytes("UTF-8")
        out.write(rec)
        // member per record, Common Crawl style. GZIPOutputStream
        // allocates a NATIVE Deflater per member that GC reclaims
        // lazily -- end it eagerly or a 2M-member run leaks ~2M
        // native buffers across the task set
        final class MemberGz extends java.util.zip.GZIPOutputStream(gz) {
          def endDeflater(): Unit = `def`.end()
        }
        val g = new MemberGz
        try { g.write(rec); g.finish() } finally g.endDeflater()
        bytes += rec.length
        i += 1
      }
      out.close(); gz.close()
      bytes
    }.collect().sum
    val genSecs = (System.nanoTime() - t0) / 1e9
    val gb = written / 1e9
    println(f"[warc] generated ${nRecords}%,d records / $gb%.2f GB raw " +
      f"x2 formats in $genSecs%.1f s ($shards shards)")

    def bench(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      val t = System.nanoTime()
      val d = df
      val agg = d.agg(
        count(lit(1)).as("n"),
        sum(when(col("declared_len_ok"), 0L).otherwise(1L)).as("bad"),
        sum(length(col("warc_body"))).as("chars")).head()
      val secs = (System.nanoTime() - t) / 1e9
      val n = agg.getLong(0)
      require(n == nRecords, s"$name: $n records, expected $nRecords")
      require(agg.getLong(1) == 0, s"$name: ${agg.getLong(1)} bad lengths")
      println(f"[warc] $name%-10s $secs%7.1f s  " +
        f"${n / secs}%,.0f rec/s  ${gb / secs * 1000}%,.0f MB/s  " +
        f"(all Content-Lengths validate)")
    }

    bench("readWarc") {
      Warc.readWarc(spark, s"$dir/*.warc")
    }
    bench("readWarcGz") {
      Warc.readWarcGz(spark, s"$dir/*.warc.gz")
    }

    // --wet: the full crawl front end as ONE job — splittable read ->
    // response filter -> HTML text extraction -> WET render -> sharded
    // .warc.wet.gz, then a validating read-back. declared_len_ok on
    // the read-back gates byte-exact render/parse for EVERY record.
    if (flags.contains("--wet")) {
      val wetDir = TempDirs.create("wet_out")
      val tw = System.nanoTime()
      val wet = Warc.toWet(
        Warc.readWarc(spark, s"$dir/*.warc")
          .where(col("warc_type") === "response"),
        graft.llmops.Web.htmlTextUdf(col("warc_body")))
      val wetShards = Warc.writeWet(wet, wetDir, gzip = true)
      val wSecs = (System.nanoTime() - tw) / 1e9
      println(f"[warc] crawl->WET  $wSecs%7.1f s  " +
        f"${nRecords / wSecs}%,.0f rec/s  ${gb / wSecs * 1000}%,.0f MB/s " +
        f"(read+extract+render+write, $wetShards shards)")
      val tb = System.nanoTime()
      val back = Warc.readWarcGz(spark, wetDir).agg(
        count(lit(1)).as("n"),
        sum(when(col("declared_len_ok"), 0L).otherwise(1L)).as("bad"),
        sum(when(col("warc_type") === "conversion", 0L).otherwise(1L))
          .as("notconv"),
        sum(octet_length(col("warc_body"))).as("bytes")).head()
      val bSecs = (System.nanoTime() - tb) / 1e9
      require(back.getLong(0) == nRecords,
        s"wet readback: ${back.getLong(0)} records, expected $nRecords")
      require(back.getLong(1) == 0,
        s"wet readback: ${back.getLong(1)} invalid Content-Lengths")
      require(back.getLong(2) == 0, "wet readback: non-conversion recs")
      println(f"[warc] WET readback $bSecs%6.1f s  " +
        f"${nRecords / bSecs}%,.0f rec/s  " +
        f"${back.getLong(3) / 1e9}%.2f GB extracted text, every " +
        "Content-Length validates (byte-exact render round trip)")
    }

    // --transcode: the byte-transparent r17 path head-to-head with the
    // plain UTF-8 read — gz decode (latin1) -> charset sniff ->
    // CharsetDecoder transcode. The corpus is ASCII, so output equals
    // the plain read's text (asserted on totals) and the delta prices
    // the transparent mode + per-row decode kernel at crawl scale.
    if (flags.contains("--transcode")) {
      val tt = System.nanoTime()
      val trans = graft.llmops.Web.withTranscodedBody(
        graft.llmops.Web.withCharset(
          Warc.readWarcGz(spark, s"$dir/*.warc.gz",
            byteTransparent = true),
          "http_content_type", "warc_body"),
        "warc_body", "charset")
        .agg(count(lit(1)).as("n"),
          sum(when(col("declared_len_ok"), 0L).otherwise(1L)).as("bad"),
          sum(length(col("text_utf8"))).as("chars")).head()
      val tSecs = (System.nanoTime() - tt) / 1e9
      require(trans.getLong(0) == nRecords,
        s"transcode: ${trans.getLong(0)} records, expected $nRecords")
      require(trans.getLong(1) == 0,
        s"transcode: ${trans.getLong(1)} bad lengths (transparent mode)")
      println(f"[warc] transcode  $tSecs%7.1f s  " +
        f"${nRecords / tSecs}%,.0f rec/s  ${gb / tSecs * 1000}%,.0f MB/s  " +
        f"(transparent gz read + sniff + CharsetDecoder, " +
        f"${trans.getLong(2) / 1e9}%.2f G chars out)")
    }

    // per-file contiguity + sampled body check on the splittable read
    val d = Warc.readWarc(spark, s"$dir/*.warc")
    val contig = d.groupBy("source_file")
      .agg(count(lit(1)).as("n"), min("rec_idx").as("lo"),
        max("rec_idx").as("hi"))
      .where(col("lo") =!= 0 || col("hi") =!= col("n") - 1)
      .count()
    require(contig == 0, s"$contig files with non-contiguous rec_idx")
    val sample = d.where(col("warc_url").endsWith("/p/970")) // i=970: 970%97==0 -> embedded fake delimiter
      .select("warc_body").head().getString(0)
    require(sample.contains("WARC/1.0\r\nnot a real record header"),
      "false-split payload was torn")
    require(sample ==
      s"<html><body><p>${payloadText(970L, payloadBytes)}</p></body></html>",
      "sampled body does not match generator formula")
    println("[warc] invariants: counts exact, rec_idx contiguous, " +
      "false-split payloads intact, sampled body formula-exact")
    spark.stop()
  }
}
