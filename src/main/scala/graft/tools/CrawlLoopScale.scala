package graft.tools

import org.apache.spark.sql.functions._
import graft.core.GraftSession

/** Two-round crawler loop at scale (r18): round 1 crawls corpus A and
  * emits a frontier; a synthetic fetcher "fetches" the frontier's TOP
  * K urls IN SCHEDULE ORDER (per-domain fetch_time ascending — the
  * contract a polite fetcher honors) into corpus B, whose pages link
  * BACK to round-1 urls and out to brand-new urls; round 2 ingests B
  * with `--crawled=<round1>/ingest/docs`. The loop invariants are
  * asserted, not eyeballed:
  *
  *  - round 2's frontier contains ZERO urls fetched in round 1 OR 2
  *    (backlinks to round-1 pages must not re-enter);
  *  - every round-2 frontier url is genuinely new (the /r2/ link
  *    family or the /r2s/ sitemap-seed family);
  *  - round 2's docs are exactly the fetched frontier urls.
  *
  * Round 2's corpus also carries ONE SITEMAP PER DOMAIN (r19 — the
  * llm_pipeline14 recency semantics proven at crawl scale): 50 fresh
  * seeds with full W3C datetimes spread over 5 days x 12 hours and 50
  * stale date-only seeds per domain (100k dated urls at the default
  * 1000 domains). The recency invariants are machine-asserted per
  * domain on round 2's frontier:
  *
  *  - every fresh (2024-03) slot < every stale (2024-01) slot < every
  *    undated (/r2/ link) slot — fresh content first, popularity tail
  *    last;
  *  - within each (domain, day), slot order follows the time-of-day
  *    tiebreak exactly (lexical W3C time desc, url asc).
  *
  * Prints one JSON line for BASELINE.md with both rounds' walls.
  *
  * Usage: runMain graft.tools.CrawlLoopScale
  *   [records] [payloadBytes] [shards] [links] [topK]
  */
object CrawlLoopScale {

  def main(args: Array[String]): Unit = {
    val nRecords = if (args.nonEmpty) args(0).toLong else 2000000L
    val payloadBytes = if (args.length > 1) args(1).toInt else 1024
    val shards = if (args.length > 2) args(2).toInt else 32
    val links = if (args.length > 3) args(3).toInt else 3
    val topK = if (args.length > 4) args(4).toLong else 500000L
    val spark = GraftSession.bench("graft-crawl-loop-scale")
    import spark.implicits._

    def timed[A](f: => A): (A, Double) = {
      val t = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t) / 1e9)
    }

    // ---- corpus A ----
    val dirA = TempDirs.create("loop_a")
    spark.range(0, shards, 1, shards).map { s =>
      val gz = new java.util.zip.GZIPOutputStream(
        new java.io.BufferedOutputStream(java.nio.file.Files
          .newOutputStream(java.nio.file.Paths.get(dirA,
            f"seg-$s%05d.warc.gz")), 1 << 20), 1 << 16)
      var i = s * nRecords / shards
      val hi = (s + 1) * nRecords / shards
      while (i < hi) {
        gz.write(WarcScale.record(i, payloadBytes, links)
          .getBytes("UTF-8")); i += 1
      }
      gz.close(); hi
    }.count()

    val base = graft.app.PipelineApp.parse(Array("-", "/tmp/ignored",
      s"--warc=$dirA", "--frontier"))
    val out1 = TempDirs.create("loop_out1")
    val (_, r1Sec) = timed(graft.app.PipelineApp.runIngest(
      spark, base.copy(outDir = out1), dirA, s"$out1/ingest"))
    val frontier1 = spark.read.parquet(s"$out1/ingest/frontier")
    val f1n = frontier1.count()

    // ---- synthetic fetcher: top-K frontier urls IN SCHEDULE ORDER
    // (domain, fetch_time_ms) -> corpus B. Each fetched page links
    // back to a round-1 url (/p/<idx>) and out to two new urls. ----
    val dirB = TempDirs.create("loop_b")
    val fetchList = frontier1
      .orderBy(col("domain"), col("fetch_time_ms"))
      .limit(topK.toInt)
      .select("url")
    val (fetched, genSec) = timed {
      fetchList.repartition(shards).mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val gz = new java.util.zip.GZIPOutputStream(
          new java.io.BufferedOutputStream(java.nio.file.Files
            .newOutputStream(java.nio.file.Paths.get(dirB,
              f"r2-$pid%05d.warc.gz")), 1 << 20), 1 << 16)
        var n = 0L
        it.foreach { row =>
          val u = row.getString(0)
          val h = Integer.toHexString(u.hashCode)
          // backlink to a url round 1 ACTUALLY crawled on this
          // domain: WarcScale record i lives at https://ex{i%1000}
          // .com/p/{i}, so /p/<domainNumber> is always fetched
          val dn = "https://ex([0-9]+)\\.com/".r
            .findFirstMatchIn(u).map(_.group(1)).getOrElse("0")
          val html = "<html><body>" +
            s"""<a href="/p/$dn">back</a> <a href="/r2/$h-a">n</a> """ +
            s"""<a href="/r2/$h-b">n</a>""" +
            s"<p>${WarcScale.payloadText(n, 256)}</p></body></html>"
          val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html" +
            s"\r\n\r\n$html"
          gz.write(("WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Target-URI: $u\r\n" +
            s"WARC-Date: 2024-02-01T00:00:00Z\r\n" +
            s"Content-Length: ${http.getBytes("UTF-8").length}" +
            "\r\n\r\n" + http + "\r\n\r\n").getBytes("UTF-8"))
          n += 1
        }
        gz.close(); Iterator(n)
      }.reduce(_ + _)
    }

    // ---- one sitemap per domain into corpus B: 50 fresh seeds with
    // full datetimes (5 days x 12 hours — plenty of same-day
    // different-hour families for the tiebreak) and 50 stale
    // date-only seeds ----
    val nDomains = 1000
    val (sitemaps, smSec) = timed {
      spark.range(0, nDomains, 1, shards).map(_.toLong)
        .mapPartitions { it =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val gz = new java.util.zip.GZIPOutputStream(
            new java.io.BufferedOutputStream(java.nio.file.Files
              .newOutputStream(java.nio.file.Paths.get(dirB,
                f"r2sm-$pid%05d.warc.gz")), 1 << 20), 1 << 16)
          var n = 0L
          it.foreach { d =>
            val entries = new StringBuilder
            var i = 0
            while (i < 50) {
              entries ++= s"<url><loc>https://ex$d.com/r2s/f$i</loc>" +
                f"<lastmod>2024-03-0${1 + i % 5}%dT${6 + i % 12}%02d" +
                ":30:00Z</lastmod></url>"
              i += 1
            }
            i = 0
            while (i < 50) {
              entries ++= s"<url><loc>https://ex$d.com/r2s/s$i</loc>" +
                s"<lastmod>2024-01-0${1 + i % 5}</lastmod></url>"
              i += 1
            }
            val xml = "<?xml version=\"1.0\"?><urlset>" +
              entries + "</urlset>"
            val http = "HTTP/1.1 200 OK\r\nContent-Type: " +
              s"application/xml\r\n\r\n$xml"
            gz.write(("WARC/1.0\r\nWARC-Type: response\r\n" +
              s"WARC-Target-URI: https://ex$d.com/sitemap.xml\r\n" +
              s"WARC-Date: 2024-02-01T00:00:00Z\r\n" +
              s"Content-Length: ${http.getBytes("UTF-8").length}" +
              "\r\n\r\n" + http + "\r\n\r\n").getBytes("UTF-8"))
            n += 1
          }
          gz.close(); Iterator(n)
        }.reduce(_ + _)
    }

    // ---- round 2 with --crawled pointing at round 1's docs ----
    val out2 = TempDirs.create("loop_out2")
    val cfg2 = base.copy(outDir = out2,
      warc = Some(dirB), crawled = Some(s"$out1/ingest/docs"))
    val (_, r2Sec) = timed(graft.app.PipelineApp.runIngest(
      spark, cfg2, dirB, s"$out2/ingest"))

    // ---- loop invariants ----
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(graft.llmops.Web.urlCanonCol(col("url")).as("url"))
    val frontier2 = spark.read.parquet(s"$out2/ingest/frontier")
    val docs1 = canon(spark.read.parquet(s"$out1/ingest/docs"))
    val docs2 = canon(spark.read.parquet(s"$out2/ingest/docs"))
    val f2n = frontier2.count()
    val overlap = canon(frontier2)
      .join(docs1.union(docs2).distinct(), Seq("url"), "left_semi")
      .count()
    require(overlap == 0L,
      s"round-2 frontier re-schedules $overlap already-fetched urls")
    val nonNew = frontier2.where(!(col("url").contains("/r2/") ||
      col("url").contains("/r2s/"))).count()
    require(nonNew == 0L,
      s"round-2 frontier contains $nonNew urls outside the new families")
    val d2 = docs2.count()
    require(d2 == fetched,
      s"round-2 docs $d2 != fetched $fetched (sitemaps must never " +
        "become corpus docs)")

    // ---- recency invariants (r19): fresh < stale < undated per
    // domain, and the same-day slot order IS the time tiebreak ----
    val classed = frontier2.select(col("url"), col("domain"),
      col("lastmod"), col("fetch_slot"))
      .withColumn("cls",
        when(col("lastmod").startsWith("2024-03"), lit(0))
          .when(col("lastmod").startsWith("2024-01"), lit(1))
          .otherwise(lit(2)))
    val blocks = classed.groupBy("domain").agg(
      max(when(col("cls") === 0, col("fetch_slot"))).as("maxFresh"),
      min(when(col("cls") === 1, col("fetch_slot"))).as("minStale"),
      max(when(col("cls") === 1, col("fetch_slot"))).as("maxStale"),
      min(when(col("cls") === 2, col("fetch_slot"))).as("minUndated"),
      count(when(col("cls") === 0, 1)).as("nFresh"))
    val blockViolations = blocks.where(col("nFresh") > 0 &&
      (col("maxFresh") >= col("minStale") ||
        col("maxStale") >= col("minUndated"))).count()
    require(blockViolations == 0L,
      s"$blockViolations domains schedule stale/undated urls ahead " +
        "of fresh sitemap seeds")
    val freshSeeds = classed.where(col("cls") === 0)
      .withColumn("day", substring(col("lastmod"), 1, 10))
      .withColumn("tfield", substring(col("lastmod"), 12, 64))
    val wTime = org.apache.spark.sql.expressions.Window
      .partitionBy("domain", "day")
      .orderBy(col("tfield").desc, col("url").asc)
    val wSlot = org.apache.spark.sql.expressions.Window
      .partitionBy("domain", "day").orderBy(col("fetch_slot").asc)
    val tiebreakViolations = freshSeeds
      .withColumn("rnTime", row_number().over(wTime))
      .withColumn("rnSlot", row_number().over(wSlot))
      .where(col("rnTime") =!= col("rnSlot")).count()
    require(tiebreakViolations == 0L,
      s"$tiebreakViolations same-day seeds violate the time-of-day " +
        "tiebreak")
    val datedUrls = classed.where(col("cls") < 2).count()

    println(f"[loop] round 1: ingest+frontier $r1Sec%.1f s " +
      f"($nRecords%,d records, $f1n%,d frontier urls); fetch " +
      f"synthesis $genSec%.1f s ($fetched%,d pages); sitemaps " +
      f"$smSec%.1f s ($sitemaps%,d domains, $datedUrls%,d dated " +
      f"urls); round 2 (--crawled) $r2Sec%.1f s ($f2n%,d frontier " +
      "urls, 0 overlap, recency blocks + same-day tiebreak asserted)")
    println(s"""{"metric":"crawl_loop_two_rounds","value":$r2Sec,""" +
      s""""unit":"sec","round1_sec":$r1Sec,"records":$nRecords,""" +
      s""""fetched_round2":$fetched,"frontier1":$f1n,""" +
      s""""frontier2":$f2n,"overlap":0,"sitemap_domains":$sitemaps,""" +
      s""""dated_urls":$datedUrls,"recency_violations":0}""")
    spark.stop()
  }
}
