package graft.app

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.GraftSession

/** One-command curation pipeline: DedupApp then CurateApp (which ends in
  * the shard-export plan) as a single run sharing ONE manifest —
  *
  *   <outDir>/manifest.jsonl   one line per completed top-level stage:
  *                             {"stage","params","input","out","status"}
  *   <outDir>/dedup/           pairs/ clusters/ survivors/ report/
  *   <outDir>/curate/          scored/ kept/ shards/ report/
  *
  * Resume semantics (`--resume`) are two-level:
  *  - a top-level stage is skipped wholesale iff the manifest records it
  *    done WITH IDENTICAL params+input AND every artifact directory has
  *    its `_SUCCESS` marker (so a manifest from a different
  *    configuration, or artifacts from a run killed mid-write, are never
  *    silently reused — changing any knob invalidates the stage);
  *  - a stage that is not skippable reruns with intra-stage resume, so
  *    its own committed sub-artifacts ([[graft.core.StageIo]]) are kept
  *    and only the incomplete tail is rebuilt.
  * The manifest line is appended ONLY after the stage's artifacts are
  * fully committed, via write-temp + ATOMIC_MOVE — a kill at any point
  * leaves either no line (stage reruns, sub-stages resume) or a
  * complete line over complete artifacts.
  *
  *   runMain graft.app.PipelineApp <documentsParquet|-> <outDir>
  *     [crawl: --warc=<warcDir> --robots=<policyParquet> --ua=
  *      --warc-text=main|all --psl=<publicSuffixListFile>
  *      --transcode=on|off --frontier --crawled=<priorDocsParquet>]
  *     [dedup: --id-col= --text-col= --score-col= --threshold=
  *      --shingle= --hashes= --band-rows= --source-col=]
  *     [curate: --benchmark= --min-quality= --rate= --shard-tokens=
  *      --epoch=] [--resume]
  *
  * With `--warc=`, an "ingest" stage runs first (WARC decode ->
  * responses -> optional robots-policy filter -> main-content/all-text
  * extraction -> <outDir>/ingest/docs with doc_id/url/domain/text/
  * n_chars), and dedup reads that — the whole 100 TB crawl-to-corpus
  * story as ONE command with manifest resume across all three stages.
  * `--frontier` additionally writes <outDir>/ingest/frontier: the NEXT
  * crawl round's fetch schedule (outlinks resolved + canonicalized,
  * counted, anti-joined against what this crawl fetched, robots-
  * permitted, Crawl-delay slotted) — the full crawler loop in one run.
  * On round N+1, pass `--crawled=<roundN>/ingest/docs` (repeatable via
  * a unioned parquet) so the frontier also excludes every url a PRIOR
  * round fetched — the recurring-crawler contract.
  */
object PipelineApp {

  final case class Config(docs: String, outDir: String,
      dedup: DedupApp.Config, curate: CurateApp.Config,
      resume: Boolean,
      warc: Option[String] = None, robots: Option[String] = None,
      ua: String = "GraftBot/1.0", warcText: String = "main",
      psl: Option[String] = None, frontier: Boolean = false,
      transcode: Boolean = true, crawled: Option[String] = None,
      robotsWarc: Option[String] = None)

  private val dedupFlags = Seq("--id-col=", "--text-col=", "--score-col=",
    "--threshold=", "--shingle=", "--hashes=", "--band-rows=",
    "--max-band-pop=", "--source-col=")
  private val curateFlags = Seq("--benchmark=", "--min-quality=", "--rate=",
    "--shard-tokens=", "--shard-files=", "--epoch=", "--export")
  // crawl front door: <documentsParquet> is ignored as data when --warc
  // is given (pass '-'); the ingest stage writes <outDir>/ingest/docs
  // and the dedup stage reads that instead
  private val warcFlags = Seq("--warc=", "--robots=", "--ua=",
    "--warc-text=", "--psl=", "--transcode=", "--crawled=",
    "--robots-warc=")

  def parse(args: Array[String]): Config = {
    require(args.length >= 2,
      "usage: PipelineApp <documentsParquet|-> <outDir> " +
        "[--warc=<warcDir> [--robots=<policyParquet>] [--ua=] " +
        "[--warc-text=main|all]] [stage flags] [--resume]")
    val docs = args(0); val outDir = args(1)
    // Fail fast on anything outside the known dedup+curate flag union
    // (AnnIndexApp protocol): silently forwarding unknown flags let
    // --incremental= flip the inner dedup into a mode whose artifacts
    // (flags/additions) never match the manifest's expected layout, and
    // dropped typo'd flags without a word. Incremental chaining is a
    // DedupApp-level composition (point its --incremental= at
    // <priorPipeline>/dedup), not a pipeline mode.
    args.drop(2).foreach { a =>
      require(a == "--resume" || a == "--frontier" ||
        (dedupFlags ++ curateFlags ++ warcFlags).exists(a.startsWith),
        if (a.startsWith("--incremental="))
          "PipelineApp does not take --incremental=; run DedupApp " +
            "--incremental=<priorPipelineOut>/dedup and CurateApp over " +
            "its survivors instead"
        else s"unknown flag: $a")
    }
    def flag(name: String): Option[String] =
      args.collectFirst { case s if s.startsWith(s"--$name=") =>
        s.stripPrefix(s"--$name=") }
    val warcText = flag("warc-text").getOrElse("main")
    require(warcText == "main" || warcText == "all",
      s"--warc-text must be main or all, got: $warcText")
    // transcoding defaults ON: 5-10% of a real crawl is non-UTF-8, and
    // without it those pages enter the corpus as mojibake
    val transcode = flag("transcode").getOrElse("on")
    require(transcode == "on" || transcode == "off",
      s"--transcode must be on or off, got: $transcode")
    require(flag("robots").isEmpty || flag("robots-warc").isEmpty,
      "--robots= (prepared parquet) and --robots-warc= (robots.txt " +
        "WARC dir(s), comma-separated) are mutually exclusive")
    val d = DedupApp.parse(Array(docs, s"$outDir/dedup") ++
      args.drop(2).filterNot(f => f == "--frontier" ||
        (curateFlags ++ warcFlags).exists(f.startsWith)))
    val c = CurateApp.parse(Array(s"$outDir/dedup/survivors",
      s"$outDir/curate") ++ args.drop(2).filter(f =>
      (curateFlags :+ "--resume").exists(f.startsWith)))
    Config(docs, outDir, d, c, resume = args.contains("--resume"),
      warc = flag("warc"), robots = flag("robots"),
      ua = flag("ua").getOrElse("GraftBot/1.0"), warcText = warcText,
      psl = flag("psl"), frontier = args.contains("--frontier"),
      transcode = transcode == "on", crawled = flag("crawled"),
      robotsWarc = flag("robots-warc"))
  }

  /** Canonical parameter strings — strict string equality decides
    * whether a manifest entry still matches the requested run.
    */
  def dedupParams(c: DedupApp.Config): String =
    s"id=${c.idCol};text=${c.textCol};score=${c.scoreCol};" +
      s"thr=${c.threshold};sh=${c.shingleN};k=${c.k};br=${c.bandRows};" +
      s"cap=${c.maxBandPop};src=${c.sourceCol.getOrElse("-")}"
  def curateParams(c: CurateApp.Config): String =
    s"bench=${c.benchmark.getOrElse("-")};minq=${c.minQuality};" +
      s"rate=${c.rate};" +
      s"shard=${CurateApp.resolveShardTokens(c)};" +
      s"files=${c.shardFiles};epoch=${c.epoch};export=${c.export}"

  def manifestPath(outDir: String): java.nio.file.Path =
    java.nio.file.Paths.get(outDir, "manifest.jsonl")

  /** stage -> (params, input, status) for every stage the manifest
    * mentions ("started" or "done"). Minimal fixed-shape field
    * extraction (zero-dependency rule, same approach as
    * AnnIndexApp.parseModel).
    */
  /** JSON string escape/unescape for manifest values: params and paths
    * are user-controlled (a column name or path with a `"` or `\` used
    * to corrupt the line and silently defeat resume/invalidation).
    * Only the two structural characters need handling — values are
    * produced by this process, never arbitrary JSON.
    */
  private def jesc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** Escape-aware field extraction: scans from after `"name":"` to the
    * first UNESCAPED quote, un-escaping as it goes.
    */
  private[app] def field(line: String, name: String): Option[String] = {
    val k = s""""$name":""""
    val i = line.indexOf(k)
    if (i < 0) return None
    val sb = new StringBuilder
    var j = i + k.length
    while (j < line.length) {
      line.charAt(j) match {
        case '\\' if j + 1 < line.length =>
          sb.append(line.charAt(j + 1)); j += 2
        case '"' => return Some(sb.toString)
        case c => sb.append(c); j += 1
      }
    }
    None // unterminated value = torn line, skip it
  }

  def readManifest(outDir: String): Map[String, (String, String, String)] = {
    val p = manifestPath(outDir)
    if (!java.nio.file.Files.exists(p)) return Map.empty
    scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(p)).asScala
      .flatMap { line =>
        (field(line, "stage"), field(line, "params"), field(line, "input"),
          field(line, "status")) match {
          case (Some(s), Some(pr), Some(in), Some(st)) =>
            Some(s -> (pr, in, st))
          case _ => None
        }
      }.toMap
  }

  /** Upsert a stage line atomically: rewrite the whole manifest to a
    * temp file and ATOMIC_MOVE over the old one, so a kill during the
    * write can never leave a torn line for a later resume to misread.
    */
  def record(outDir: String, stage: String, params: String,
      input: String, out: String, status: String): Unit = {
    val p = manifestPath(outDir)
    java.nio.file.Files.createDirectories(p.getParent)
    // dedupe by the PARSED stage field, not raw substring containment —
    // a params value that happened to contain `"stage":"curate"` used to
    // evict the other stage's line
    val existing =
      if (java.nio.file.Files.exists(p))
        scala.jdk.CollectionConverters.ListHasAsScala(
          java.nio.file.Files.readAllLines(p)).asScala.toSeq
          .filterNot(l => field(l, "stage").contains(stage))
      else Seq.empty
    val line = s"""{"stage":"${jesc(stage)}","params":"${jesc(params)}",""" +
      s""""input":"${jesc(input)}","out":"${jesc(out)}",""" +
      s""""status":"${jesc(status)}"}"""
    val tmp = p.resolveSibling(s".manifest.${System.nanoTime()}.tmp")
    java.nio.file.Files.write(tmp,
      scala.jdk.CollectionConverters.SeqHasAsJava(existing :+ line).asJava)
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** True iff the manifest records `stage` DONE with identical
    * params+input AND every listed artifact committed (`_SUCCESS`).
    */
  def skippable(spark: SparkSession, outDir: String, stage: String,
      params: String, input: String, artifacts: Seq[String]): Boolean =
    readManifest(outDir).get(stage)
      .contains((params, input, "done")) &&
      artifacts.forall(a => graft.core.StageIo.committed(spark, a))

  /** Run (or resume) the full pipeline. Returns the combined report
    * rows, prefixed per stage.
    */
  def run(spark: SparkSession, cfg: Config): Seq[(String, Long)] = {
    if (!cfg.resume) { // fresh run: a stale manifest must not gate skips
      java.nio.file.Files.deleteIfExists(manifestPath(cfg.outDir))
    }

    // Optional crawl front door: WARC dir -> responses -> robots filter
    // -> text extraction -> documents parquet, as its own manifested
    // stage ("ingest") so a resumed run never re-decodes the crawl.
    // The whole stage is the PlanCheck-asserted map-side chain (plus
    // one broadcast policy join when --robots is given); doc ids are
    // content-independent (hash of source file + record index) so
    // keep-best ties stay deterministic across re-runs.
    // (docsPath, docsIdentity): the PATH dedup reads from, and the
    // IDENTITY string the manifest compares (path + the ingest params
    // that produced it, so a re-ingest under different knobs
    // invalidates downstream). Carried as a tuple — the old
    // path@params string-encoding truncated any path legitimately
    // containing '@' (legal in URIs).
    val (docsPath, docsIdentity): (String, String) = cfg.warc match {
      case None => (cfg.docs, cfg.docs)
      case Some(warcDir) =>
        val ingestOut = s"${cfg.outDir}/ingest"
        val ip = s"warc=$warcDir;robots=${cfg.robots.getOrElse("-")};" +
          s"ua=${cfg.ua};text=${cfg.warcText};" +
          s"psl=${cfg.psl.getOrElse("-")};frontier=${cfg.frontier};" +
          s"transcode=${cfg.transcode};" +
          s"crawled=${cfg.crawled.getOrElse("-")};" +
          s"robotsWarc=${cfg.robotsWarc.getOrElse("-")}"
        val arts = Seq(s"$ingestOut/docs", s"$ingestOut/report") ++
          (if (cfg.frontier) Seq(s"$ingestOut/frontier") else Seq.empty)
        if (!skippable(spark, cfg.outDir, "ingest", ip, warcDir, arts)) {
          record(cfg.outDir, "ingest", ip, warcDir, ingestOut, "started")
          runIngest(spark, cfg, warcDir, ingestOut)
          record(cfg.outDir, "ingest", ip, warcDir, ingestOut, "done")
        }
        // identity chains the ingest params into dedup's manifest input
        (s"$ingestOut/docs", s"$ingestOut/docs@$ip")
    }
    runStages(spark, cfg, docsPath, docsIdentity)
  }

  /** The ingest stage body — crawl dir in, docs/ (+ frontier/) and
    * report/ out. Package-private so the scale harness
    * ([[graft.tools.FrontierScale]]) can run and time the stage in
    * isolation from dedup/curate.
    */
  private[graft] def runIngest(spark: SparkSession, cfg: Config,
      warcDir: String, ingestOut: String): Unit = {
    // Ops guidance BEFORE the long run, not from a postmortem:
    // r17's 8M-record fresh run (9.96 GB) died in the dedup
    // pairs stage at the default 8 GB single-JVM heap. Input
    // size is a one-listing driver-side sum; warn when the heap
    // is not comfortably above it.
    locally {
      val wp = new org.apache.hadoop.fs.Path(warcDir)
      val wfs = wp.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      var bytes = 0L
      val it = wfs.listFiles(wp, true)
      while (it.hasNext) {
        val st = it.next()
        // heap pressure tracks DECODED size — count gz at a nominal
        // 5x expansion (HTML compresses ~4-6x), else at-rest bytes
        bytes += st.getLen *
          (if (st.getPath.getName.endsWith(".gz")) 5 else 1)
      }
      val heap = Runtime.getRuntime.maxMemory()
      if (bytes > heap * 3 / 4) {
        val gb = math.ceil(2.0 * bytes / (1L << 30)).toLong
        println(s"[pipeline] WARN: crawl input is " +
          f"${bytes / 1048576.0}%,.0f MB but max heap is " +
          f"${heap / 1048576.0}%,.0f MB — a single-JVM run of " +
          "this size has died in the dedup pairs stage before; " +
          s"consider SPARK_DRIVER_MEM=${gb}g (build.sbt knob) " +
          "or a real cluster")
      }
      // the advisory covers DISK too, not just heap: --frontier's
      // single-decode design writes a text-bearing `pages`
      // intermediate that coexists with docs/ until both outputs
      // commit, so the run transiently needs roughly twice the final
      // corpus parquet (bounded above by the decoded input size)
      if (cfg.frontier) {
        println(s"[pipeline] note: --frontier stages a transient " +
          "pages/ intermediate holding the corpus text a second " +
          f"time — budget up to ~${bytes / 1048576.0}%,.0f MB extra " +
          "scratch space until ingest commits (deleted automatically)")
      }
    }
    // --transcode (default on): byte-transparent decode -> sniff
    // charset (header + meta) -> CharsetDecoder transcode, so a
    // correctly-labeled Shift_JIS/windows-1251 page enters the
    // corpus as real text instead of mojibake. All map-side; a
    // UTF-8-only crawl round-trips byte-identically.
    val raw = graft.llmops.Warc.readWarcDir(spark, warcDir,
        byteTransparent = cfg.transcode)
      .where(col("warc_type") === "response" &&
        (col("http_status").isNull || col("http_status") === 200))
    val recs = if (cfg.transcode)
      graft.llmops.Web.withTranscodedBody(
        graft.llmops.Web.withCharset(raw,
          "http_content_type", "warc_body"),
        "warc_body", "charset", "html_utf8")
    else raw.withColumn("html_utf8", col("warc_body"))
    // registered-domain key: the PSL rule table when --psl names
    // a publicsuffix.org-format file (loaded driver-side,
    // broadcast — the robots-policy shape), else the two-level
    // heuristic fallback. ONE derivation shared by the docs path
    // and the frontier schedule so their robots keys agree.
    val pslRules = cfg.psl.map(pf =>
      graft.llmops.Web.parsePsl(new String(
        java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(pf)), "UTF-8")))
    def withDomain(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = pslRules match {
      case Some(rules) => graft.llmops.Web
        .withRegisteredDomainPsl(df, "url_host", rules)
      case None => df.withColumn("domain",
        graft.llmops.Web.registeredDomainCol(col("url_host")))
    }
    val parts = withDomain(
      graft.llmops.Web.withUrlParts(recs, "warc_url"))
    // Robots policy table, two sources: --robots= names a prepared
    // parquet (domain, robots_txt); --robots-warc= names a WARC dir
    // of robots.txt FETCHES (the Common Crawl robotstxt/-segment
    // layout — a real crawler's policies come from fetched files, not
    // hand-built tables), decoded through the same transcode/domain
    // chain as the corpus, with the LATEST fetch per domain winning
    // (warc_date order via the gated max_by policy dedup). Both are
    // policy-sized — rows are domains, never corpus.
    val policy: Option[(org.apache.spark.sql.DataFrame, Option[String])] =
      (cfg.robots, cfg.robotsWarc) match {
        case (Some(pp), _) => Some((spark.read.parquet(pp), None))
        case (None, Some(rw)) =>
          // ALL response statuses enter: RFC 9309 §2.3.1 makes the
          // fetch status itself semantic (2xx → body; 3xx → follow
          // http_location through the fetch set; 4xx → allow-all;
          // 5xx → complete disallow). The per-record mapping happens
          // in robotsPoliciesFromFetches BEFORE latest-fetch-wins, so
          // a domain whose newest robots fetch 503'd is fully blocked
          // even if an older 200 fetch allowed everything.
          // comma-separated dirs UNION (r20): a robots.txt that
          // redirects to a host fetched in a DIFFERENT WARC segment
          // (a CDN policy host) only resolves if that segment's
          // fetches are in the lookup set — one dir alone maps the
          // chain to unavailable/allow-all
          val robotsDirs = rw.split(",").map(_.trim).filter(_.nonEmpty)
          require(robotsDirs.nonEmpty,
            s"--robots-warc resolved to zero directories: '$rw'")
          val rraw = robotsDirs
            .map(d => graft.llmops.Warc.readWarcDir(spark, d,
              byteTransparent = cfg.transcode))
            .reduce(_.unionByName(_))
            .where(col("warc_type") === "response")
          val rtxt = if (cfg.transcode)
            graft.llmops.Web.withTranscodedBody(
              graft.llmops.Web.withCharset(rraw,
                "http_content_type", "warc_body"),
              "warc_body", "charset", "robots_txt")
          else rraw.withColumn("robots_txt", col("warc_body"))
          // pinned: origins AND the redirect-target lookup both read
          // this frame — without the persist each would re-decode the
          // robots WARC dir (policy-sized, never corpus)
          val rparts = graft.core.Caches.scoped(withDomain(
            graft.llmops.Web.withUrlParts(rtxt, "warc_url"))
            .select(col("domain"), col("warc_url"), col("url_path"),
              col("http_status"), col("http_location"),
              col("robots_txt"), col("warc_date")))
          // targets = the WHOLE fetch set (any path), so a
          // /robots.txt → /r.txt redirect hop still resolves
          val rpol = graft.llmops.Web.robotsPoliciesFromFetches(
            rparts.where(col("url_path") === "/robots.txt"),
            "domain", "warc_url", "http_status", "http_location",
            "robots_txt", "warc_date", targets = Some(rparts))
          // pinned: the table feeds up to THREE broadcast joins
          // (politeness + frontier verdict + delay)
          Some((graft.core.Caches.scoped(rpol), Some("warc_date")))
        case (None, None) => None
      }
    val polite = policy match {
      case None => parts
      case Some((pol, ord)) =>
        graft.llmops.Web.withRobotsAllowedByPolicy(parts,
          "domain", "url_path", pol,
          "domain", "robots_txt", cfg.ua, policyOrderCol = ord)
          .where(col("robots_allowed"))
    }
    val textCol = if (cfg.warcText == "all")
      graft.llmops.Web.htmlTextUdf(col("html_utf8"))
    else graft.llmops.Web.mainContentUdf(col("html_utf8"))
    // 63-bit mask: curation's composite sort keys require
    // non-negative ids (%019d lexicographic rendering)
    val docIdCol = xxhash64(col("source_file"), col("rec_idx"))
      .bitwiseAND(lit(Long.MaxValue)).as("doc_id")
    // A fetched sitemap is a FRONTIER document, not a corpus
    // document: its root tag sits in the first few KB (bounded scan,
    // never a full-body search). Its <url> entries seed the next
    // round with their lastmod riding along for recency ranking.
    // The sniff requires an XML-ish DOCUMENT START (leading <?xml or
    // the root tag itself after whitespace), not just a substring
    // hit: an ordinary HTML page that mentions '<urlset' in a code
    // sample must stay a corpus document, not get silently dropped
    // and fed to the sitemap-entry parser.
    val head4k = substring(col("html_utf8"), 1, 4096)
    val headTrim = ltrim(head4k)
    val isSitemapCol = ((head4k.contains("<urlset") ||
      head4k.contains("<sitemapindex")) &&
      (headTrim.startsWith("<?xml") || headTrim.startsWith("<urlset") ||
        headTrim.startsWith("<sitemapindex"))).as("is_sitemap")
    // --frontier: ONE decode pass (r18). The WARC decode is the
    // expensive stage (gunzip + parse + transcode + robots join),
    // so when the frontier is requested the single pass writes a
    // `pages` intermediate — doc columns PLUS the resolved
    // outlinks of every polite page (including empty-text hub
    // pages, whose links matter even though they never become
    // docs) — and both docs/ and frontier/ derive from cheap
    // column-pruned parquet reads of it. The intermediate
    // duplicates text at corpus scale, so it is dropped once
    // both outputs are committed. Without --frontier, docs
    // writes straight from the live plan as before.
    if (cfg.frontier) {
      val pages = graft.llmops.Web.withResolvedLinks(
        graft.llmops.Web.withExtractedLinks(polite, "html_utf8"),
        "warc_url", "links")
        .withColumn("text", textCol)
        .select(docIdCol,
          col("warc_url").as("url"), col("domain"), col("text"),
          length(col("text")).cast("long").as("n_chars"),
          col("resolved_links"), isSitemapCol,
          when(isSitemapCol,
            graft.llmops.Web.sitemapEntriesUdf(col("html_utf8")))
            .as("sitemap_seeds"))
      pages.write.mode("overwrite").parquet(s"$ingestOut/pages")
      val pagesDf = spark.read.parquet(s"$ingestOut/pages")
      pagesDf.where(col("n_chars") > 0 && !col("is_sitemap"))
        .select("doc_id", "url", "domain", "text", "n_chars")
        .write.mode("overwrite").parquet(s"$ingestOut/docs")
      // link extraction -> RFC 3986 resolve already happened in
      // the decode pass; from here on the frontier reads ONLY
      // (url, resolved_links) — parquet column pruning keeps the
      // text out of this scan entirely
      val links = pagesDf
        .select(explode(col("resolved_links")).as("link"))
        .select(graft.llmops.Web.urlCanonCol(col("link")).as("url"))
      // this round's fetches, plus — for a RECURRING crawler —
      // every PRIOR round's (--crawled= names any parquet with a
      // url column, e.g. a previous run's ingest/docs): the loop
      // must never re-schedule a url any round already fetched
      val crawled = cfg.crawled.foldLeft(
        pagesDf.select(
          graft.llmops.Web.urlCanonCol(col("url")).as("url"))) {
        (acc, prior) => acc.union(spark.read.parquet(prior).select(
          graft.llmops.Web.urlCanonCol(col("url")).as("url")))
      }.distinct()
      // sitemap seeds (urlset pages AND sitemapindex children — both
      // are fetch targets) join the link refs with their lastmod;
      // per url the frontier keeps (ref count, LATEST lastmod)
      val seeds = pagesDf.where(col("is_sitemap"))
        .select(explode(col("sitemap_seeds")).as("e"))
        .select(graft.llmops.Web.urlCanonCol(col("e._1")).as("url"),
          col("e._2").as("lastmod"))
      val fresh = links
        .withColumn("lastmod", lit(null).cast("string"))
        .union(seeds)
        .groupBy("url")
        .agg(count(lit(1)).as("n_refs"), max("lastmod").as("lastmod"))
        .join(crawled, Seq("url"), "left_anti")
      val fParts = withDomain(
        graft.llmops.Web.withUrlParts(fresh, "url"))
      // never schedule a fetch the policy forbids: verdict THEN
      // delay, both broadcast joins against the same table
      val delayed = policy match {
        case Some((pol, ord)) =>
          val permitted = graft.llmops.Web
            .withRobotsAllowedByPolicy(fParts, "domain",
              "url_path", pol, "domain", "robots_txt", cfg.ua,
              policyOrderCol = ord)
            .where(col("robots_allowed"))
          graft.llmops.Web.withCrawlDelayByPolicy(permitted,
            "domain", pol, "domain", "robots_txt", cfg.ua,
            policyOrderCol = ord)
        case None =>
          fParts.withColumn("robots_delay_ms", lit(1000L))
      }
      // recency-ranked schedule: freshest lastmod first, link
      // popularity for the undated tail — with no sitemaps in the
      // crawl every lastmod is null and this degrades EXACTLY to the
      // (n_refs desc, url) order
      graft.llmops.Web.frontierScheduleRecency(delayed, "domain",
        "url", "lastmod", "n_refs", "robots_delay_ms",
        hostCol = Some("url_host"))
        .select(col("url"), col("domain"), col("lastmod"),
          col("n_refs"), col("robots_delay_ms"), col("fetch_slot"),
          col("fetch_time_ms"))
        .write.mode("overwrite").parquet(s"$ingestOut/frontier")
      // both outputs committed — drop the text-bearing
      // intermediate (it would double corpus storage)
      val pagesPath =
        new org.apache.hadoop.fs.Path(s"$ingestOut/pages")
      pagesPath.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
        .delete(pagesPath, true)
    } else {
      polite.withColumn("text", textCol)
        .where(length(col("text")) > 0 && !isSitemapCol)
        .select(docIdCol,
          col("warc_url").as("url"), col("domain"), col("text"),
          length(col("text")).cast("long").as("n_chars"))
        .write.mode("overwrite").parquet(s"$ingestOut/docs")
    }
    spark.read.parquet(s"$ingestOut/docs")
      .agg(count(lit(1)).as("docs"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$ingestOut/report")
  }

  /** Dedup + curate over an already-resolved docs path (the tail of
    * [[run]] after the optional ingest stage).
    */
  private def runStages(spark: SparkSession, cfg: Config,
      docsPath: String, docsIdentity: String): Seq[(String, Long)] = {
    val dedupOut = s"${cfg.outDir}/dedup"
    val dedupCfg = cfg.dedup.copy(docs = docsPath, outDir = dedupOut,
      resume = cfg.resume)
    val dp = dedupParams(dedupCfg)
    val dedupArts = (Seq("pairs", "clusters", "survivors", "report") ++
      dedupCfg.sourceCol.map(_ => "overlap").toSeq).map(a => s"$dedupOut/$a")
    // intra-stage resume is granted only when the manifest's STARTED (or
    // done) record carries the same params+input — sub-artifacts written
    // under different knobs must be rebuilt, not resumed over
    def innerResume(stage: String, params: String, input: String): Boolean =
      cfg.resume && readManifest(cfg.outDir).get(stage)
        .exists { case (p, i, _) => p == params && i == input }
    if (!skippable(spark, cfg.outDir, "dedup", dp, docsIdentity, dedupArts)) {
      val r = innerResume("dedup", dp, docsIdentity)
      record(cfg.outDir, "dedup", dp, docsIdentity, dedupOut, "started")
      DedupApp.run(spark, dedupCfg.copy(resume = r))
      record(cfg.outDir, "dedup", dp, docsIdentity, dedupOut, "done")
    }

    val curateOut = s"${cfg.outDir}/curate"
    val curateCfg = cfg.curate.copy(docs = s"$dedupOut/survivors",
      outDir = curateOut, resume = cfg.resume)
    val cp = curateParams(curateCfg)
    val curateArts = (Seq("scored", "kept", "shards", "report") ++
      (if (curateCfg.export) Seq("export") else Seq.empty))
      .map(a => s"$curateOut/$a")
    // curate's input identity includes the dedup params that produced
    // the survivors — a dedup re-run must invalidate downstream even
    // though the path string is unchanged
    val curateInput = s"$dedupOut/survivors@$dp"
    if (!skippable(spark, cfg.outDir, "curate", cp, curateInput,
        curateArts)) {
      val r = innerResume("curate", cp, curateInput)
      record(cfg.outDir, "curate", cp, curateInput, curateOut, "started")
      CurateApp.run(spark, curateCfg.copy(resume = r))
      record(cfg.outDir, "curate", cp, curateInput, curateOut, "done")
    }

    def reportOf(path: String, prefix: String): Seq[(String, Long)] = {
      val df = spark.read.parquet(path)
      val r = df.head()
      df.schema.fieldNames.toSeq.map(n => s"$prefix$n" -> r.getAs[Long](n))
    }
    cfg.warc.map(_ =>
      reportOf(s"${cfg.outDir}/ingest/report", "ingest_"))
      .getOrElse(Seq.empty) ++
      reportOf(s"$dedupOut/report", "dedup_") ++
      reportOf(s"$curateOut/report", "curate_")
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val spark = GraftSession.app("graft-pipeline")
    val report = run(spark, cfg)
    println("[pipeline] manifest " + manifestPath(cfg.outDir) +
      "; artifacts under " + cfg.outDir + "/{dedup,curate}/")
    report.foreach { case (k, v) => println(f"[pipeline] $k%-24s $v") }
    spark.stop()
  }
}
