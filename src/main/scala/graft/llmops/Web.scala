package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL/domain operators for web-corpus curation (the CCNet/RefinedWeb
  * shape: URL-keyed dedup, per-domain quotas, domain blocklists).
  * Everything is pure column expressions -- regexp_extract + array ops,
  * codegen'd, no UDFs -- so the parse runs inside whole-stage codegen
  * at crawl scale and a SQL oracle recomputes it verbatim.
  */
object Web {

  // precompiled splitters: String.split(regex) recompiles its Pattern
  // per CALL, and these run per row (or per rule x path) at crawl scale
  private val wsRe = java.util.regex.Pattern.compile("\\s+")
  private val lineRe = java.util.regex.Pattern.compile("\r?\n")

  /** Two-level public suffixes the registered-domain heuristic knows:
    * host "a.b.co.uk" -> registered domain "b.co.uk" (three labels),
    * while "a.b.com" -> "b.com" (two). A real deployment swaps in the
    * full public-suffix list; the MECHANISM (suffix-aware label slice)
    * is what these operators own, and the list rides a broadcast
    * either way.
    */
  val twoLevelSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "or.jp", "ne.jp", "com.br", "com.cn", "com.mx", "co.in",
    "co.kr", "com.tr", "com.ar", "co.za")

  /** scheme / host / path columns from a URL string column. Hosts are
    * lowercased; a URL that does not match scheme://host... yields
    * empty strings (crawl columns always contain garbage -- never
    * throw).
    */
  def withUrlParts(df: DataFrame, urlCol: String): DataFrame =
    df.withColumn("url_scheme",
        lower(regexp_extract(col(urlCol), "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)))
      .withColumn("url_host",
        lower(regexp_extract(col(urlCol),
          "^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)", 1)))
      .withColumn("url_path",
        regexp_extract(col(urlCol),
          "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)", 1))

  /** Registered domain from a host column: last two labels, or last
    * THREE when the last two form a known two-level public suffix
    * ("a.b.co.uk" -> "b.co.uk"). Single-label hosts pass through.
    */
  def registeredDomainCol(host: Column): Column = {
    val labels = split(host, "\\.")
    val n = size(labels)
    val lastTwo = concat_ws(".",
      element_at(labels, -2), element_at(labels, -1))
    val lastThree = concat_ws(".",
      element_at(labels, -3), element_at(labels, -2),
      element_at(labels, -1))
    when(n <= 1, host)
      .when(n >= 3 && lastTwo.isin(twoLevelSuffixes: _*), lastThree)
      .otherwise(lastTwo)
  }

  def withRegisteredDomain(df: DataFrame, hostCol: String): DataFrame =
    df.withColumn("domain", registeredDomainCol(col(hostCol)))

  /** Parsed public-suffix list (publicsuffix.org format) — the REAL
    * registered-domain boundary as DATA, the 100 TB shape: the PSL is
    * ~14k rules that change monthly, so it loads like the robots policy
    * table (policy-sized, broadcast), never hardcodes. Three rule
    * kinds: exact (`com.sg`), wildcard (`*.ck` — any single label
    * under), exception (`!www.ck` — carves a registrable name out of a
    * wildcard). [[registeredDomainCol]] stays as the no-PSL fallback
    * heuristic.
    */
  final case class PslRules(exact: Set[String], wildcard: Set[String],
      exceptions: Set[String])

  /** Parse PSL text: one rule per line, `//` comments and blanks
    * skipped, first whitespace-token only (the file's trailing notes),
    * lowercased. Never throws on garbage lines.
    */
  def parsePsl(text: String): PslRules = {
    val exact = Set.newBuilder[String]
    val wild = Set.newBuilder[String]
    val exc = Set.newBuilder[String]
    if (text != null) lineRe.split(text).foreach { raw =>
      val l0 = raw.trim
      if (l0.nonEmpty && !l0.startsWith("//")) {
        val l = l0.takeWhile(!_.isWhitespace)
          .toLowerCase(java.util.Locale.ROOT)
        if (l.startsWith("!")) exc += l.substring(1)
        else if (l.startsWith("*.")) wild += l.substring(2)
        else if (l.nonEmpty) exact += l
      }
    }
    PslRules(exact.result(), wild.result(), exc.result())
  }

  /** Number of labels in `labels`' public suffix under the PSL
    * algorithm (publicsuffix.org/list): exception rules prevail (their
    * suffix is the exception minus its leftmost label), else the
    * longest matching exact/wildcard rule, else the implicit `*`
    * default (the bare TLD is public).
    */
  private def publicSuffixLen(rules: PslRules,
      labels: Array[String]): Int = {
    val n = labels.length
    var k = n
    while (k >= 1) { // exceptions first, longest wins
      if (rules.exceptions.contains(labels.drop(n - k).mkString(".")))
        return k - 1
      k -= 1
    }
    var best = 1
    k = 2 // best starts at the default rule; only longer can improve
    while (k <= n) {
      val s = labels.drop(n - k).mkString(".")
      if (rules.exact.contains(s)) best = math.max(best, k)
      // `*.X` (k labels incl. the wildcard) matches when the suffix
      // one label SHORTER is X
      if (rules.wildcard.contains(labels.drop(n - k + 1).mkString(".")))
        best = math.max(best, k)
      k += 1
    }
    best
  }

  /** Registered (registrable) domain of `host` under the PSL: the
    * public suffix plus ONE more label. Null when the host has no
    * registrable part (it IS a public suffix — `github.io` alone is
    * nobody's site), does not parse (empty labels), or is null —
    * crawl-garbage contract. Case-normalized; one trailing dot
    * tolerated (DNS root form).
    */
  def registeredDomainPsl(rules: PslRules, host: String): String = {
    if (host == null) return null
    val h = host.toLowerCase(java.util.Locale.ROOT).stripSuffix(".")
    if (h.isEmpty) return null
    val labels = h.split('.')
    if (labels.isEmpty || labels.exists(_.isEmpty)) return null
    val ps = publicSuffixLen(rules, labels)
    val n = labels.length
    if (n <= ps) null
    else labels.drop(n - ps - 1).mkString(".")
  }

  /** Column form: adds `<out>` = PSL registered domain. The rule set
    * rides a broadcast (policy-sized — the full PSL is ~14k rules);
    * the kernel is a per-row label walk, map-side, no shuffle.
    */
  def withRegisteredDomainPsl(df: DataFrame, hostCol: String,
      rules: PslRules, out: String = "domain"): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(rules)
    val k = udf((h: String) => registeredDomainPsl(bc.value, h))
    df.withColumn(out, k(col(hostCol)))
  }

  /** Tracking query params stripped by [[urlCanonCol]] (the C4/CCNet
    * URL-dedup convention: utm_* campaign tags and the common click
    * ids). Anchored key match — `ref=x` drops, `prefix_ref=x` stays.
    */
  val trackingParamRe = "^(utm_[^=]*|fbclid|gclid|msclkid|ref)(=.*)?$"

  /** Canonical form of a URL column — the key the crawl-dedup stage
    * groups on, as pure column expressions (codegen'd; SQL oracle
    * recomputes verbatim):
    *
    *   - scheme and host lowercased; fragment dropped
    *   - default port stripped (http :80 / https :443)
    *   - leading "www." dropped from the host
    *   - single trailing slash stripped from the path ("/a/" == "/a",
    *     "/" == "")
    *   - query params: tracking params ([[trackingParamRe]]) removed,
    *     the rest SORTED (param order is presentation, not identity)
    *     and rejoined; an emptied query drops its "?"
    *
    * Non-URL garbage (no scheme://host) canonicalizes to the empty
    * string — callers treat it as "no URL", never an error.
    */
  def urlCanonCol(url: Column): Column = {
    val scheme = lower(regexp_extract(url,
      "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostPort = lower(regexp_extract(url,
      "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    val host0 = when(scheme === "http",
        regexp_replace(hostPort, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
      .otherwise(hostPort)
    val host = regexp_replace(host0, "^www\\.", "")
    val path0 = regexp_extract(url,
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val path = regexp_replace(path0, "/$", "")
    val query0 = regexp_extract(url, "\\?([^#]*)", 1)
    val params = array_sort(filter(split(query0, "&"), p =>
      p =!= "" && !p.rlike(trackingParamRe)))
    val query = array_join(params, "&")
    when(scheme === "" || host === "", lit(""))
      .otherwise(concat(scheme, lit("://"), host, path,
        when(query === "", lit("")).otherwise(concat(lit("?"), query))))
  }

  /** URL-level dedup flags (the first dedup stage of a crawl pipeline:
    * the same page refetched under tracking params / www / default-port
    * / fragment variants is ONE document): canonicalize, keep-first by
    * id within each canonical key. Returns the input plus `url_canon`
    * and `url_is_dup` (true for every row whose canonical key has a
    * smaller id). Scale shape: one groupBy(canon) for the min id + one
    * join back on canon — two key-partitioned exchanges, AQE-splittable,
    * no window over the corpus. Rows with no parseable URL (canon '')
    * are never marked dups.
    */
  def urlDedupFlags(df: DataFrame, idCol: String,
      urlCol: String): DataFrame = {
    val canon = df.withColumn("url_canon", urlCanonCol(col(urlCol)))
    val firsts = canon.where(col("url_canon") =!= "")
      .groupBy("url_canon").agg(min(col(idCol)).as("__first"))
    canon.join(firsts, Seq("url_canon"), "left")
      .withColumn("url_is_dup",
        col("url_canon") =!= "" && col(idCol) > col("__first"))
      .drop("__first")
  }

  /** Drop rows whose registered domain is blocklisted. The blocklist is
    * a driver-side Seq (policy-sized, not data-sized) broadcast as a
    * left_anti join -- at 100 TB the corpus side never shuffles.
    */
  def blocklistFilter(df: DataFrame, hostCol: String,
      blockedDomains: Seq[String],
      psl: Option[PslRules] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val block = blockedDomains.map(_.toLowerCase).toDF("domain")
    withDomainKey(df, hostCol, psl)
      .join(broadcast(block), Seq("domain"), "left_anti")
  }

  /** `domain` column via the PSL when one is supplied, else the
    * two-level-suffix heuristic — the shared derivation behind every
    * domain-keyed operator (quota, counts, blocklist, robots key).
    */
  private def withDomainKey(df: DataFrame, hostCol: String,
      psl: Option[PslRules]): DataFrame = psl match {
    case Some(rules) => withRegisteredDomainPsl(df, hostCol, rules)
    case None =>
      df.withColumn("domain", registeredDomainCol(col(hostCol)))
  }

  /** Per-registered-domain doc counts, descending (count desc, domain
    * asc tiebreak) -- the quota/reporting primitive behind per-domain
    * caps. One hash aggregation; the key space is domains, not docs.
    */
  def domainCounts(df: DataFrame, hostCol: String,
      psl: Option[PslRules] = None): DataFrame =
    withDomainKey(df, hostCol, psl)
      .groupBy("domain").agg(count(lit(1)).as("n_docs"))
      .orderBy(desc("n_docs"), col("domain"))

  /** HTML -> text extraction, the first step of every web-corpus
    * pipeline: a single-pass character walk that (a) drops tags, plus
    * comment (`<!-- -->`) and CDATA section CONTENTS (commented-out
    * markup is boilerplate, and its embedded '>'s must not truncate
    * the tag scan), (b)
    * drops <script>/<style> element CONTENTS (their text is code, not
    * prose), (c) decodes the six entities that dominate real pages
    * (&amp; &lt; &gt; &quot; &#39;/&apos; &nbsp;), passing unknown
    * entities through verbatim, and (d) collapses all whitespace runs
    * to single spaces. Truncated tags drop the malformed remainder;
    * never throws on crawl garbage. Compiled per-row kernel (the
    * winnowing/simhash pattern): a stateful walk is not expressible as
    * codegen'd column functions, and the scan is map-side only.
    */
  def extractHtmlText(html: String): String = {
    if (html == null) return ""
    val lower = html.toLowerCase(java.util.Locale.ROOT)
    val sb = new StringBuilder
    var i = 0
    val n = html.length
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<' && html.startsWith("<!--", i)) {
        // comment node: its contents (often commented-out markup with
        // its own '>'s) must not leak into the text -- skip to the
        // matching '-->', like the script/style contents skip
        sb += ' '
        val end = html.indexOf("-->", i + 4)
        i = if (end < 0) n else end + 3
      } else if (c == '<' && html.startsWith("<![CDATA[", i)) {
        sb += ' '
        val end = html.indexOf("]]>", i + 9)
        i = if (end < 0) n else end + 3
      } else if (c == '<') {
        // every dropped tag becomes ONE space ("<p>word</p><p>next"
        // must not weld words); the final collapse absorbs runs
        sb += ' '
        val close = html.indexOf('>', i)
        if (close < 0) i = n // truncated tag: malformed tail dropped
        else {
          val name = lower.substring(i + 1, close).trim
            .takeWhile(ch => ch.isLetter || ch.isDigit)
          if (name == "script" || name == "style") {
            val end = lower.indexOf("</" + name, close)
            i = if (end < 0) n
            else {
              val e = html.indexOf('>', end)
              if (e < 0) n else e + 1
            }
          } else i = close + 1
        }
      } else if (c == '&') {
        val semi = html.indexOf(';', i)
        if (semi > i && semi - i <= 6) {
          html.substring(i + 1, semi) match {
            case "amp" => sb += '&'
            case "lt" => sb += '<'
            case "gt" => sb += '>'
            case "quot" => sb += '"'
            case "#39" | "apos" => sb += '\''
            case "nbsp" => sb += ' '
            case _ => sb ++= html.substring(i, semi + 1)
          }
          i = semi + 1
        } else { sb += c; i += 1 }
      } else { sb += c; i += 1 }
    }
    wsRe.split(sb).iterator.filter(_.nonEmpty).mkString(" ")
  }

  val htmlTextUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((html: String) => extractHtmlText(html))

  private val blockTags = Set("p", "div", "td", "li", "h1", "h2", "h3",
    "h4", "h5", "h6", "article", "section", "header", "footer", "nav",
    "aside", "ul", "ol", "table", "tr", "blockquote", "br", "body",
    "html", "main")

  /** jusText/trafilatura-style MAIN-CONTENT extraction: segment the
    * page into blocks at block-level tag boundaries, score each block,
    * keep prose, drop boilerplate. The production crawl pipelines'
    * step between "all text" ([[extractHtmlText]]) and C4/quality
    * filtering — nav bars, footers and link farms never reach the
    * corpus.
    *
    * Block rule (simplified jusText, Pomikalek 2011): keep iff
    *  - extracted text length >= `minChars` (default 40), and
    *  - link density <= 1/3 (characters inside `<a>` / all characters,
    *    computed BEFORE whitespace collapse, integer cross-multiplied:
    *    3*linkChars <= totalChars).
    * Kept blocks join with a single '\n'. Entity decoding, script/style
    * skipping and whitespace collapse are [[extractHtmlText]]'s rules
    * applied per block. Crawl-garbage contract: never throws; null ->
    * "".
    */
  def extractMainContent(html: String, minChars: Int = 40): String = {
    if (html == null) return ""
    val lower = html.toLowerCase(java.util.Locale.ROOT)
    val out = new StringBuilder
    val block = new StringBuilder
    var blockLink = 0 // chars emitted while inside <a>
    var aDepth = 0
    def flush(): Unit = {
      val text = wsRe.split(block).iterator.filter(_.nonEmpty)
        .mkString(" ")
      val total = block.count(!_.isWhitespace)
      if (text.length >= minChars && 3L * blockLink <= total) {
        if (out.nonEmpty) out += '\n'
        out ++= text
      }
      block.clear(); blockLink = 0
    }
    def emit(c: Char): Unit = {
      block += c
      if (aDepth > 0 && !c.isWhitespace) blockLink += 1
    }
    var i = 0
    val n = html.length
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<' && html.startsWith("<!--", i)) {
        // commented-out markup contributes NOTHING: no text, no link
        // chars (density must not be skewed by dead nav), no block
        // boundary -- skip to '-->' like the script/style skip
        emit(' ')
        val end = html.indexOf("-->", i + 4)
        i = if (end < 0) n else end + 3
      } else if (c == '<' && html.startsWith("<![CDATA[", i)) {
        emit(' ')
        val end = html.indexOf("]]>", i + 9)
        i = if (end < 0) n else end + 3
      } else if (c == '<') {
        val close = html.indexOf('>', i)
        if (close < 0) i = n
        else {
          val inner = lower.substring(i + 1, close).trim
          val closing = inner.startsWith("/")
          val name = (if (closing) inner.drop(1) else inner)
            .takeWhile(ch => ch.isLetter || ch.isDigit)
          if (name == "script" || name == "style") {
            val end = lower.indexOf("</" + name, close)
            i = if (end < 0) n
            else {
              val e = html.indexOf('>', end)
              if (e < 0) n else e + 1
            }
          } else {
            if (name == "a") {
              // XML-empty detection must not misfire on an UNQUOTED
              // href whose value ends in '/': `<a href=/foo/>` OPENS
              // an anchor (the '/' is the value's last char), while
              // `<a/>`, `<a />` and `<a href="x"/>` are self-closed —
              // the '/' marker only counts when it follows the bare
              // tag name, whitespace, or a closing quote
              val selfClosed = inner.endsWith("/") && {
                val prev = if (inner.length >= 2)
                  inner.charAt(inner.length - 2) else ' '
                inner == "a/" || prev.isWhitespace ||
                  prev == '"' || prev == '\''
              }
              if (closing) aDepth = math.max(0, aDepth - 1)
              else if (!selfClosed) aDepth += 1
            }
            if (blockTags.contains(name)) flush() else emit(' ')
            i = close + 1
          }
        }
      } else if (c == '&') {
        val semi = html.indexOf(';', i)
        if (semi > i && semi - i <= 6) {
          html.substring(i + 1, semi) match {
            case "amp" => emit('&')
            case "lt" => emit('<')
            case "gt" => emit('>')
            case "quot" => emit('"')
            case "#39" | "apos" => emit('\'')
            case "nbsp" => emit(' ')
            case _ => html.substring(i, semi + 1).foreach(emit)
          }
          i = semi + 1
        } else { emit(c); i += 1 }
      } else { emit(c); i += 1 }
    }
    flush()
    out.toString
  }

  val mainContentUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((html: String) => extractMainContent(html))

  /** Column form: adds `main_text` extracted from `htmlCol`. */
  def withMainContent(df: DataFrame, htmlCol: String): DataFrame =
    df.withColumn("main_text", mainContentUdf(col(htmlCol)))

  /** Hard per-domain cap: keep at most `n` rows per registered domain,
    * selected by md5(id) order with an id tiebreak -- deterministic,
    * layout-independent, and TOTAL (content-hash ties fall back to the
    * real row key; see the round-11 vector_id lesson). One window over
    * (domain)-partitioned rows; at crawl scale the per-domain frames
    * are what AQE skew-splits.
    */
  /** C4-style line + document cleaning (Raffel et al. 2020, "Exploring
    * the Limits of Transfer Learning", section 2.2 -- public
    * literature; the most-cited web-curation recipe). Line rules: keep
    * a line iff it ends in terminal punctuation (. ! ? "), has at
    * least `minLineWords` whitespace words, and does not mention
    * "javascript" (case-insensitive). Document rules: keep iff at
    * least `minKeptLines` lines survive AND the original text contains
    * neither "lorem ipsum" (case-insensitive) nor a curly brace.
    *
    * Pure column expressions (split + filter HOF + array_join): one
    * map-side codegen'd projection, 0 shuffles -- the shape that runs
    * as a scan-stage filter at crawl scale. Adds n_lines, kept_lines
    * (longs), clean_text (kept lines re-joined), and the doc-level
    * c4_keep flag; never drops rows (the noveltyScore completeness
    * rule -- selection is the caller's where(col("c4_keep"))).
    */
  def c4LineClean(df: DataFrame, idCol: String, textCol: String,
      minLineWords: Int = 5, minKeptLines: Int = 3): DataFrame = {
    // compiled single-pass kernel (r20) — the interpreted HOF form
    // (now the test-scope parity reference in ReferenceKernels) walked
    // every line through per-element lambdas: 12.2 s -> ~1 s at 2M
    // docs (ScanProf). Values are identical by construction: ASCII
    // docs take a char-walk that matches the expression semantics
    // exactly; any doc with a non-ASCII char replays the expression's
    // own UTF8String operations line by line.
    val c = c4Udf(minLineWords, minKeptLines)(col(textCol))
    df.withColumn("__c4", c)
      .withColumn("n_lines", col("__c4.nLines"))
      .withColumn("kept_lines", col("__c4.keptLines"))
      .withColumn("clean_text", col("__c4.cleanText"))
      .withColumn("c4_keep", col("__c4.keep"))
      .drop("__c4")
  }

  final case class C4Result(nLines: Long, keptLines: Long,
      cleanText: String, keep: Boolean)

  // memoized (the plan-cache substitution rule all parameterized
  // kernels follow)
  private val c4UdfCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int),
      org.apache.spark.sql.expressions.UserDefinedFunction]()

  private[graft] def c4Udf(minLineWords: Int, minKeptLines: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    c4UdfCache.computeIfAbsent((minLineWords, minKeptLines), { key =>
      udf((s: String) =>
        if (s == null) None else Some(c4Clean(s, key._1, key._2)))
    })

  private val jsU8 =
    org.apache.spark.unsafe.types.UTF8String.fromString("javascript")
  private val loremU8 =
    org.apache.spark.unsafe.types.UTF8String.fromString("lorem ipsum")

  /** One compiled pass over the document. ASCII docs: a char walk
    * whose trim (' ' only — Spark's trim), \s word split, last-char
    * test, and case-insensitive scans agree with the expression form
    * exactly. Docs containing ANY non-ASCII char replay the
    * expression's own UTF8String operations per line (trim /
    * substringSQL / toLowerCase / contains), so unicode edge cases
    * (Kelvin sign, astral chars) cannot diverge.
    */
  private[graft] def c4Clean(s: String, minLineWords: Int,
      minKeptLines: Int): C4Result = {
    var ascii = true
    var i = 0
    while (ascii && i < s.length) {
      if (s.charAt(i) >= 0x80) ascii = false
      i += 1
    }
    // manual split('\n', -1): Spark's split keeps trailing empties
    var nLines = 1
    i = 0
    while (i < s.length) { if (s.charAt(i) == '\n') nLines += 1; i += 1 }
    val sb = new java.lang.StringBuilder
    var keptN = 0
    var lineStart = 0
    var li = 0
    while (li < nLines) {
      var lineEnd = s.indexOf('\n', lineStart)
      if (lineEnd < 0) lineEnd = s.length
      val keepLine =
        if (ascii) asciiLineKeep(s, lineStart, lineEnd, minLineWords)
        else u8LineKeep(s.substring(lineStart, lineEnd), minLineWords)
      if (keepLine) {
        if (keptN > 0) sb.append('\n')
        sb.append(s, lineStart, lineEnd)
        keptN += 1
      }
      lineStart = lineEnd + 1
      li += 1
    }
    val noLorem =
      if (ascii) !asciiContainsIgnoreCase(s, 0, s.length, "lorem ipsum")
      else !org.apache.spark.unsafe.types.UTF8String.fromString(s)
        .toLowerCase.contains(loremU8)
    val keep = keptN >= minKeptLines && noLorem && s.indexOf('{') < 0
    C4Result(nLines.toLong, keptN.toLong, sb.toString, keep)
  }

  private def asciiLineKeep(s: String, start: Int, end: Int,
      minLineWords: Int): Boolean = {
    // Spark trim: strip ' ' (space char) only, both ends
    var a = start; var b = end
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    if (a == b) return false
    val last = s.charAt(b - 1)
    if (!(last == '.' || last == '!' || last == '?' || last == '"'))
      return false
    // words = non-empty \s+-split tokens == runs of non-\s chars
    var words = 0
    var p = a
    var inRun = false
    while (p < b) {
      val c = s.charAt(p)
      val ws = c == ' ' || c == '\t' || c == '\n' || c == 0x0b ||
        c == '\f' || c == '\r'
      if (!ws) { if (!inRun) { words += 1; inRun = true } }
      else inRun = false
      p += 1
    }
    words >= minLineWords &&
      !asciiContainsIgnoreCase(s, a, b, "javascript")
  }

  /** Case-insensitive ASCII substring scan over s[from,until) —
    * `needle` must be lowercase ASCII.
    */
  private def asciiContainsIgnoreCase(s: String, from: Int, until: Int,
      needle: String): Boolean = {
    val n = needle.length
    var p = from
    while (p + n <= until) {
      var j = 0
      var ok = true
      while (ok && j < n) {
        var c = s.charAt(p + j)
        if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
        if (c != needle.charAt(j)) ok = false
        j += 1
      }
      if (ok) return true
      p += 1
    }
    false
  }

  /** Non-ASCII line verdict: the expression form's own UTF8String
    * operations, replayed verbatim.
    */
  private def u8LineKeep(line: String, minLineWords: Int): Boolean = {
    import org.apache.spark.unsafe.types.UTF8String
    val t = UTF8String.fromString(line).trim()
    if (t.numChars() == 0) return false
    val last = t.substringSQL(-1, 1).toString
    if (!(last == "." || last == "!" || last == "?" || last == "\""))
      return false
    val words = t.toString.split("\\s+", -1).count(_.nonEmpty)
    words >= minLineWords && !t.toLowerCase.contains(jsU8)
  }

  /** Outbound links from an HTML column: every `<a ... href="...">`
    * target, fragment part excluded — the edge generator for crawl
    * frontier scheduling and link-graph ranking (WAT-style metadata).
    * PURE column expression (regexp_extract_all, codegen'd): at crawl
    * scale this runs inside the scan stage, and a SQL oracle replays
    * it. Single/double-quoted values only (an unquoted `href=/x` is
    * skipped — documented limitation), case-insensitive tag/attr. The
    * attribute name requires a DELIMITER before it (`<a href` or a
    * whitespace/quote boundary after earlier attrs), so `data-href=`
    * never produces a false frontier edge.
    */
  def linksCol(html: Column): Column =
    coalesce(
      regexp_extract_all(html,
        lit("(?i)<a\\s(?:[^>]*[\\s\"'])?href\\s*=\\s*[\"']([^\"'#>]+)"),
        lit(1)),
      lit(Array.empty[String])) // null html -> no links, never null

  /** Column form: adds `links: array<string>`. */
  def withExtractedLinks(df: DataFrame, htmlCol: String): DataFrame =
    df.withColumn("links", linksCol(col(htmlCol)))

  /** `<link rel="canonical">` target — the page's OWN statement of its
    * dedup identity, which crawl pipelines prefer over the fetched URL
    * (mirrors, pagination params and tracking variants all declare the
    * same canonical). Both attribute orders handled (`rel` before
    * `href` and the reverse); fragment cut like [[linksCol]]; null
    * when the page declares none. Pure column expressions.
    */
  def canonicalHrefCol(html: Column): Column = {
    def nonEmpty(c: Column): Column = when(c === "", null).otherwise(c)
    // same delimiter-before-attribute rule as linksCol: `xrel=` /
    // `data-href=` must not pass as rel/href
    val relFirst = regexp_extract(html,
      "(?i)<link\\s(?:[^>]*[\\s\"'])?rel\\s*=\\s*[\"']?canonical" +
        "[\"']?[^>]*[\\s\"']href\\s*=\\s*[\"']([^\"'#>]+)", 1)
    val hrefFirst = regexp_extract(html,
      "(?i)<link\\s(?:[^>]*[\\s\"'])?href\\s*=\\s*[\"']([^\"'#>]+)" +
        "[\"'][^>]*[\\s\"']rel\\s*=\\s*[\"']?canonical", 1)
    coalesce(nonEmpty(relFirst), nonEmpty(hrefFirst))
  }

  /** Adds `canonical_url`: the declared canonical RESOLVED to an
    * absolute url against the page url (RFC 3986 — canonicals are
    * often root-relative), null when none is declared or the base does
    * not parse. The dedup key is then
    * `coalesce(canonical_url, url)` — gated in llm_canonical.
    */
  def withCanonicalUrl(df: DataFrame, urlCol: String,
      htmlCol: String): DataFrame = {
    val resolve = udf((base: String, ref: String) =>
      if (ref == null) null
      else { val r = resolveUrl(base, ref); if (r.isEmpty) null else r })
    df.withColumn("canonical_url",
      resolve(col(urlCol), canonicalHrefCol(col(htmlCol))))
  }

  /** Charset sniffing — the step before any non-UTF-8 payload can be
    * transcoded: the HTTP `Content-Type` charset parameter wins, then
    * HTML5 `<meta charset=...>`, then the legacy
    * `<meta http-equiv="Content-Type" content="...; charset=...">`;
    * null when none declares one (the caller's cue to fall back to
    * UTF-8-with-replacement, this library's default). Pure column
    * expressions (three regexp_extracts + precedence), codegen'd and
    * oracle-replayable; values lowercase, quotes tolerated.
    */
  def charsetCol(contentType: Column, html: Column): Column = {
    def nonEmpty(c: Column): Column = when(c === "", null).otherwise(c)
    val fromHeader = nonEmpty(lower(regexp_extract(contentType,
      "(?i)charset\\s*=\\s*\"?([A-Za-z0-9_.:-]+)", 1)))
    // delimiter-before-attribute boundary (the linksCol rule): a
    // data-charset= or xcharset= must not declare an encoding, while
    // charset after earlier attributes still matches
    val fromMeta = nonEmpty(lower(regexp_extract(html,
      "(?i)<meta\\s(?:[^>]*[\\s\"'])?charset\\s*=\\s*[\"']?" +
        "([A-Za-z0-9_.:-]+)", 1)))
    val fromEquiv = nonEmpty(lower(regexp_extract(html,
      "(?i)<meta\\s(?:[^>]*[\\s\"'])?http-equiv\\s*=\\s*[\"']?" +
        "content-type[\"']?[^>]*[\\s\"']content\\s*=\\s*" +
        "[\"'][^\"']*charset=([A-Za-z0-9_.:-]+)", 1)))
    coalesce(fromHeader, fromMeta, fromEquiv)
  }

  /** Column form over the WARC record shape: adds `charset`. */
  def withCharset(df: DataFrame, contentTypeCol: String,
      htmlCol: String): DataFrame =
    df.withColumn("charset",
      charsetCol(col(contentTypeCol), col(htmlCol)))

  /** Charset name -> JDK Charset, never throwing: the sniffed value is
    * crawl data (typos, fantasy names, unsupported encodings), and an
    * unknown charset must FALL BACK to UTF-8, not fail the task. The
    * JDK alias table covers the names real pages declare (latin1,
    * shift_jis, windows-1251, gbk, euc-jp, ...).
    */
  def resolveCharset(name: String): java.nio.charset.Charset = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    if (name == null) utf8
    else {
      val n = name.trim
      if (n.isEmpty) utf8
      else try java.nio.charset.Charset.forName(n)
      catch { case _: Exception => utf8 }
    }
  }

  /** Decode payload BYTES under a sniffed charset into a UTF-16 String
    * (which Spark then stores as UTF-8) — the transcoding step that
    * turns a correctly-LABELED Shift_JIS/windows-1251 page into real
    * text instead of mojibake. Malformed and unmappable sequences
    * REPLACE (U+FFFD), the same policy as the readers' UTF-8 fallback;
    * unknown/null charset decodes as UTF-8. Never throws.
    */
  def transcode(raw: Array[Byte], charset: String): String = {
    if (raw == null) return ""
    val cs = resolveCharset(charset)
    val dec = cs.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    try dec.decode(java.nio.ByteBuffer.wrap(raw)).toString
    catch { // a broken third-party decoder must not kill the task
      case _: Exception =>
        new String(raw, java.nio.charset.StandardCharsets.UTF_8)
    }
  }

  /** Transcode a BYTE-TRANSPARENT body column (read with
    * `byteTransparent = true`, so each latin1 char IS one payload byte
    * — see Warc.withWarcRecords) under a sniffed-charset column. The
    * latin1 round trip `body.getBytes(ISO_8859_1)` recovers the exact
    * original bytes, then [[transcode]] decodes them for real. Pages
    * whose charset is null/unknown decode as UTF-8-with-replacement —
    * identical to what the non-transparent readers produce, so running
    * this on an all-UTF-8 corpus is a no-op, not a regression.
    */
  val transcodeUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((body: String, charset: String) =>
      if (body == null) null
      else transcode(
        body.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1),
        charset))

  /** Column form: adds `<out>` = transcoded UTF-8 text. Map-side
    * kernel — at crawl scale this stays inside the scan stage beside
    * the charset sniff it consumes.
    */
  def withTranscodedBody(df: DataFrame, bodyCol: String,
      charsetCol: String, out: String = "text_utf8"): DataFrame =
    df.withColumn(out, transcodeUdf(col(bodyCol), col(charsetCol)))

  /** RFC 3986 §5.2.4 remove_dot_segments: resolves "." and ".."
    * segments in a path without ever escaping the root.
    */
  private[llmops] def removeDotSegments(path: String): String = {
    val out = new StringBuilder
    var in = path
    while (in.nonEmpty) {
      if (in.startsWith("../")) in = in.substring(3)
      else if (in.startsWith("./")) in = in.substring(2)
      else if (in.startsWith("/./")) in = "/" + in.substring(3)
      else if (in == "/.") in = "/"
      else if (in.startsWith("/../") || in == "/..") {
        in = if (in == "/..") "/" else "/" + in.substring(4)
        val cut = out.lastIndexOf("/")
        out.setLength(math.max(cut, 0))
      } else if (in == "." || in == "..") in = ""
      else {
        val next = in.indexOf('/', 1)
        val seg = if (next < 0) in else in.substring(0, next)
        out ++= seg
        in = if (next < 0) "" else in.substring(next)
      }
    }
    out.toString
  }

  /** RFC 3986 §5.2 reference resolution — the step between link
    * extraction and the crawl frontier: every href must become an
    * ABSOLUTE url before it can be deduped, robots-checked or
    * scheduled. Handles absolute refs, scheme-relative (`//host/..`),
    * root-relative, same-document/query-only refs, and relative-path
    * merge with dot-segment removal; the ref's fragment is dropped
    * (frontier identity, same policy as [[urlCanonCol]]). A base that
    * does not parse as scheme://host... yields "" (crawl-garbage
    * contract). Verified against the RFC's own §5.4 golden vectors in
    * LlmOpsSpec.
    */
  // compiled once: resolveUrl runs per-row (per-LINK) inside UDFs, and
  // Pattern.compile per call would dominate the kernel at crawl scale
  private val baseUrlRe = java.util.regex.Pattern
    .compile("^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\\?[^#]*)?.*$")
  private val refSchemeRe = java.util.regex.Pattern
    .compile("^[A-Za-z][A-Za-z0-9+.-]*:")
  private val absRefRe = java.util.regex.Pattern
    .compile("^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\\?.*)?$")

  def resolveUrl(base: String, ref0: String): String = {
    if (base == null || ref0 == null) return ""
    val m = baseUrlRe.matcher(base)
    if (!m.matches()) return ""
    val (bScheme, bAuth, bPath) = (m.group(1), m.group(2), m.group(3))
    val bQuery = Option(m.group(4)).getOrElse("")
    val ref = { // the ref's fragment is not frontier identity
      val h = ref0.indexOf('#')
      if (h >= 0) ref0.substring(0, h) else ref0
    }
    if (refSchemeRe.matcher(ref).find()) {
      // absolute ref: normalize its path's dot segments if hierarchical
      val rm = absRefRe.matcher(ref)
      if (rm.matches())
        rm.group(1).toLowerCase(java.util.Locale.ROOT) + "://" +
          rm.group(2) + removeDotSegments(rm.group(3)) +
          Option(rm.group(4)).getOrElse("")
      else ref
    } else if (ref.startsWith("//")) {
      val qi = ref.indexOf('?')
      val (hp, q) = if (qi < 0) (ref, "") else ref.splitAt(qi)
      val pi = hp.indexOf('/', 2)
      if (pi < 0) bScheme + "://" + hp.substring(2) + q
      else bScheme + "://" + hp.substring(2, pi) +
        removeDotSegments(hp.substring(pi)) + q
    } else if (ref.isEmpty) {
      bScheme + "://" + bAuth + bPath + bQuery
    } else if (ref.startsWith("?")) {
      bScheme + "://" + bAuth + bPath + ref
    } else {
      val qi = ref.indexOf('?')
      val (rPath, rQuery) = if (qi < 0) (ref, "") else ref.splitAt(qi)
      val merged =
        if (rPath.startsWith("/")) rPath
        else if (bAuth.nonEmpty && bPath.isEmpty) "/" + rPath
        else bPath.substring(0, bPath.lastIndexOf('/') + 1) + rPath
      bScheme + "://" + bAuth + removeDotSegments(merged) + rQuery
    }
  }

  val resolveUrlUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((base: String, ref: String) => resolveUrl(base, ref))

  /** Resolve an extracted-links array column against the page URL:
    * adds `resolved_links: array<string>` of absolute urls (empty
    * entries dropped). Map-side kernel over each row's link list — no
    * shuffle; composes linksCol -> frontier.
    */
  def withResolvedLinks(df: DataFrame, baseUrlCol: String,
      linksArrCol: String): DataFrame = {
    val res = udf((base: String, links: Seq[String]) =>
      if (links == null) Seq.empty[String]
      else links.map(l => resolveUrl(base, l)).filter(_.nonEmpty))
    df.withColumn("resolved_links",
      res(col(baseUrlCol), col(linksArrCol)))
  }

  /** One robots.txt rule: Allow/Disallow + its raw path pattern
    * (`*` = any char run, trailing `$` = end anchor, else prefix).
    */
  final case class RobotsRule(allow: Boolean, pattern: String)

  /** One robots.txt group: the User-agent product tokens it names
    * (lowercased; `*` is the catch-all), its rules in file order, and
    * the group's Crawl-delay in milliseconds when one was given (the
    * de-facto extension every polite crawler honors).
    */
  final case class RobotsGroup(agents: Vector[String],
      rules: Vector[RobotsRule],
      crawlDelayMillis: Option[Long] = None)

  /** robots.txt parser (RFC 9309) — the crawl-politeness gate every
    * corpus pipeline applies before a URL is even fetched, and at
    * curation time to re-filter archived crawls against CURRENT
    * policies. Line shape `key: value` with `#` comments; consecutive
    * User-agent lines open a group that the following Allow/Disallow
    * lines populate; any other line ends the agent run; rules before
    * the first User-agent line are ignored; empty rule values match
    * nothing (an RFC 9309 "Disallow:" means allow-all). Never throws
    * on garbage (unparseable lines are skipped).
    */
  private final class GroupAcc {
    val agents = scala.collection.mutable.ArrayBuffer.empty[String]
    val rules = scala.collection.mutable.ArrayBuffer.empty[RobotsRule]
    var delayMillis: Option[Long] = None
  }

  def parseRobots(text: String): Vector[RobotsGroup] = {
    if (text == null) return Vector.empty
    val groups = scala.collection.mutable.ArrayBuffer.empty[GroupAcc]
    var agentRun = false // inside a run of consecutive User-agent lines
    lineRe.split(text).foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      val i = line.indexOf(':')
      if (line.nonEmpty && i > 0) {
        val key = line.substring(0, i).trim
          .toLowerCase(java.util.Locale.ROOT)
        val value = line.substring(i + 1).trim
        key match {
          case "user-agent" =>
            if (!agentRun) groups += new GroupAcc
            groups.last.agents +=
              value.toLowerCase(java.util.Locale.ROOT)
            agentRun = true
          case "allow" | "disallow" =>
            agentRun = false
            if (groups.nonEmpty && value.nonEmpty)
              groups.last.rules += RobotsRule(key == "allow", value)
          case "crawl-delay" =>
            agentRun = false
            if (groups.nonEmpty)
              scala.util.Try(value.toDouble).toOption
                .filter(d => d >= 0 && d.isFinite)
                .foreach(d => groups.last.delayMillis =
                  Some(math.round(d * 1000)))
          case _ => agentRun = false // sitemap / unknown
        }
      }
    }
    groups.iterator.map(g =>
      RobotsGroup(g.agents.toVector, g.rules.toVector, g.delayMillis))
      .toVector
  }

  /** Sitemap URLs from a robots.txt — global per the sitemaps.org
    * convention (valid anywhere in the file, independent of groups);
    * the frontier-seeding companion to [[parseRobots]].
    */
  def robotsSitemaps(text: String): Vector[String] = {
    if (text == null) return Vector.empty
    lineRe.split(text).iterator.map(_.takeWhile(_ != '#').trim)
      .filter(l => l.length > 8 &&
        l.substring(0, 8).equalsIgnoreCase("sitemap:"))
      .map(_.substring(8).trim)
      .filter(_.nonEmpty)
      .toVector
  }

  /** One sitemap entry: the target URL, its optional lastmod text, and
    * whether it points at ANOTHER sitemap (`<sitemapindex>` child — a
    * fetch-more-sitemaps edge) or at a page (`<urlset>` member — a
    * frontier seed).
    */
  final case class SitemapEntry(loc: String, lastmod: String,
      isIndex: Boolean)

  // sitemap XML entity decode: the protocol REQUIRES entity-escaping of
  // URLs (sitemaps.org), so &amp; in a loc is the rule, not the corner.
  // &amp; decodes LAST (standard ordering): decoding it first would
  // double-decode doubly-escaped input ('&amp;lt;' must yield the
  // literal '&lt;', not '<').
  private def decodeXmlEntities(s: String): String =
    if (!s.contains('&')) s
    else s.replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&apos;", "'")
      .replace("&amp;", "&")

  /** sitemap.xml / sitemapindex parser (sitemaps.org protocol) — the
    * frontier-seeding companion to [[robotsSitemaps]], which surfaces
    * the sitemap URLs this parses. Lightweight block scan, NOT an XML
    * library: crawl sitemaps are full of namespace soup, truncation
    * and stray bytes, and the only fields that matter are `<loc>` and
    * `<lastmod>` inside `<url>`/`<sitemap>` blocks. CDATA-wrapped and
    * entity-escaped locs both decode; blocks without a loc are
    * skipped; never throws on garbage (null/non-XML -> empty).
    */
  def sitemapEntries(xml: String): Vector[SitemapEntry] = {
    if (xml == null) return Vector.empty
    val lower = xml.toLowerCase(java.util.Locale.ROOT)
    def inner(block: String, tag: String): Option[String] = {
      val lb = block.toLowerCase(java.util.Locale.ROOT)
      val o = lb.indexOf("<" + tag + ">")
      if (o < 0) None
      else {
        val from = o + tag.length + 2
        val c = lb.indexOf("</" + tag + ">", from)
        if (c < 0) None
        else {
          var v = block.substring(from, c).trim
          if (v.startsWith("<![CDATA[") && v.endsWith("]]>"))
            v = v.substring(9, v.length - 3).trim
          val d = decodeXmlEntities(v)
          if (d.isEmpty) None else Some(d)
        }
      }
    }
    def blocks(tag: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      val open = "<" + tag + ">"
      val close = "</" + tag + ">"
      var i = lower.indexOf(open)
      while (i >= 0) {
        val c = lower.indexOf(close, i)
        if (c < 0) i = -1 // truncated block: malformed tail dropped
        else {
          out += xml.substring(i, c)
          i = lower.indexOf(open, c)
        }
      }
      out.result()
    }
    val pages = blocks("url").flatMap(b =>
      inner(b, "loc").map(l =>
        SitemapEntry(l, inner(b, "lastmod").orNull, isIndex = false)))
    val subs = blocks("sitemap").flatMap(b =>
      inner(b, "loc").map(l =>
        SitemapEntry(l, inner(b, "lastmod").orNull, isIndex = true)))
    // a well-formed file is all-pages or all-subs; mixed garbage
    // yields pages first, subs after — stable and documented
    pages ++ subs
  }

  /** Explode a sitemap-XML column into entry rows: input columns +
    * `sitemap_idx` (0-based within the document) + `loc` + `lastmod` +
    * `is_index`. Map-side kernel, no shuffle — seeds then flow through
    * urlCanonCol -> anti-join crawled, the pipeline11 shape.
    */
  /** Array form of the sitemap kernel: `array<struct<_1:loc, _2:
    * lastmod, _3:is_index>>` per document — the shape a wide scan
    * stores when entries must ride a row (PipelineApp's pages
    * intermediate) instead of exploding in place.
    */
  val sitemapEntriesUdf
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((xml: String) => sitemapEntries(xml)
      .map(e => (e.loc, e.lastmod, e.isIndex)))

  def withSitemapEntries(df: DataFrame, xmlCol: String): DataFrame = {
    val k = sitemapEntriesUdf
    df.withColumn("__sm", k(col(xmlCol)))
      .select(col("*"), posexplode(col("__sm")).as(Seq("sitemap_idx", "__e")))
      .withColumn("loc", col("__e._1"))
      .withColumn("lastmod", col("__e._2"))
      .withColumn("is_index", col("__e._3"))
      .drop("__sm", "__e")
  }

  /** The Crawl-delay governing `userAgent`: smallest delay among its
    * selected groups (conservative when several groups name the same
    * token), falling back to the `*` groups like rule selection.
    */
  def robotsCrawlDelayFor(groups: Seq[RobotsGroup],
      userAgent: String): Option[Long] = {
    val token = userAgent.toLowerCase(java.util.Locale.ROOT)
      .takeWhile(c => c != '/' && !c.isWhitespace)
    val named = groups.filter(_.agents.contains(token))
    val sel = if (named.nonEmpty) named
      else groups.filter(_.agents.contains("*"))
    val ds = sel.flatMap(_.crawlDelayMillis)
    if (ds.isEmpty) None else Some(ds.min)
  }

  /** True iff `pattern` matches `path` under RFC 9309 wildcards:
    * anchored at the path start, `*` spans any char run, a trailing
    * `$` anchors the end (otherwise any suffix may follow). Leftmost
    * placement of the `*` segments is sufficient for existence.
    */
  /** Manual '*' split (String.split("\\*") recompiles its regex per
    * call; this runs per (rule, path) per row). Preserves trailing
    * empty segments like split(_, -1).
    */
  private def splitStar(s: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var from = 0
    var i = s.indexOf('*')
    while (i >= 0) {
      out += s.substring(from, i); from = i + 1
      i = s.indexOf('*', from)
    }
    out += s.substring(from)
    out.toArray
  }

  def robotsMatches(pattern: String, path: String): Boolean = {
    val endAnchored = pattern.endsWith("$")
    val pat = if (endAnchored) pattern.dropRight(1) else pattern
    val parts = splitStar(pat)
    if (!path.startsWith(parts.head)) return false
    var pos = parts.head.length
    var k = 1
    while (k < parts.length - 1) {
      val j = path.indexOf(parts(k), pos)
      if (j < 0) return false
      pos = j + parts(k).length
      k += 1
    }
    if (parts.length == 1)
      !endAnchored || path.length == pos
    else {
      val last = parts.last
      if (endAnchored)
        path.endsWith(last) && path.length - last.length >= pos
      else path.indexOf(last, pos) >= 0
    }
  }

  /** The rules governing `userAgent`: groups whose agent list names
    * the UA's product token (text before the first '/'/whitespace,
    * case-insensitive) — combined when several groups name it, per
    * RFC 9309 — falling back to the `*` groups when none do.
    */
  def robotsRulesFor(groups: Seq[RobotsGroup],
      userAgent: String): Vector[RobotsRule] = {
    val token = userAgent.toLowerCase(java.util.Locale.ROOT)
      .takeWhile(c => c != '/' && !c.isWhitespace)
    val named = groups.filter(_.agents.contains(token))
    val sel = if (named.nonEmpty) named
      else groups.filter(_.agents.contains("*"))
    sel.iterator.flatMap(_.rules).toVector
  }

  /** The winning rule for `path`, or None when nothing matches
    * (→ allowed): longest pattern wins (the RFC's most-specific-match,
    * measured like Google's reference matcher on the raw pattern
    * string), Allow wins a length tie.
    */
  def robotsDecision(rules: Seq[RobotsRule],
      path: String): Option[RobotsRule] = {
    val p = if (path == null || path.isEmpty) "/" else path
    val ms = rules.filter(r => robotsMatches(r.pattern, p))
    if (ms.isEmpty) None
    else Some(ms.maxBy(r => (r.pattern.length, r.allow)))
  }

  def robotsIsAllowed(rules: Seq[RobotsRule], path: String): Boolean =
    robotsDecision(rules, path).forall(_.allow)

  /** Column form: adds `<prefix>_allowed` (boolean) and
    * `<prefix>_rule` (the winning pattern, null when no rule matched)
    * for `userAgent` under ONE robots policy. The policy is parsed and
    * group-selected ONCE on the driver; only the policy-sized rule
    * vector rides in the task closure (the blocklistFilter shape — at
    * crawl scale the corpus side never shuffles and the kernel is a
    * per-row prefix walk over a handful of rules).
    */
  def withRobotsAllowed(df: DataFrame, pathCol: String,
      robotsTxt: String, userAgent: String,
      prefix: String = "robots"): DataFrame = {
    val rules = robotsRulesFor(parseRobots(robotsTxt), userAgent)
    val verdict = udf((path: String) => {
      val d = robotsDecision(rules, path)
      (d.forall(_.allow), d.map(_.pattern).orNull)
    })
    df.withColumn("__rv", verdict(col(pathCol)))
      .withColumn(s"${prefix}_allowed", col("__rv._1"))
      .withColumn(s"${prefix}_rule", col("__rv._2"))
      .drop("__rv")
  }

  /** Per-domain robots policies as DATA — the 100 TB shape. A real
    * crawl has millions of domains, each with its own robots.txt
    * fetched at crawl time, so the policy set is a TABLE, not a driver
    * constant. `policies` is (domain, robots_txt); each policy row is
    * parsed + group-selected for `userAgent` ONCE (map-side kernel
    * producing an array<struct<allow,pattern>>, policy rows ≪ corpus
    * rows), then LEFT-joined to the corpus on the domain key —
    * broadcast when the policy side is small, shuffle-hash otherwise
    * (AQE decides; the corpus side never collects). Rows with no
    * policy row are ALLOWED (a missing robots.txt permits crawling,
    * RFC 9309 §2.3.1.2-4). Adds `<prefix>_allowed` / `<prefix>_rule`.
    *
    * The policy side is PRE-AGGREGATED to one row per domain before the
    * join — a crawl's policy table routinely holds several fetches of
    * the same robots.txt, and a duplicated key on the build side of a
    * left join would silently MULTIPLY corpus rows. When
    * `policyOrderCol` names a column (a fetch timestamp), the row with
    * the largest value wins (latest fetch); otherwise max(text) — an
    * arbitrary but deterministic pick.
    */
  /** One policy row per domain (`__robots_txt`): latest fetch wins when
    * `orderCol` is given, else max(text) — arbitrary but deterministic.
    * Shared by every policy-table consumer so a duplicated key can
    * never multiply corpus rows through the left join.
    */
  private def dedupPolicies(policies: DataFrame, domainCol: String,
      textCol: String, orderCol: Option[String]): DataFrame =
    policies.groupBy(col(domainCol))
      .agg(orderCol match {
        case Some(o) => max_by(col(textCol), col(o)).as("__robots_txt")
        case None => max(col(textCol)).as("__robots_txt")
      })

  def withRobotsAllowedByPolicy(df: DataFrame, domainCol: String,
      pathCol: String, policies: DataFrame, policyDomainCol: String,
      policyTextCol: String, userAgent: String,
      prefix: String = "robots",
      policyOrderCol: Option[String] = None): DataFrame = {
    val compile = udf((txt: String) =>
      robotsRulesFor(parseRobots(txt), userAgent)
        .map(r => (r.allow, r.pattern)))
    val pol = dedupPolicies(policies, policyDomainCol, policyTextCol,
      policyOrderCol).select(
      col(policyDomainCol).as("__robots_dom"),
      compile(col("__robots_txt")).as("__robots_rules"))
    val decide = udf(
      (rules: Seq[org.apache.spark.sql.Row], path: String) => {
        if (rules == null) (true, null: String)
        else {
          val rs = rules.map(r => RobotsRule(r.getBoolean(0),
            r.getString(1)))
          val d = robotsDecision(rs, path)
          (d.forall(_.allow), d.map(_.pattern).orNull)
        }
      })
    df.join(pol, df(domainCol) === col("__robots_dom"), "left")
      .withColumn("__rv", decide(col("__robots_rules"), col(pathCol)))
      .withColumn(s"${prefix}_allowed", col("__rv._1"))
      .withColumn(s"${prefix}_rule", col("__rv._2"))
      .drop("__rv", "__robots_dom", "__robots_rules")
  }

  /** Per-domain Crawl-delay from the robots policy TABLE: each policy
    * row parses once (map-side, policy rows ≪ corpus rows), selects
    * the delay governing `userAgent` ([[robotsCrawlDelayFor]] — the
    * de-facto extension every polite crawler honors), and LEFT-joins
    * onto the frontier by domain (broadcast when small, the
    * withRobotsAllowedByPolicy shape). Adds `<prefix>_delay_ms`:
    * `defaultDelayMillis` when the domain has no policy row or its
    * policy names no Crawl-delay. Duplicate policy rows pre-aggregate
    * (latest wins via `policyOrderCol`).
    */
  def withCrawlDelayByPolicy(df: DataFrame, domainCol: String,
      policies: DataFrame, policyDomainCol: String,
      policyTextCol: String, userAgent: String,
      defaultDelayMillis: Long = 1000L,
      prefix: String = "robots",
      policyOrderCol: Option[String] = None): DataFrame = {
    val delayOf = udf((txt: String) =>
      robotsCrawlDelayFor(parseRobots(txt), userAgent))
    val pol = dedupPolicies(policies, policyDomainCol, policyTextCol,
      policyOrderCol).select(
      col(policyDomainCol).as("__cd_dom"),
      delayOf(col("__robots_txt")).as("__cd_ms"))
    df.join(pol, df(domainCol) === col("__cd_dom"), "left")
      .withColumn(s"${prefix}_delay_ms",
        coalesce(col("__cd_ms"), lit(defaultDelayMillis)))
      .drop("__cd_dom", "__cd_ms")
  }

  /** RFC 9309 §2.3.1 fetch-STATUS semantics over robots.txt fetch
    * records — the `--robots-warc` front door's policy builder. A real
    * crawler's policies come from fetch attempts whose HTTP status
    * matters, not just from bodies. Per RECORD:
    *
    *  - 2xx (or a headerless record): the fetched body IS the policy.
    *  - 3xx: follow `locationCol` through the fetch set (each Location
    *    first RESOLVED against the url of the response that carried it
    *    — RFC 9110 §10.2.2 allows relative references — then matched by
    *    canonical-url equality, up to `maxHops` hops, the RFC's "at
    *    least five consecutive hops"); the final 2xx target's body
    *    becomes THIS domain's policy. A chain that leaves the fetch
    *    set, loops, or exceeds maxHops is treated as unavailable →
    *    allow-all.
    *  - 4xx: "unavailable" → allow-all — the EMPTY policy (§2.3.1.3).
    *  - 5xx: "unreachable" → COMPLETE DISALLOW (§2.3.1.4) — the
    *    synthesized policy `User-agent: *\nDisallow: /`.
    *
    * The mapping runs per record, BEFORE latest-fetch-wins dedup
    * ([[withRobotsAllowedByPolicy]]'s `policyOrderCol`): a domain whose
    * NEWEST robots fetch 503'd is fully blocked even if an older 200
    * fetch allowed everything — the newest evidence governs. `dateCol`
    * stays the ORIGINAL fetch's timestamp through redirect hops for the
    * same reason.
    *
    * `targets` (default: `fetches` itself) is the lookup set Locations
    * resolve against — pass the whole decoded robots WARC set when the
    * origin rows were path-filtered, so a `/robots.txt → /r.txt` hop
    * still resolves. Scale shape: both frames are policy-sized (rows
    * are fetches, never corpus); resolution is `maxHops` equi-joins
    * with the lookup side pre-aggregated to one row per url and
    * scoped-persisted (one kernel, maxHops join consumers).
    *
    * @return (domainCol, textCol = effective policy body, dateCol)
    */
  def robotsPoliciesFromFetches(fetches: DataFrame, domainCol: String,
      urlCol: String, statusCol: String, locationCol: String,
      textCol: String, dateCol: String,
      targets: Option[DataFrame] = None, maxHops: Int = 5): DataFrame = {
    val disallowAll = "User-agent: *\nDisallow: /\n"
    def isRedirect(s: Column) = s.isNotNull && s >= 300 && s < 400
    // one row per canonical target url, latest fetch wins — a target
    // fetched twice must resolve deterministically. Rows whose url is
    // crawl-garbage (canon '') are excluded: a '' lookup key must never
    // equi-match a '' resolution on the probe side.
    val lookup = graft.core.Caches.scoped(targets.getOrElse(fetches)
      .withColumn("__t_url", urlCanonCol(col(urlCol)))
      .where(col("__t_url") =!= "")
      .groupBy("__t_url")
      .agg(max_by(struct(
        col(statusCol).cast("int").as("s"),
        col(locationCol).as("l"),
        col(textCol).as("b")), col(dateCol)).as("__t")))
    var cur = fetches.select(col(domainCol), col(dateCol),
      col(urlCol).cast("string").as("__u"),
      col(statusCol).cast("int").as("__s"),
      col(locationCol).as("__l"), col(textCol).as("__b"))
    for (_ <- 1 to maxHops) {
      // Location is an RFC 3986 reference, not necessarily absolute —
      // real servers send `Location: /robots-v2.txt`. Resolve it against
      // the url of the response that CARRIED it (RFC 9110 §10.2.2)
      // before canonicalizing; a reference that still doesn't resolve
      // to a parseable absolute url ('' canon) never joins and falls to
      // the -1 unavailable-by-redirect sentinel.
      val resolved = resolveUrlUdf(col("__u"), col("__l"))
      cur = cur.join(lookup,
          isRedirect(col("__s")) && col("__l").isNotNull &&
            urlCanonCol(resolved) =!= "" &&
            urlCanonCol(resolved) === col("__t_url"), "left")
        .select(col(domainCol), col(dateCol),
          // the NEXT hop's Location resolves against the url we just
          // followed to — thread it; terminal rows keep theirs (unused)
          when(col("__t").isNotNull, resolved)
            .otherwise(col("__u")).as("__u"),
          when(col("__t").isNotNull, col("__t").getField("s"))
            // a redirect whose Location was never fetched: sentinel -1
            // = unavailable-by-redirect → allow-all in the final map
            .when(isRedirect(col("__s")), lit(-1))
            .otherwise(col("__s")).as("__s"),
          when(col("__t").isNotNull, col("__t").getField("l"))
            .otherwise(col("__l")).as("__l"),
          when(col("__t").isNotNull, col("__t").getField("b"))
            .otherwise(col("__b")).as("__b"))
    }
    cur.select(col(domainCol),
      when(col("__s").isNull ||
          (col("__s") >= 200 && col("__s") < 300),
        coalesce(col("__b"), lit("")))
        .when(col("__s") >= 500, lit(disallowAll))
        // 4xx, the -1 sentinel, and any 3xx still unresolved after
        // maxHops (a loop): unavailable → the empty allow-all policy
        .otherwise(lit("")).as(textCol),
      col(dateCol))
  }

  /** Politeness schedule — the consumer Crawl-delay existed for: a
    * polite crawler fetches ONE url per domain per delay window, so
    * the frontier's urls get per-domain fetch SLOTS in priority order
    * (highest `priorityCol` first, url tiebreak — total and
    * deterministic), and slot k's fetch time is k × the domain's
    * delay. Adds `fetch_slot` (0-based) and `fetch_time_ms` (relative
    * to the domain's first fetch). One window partitioned by domain:
    * frames are per-domain frontier slices — the quota shape AQE
    * skew-splits at crawl scale, never a corpus-wide ordering.
    *
    * Rows whose PSL registered domain is NULL (the host IS a public
    * suffix, so it has no registrable part) must not collapse into one
    * shared politeness queue NOR fan out one-queue-per-url (same-host
    * urls scheduled concurrently — the opposite politeness failure):
    * the scheduling key falls back to `hostCol` when the caller names
    * one (explicit, r19 — no more column-name sniffing), else to the
    * HOST DERIVED FROM THE URL (the withUrlParts extraction), so
    * same-host urls share a queue and unrelated hosts never serialize
    * behind one delay.
    */
  def frontierSchedule(df: DataFrame, domainCol: String, urlCol: String,
      priorityCol: String, delayMsCol: String,
      hostCol: Option[String] = None): DataFrame =
    frontierScheduleBy(df, domainCol, urlCol, delayMsCol, hostCol,
      col(priorityCol).desc, col(urlCol).asc)

  /** Recency-ranked schedule — the consumer sitemap `lastmod` existed
    * for (the r16 Crawl-delay pattern: a parsed field must have its
    * consumer): seeds rank within their politeness queue by (lastmod
    * DATE desc NULLS LAST, `nRefsCol` desc, url asc), so a recrawl
    * round fetches the freshest known content first and falls back to
    * link popularity for undated urls. `lastmodCol` holds the sitemap's
    * W3C datetime STRING (date-only or full). Ranking is day-first —
    * the first 10 chars parse as a date; anything unparseable ranks
    * with the undated tail — then, within the same day, by the LEXICAL
    * time field (everything after the 'T', r19): W3C datetimes with a
    * consistent suffix format (the overwhelmingly common all-'Z'
    * sitemap case) order lexically = chronologically, both engines
    * replay substr() identically, and date-only entries (no time
    * field) rank after any timestamped same-day entry. Same per-domain
    * window shape as [[frontierSchedule]].
    *
    * MIXED-offset same-day entries order lexically, NOT
    * chronologically — '08:00+02:00' (06:00Z) outranks '07:00Z'. This
    * is the DELIBERATE choice (r20, gated in llm_pipeline14's
    * mixed-suffix family): normalizing offsets needs full timestamp
    * parsing, whose edge semantics differ between engines (the reason
    * the tiebreak is lexical at all), and an offset can move the DAY,
    * so partial normalization would be worse than none. A recrawl
    * scheduler mis-ordering two same-day seeds by minutes-to-hours is
    * a priority nuance; a cross-engine hash divergence is a
    * correctness failure.
    */
  def frontierScheduleRecency(df: DataFrame, domainCol: String,
      urlCol: String, lastmodCol: String, nRefsCol: String,
      delayMsCol: String, hostCol: Option[String] = None): DataFrame = {
    val lmDate = to_date(try_to_timestamp(
      substring(col(lastmodCol), 1, 10), lit("yyyy-MM-dd")))
    val lmTime = when(length(col(lastmodCol)) > 10,
      substring(col(lastmodCol), 12, 64))
    frontierScheduleBy(df, domainCol, urlCol, delayMsCol, hostCol,
      lmDate.desc_nulls_last, lmTime.desc_nulls_last,
      col(nRefsCol).desc, col(urlCol).asc)
  }

  private def frontierScheduleBy(df: DataFrame, domainCol: String,
      urlCol: String, delayMsCol: String, hostCol: Option[String],
      order: Column*): DataFrame = {
    // null-domain fallback: the caller's host column when named, else
    // the host extracted from the url (the withUrlParts regex) — one
    // politeness queue per HOST, never per url and never one shared
    // catch-all. regexp_extract returns '' (not null) on a scheme-less
    // url, which would coalesce every such row onto ONE shared ''
    // queue — nullif it so the final fallback (the url itself: a queue
    // of one, politeness-safe) takes over.
    val fallback = hostCol.map(h => nullif(col(h), lit(""))).getOrElse(
      nullif(lower(regexp_extract(col(urlCol),
        "^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)", 1)), lit("")))
    val schedKey = coalesce(col(domainCol), fallback, col(urlCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(schedKey)
      .orderBy(order: _*)
    df.withColumn("fetch_slot", row_number().over(w).cast("long") - 1)
      .withColumn("fetch_time_ms",
        col("fetch_slot") * col(delayMsCol))
  }

  def domainQuota(df: DataFrame, hostCol: String, idCol: String,
      n: Int, psl: Option[PslRules] = None): DataFrame = {
    require(n >= 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("domain")
      .orderBy(md5(col(idCol).cast("string")).asc, col(idCol).asc)
    withDomainKey(df, hostCol, psl)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= n)
      .drop("__rn")
  }
}
