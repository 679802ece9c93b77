package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared text primitives as Catalyst column expressions. Everything is
  * built from md5 + integer arithmetic so each operator has an EXACT
  * cross-engine oracle (DuckDB SQL computes the same bytes) -- no
  * engine-specific hash functions, no float-order nondeterminism
  * (ratios are a single division of integer counts).
  *
  * The per-family production kernels (simhash, window fingerprints,
  * minhash bands, PII, quality, language ID, C4) live in
  * [[graft.llmops.Dedup]], [[graft.llmops.TextAnalysis]],
  * [[graft.llmops.Web]] and the native expressions of this package;
  * the column-expression forms they replaced are test-scope parity
  * references.
  */
object TextFunctions {

  /** Let-binding for column expressions: HOF lambda arguments are bound to
    * VALUES, while plain Column arguments are expression TREES that get
    * re-evaluated at every reference. `bind(e)(f)` evaluates `e` exactly
    * once per row -- without it, an expression like shingles(tokens(x))
    * re-tokenizes the text at every element access (observed 50x slowdowns).
    */
  def bind(e: Column)(f: Column => Column): Column =
    element_at(transform(array(e), v => f(v)), 1)

  /** Lowercase alnum word tokens. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => length(t) > 0)

  /** Word n-gram shingles joined by single spaces. */
  def shingles(toksExpr: Column, n: Int): Column = bind(toksExpr) { toks =>
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - n), i =>
        concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
  }

  // --- language ID (marker-token heuristic) ---------------------------

  /** Marker stopword lists per language. Deterministic, public knowledge;
    * scores = |tokens ∩ markers| / |tokens| (integer-count division).
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "eine",
      "mit", "von", "zu", "auf", "im", "den"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it",
      "for", "on", "with", "as", "at"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "una", "los",
      "las", "es", "por", "con", "para"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "que",
      "pour", "dans", "qui", "au", "pas"),
    "zh" -> Seq("de", "shi", "zai", "you", "wo", "ta", "le", "bu", "ren",
      "zhe", "men", "lai", "ge", "shang"))

  def langScore(toksExpr: Column, markers: Seq[String]): Column =
    bind(toksExpr) { toks =>
      val markerArr = array(markers.map(lit): _*)
      when(size(toks) === 0, 0.0).otherwise(
        size(filter(toks, t => array_contains(markerArr, t))).cast("double") /
          size(toks).cast("double"))
    }

  // --- quality scoring ------------------------------------------------

  val qualityStopwords: Seq[String] = langMarkers.toMap.apply("en")

  // --- PII redaction ---------------------------------------------------
  // Standard training-corpus scrubbing (the C4/RefinedWeb-style pass):
  // emails, IPv4 addresses, and long digit runs (phone/account numbers)
  // become typed placeholder tokens. Pure map-side regexp chain; the
  // patterns use only syntax Java regex and RE2 (DuckDB) interpret
  // identically (char classes, bounded repeats, \b, alternation), so a
  // SQL oracle reproduces every replacement byte-for-byte. Order
  // matters: emails before the digit-run rule (an email's local part
  // may contain 7+ digits), IPs before digit runs (dots already break
  // \b for dotted quads, but the order documents intent).

  val piiEmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiIpPattern = "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"
  val piiNumPattern = "\\b\\d{7,}\\b"

  /** Density-based curation cut: keep documents with at most
    * `maxPerKiloChars` PII matches per 1000 characters. Integer
    * cross-multiply (`total * 1000 <= max * length`), so the cut is
    * exact in any engine; zero-length texts have no matches and are
    * kept. Redaction scrubs what it can match — the density cut drops
    * documents so saturated with contact/account data that scrubbing
    * would leave placeholder soup (the standard corpus-hygiene pair).
    */
  def dropPiiDense(df: org.apache.spark.sql.DataFrame, textCol: String,
      maxPerKiloChars: Int): org.apache.spark.sql.DataFrame =
    df.where(PiiTotalExpr(col(textCol)) * lit(1000L) <=
      lit(maxPerKiloChars.toLong) * length(coalesce(col(textCol),
        lit(""))).cast("long"))

  // --- md5-derived integers ---------------------------------------------
  // Buckets, sketch slots and classifier weights all derive from the
  // first 8 hex chars of an md5, so any SQL oracle reproduces them.

  /** First-8-hex-chars-of-md5 as an unsigned 32-bit integer column. */
  def hex8(e: Column): Column =
    conv(md5(e).substr(1, 8), 16, 10).cast("long")
}
