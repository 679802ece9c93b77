package graft

import org.apache.spark.sql.functions._
import graft.functions.{PiiCountsExpr, PiiRedactExpr, PiiTotalExpr}
import graft.functions.TextFunctions._
import graft.ReferenceKernels._

/** Parity suite for the single-pass byte-level PII scanners
  * ([[graft.functions.PiiScan]]) against the java.util.regex chain they
  * replace in the hot path. The regex forms are the reference
  * ([[ReferenceKernels]]); every row here must agree byte-for-byte,
  * including the adversarial boundary cases the VERDICT asked for
  * (overlapping candidates, replacement-created word boundaries,
  * '<NUM>' insertion order, host backtracking, clamped find()
  * restarts).
  */
class PiiSpec extends SparkSpec {

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  // replacement-interaction rows: each exercises a specific resolved
  // backtracking branch documented in PiiScan's scaladoc
  private val adversarial: Seq[String] = Seq(
    "",
    "plain text with no pii at all",
    // --- email host backtracking ---
    "a@b.cc",                      // minimal match
    "a@b.c",                       // 1-letter TLD: no match
    "a@b",                         // no dot: no match
    "x@.com",                      // empty host before dot? host "" -> '.' is host char: host=".", then needs another dot
    "a@b.co.uk tail",              // TLD picks LAST dot ("uk")
    "a@b.co.u tail",               // last dot fails (1 letter) -> backtrack to "co"? "co.u" -> host "b", ".co" then 'u'... see regex
    "x.y@z.co.uk-",                // trailing '-' in host class after TLD
    "a@b.cc1234567",               // email end creates <EMAIL><NUM> boundary
    "a@b.ccc2.3.4.5",              // TLD greedy; digits after
    "user.1234567@host.com",       // 7-digit run inside local part: swallowed
    "1.2.3.4a@b.cc",               // IP-lookalike swallowed into local part
    "bad@@x..y",                   // double '@', double dots
    "@nolocal.com",                // '@' with no local char
    "tail@",                       // '@' at end
    "a@b.cc c@d.ee",               // two matches, find() restart
    "aa@bb.cc@dd.ee",              // '@' inside host run? host class has no '@': second email's local = "cc"? chain
    "ünicode@exämple.com",         // non-ASCII bytes break local/host runs
    "mail a.b+c%d_e-f@x-y.co.uk!", // every local class char
    // --- IP boundaries ---
    "1.2.3.4",
    "1.2.3.4.5",                   // leftmost quad wins, ".5" remains
    "1111.2.3.4",                  // 4-digit first group fails; no later start
    "999.999.999.999",
    "1.2.3.4567",                  // 4-digit last group fails
    "a1.2.3.4",                    // no boundary at '1'
    "1.2.3.4b",                    // trailing letter kills \b
    "_1.2.3.4",                    // underscore is a word char
    "-1.2.3.4-",                   // '-' is non-word: boundaries hold
    "ip 10.0.0.254 acct",
    "1.2.3.4 5.6.7.8",             // two matches
    "1.2.3..4",                    // empty group
    // --- NUM boundaries ---
    "123456",                      // 6 digits: no
    "1234567",                     // exactly 7
    "12345678901234567890",        // long run
    "12345678a",                   // trailing letter kills it
    "a12345678",                   // leading letter kills it
    "_1234567",                    // underscore kills it
    "1234567_",
    // java \b quirk: Bound checks Character.isLetterOrDigit on the
    // CODEPOINT even without UNICODE_CHARACTER_CLASS, so unicode
    // letters/digits adjacent to a run suppress the boundary
    "é1234567é",                   // Latin-1 letter: NO boundary, no match
    "中1234567中",                 // CJK letter: no match
    "😀1234567😀",                 // emoji (symbol): boundary holds, match
    "½1234567",               // ½ is Number,Other: isLetterOrDigit false
    "𝟏1234567",    // U+1D7CF math digit (4-byte seq): word char
    "é1.2.3.4é",                   // unicode letters kill the IP boundary too
    "😀1.2.3.4😀",
    "x 1234567.1234568 y",         // dot separates two runs; second starts after '.'
    "12345.67",                    // short runs
    // --- chaining: email pass output feeds IP pass feeds NUM pass ---
    "a@b.cc1.2.3.4",               // host swallows digits? "cc1" letters... trace both engines
    "u@v.com1234567 and 1.2.3.4c@d.org9999999",
    "contact user42@example.com or 10.0.0.7 acct 12345678901",
    null.asInstanceOf[String])

  private def parityFrame(base: org.apache.spark.sql.DataFrame) = base
    .select(
      redactPii(col("text")).as("red_ref"),
      PiiRedactExpr(col("text")).as("red_scan"),
      piiTotalUdf(col("text")).as("tot_ref"),
      PiiTotalExpr(col("text")).as("tot_scan"),
      size(regexp_extract_all(col("text"), lit(piiEmailPattern), lit(0)))
        .cast("long").as("ne_ref"),
      size(regexp_extract_all(col("text"), lit(piiIpPattern), lit(0)))
        .cast("long").as("ni_ref"),
      size(regexp_extract_all(col("text"), lit(piiNumPattern), lit(0)))
        .cast("long").as("nn_ref"),
      PiiCountsExpr(col("text")).as("cnt_scan"),
      col("text"))

  private def assertParity(df: org.apache.spark.sql.DataFrame): Unit =
    parityFrame(df).collect().foreach { r =>
      val txt = r.get(8)
      assert(r.get(0) == r.get(1), s"redact diverged on [$txt]: " +
        s"ref=${r.get(0)} scan=${r.get(1)}")
      assert(r.get(2) == r.get(3), s"total diverged on [$txt]: " +
        s"ref=${r.get(2)} scan=${r.get(3)}")
      val cnt = if (r.isNullAt(7)) null
        else r.getStruct(7)
      if (cnt == null) {
        assert(r.isNullAt(4) && r.isNullAt(5) && r.isNullAt(6),
          s"null counts struct but non-null ref on [$txt]")
      } else {
        assert(r.get(4) == cnt.get(0), s"n_emails diverged on [$txt]: " +
          s"ref=${r.get(4)} scan=${cnt.get(0)}")
        assert(r.get(5) == cnt.get(1), s"n_ips diverged on [$txt]: " +
          s"ref=${r.get(5)} scan=${cnt.get(1)}")
        assert(r.get(6) == cnt.get(2), s"n_nums diverged on [$txt]: " +
          s"ref=${r.get(6)} scan=${cnt.get(2)}")
      }
    }

  test("PII scanners equal the regex chain on adversarial boundaries") {
    import spark.implicits._
    assertParity(adversarial.toDF("text"))
  }

  test("PII scanners equal the regex chain on the corpus + synthetic " +
    "augment (the llm_pii_redact / llm_pii_filter row shapes)") {
    val aug = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or 10.0.0."),
      (pmod(col("doc_id"), lit(250)) + 1).cast("string"),
      lit(" acct 12345678901"))
    assertParity(docs.select(aug.as("text")))
    assertParity(docs.select(col("text")))
  }

  test("PII scanners equal the regex chain on random ASCII noise " +
    "(deterministic md5-derived strings dense in digits and dots)") {
    // md5-hex fragments joined by chars drawn from the PII alphabet:
    // digits, dots, '@', '-', '_', spaces — a fuzz corpus that hits
    // email/IP/NUM candidate triggers constantly
    val seps = array(Seq(" ", ".", "@", "-", "_", "", "..", "@@", " 1.",
      ".2 ").map(lit): _*)
    val fuzz = spark.range(2000).toDF("i")
      .select(concat_ws("", transform(sequence(lit(0), lit(11)), j =>
        concat(
          element_at(seps,
            (pmod(xxhash64(col("i"), j), lit(10)) + 1).cast("int")),
          substring(md5(concat(col("i").cast("string"), lit(":"),
            j.cast("string"))), lit(1),
            (pmod(xxhash64(j, col("i")), lit(11)) + 1).cast("int"))))
      ).as("text"))
    assertParity(fuzz)
    // digit-heavy variant: strip letters so runs of 7+ digits and
    // dotted quads appear organically
    val digits = fuzz.select(
      regexp_replace(col("text"), "[a-f]", "").as("text"))
    assertParity(digits)
  }

  test("dropPiiDense keeps its exact integer cut through the scanner") {
    import spark.implicits._
    val df = Seq(
      (1L, "clean text"),
      (2L, "a@b.cc " * 40),        // dense: 40 matches / ~280 chars
      (3L, ""),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "t")
    val kept = graft.functions.TextFunctions
      .dropPiiDense(df, "t", maxPerKiloChars = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L))
  }
}
