package graft
import graft.core.GraftSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [queryName...] — names (builder-local fast path)
    // restrict the dump to those queries; the driver passes none.
    val sfDir = args(0); val outDir = args(1)
    val only = args.drop(2).toSet
    val spark = GraftSession.bench("graft-verify")
    new java.io.File(outDir).mkdirs()
    // A throwing gate must leave an explicit record, not a silent hole:
    // the driver's compare only reports on dumped dirs, so an exception
    // here would otherwise DROP the gate from CORRECTNESS_r{N}.json and
    // read as "no failures" (round-10 postmortem). verify_failures.json
    // names every gate that threw so the file set diffs cleanly against
    // the gate inventory.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        failures(name) = msg
        System.err.println(s"[verify] $name FAILED: $msg")
      }
      // operator-internal persists die with the query that pinned them
      finally graft.core.Caches.releaseScoped()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Static oracles + oracles that embed data-derived constants (trained
    // centroids); a dynamic-oracle failure degrades that query to the
    // rows-only check rather than sinking the whole dump.
    val dynamic = try SparkEntry.dynamicOracleSql(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[verify] dynamic oracles failed: ${e.getMessage}")
        Map.empty[String, String]
      }
    val json = (SparkEntry.oracleSql ++ dynamic)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/verify_failures.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    if (failures.nonEmpty)
      System.err.println(
        s"[verify] ${failures.size} gate(s) FAILED: " +
          failures.keys.mkString(", "))
    spark.stop()
  }
}
