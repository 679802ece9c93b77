package graft.app

import org.apache.spark.sql.functions._
import graft.ingest.{GameMetadata, IngestJob, PgnParser}
import graft.core.GraftSession

/** CLI: TWIC-style validation-only pass (reference
  * lib/cli/twic_precheck_command.ml:31-89): parse errors, missing moves,
  * missing/invalid [Result], with previews -- an issues DataFrame instead
  * of writes.
  *
  *   runMain graft.app.PrecheckApp <pgnPathOrGlob>
  */
object PrecheckApp {

  val validResults = Set("1-0", "0-1", "1/2-1/2", "*")

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: PrecheckApp <pgnPath>")
    val spark = GraftSession.app("graft-precheck")
    import spark.implicits._

    val issues = IngestJob.readPgn(spark, args(0)).flatMap { rec =>
      val out = List.newBuilder[(String, Int, String, String)]
      if (!rec.parse_ok)
        out += ((rec.source_file, rec.game_index,
          "parse_error", rec.error.getOrElse("unknown")))
      else {
        if (rec.ply_count == 0)
          out += ((rec.source_file, rec.game_index, "no_moves", ""))
        rec.result match {
          case None =>
            out += ((rec.source_file, rec.game_index, "missing_result",
              "add a [Result] header (1-0, 0-1, 1/2-1/2 or *)"))
          case Some(r) if !validResults.contains(r) =>
            out += ((rec.source_file, rec.game_index, "invalid_result", r))
          case _ => ()
        }
        val invalidFens = rec.positions.count(!_.fen_valid)
        if (invalidFens > 0)
          out += ((rec.source_file, rec.game_index, "invalid_fens",
            invalidFens.toString))
      }
      out.result()
    }.toDF("source_file", "game_index", "issue", "detail")

    val total = issues.count()
    println(s"[precheck] issues=$total")
    issues.groupBy("issue").count().orderBy(desc("count")).show(false)
    issues.show(50, truncate = false)
    spark.stop()
    if (total > 0) sys.exit(2)
  }
}
