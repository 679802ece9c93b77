package graft.app

import org.apache.spark.sql.SparkSession

import graft.core.{GraftSession, Health, Sanitizer}

/** Config-surface CLI (reference lib/cli/config_command.ml): print the
  * EFFECTIVE engine configuration with secrets redacted, run the
  * dependency health checks ([[Health.engineChecks]], each with latency),
  * print `[health] name status (detail)` lines, and exit with the
  * reference's code protocol (config_command.ml run()) — 1 when ANY
  * configured check fails (the reference marks every Unavailable check
  * fatal, even "optional" deps like redis once they are configured; with
  * a hint line per recognized failure, suggestions_for), 2 when checks
  * pass but some were skipped because an optional dependency is unset
  * (the warnings path), 0 all ok.
  *
  *   runMain graft.app.ConfigApp <tablesDir>
  */
object ConfigApp {

  /** The effective engine config rows (name -> value), values passed
    * through the sanitizer so a credentialed URL in an env var never
    * reaches a terminal/log verbatim.
    */
  def effectiveConfig(dir: String,
      env: String => Option[String] = sys.env.get): Seq[(String, String)] = {
    def opt(name: String) = env(name).getOrElse("(unset)")
    Seq(
      "tables_dir" -> dir,
      "spark_master" -> GraftSession.appMaster(env),
      "shuffle_partitions" -> GraftSession.appShufflePartitions(env),
      "embed_dims" -> "(from vectors table; 1536 when absent)",
      "max_body_bytes" -> ServeApp.maxBodyBytes.toString,
      "max_limit" -> graft.query.QueryIntent.maxLimit.toString,
      "rate_limit" -> opt("GRAFT_RATE_LIMIT"),
      "rate_limit_body" -> opt("GRAFT_RATE_LIMIT_BODY"),
      "eval_cache_dir" -> opt("GRAFT_EVAL_CACHE_DIR"),
      "worker_metrics_path" -> opt("GRAFT_WORKER_METRICS_PATH")
    ).map { case (k, v) => k -> Sanitizer.sanitize(v) }
  }

  /** Hints for recognized failure messages (suggestions_for,
    * config_command.ml:7-34), keyed on substrings of the sanitized
    * failure detail.
    */
  def suggestionsFor(message: String): Seq[String] = {
    val m = message.toLowerCase
    Seq(
      "games" ->
        "Run IngestApp (or IngestJob.write) to create <dir>/games before serving.",
      "vectors" ->
        "Run WorkerApp or VectorsJob to build <dir>/vectors for hybrid ranking.",
      "eval_cache" ->
        "Set GRAFT_EVAL_CACHE_DIR to a writable directory, or unset to disable.",
      "path does not exist" ->
        "Point <tablesDir> at a directory produced by IngestApp/IngestJob.write."
    ).collect { case (needle, hint) if m.contains(needle) => hint }.distinct
  }

  /** Pure body (testable without exiting): returns the printed lines and
    * the exit code.
    */
  def report(spark: SparkSession, dir: String,
      env: String => Option[String] = sys.env.get): (Seq[String], Int) = {
    val cfg = effectiveConfig(dir, env).map { case (k, v) =>
      f"[config] $k%-20s $v"
    }
    val summary = Health.summarize(Health.engineChecks(spark, dir, env))
    val lines = summary.checks.map(Health.statusLine)
    // Tail mirrors the exit protocol, not the HTTP summary status: any
    // errored check is fatal (prints the failure + hints), skipped-only
    // is the warnings path, otherwise all green.
    val tail =
      if (summary.checks.exists(_.status == "error"))
        summary.checks.filter(_.status == "error").flatMap { c =>
          val detail = c.detail.getOrElse("")
          s"Configuration check failed: ${c.name} unavailable: $detail" +:
            suggestionsFor(s"${c.name} $detail").map(h => s"  hint: $h")
        }
      else if (summary.checks.exists(_.status == "skipped"))
        Seq("Configuration checks completed with warnings (optional dependencies).")
      else Seq("All configuration checks passed.")
    (cfg ++ lines ++ tail, summary.exitCode)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ConfigApp <tablesDir>")
    val spark = GraftSession.app("graft-config", "spark.ui.enabled" -> "false")
    val (lines, code) = report(spark, args(0))
    lines.foreach(println)
    spark.stop()
    sys.exit(code)
  }
}
