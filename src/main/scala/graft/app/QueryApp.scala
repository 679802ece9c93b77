package graft.app

import graft.query.{AgentEvaluator, EvalCache, HybridExecutor, QueryIntent,
  Reranker, ResultFormatter}
import graft.embed.DeterministicEmbedder
import graft.core.GraftSession

/** CLI: NL question -> hybrid search over ingested tables.
  *
  *   runMain graft.app.QueryApp <tablesDir> <question words...> [--limit=N] [--offset=N] [--agent]
  *
  * Batch mode -- many questions separated by `;;` run through ONE
  * amortized pass ([[HybridExecutor.executeBatch]]: constant stage
  * count regardless of batch size):
  *
  *   runMain graft.app.QueryApp <tablesDir> "q1 ;; q2 ;; q3" [--limit=N]
  *
  * `--agent` applies the A1-A3 agent-rerank tier (candidate select ->
  * evaluator -> 0.6/0.4 blend) on top of the hybrid page, through the
  * A4 eval cache: persistent JSONL-backed when GRAFT_EVAL_CACHE_DIR is
  * set (the reference's Redis agent cache re-expressed; survives across
  * CLI invocations), in-memory LRU otherwise. Agent failures degrade to
  * the heuristic ranking with a warning, never an error (the
  * reference's no-AGENT_API_KEY behavior).
  *
  * Mirrors POST /query (reference services/api/chessmate_api.ml:586-724)
  * minus the HTTP envelope: same plan, same scoring, same pagination.
  */
object QueryApp {
  private val usage = "usage: QueryApp <tablesDir> <question...> " +
    "[--limit=N] [--offset=N] [--agent]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, usage)
    val dir = args(0)
    // sbt's runMain tokenizes on whitespace, so the question arrives as
    // many tokens; limit/offset are explicit flags (a bare trailing int
    // would be ambiguous with rating numbers in the question itself).
    val rest = args.drop(1)
    val limit = rest.collectFirst { case s if s.startsWith("--limit=") =>
      s.stripPrefix("--limit=").toInt }
    val offset = rest.collectFirst { case s if s.startsWith("--offset=") =>
      s.stripPrefix("--offset=").toInt }
    val agent = rest.contains("--agent")
    rest.filter(_.startsWith("--")).foreach { t =>
      require(t.startsWith("--limit=") || t.startsWith("--offset=") ||
        t == "--agent", s"unrecognized flag '$t'; $usage")
    }
    val question = rest.filterNot(_.startsWith("--")).mkString(" ")
    require(question.nonEmpty, usage)
    val spark = GraftSession.app("graft-query")

    val questions = question.split(";;").map(_.trim).filter(_.nonEmpty)
    val plans = questions.toSeq.map(q =>
      QueryIntent.analyse(QueryIntent.Request(q, limit, offset)))
    plans.foreach(plan =>
      println(s"[plan] cleaned='${plan.cleanedText}' limit=${plan.limit} " +
        s"offset=${plan.offset} filters=${plan.filters} " +
        s"rating=${plan.rating} keywords=${plan.keywords}"))

    val games = spark.read.parquet(s"$dir/games")
    val players = spark.read.parquet(s"$dir/players")
    val vectors =
      try Some(spark.read.parquet(s"$dir/vectors"))
      catch { case _: Throwable => None }
    val embedder = DeterministicEmbedder(dims = vectors.map(v =>
      v.selectExpr("size(embedding)").head().getInt(0)).getOrElse(1536))
    val tables = HybridExecutor.Tables(games, players, vectors)

    val execs =
      if (plans.length == 1)
        Seq(HybridExecutor.execute(spark, tables, plans.head, embedder))
      else HybridExecutor.executeBatch(spark, tables, plans, embedder)

    // A1-A3 over the page, through the A4 cache (persistent across CLI
    // invocations when GRAFT_EVAL_CACHE_DIR is set — ConfigApp/health
    // report the same knob).
    val reranker: Option[Reranker] = if (!agent) None else {
      sys.env.get("GRAFT_EVAL_CACHE_DIR")
        .foreach(d => println(s"[agent] persistent eval cache at $d"))
      Some(EvalCache.cached(new AgentEvaluator.AgentReranker(games),
        EvalCache.backendFromEnv()))
    }

    plans.zip(execs).foreach { case (plan, exec) =>
      if (plans.length > 1) println(s"\n=== ${plan.cleanedText} ===")
      val (ranked, agentWarnings) = reranker match {
        case Some(r) => Reranker.applyOrFallback(exec.results, plan, r)
        case None => (exec.results, Seq.empty[String])
      }
      (exec.warnings ++ agentWarnings).foreach(w => println(s"[warning] $w"))
      val rows = ranked.collect()
      println(s"[results] total=${exec.total} returned=${rows.length} " +
        s"has_more=${exec.hasMore}")
      println(ResultFormatter.summarize(rows.toSeq))
      rows.foreach(r => println(ResultFormatter.resultFields(r)))
    }
    spark.stop()
  }
}
