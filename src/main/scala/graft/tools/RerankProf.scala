package graft.tools

import graft.core.GraftSession

/** Step-level wall profile of the chess_agent_rerank gate: which of
  * the per-run Spark actions (summaries build, page collect, candidate
  * collect, PGN fetch, final join+count) owns the 0.6–0.7 s warm wall.
  * Bench session configs; fixture warmup first; 3 reps per step.
  */
object RerankProf {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.bench("graft-rerank-prof")
    val (t, _) = graft.gate.ChessQueries.data(spark)
    t.games.count(); t.players.count(); t.positions.count()
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    import graft.query._
    val plan = QueryIntent.analyse(
      QueryIntent.Request(graft.gate.ChessQueries.rerankQuestion))
    for (rep <- 1 to 3) {
      var exec: HybridExecutor.Execution = null
      val tExec = time {
        exec = HybridExecutor.execute(spark,
          HybridExecutor.Tables(t.games, t.players, None), plan)
      }
      var reranked: org.apache.spark.sql.DataFrame = null
      val tRerank = time {
        reranked = Reranker.apply(exec.results, plan,
          new AgentEvaluator.AgentReranker(t.games))
      }
      val w = org.apache.spark.sql.expressions.Window.orderBy(
        org.apache.spark.sql.functions.desc("total_score"),
        org.apache.spark.sql.functions.col("played_on_str").desc_nulls_last,
        org.apache.spark.sql.functions.col("game_id").desc)
      import org.apache.spark.sql.functions._
      val tFinal = time {
        reranked
          .withColumn("rank", row_number().over(w).cast("long"))
          .select(col("rank"), col("white"), col("black"),
            col("explanation"),
            round(col("agent_score") * 100).cast("long").as("agent_centi"),
            floor(col("total_score") * 1000000).cast("long")
              .as("total_micro"))
          .count()
      }
      println(f"[rerankprof] rep$rep exec=$tExec%6.3f rerank=$tRerank%6.3f " +
        f"final=$tFinal%6.3f")
    }
    spark.stop()
  }
}
