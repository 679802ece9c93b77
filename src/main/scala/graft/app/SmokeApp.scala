package graft.app

import graft.core.GraftSession

/** Health probe analog (reference lib/core/health.ml): checks every table
  * under a graft output dir is readable and row counts are consistent,
  * with per-check latency. Exit 0 healthy / 1 degraded.
  *
  *   runMain graft.app.SmokeApp <tablesDir>
  */
object SmokeApp {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: SmokeApp <tablesDir>")
    val dir = args(0)
    val spark = GraftSession.app("graft-smoke")

    var healthy = true
    def check(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      try {
        val n = f
        println(f"[smoke] $name%-12s ok    rows=$n%-8d ${(System.nanoTime() - t0) / 1e6}%.0f ms")
      } catch {
        case e: Throwable =>
          healthy = false
          println(f"[smoke] $name%-12s FAIL  ${e.getMessage.take(120)}")
      }
    }
    check("games")(spark.read.parquet(s"$dir/games").count())
    check("players")(spark.read.parquet(s"$dir/players").count())
    check("positions")(spark.read.parquet(s"$dir/positions").count())
    check("vectors")(spark.read.parquet(s"$dir/vectors").count())
    check("pending") {
      graft.query.Store.pendingEmbeddingCount(
        spark.read.parquet(s"$dir/positions"),
        scala.util.Try(spark.read.parquet(s"$dir/vectors")).toOption)
    }
    spark.stop()
    if (!healthy) sys.exit(1)
  }
}
