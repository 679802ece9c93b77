package graft.tools

import org.apache.spark.sql.execution.ExplainMode

import graft.core.{Caches, GraftSession}

/** Gate harness on the bench session, for a NAMED subset of gates, so an
  * optimization loop doesn't pay the full 164-gate sweep per iteration.
  *
  *  - `time`: the Bench methodology (cold + median-of-3 warm + min);
  *    fixture warmup mirrors Bench's step 0 so the first gate doesn't
  *    absorb fixture ingest.
  *  - `plan`: writes `.explain("formatted")` of each gate to
  *    `<outDir>/<gate>_<suffix>.txt` -- the optimization-round evidence
  *    trail (`plans/rNN/<gate>_{before,after}.txt`); no names = every
  *    gate in SparkEntry.queries.
  *
  * Usage: runMain graft.tools.GateTime time <sfDir> <name...>
  *        runMain graft.tools.GateTime plan <sfDir> <outDir> <suffix> [name...]
  */
object GateTime {
  def main(args: Array[String]): Unit = {
    val usage = "usage: GateTime time <sfDir> <name...> | " +
      "plan <sfDir> <outDir> <suffix> [name...]"
    require(args.length >= 2 && Set("time", "plan")(args(0)), usage)
    val sfDir = args(1)
    val spark = GraftSession.bench("graft-gatetime")
    val all = graft.SparkEntry.queries
    if (args(0) == "time") {
      // Bench step-0 warmup
      val (t, v) = graft.gate.ChessQueries.data(spark)
      t.games.count(); t.players.count(); t.positions.count(); v.count()
      spark.read.parquet(s"$sfDir/nation.parquet").count()
      def time(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      args.drop(2).foreach { name =>
        // releaseScoped BETWEEN runs (r22, same fix as Bench): the
        // CacheManager matches canonicalized plans, so without it warm
        // repeats reuse the cold run's materialized scoped persists and
        // pinned subtrees fall out of the warm timed region.
        def run(): Double = {
          val s = time(all(name)(spark, sfDir).count())
          Caches.releaseScoped(); s
        }
        val cold = run()
        val reps = Seq(run(), run(), run()).sorted
        println(f"[gatetime] $name%-24s cold=$cold%6.3f " +
          f"warm=${reps(1)}%6.3f min=${reps.head}%6.3f")
      }
    } else {
      require(args.length >= 4, usage)
      val outDir = args(2)
      val suffix = args(3)
      val names = args.drop(4).toSeq
      new java.io.File(outDir).mkdirs()
      (if (names.isEmpty) all.keys.toSeq.sorted else names).foreach { name =>
        try {
          val txt = all(name)(spark, sfDir).queryExecution
            .explainString(ExplainMode.fromString("formatted"))
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
          println(s"[gatetime] wrote $name")
        } catch {
          case e: Throwable =>
            System.err.println(s"[gatetime] $name FAILED: ${e.getMessage}")
        } finally Caches.releaseScoped()
      }
    }
    spark.stop()
  }
}
