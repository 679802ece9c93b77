package graft.tools

import org.apache.spark.sql.functions._
import graft.core.GraftSession

/** llm_stream_window cost forensics: run the gate body N times in one
  * session and break the wall into phases — setup (dir wipe + schema
  * read + symlink), stream execution (start..awaitTermination, with the
  * per-micro-batch durationMs map from StreamingQueryProgress), and the
  * sink read-back — so a "gate got slower" report can be attributed to
  * stream-startup cost vs plan change vs host contention.
  *
  *   runMain graft.tools.StreamProbe [sfDir] [reps]
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 5
    val spark = GraftSession.bench("graft-stream-probe",
      "spark.sql.shuffle.partitions" -> "32")

    def sec(t0: Long): Double = (System.nanoTime() - t0) / 1e9

    (1 to reps).foreach { rep =>
      val t0 = System.nanoTime()
      // --- setup phase (what StreamingGate.availableNow does first)
      val dir = java.nio.file.Paths.get("/tmp/graft_stream_gate/window")
      if (java.nio.file.Files.exists(dir)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
      val src = s"$sf/events.parquet"
      val schema = spark.read.parquet(src).schema
      val srcDir = dir.resolve("src")
      java.nio.file.Files.createDirectories(srcDir)
      java.nio.file.Files.createSymbolicLink(
        srcDir.resolve(java.nio.file.Paths.get(src).getFileName),
        java.nio.file.Paths.get(src).toAbsolutePath)
      val setupSec = sec(t0)

      // --- stream phase; odd reps shrink the state partitioning to the
      // actual state volume (600 windows x keys) to price the 32-way
      // state store against an 8-way one. args(2) = "dedup" probes the
      // llm_stream_dedup body instead (r22).
      val t1 = System.nanoTime()
      val parts = if (rep % 2 == 1) "32" else "8"
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      val in = spark.readStream.schema(schema).parquet(srcDir.toString)
      val out = if (args.length > 2 && args(2) == "dedup")
        graft.streaming.StreamingDedup.firstOccurrence(
          in.select(col("user_id")), "user_id")
      else graft.streaming.StreamingStats.windowedCounts(
        graft.core.Tables.withTsNanos(in)
          .withColumn("ts_t", timestamp_micros(expr("ts div 1000"))),
        "ts_t", "event_type", "6 hours", "0 seconds")
      val q = out.writeStream.format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val streamSec = sec(t1)
      val batches = q.recentProgress.toSeq.map { p =>
        val d = p.durationMs
        s"batch=${p.batchId} rows=${p.numInputRows} " +
          s"total=${d.getOrDefault("triggerExecution", -1L)}ms " +
          s"addBatch=${d.getOrDefault("addBatch", -1L)}ms " +
          s"getBatch=${d.getOrDefault("getBatch", -1L)}ms " +
          s"commit=${d.getOrDefault("commitOffsets", -1L)}ms " +
          s"stateRows=${p.stateOperators.headOption
            .map(_.numRowsTotal).getOrElse(-1L)}"
      }

      // --- read-back phase
      val t2 = System.nanoTime()
      val n = spark.read.parquet(s"$dir/out").count()
      val readSec = sec(t2)

      println(f"[probe] rep=$rep total=${sec(t0)}%.2fs " +
        f"setup=$setupSec%.2fs stream=$streamSec%.2fs " +
        f"readback=$readSec%.2fs rows=$n")
      batches.foreach(b => println(s"[probe]   $b"))
    }
    spark.stop()
  }
}
