package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.embed.{DeterministicEmbedder, Embedder, VectorsJob}
import graft.core.GraftSession

/** E7 — the embedding worker loop (reference
  * services/embedding_worker/embedding_worker.ml): a long-running drain
  * that polls for pending embedding jobs, claims a batch, embeds it,
  * upserts vectors, records failures, and exits after N consecutive
  * empty polls (`--exit-after-empty`, the reference's flag of the same
  * name; default is to run indefinitely).
  *
  * Spark-native re-expression of the reference's queue semantics:
  *
  *   - the job queue is DERIVED, not stored: pending = distinct
  *     `vector_id` in `<dir>/positions` anti-joined against both
  *     `<dir>/vectors` (done) and `<dir>/vector_failures` (failed —
  *     the reference's status='failed' rows are likewise not
  *     re-claimed, embedding_worker.ml mark_job_failed);
  *   - a poll claims the first `--batch-size` pending ids in
  *     deterministic `vector_id` order (the reference claims
  *     `jobs_per_batch` rows FOR UPDATE SKIP LOCKED; a derived queue
  *     needs no locks — the anti-join IS the claim);
  *   - the batch embeds through [[VectorsJob.buildWithLedger]] (E1-E6:
  *     embed-once-per-distinct-fen, retry inside the embedder call,
  *     invalid embeddings land in the failure ledger with
  *     attempts/last_error), and results APPEND to the parquet sinks;
  *   - `--workers N` thread fan-out is N/A by design: executors
  *     parallelize WITHIN each claimed batch, which is the Spark analog
  *     of the reference's worker threads (documented in SURVEY §2.3);
  *   - worker metrics mirror the reference's names and file protocol
  *     (embedding_worker.ml write_metrics_file): set
  *     `GRAFT_WORKER_METRICS_PATH` to get embedding_jobs_processed_total
  *     / embedding_jobs_failed_total / embedding_worker_jobs_per_min /
  *     embedding_worker_characters_per_sec rewritten after every batch,
  *     and the exit summary line matches the reference's
  *     `summary: processed=.. failures=.. duration=..s ..` format.
  *
  *   runMain graft.app.WorkerApp <tablesDir> [--poll-sleep=2.0]
  *     [--exit-after-empty=N] [--batch-size=16] [--dims=64]
  */
object WorkerApp {

  final case class Summary(polls: Int, emptyPolls: Int, processed: Long,
      failed: Long, fenChars: Long, durationSec: Double) {
    def jobsPerMin: Double =
      processed / math.max(0.001, durationSec) * 60.0
    def charsPerSec: Double = fenChars / math.max(0.001, durationSec)
  }

  private def readOpt(spark: SparkSession, path: String): Option[DataFrame] =
    try {
      val df = spark.read.parquet(path)
      df.schema // force analysis so a missing dir throws HERE
      Some(df)
    } catch { case _: Throwable => None }

  /** The derived job queue: distinct (vector_id, fen) not yet embedded
    * and not permanently failed. Deterministic order comes from the
    * caller's claim (orderBy vector_id).
    */
  def pending(spark: SparkSession, dir: String): DataFrame = {
    val positions = spark.read.parquet(s"$dir/positions")
    val todo = positions.select("vector_id", "fen")
      .dropDuplicates("vector_id")
    val done = readOpt(spark, s"$dir/vectors")
      .map(_.select("vector_id").distinct())
    val failedIds = readOpt(spark, s"$dir/vector_failures")
      .map(_.select("vector_id").distinct())
    val excluded = (done, failedIds) match {
      case (Some(a), Some(b)) => Some(a.union(b))
      case (a, b) => a.orElse(b)
    }
    excluded match {
      case Some(ex) => todo.join(ex, Seq("vector_id"), "left_anti")
      case None => todo
    }
  }

  /** One poll: claim up to batchSize jobs, embed, append vectors +
    * failures. Returns (claimedIds, failed, fenChars); an empty claim =
    * empty poll. The claimed ids are returned (not just a count) so
    * [[drain]] can detect a NO-PROGRESS poll: a claimed id that yields
    * neither a vectors row nor a failures row (e.g. buildWithLedger's
    * payload join drops positions whose game_id is absent from games)
    * stays pending forever, and the deterministic vector_id-ordered
    * claim would re-claim the identical batch every poll.
    */
  def pollOnce(spark: SparkSession, dir: String, batchSize: Int,
      embedder: Embedder): (Seq[String], Long, Long) = {
    // the claim is bounded (<= batchSize small rows) and must be a
    // STABLE set across the embed + the two appends below, so collect
    // it once rather than re-deriving the anti-join per sink
    val claimed = pending(spark, dir)
      .orderBy("vector_id").limit(batchSize)
      .collect()
    if (claimed.isEmpty) (Nil, 0L, 0L)
    else {
      val ids = claimed.map(_.getString(0)).toSeq
      val chars = claimed.map(_.getString(1).length.toLong).sum
      val games = spark.read.parquet(s"$dir/games")
      val players = spark.read.parquet(s"$dir/players")
      val positions = spark.read.parquet(s"$dir/positions")
        .where(col("vector_id").isInCollection(ids))
      val r = VectorsJob.buildWithLedger(spark, games, players, positions,
        embedder)
      r.vectors.write.mode("append").parquet(s"$dir/vectors")
      r.failures.write.mode("append").parquet(s"$dir/vector_failures")
      val failed = spark.read.parquet(s"$dir/vector_failures")
        .where(col("vector_id").isInCollection(ids)).count()
      (ids, failed, chars)
    }
  }

  private def writeMetricsFile(path: String, s: Summary): Unit =
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      s"embedding_jobs_processed_total ${s.processed}\n" +
        s"embedding_jobs_failed_total ${s.failed}\n" +
        f"embedding_worker_jobs_per_min ${s.jobsPerMin}%.6f\n" +
        f"embedding_worker_characters_per_sec ${s.charsPerSec}%.6f\n")
    catch { case e: Throwable =>
      System.err.println(s"[worker] failed to write metrics file: " +
        s"${e.getMessage}")
    }

  /** The polling loop. `exitAfterEmpty=Some(n)` exits after n
    * consecutive empty polls (reference --exit-after-empty); None runs
    * until `maxPolls`. `sleepMs` separates polls (reference
    * --poll-sleep, seconds there).
    */
  def drain(spark: SparkSession, dir: String, batchSize: Int = 16,
      embedder: Embedder = DeterministicEmbedder(),
      exitAfterEmpty: Option[Int] = Some(1), sleepMs: Long = 0L,
      maxPolls: Int = Int.MaxValue,
      metricsPath: Option[String] = None): Summary = {
    val t0 = System.nanoTime()
    var polls = 0
    var emptyStreak = 0
    var emptyPolls = 0
    var processed = 0L
    var failed = 0L
    var fenChars = 0L
    def summary() = Summary(polls, emptyPolls, processed, failed, fenChars,
      (System.nanoTime() - t0) / 1e9)
    var stop = false
    // previous poll's claimed id set: the claim is deterministic
    // (orderBy vector_id), so a batch whose every id produced neither a
    // vectors row nor a failures row is re-claimed IDENTICALLY next
    // poll — without this check the loop livelocks (p > 0 every poll,
    // exitAfterEmpty never fires, processed inflates with no-op work).
    var lastClaim: Set[String] = Set.empty
    while (!stop && polls < maxPolls) {
      val (ids, f, c) = pollOnce(spark, dir, batchSize, embedder)
      polls += 1
      val claim = ids.toSet
      val noProgress = claim.nonEmpty && claim == lastClaim
      if (noProgress)
        System.err.println(s"[worker] no-progress poll: the ${ids.size} " +
          "claimed job(s) produced no vectors or failure rows and would " +
          "be re-claimed verbatim; counting as empty for the exit streak")
      if (ids.isEmpty || noProgress) {
        emptyPolls += 1
        emptyStreak += 1
        if (exitAfterEmpty.exists(emptyStreak >= _)) stop = true
      } else {
        emptyStreak = 0
        processed += ids.size
        failed += f
        fenChars += c
        metricsPath.foreach(writeMetricsFile(_, summary()))
      }
      lastClaim = claim
      if (!stop && sleepMs > 0) Thread.sleep(sleepMs)
    }
    val s = summary()
    metricsPath.foreach(writeMetricsFile(_, s))
    s
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: WorkerApp <tablesDir> " +
      "[--poll-sleep=2.0] [--exit-after-empty=N] [--batch-size=16] " +
      "[--dims=64]")
    val dir = args(0)
    def flag(name: String): Option[String] =
      args.collectFirst { case s if s.startsWith(s"--$name=") =>
        s.stripPrefix(s"--$name=") }
    val pollSleepSec = flag("poll-sleep").map(_.toDouble).getOrElse(2.0)
    val exitAfterEmpty = flag("exit-after-empty").map(n =>
      math.max(1, n.toInt))
    val batchSize = math.max(1, flag("batch-size").map(_.toInt)
      .getOrElse(16))
    val dims = flag("dims").map(_.toInt).getOrElse(64)

    val spark = GraftSession.app("graft-worker")

    println(s"[worker] configuration: dir=$dir batch_size=$batchSize " +
      s"poll_sleep=${pollSleepSec}s exit_after_empty=" +
      exitAfterEmpty.map(n => s"after-$n-empty-polls")
        .getOrElse("disabled") + s" dims=$dims")
    println("[worker] starting polling loop")
    val s = drain(spark, dir, batchSize, DeterministicEmbedder(dims),
      exitAfterEmpty, sleepMs = (pollSleepSec * 1000).toLong,
      metricsPath = sys.env.get("GRAFT_WORKER_METRICS_PATH"))
    println(f"[worker] summary: processed=${s.processed} " +
      f"failures=${s.failed} duration=${s.durationSec}%.2fs " +
      f"jobs_per_min=${s.jobsPerMin}%.2f " +
      f"chars_per_sec=${s.charsPerSec}%.2f")
    spark.stop()
  }
}
