package graft.core

import org.apache.spark.sql.SparkSession

/** The one place that builds a `SparkSession` for this engine's mains.
  *
  *  - [[local]]: CLIs, tests and the benchmark harness; `tuned` defaults
  *    at a fixed core count, UI off.
  *  - [[app]]: the production mains; master from `SPARK_MASTER` (default
  *    `local[*]`), shuffle width from `SPARK_SHUFFLE_PARTITIONS`
  *    (default 32), UTC session time zone.
  *  - [[bench]]: `graft.Bench`, `graft.Verify` and the tools; [[local]]
  *    at [[benchCpus]] cores plus the bench keys, logging at ERROR so a
  *    harness's own output is not buried under per-query planner WARNs.
  *
  * Every entry point keeps honouring `spark.*` system properties (the
  * builder starts from a fresh `SparkConf`), and takes extra
  * `key -> value` pairs, applied last, for a caller's own keys.
  *
  * `tuned` applies scale-relevant defaults: AQE (runtime re-planning,
  * skew-join splitting, partition coalescing), ns-timestamp parquet
  * compatibility, UTC. Shuffle partitions default to cluster parallelism
  * -- at 1000 executors set `spark.sql.shuffle.partitions` explicitly to
  * 2-3x total cores via config.
  */
object GraftSession {

  def tuned(builder: SparkSession.Builder): SparkSession.Builder =
    builder
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Keys [[bench]] adds to [[local]]. */
  private val benchConf: Seq[(String, String)] = Seq(
    // test tables are single-row-group files; allow sub-file splits
    "spark.sql.files.maxPartitionBytes" -> "4194304",
    // The generated-code cache defaults to 100 entries; a 123-gate
    // sweep churns it, so every pass-2 (soak) run re-pays janino
    // compilation (~0.3s/query -- run 2's soak read a uniform 1.3x
    // over warm with FLAT gc_offsets, the codegen-eviction signature,
    // not real engine degradation). A steady-state service runs a
    // bounded set of plans that fits its cache; size the cache to
    // this harness's plan count so soak measures the engine.
    "spark.sql.codegen.cache.maxEntries" -> "2000")

  /** Master of the production mains: `SPARK_MASTER`, default `local[*]`. */
  def appMaster(env: String => Option[String] = sys.env.get): String =
    env("SPARK_MASTER").getOrElse("local[*]")

  /** Shuffle width of the production mains: `SPARK_SHUFFLE_PARTITIONS`,
    * default 32. */
  def appShufflePartitions(env: String => Option[String] = sys.env.get): String =
    env("SPARK_SHUFFLE_PARTITIONS").getOrElse("32")

  /** Cores of [[bench]] sessions: `SPARK_GRAFT_CPUS`, default nproc. */
  def benchCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  private def session(builder: SparkSession.Builder,
      conf: Seq[(String, String)], logLevel: String = "WARN"): SparkSession = {
    val s = conf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  private def localSession(appName: String, cores: Int,
      shufflePartitions: Int, conf: Seq[(String, String)],
      logLevel: String): SparkSession = {
    val c = if (cores > 0) cores.toString else "*"
    val sp = if (shufflePartitions > 0) shufflePartitions
      else Runtime.getRuntime.availableProcessors()
    session(tuned(SparkSession.builder()
      .master(s"local[$c]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", sp.toString)
      .config("spark.ui.enabled", "false")), conf, logLevel)
  }

  /** Local session for CLIs/tests. */
  def local(appName: String, cores: Int = 0,
      shufflePartitions: Int = 0): SparkSession =
    localSession(appName, cores, shufflePartitions, Nil, "WARN")

  /** Session of a production main (`graft.app.*`). */
  def app(name: String, extra: (String, String)*): SparkSession =
    session(SparkSession.builder().master(appMaster()).appName(name),
      Seq("spark.sql.shuffle.partitions" -> appShufflePartitions(),
        "spark.sql.session.timeZone" -> "UTC") ++ extra)

  /** Session of `graft.Bench`, `graft.Verify` and the tools. */
  def bench(name: String, extra: (String, String)*): SparkSession = {
    val cpus = benchCpus
    localSession(name, cpus, cpus, benchConf ++ extra, "ERROR")
  }
}
