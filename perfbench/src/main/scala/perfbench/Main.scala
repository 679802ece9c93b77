package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Everything a workload needs: its session, arguments and scratch
  * directory, plus the result it fills in.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val traced: Boolean, val work: java.nio.file.Path, val cores: Int,
    val sessionStartS: Double) {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Facts about the inputs and sizes, printed to stderr and written to
    * the run's summary file but not part of the result line. */
  val notes = mutable.LinkedHashMap.empty[String, Any]
  private var peakOldBytes = 0L

  /** Log the end of a phase with the JVM's uptime, to stderr. */
  def phase(name: String): Unit = System.err.println(f"[perfbench] ${
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f s: $name")

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def dir(name: String): java.nio.file.Path = {
    val d = work.resolve(name)
    Util.deleteTree(d)
    java.nio.file.Files.createDirectories(d)
  }

  /** Full GC, then record old-generation occupancy after it. Call only
    * outside timed regions. */
  def heapCheckpoint(): Unit = {
    // the second collection frees what the first one queued for cleanup
    System.gc(); Thread.sleep(100); System.gc()
    Util.oldGenPool.foreach { p =>
      val u = p.getCollectionUsage
      if (u != null) peakOldBytes = math.max(peakOldBytes, u.getUsed)
    }
  }
  def peakHeapMb: Double = peakOldBytes / 1048576.0

  /** Storage memory the block manager may use, and what is cached now. */
  def storageMb: (Double, Double) = {
    val sc = spark.sparkContext
    val max = sc.getExecutorMemoryStatus.values.map(_._1).sum / 1048576.0
    val used = sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    (max, used)
  }

  /** setup_s: session start (paid once per process) plus the median of
    * `reps` repetitions of the workload's own set-up. */
  def setupMetric(repWalls: Seq[Double]): Unit =
    metric("setup_s", sessionStartS + Util.median(repWalls), "s")
}

object Util {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile, at most p95, with at least ten samples
    * beyond it. Below 20 samples no percentile above the median has ten
    * beyond it, and the median is reported: the maximum of a few samples
    * is one sample, with all of its noise. */
  def tailQuantile(n: Int): Double =
    if (n < 20) 0.5 else math.min(0.95, 1.0 - 10.0 / n)

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  val oldGenPool: Option[java.lang.management.MemoryPoolMXBean] = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toVector.reverse
          .foreach(java.nio.file.Files.delete)
      } finally s.close()
    }

  /** Bytes of all parquet files under `p`. */
  def parquetBytes(p: java.nio.file.Path): Long = {
    val s = java.nio.file.Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(f => f.getFileName.toString.endsWith(".parquet"))
        .map(f => java.nio.file.Files.size(f)).sum
    } finally s.close()
  }

  def writeString(p: java.nio.file.Path, s: String): Unit = {
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, s.getBytes("UTF-8"))
  }

  def json(v: Any): String = v match {
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d)
        .stripTrailingZeros().toPlainString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case s => "\"" + s.toString.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  }
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>`. Prints one JSON result object as the last stdout line.
  */
object Main {
  val workloads: Map[String, Ctx => Unit] = Map(
    "serve" -> Serve.run, "curate" -> Curate.run)

  def main(args: Array[String]): Unit = {
    def arg(name: String): String = {
      val i = args.indexOf(s"--$name")
      require(i >= 0 && i + 1 < args.length, s"missing --$name")
      args(i + 1)
    }
    val name = arg("workload")
    val body = workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val work = java.nio.file.Paths.get(arg("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    if (name == "serve") // ServeApp's own default: concurrent requests share
      System.setProperty("spark.scheduler.mode", "FAIR")
    val (spark, sessionS) = Util.time(
      graft.core.GraftSession.local(s"perfbench-$name", cores))
    val ctx = new Ctx(spark, seed, seconds, traced, work, cores, sessionS)
    ctx.phase("session start")
    try body(ctx)
    finally spark.stop()
    ctx.phase("session stop")
    ctx.metric("peak_heap_mb", ctx.peakHeapMb, "MB")
    ctx.notes("ops_attempted") = ctx.attempted
    ctx.notes("ops_failed") = ctx.failed
    val summary = Map("workload" -> name, "seed" -> seed, "trace" -> traced,
      "cores" -> cores, "metrics" -> ctx.metrics.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }, "notes" -> ctx.notes)
    Util.writeString(work.resolve(s"summary-$name-trace${if (traced) 1 else 0}.json"),
      Util.json(summary))
    ctx.notes.foreach { case (k, v) => System.err.println(s"[perfbench] $k = $v") }
    ctx.metrics.foreach { case (k, (v, u)) =>
      System.err.println(f"[perfbench] metric $k%-40s $v%14.4f $u") }
    val correct = ctx.failed == 0 && ctx.attempted > 0
    val out = Map("correct" -> correct, "attempted" -> ctx.attempted,
      "failed" -> ctx.failed, "metrics" -> ctx.metrics.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) })
    println(Util.json(out))
  }
}
