package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession

/** `core/GraftSession` is the only place in `src/main` that builds a
  * SparkSession. Each entry point's effective conf (`spark.conf.getAll`)
  * is read in a child JVM: the specs' shared session lives in this one,
  * and `getOrCreate` would hand it back instead of a fresh session.
  */
class GraftSessionSpec extends AnyFunSuite {
  import GraftSessionSpec._

  private val nproc = Runtime.getRuntime.availableProcessors().toString

  private val tunedKeys = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** Conf of `local`/`app`/`bench` built in a child JVM with `env` set
    * (the session env vars are removed first) and `-D` properties `props`.
    */
  private def probe(env: Map[String, String],
      props: Seq[String] = Nil): Map[String, Map[String, String]] = {
    val javaBin = java.nio.file.Paths.get(sys.props("java.home"), "bin", "java")
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(javaBin.toString) ++ jvmArgs ++ props ++
      Seq("-Xmx1g", "-cp", sys.props("java.class.path"),
        "graft.GraftSessionSpec")
    val pb = new ProcessBuilder(cmd.asJava).redirectErrorStream(false)
      .redirectError(ProcessBuilder.Redirect.DISCARD)
    Seq("SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS", "SPARK_GRAFT_CPUS")
      .foreach(pb.environment().remove)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val p = pb.start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
    assert(p.waitFor() === 0, out)
    out.linesIterator.map(_.split("\t", 3)).collect {
      case Array(mode, k, v) => (mode, k, v)
    }.toSeq.groupBy(_._1).map { case (m, kvs) =>
      m -> kvs.map(t => t._2 -> t._3).toMap }
  }

  private lazy val defaults = probe(Map.empty, Seq("-Dspark.scheduler.mode=FAIR"))

  test("local: effective conf is pinned, spark.* system properties honoured") {
    // Spark's own JDK module flags; their exact text is Spark's, not ours
    val javaOpts = Seq("spark.driver.extraJavaOptions",
      "spark.executor.extraJavaOptions")
    val local = defaults("local")
    javaOpts.foreach(k => assert(local(k).contains("--add-opens")))
    assert(local -- javaOpts === tunedKeys ++ Map(
      "spark.master" -> "local[2]",
      "spark.app.name" -> "probe-local",
      "spark.sql.shuffle.partitions" -> "3",
      "spark.ui.enabled" -> "false",
      "spark.scheduler.mode" -> "FAIR",
      "spark.executor.id" -> "driver",
      "spark.hadoop.fs.s3a.vectored.read.min.seek.size" -> "128K",
      "spark.hadoop.fs.s3a.vectored.read.max.merged.size" -> "2M",
      logLevel -> "WARN"))
  }

  test("app and bench apply their documented defaults") {
    val app = defaults("app")
    assert(app("spark.master") === "local[*]")
    assert(app("spark.sql.shuffle.partitions") === "32")
    assert(app("spark.sql.session.timeZone") === "UTC")
    assert(app("spark.app.name") === "probe-app")
    assert(!app.contains("spark.ui.enabled"))
    assert(app(logLevel) === "WARN")
    val bench = defaults("bench")
    assert(bench === defaults("local") ++ Map(
      "spark.master" -> s"local[$nproc]",
      "spark.app.name" -> "probe-bench",
      "spark.sql.shuffle.partitions" -> nproc,
      "spark.sql.files.maxPartitionBytes" -> "4194304",
      "spark.sql.codegen.cache.maxEntries" -> "2000",
      logLevel -> "ERROR"))
    assert(GraftSession.appMaster(_ => None) === "local[*]")
    assert(GraftSession.appShufflePartitions(_ => None) === "32")
  }

  test("app and bench read SPARK_MASTER, SPARK_SHUFFLE_PARTITIONS and " +
    "SPARK_GRAFT_CPUS; extra pairs are applied last") {
    val set = probe(Map("SPARK_MASTER" -> "local[2]",
      "SPARK_SHUFFLE_PARTITIONS" -> "7", "SPARK_GRAFT_CPUS" -> "3"))
    assert(set("app")("spark.master") === "local[2]")
    assert(set("app")("spark.sql.shuffle.partitions") === "7")
    assert(set("app")("spark.scheduler.mode") === "FIFO")
    assert(set("bench")("spark.master") === "local[3]")
    assert(set("bench")("spark.sql.shuffle.partitions") === "3")
  }

  test("no SparkSession.builder in src/main outside core/GraftSession") {
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).getOrElse(Array.empty).toSeq.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val all = files(new java.io.File("src/main/scala"))
    assert(all.exists(_.getPath.endsWith("core/GraftSession.scala")))
    val offenders = all.filterNot(_.getPath.endsWith("core/GraftSession.scala"))
      .filter(f => new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8").contains("SparkSession.builder"))
    assert(offenders.isEmpty,
      s"build sessions through GraftSession: ${offenders.mkString(", ")}")
  }
}

object GraftSessionSpec {
  /** Pseudo-key carrying the root log level set by the entry point. */
  val logLevel = "(log level)"

  /** Ids, ports, times and paths that differ per run. */
  private val perRun = Set("spark.app.id", "spark.app.startTime",
    "spark.app.submitTime", "spark.driver.host", "spark.driver.port",
    "spark.sql.warehouse.dir")

  /** Child-JVM body of [[GraftSessionSpec.probe]]: one `mode\tkey\tvalue`
    * line per effective conf entry of each entry point, and its log level.
    */
  def main(args: Array[String]): Unit = {
    def dump(mode: String, s: SparkSession): Unit = {
      s.conf.getAll.toSeq.sorted.foreach { case (k, v) =>
        if (!perRun(k)) println(s"$mode\t$k\t$v") }
      println(s"$mode\t$logLevel\t" +
        org.apache.logging.log4j.LogManager.getRootLogger.getLevel)
      s.stop()
    }
    dump("local", GraftSession.local("probe-local", 2, 3))
    dump("app", GraftSession.app("probe-app", "spark.scheduler.mode" -> "FIFO"))
    dump("bench", GraftSession.bench("probe-bench"))
  }
}
