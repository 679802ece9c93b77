package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. Times are `System.nanoTime` nanoseconds. A span
  * named `layer.what` belongs to `layer`; Spark jobs become `spark.job`
  * children of the span that submitted them.
  */
final class Span(val id: Long, @volatile var name: String, val parent: Long,
    @volatile var start: Long) {
  @volatile var end: Long = -1L
  val counters: mutable.Map[String, Double] = mutable.Map.empty
  /** Task run intervals of the jobs this span submitted itself. */
  val tasks: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  def layer: String = name.takeWhile(_ != '.')
  def dur: Long = end - start
}

/** In-memory span recorder plus the `SparkListener` that attributes jobs
  * and tasks to spans. The calling thread tags its jobs through a Spark
  * local property, which Spark carries into the threads it spawns for a
  * query (broadcasts, subqueries). Nothing is written until [[dump]].
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Prop = "perfbench.span"
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val byId = mutable.LinkedHashMap.empty[Long, Span]
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  // listener times are epoch millis; map them onto the nanoTime axis
  private val epochToNano =
    System.nanoTime() - System.currentTimeMillis() * 1000000L
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Int]

  sc.addSparkListener(this)

  /** Open a span as the child of this thread's innermost open span. */
  def begin(name: String): Span = {
    val st = stack.get()
    val s = new Span(nextId.getAndIncrement(), name, st.headOption.getOrElse(0L),
      System.nanoTime())
    synchronized { byId(s.id) = s }
    stack.set(s.id :: st)
    sc.setLocalProperty(Prop, s.id.toString)
    s
  }

  /** Close the innermost open span of this thread, which must be `s`. */
  def finish(s: Span): Unit = {
    s.end = System.nanoTime()
    val rest = stack.get().dropWhile(_ != s.id).drop(1)
    stack.set(rest)
    sc.setLocalProperty(Prop, rest.headOption.map(_.toString).orNull)
  }

  def span[T](name: String)(body: => T): T = {
    val s = begin(name)
    try body finally finish(s)
  }

  /** Wait until every event posted so far has reached this listener. */
  def drain(): Unit = org.apache.spark.graftbridge.ListenerBridge.drain(sc)

  def stop(): Unit = sc.removeSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
    tag.foreach { t =>
      synchronized {
        byId.get(t.toLong).foreach { parent =>
          val j = new Span(nextId.getAndIncrement(), "spark.job", parent.id,
            e.time * 1000000L + epochToNano)
          byId(j.id) = j
          jobSpan(e.jobId) = j
          e.stageIds.foreach(sid => stageJob(sid) = e.jobId)
        }
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach(_.end = e.time * 1000000L + epochToNano)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for {
      jobId <- stageJob.get(e.stageId)
      job <- jobSpan.get(jobId)
    } {
      val c = job.counters
      def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("cpu_ms", m.executorCpuTime / 1e6)
        add("gc_ms", m.jvmGCTime.toDouble)
        add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spill_bytes", m.diskBytesSpilled.toDouble)
      }
      val ti = e.taskInfo
      job.tasks += ((ti.launchTime * 1000000L + epochToNano,
        ti.finishTime * 1000000L + epochToNano))
    }
  }

  /** Closed spans; job spans are clipped to their parent, because the
    * listener's millisecond clock can overhang it by a fraction of a ms. */
  def spans: Vector[Span] = synchronized {
    val closed = byId.values.filter(_.end >= 0).toVector
    closed.filter(_.name == "spark.job").foreach { j =>
      byId.get(j.parent).filter(_.end >= 0).foreach { p =>
        j.start = math.max(j.start, p.start)
        j.end = math.max(j.start, math.min(j.end, p.end))
      }
    }
    closed
  }

  /** Write every closed span as one JSON line. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val cs = s.counters.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"counters":{$cs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("\n").getBytes("UTF-8"))
  }
}

/** Derived span arithmetic: self time, subtree counters, idle time. */
final class SpanTree(all: Vector[Span]) {
  val children: Map[Long, Vector[Span]] = all.groupBy(_.parent)

  def subtree(s: Span): Vector[Span] =
    s +: children.getOrElse(s.id, Vector.empty).flatMap(subtree)

  def named(name: String): Vector[Span] = all.filter(_.name == name)

  /** Span duration minus the part of it that its children cover. */
  def selfNs(s: Span): Long =
    s.dur - SpanTree.covered(children.getOrElse(s.id, Vector.empty)
      .map(c => (c.start, c.end)), s.start, s.end)

  /** Sum of a counter over the span and all its descendants. */
  def total(s: Span, key: String): Double =
    subtree(s).map(_.counters.getOrElse(key, 0.0)).sum

  /** Time inside the span in which none of its subtree's tasks ran:
    * query planning plus job scheduling. */
  def noTaskNs(s: Span): Long =
    s.dur - SpanTree.covered(subtree(s).flatMap(_.tasks), s.start, s.end)

  /** Self time per layer over the subtree of `root` (the root itself
    * excluded). Jobs of one span may run concurrently, so the `spark`
    * layer gets the union of each span's job intervals, not their sum. */
  def layerSelfNs(root: Span): Map[String, Long] = {
    val sub = subtree(root)
    val jobs = sub.flatMap { p =>
      val js = children.getOrElse(p.id, Vector.empty).filter(_.name == "spark.job")
      if (js.isEmpty) None
      else Some(SpanTree.covered(js.map(j => (j.start, j.end)), p.start, p.end))
    }.sum
    sub.filter(s => s.id != root.id && s.name != "spark.job").groupBy(_.layer)
      .map { case (l, ss) => l -> ss.map(selfNs).sum } + ("spark" -> jobs)
  }
}

object SpanTree {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}

object Span {
  /** Runs a block, as a named span or untraced. */
  trait Wrap { def apply[T](name: String)(body: => T): T }
  val untraced: Wrap = new Wrap { def apply[T](name: String)(body: => T): T = body }
  def of(t: Tracer): Wrap = new Wrap {
    def apply[T](name: String)(body: => T): T = t.span(name)(body)
  }
}

/** Per-layer metrics shared by every workload. */
object Layers {
  val names: Seq[String] = Seq("app", "query", "ingest", "chess", "embed",
    "llmops", "gate", "spark")

  /** `<name>_s` plus the work counters of one stage span's subtree. */
  def stage(ctx: Ctx, tree: SpanTree, s: Span, name: String,
      counters: Seq[String] = Seq("tasks", "cpu_ms", "gc_ms", "shuffle_bytes",
        "spill_bytes")): Unit = {
    ctx.metric(s"${name}_s", s.dur / 1e9, "s")
    counters.foreach { c =>
      ctx.metric(s"$name.$c", tree.total(s, c),
        if (c.endsWith("_ms")) "ms" else if (c.endsWith("bytes")) "bytes" else "count")
    }
  }

  /** Self time per layer over the traced roots, how much of the traced
    * wall the layers account for, Spark totals and the tracing overhead
    * (traced wall over the median untraced wall of the same run, minus 1). */
  def report(ctx: Ctx, tree: SpanTree, roots: Seq[Span], tracedWall: Double,
      untracedWall: Double): Unit = {
    val self = roots.map(tree.layerSelfNs)
      .foldLeft(Map.empty[String, Long])((a, m) =>
        (a.keySet ++ m.keySet).map(k => k -> (a.getOrElse(k, 0L) + m.getOrElse(k, 0L))).toMap)
    val unknown = self.keySet -- names
    require(unknown.isEmpty, s"spans outside the named layers: $unknown")
    names.foreach(l => ctx.metric(s"self.${l}_s", self.getOrElse(l, 0L) / 1e9, "s"))
    ctx.metric("trace.coverage", self.values.sum.toDouble / roots.map(_.dur).sum,
      "ratio")
    ctx.metric("spark.gc_ms", roots.map(tree.total(_, "gc_ms")).sum, "ms")
    ctx.metric("spark.spill_bytes", roots.map(tree.total(_, "spill_bytes")).sum, "bytes")
    ctx.metric("trace.overhead_share", tracedWall / untracedWall - 1, "ratio")
  }
}
