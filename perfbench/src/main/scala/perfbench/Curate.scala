package perfbench

import org.apache.spark.sql.functions.col
import graft.app.{CurateApp, DedupApp}

/** `curate`: the corpus-building path, `PipelineApp.run` without
  * `--warc`: `DedupApp.run` over a seeded document corpus, then
  * `CurateApp.run` with `export = true` over its survivors. One
  * operation is one input document.
  */
object Curate {
  val Docs = 2000
  val SetupReps = 3
  /** Untimed passes first: the first pays the cold JVM's class loading
    * and code generation, the second still runs slower than later ones
    * while the JIT compiles the hot paths. Checked like the timed ones. */
  val WarmPasses = 2
  /** Timed passes per run, at the least. More run while the next one is
    * expected to end within `--seconds`. */
  val MinPasses = 3
  /** Export file count. The app's default of 512 is sized for large
    * corpora; at this corpus size it would make export a test of
    * per-file overhead. */
  val ShardFiles = 16

  /** The stage labels each app prints when a stage's artifact is
    * written, and the span each stage is recorded as. */
  val dedupStages = Map("pairs" -> "llmops.dedup.pairs",
    "clusters" -> "llmops.dedup.clusters", "survivors" -> "llmops.dedup.survivors",
    "report" -> "llmops.dedup.report")
  val curateStages = Map("scored" -> "llmops.quality.scored",
    "kept" -> "llmops.quality.kept", "shards" -> "llmops.curation.shards",
    "export" -> "app.curate.export", "report" -> "app.curate.report")

  final case class Reports(dedup: Seq[(String, Long)], curate: Seq[(String, Long)])

  /** Runs both apps with their output on stderr. When `tracer` is given,
    * every stage becomes a span, cut where the app announces that the
    * stage's artifact is written. */
  def pipeline(ctx: Ctx, docs: String, out: java.nio.file.Path,
      tracer: Option[Tracer]): Reports = {
    def run[T](prefix: String, stages: Map[String, String])(body: => T): T =
      tracer match {
        case None => Console.withOut(System.err)(body)
        case Some(t) =>
          val marks = new StageMarks(t, prefix, stages)
          try Console.withOut(marks.stream)(body) finally marks.close()
      }
    val dedup = tracer.fold(Span.untraced)(Span.of).apply("app.dedup") {
      run("[dedup] stage ", dedupStages) {
        DedupApp.run(ctx.spark, DedupApp.Config(docs, s"$out/dedup"))
      }
    }
    val curate = tracer.fold(Span.untraced)(Span.of).apply("app.curate") {
      run("[curate] stage ", curateStages) {
        CurateApp.run(ctx.spark, CurateApp.Config(s"$out/dedup/survivors",
          s"$out/curate", export = true, shardFiles = ShardFiles))
      }
    }
    Reports(dedup, curate)
  }

  /** Every planted exact-duplicate group keeps at most one member. */
  def exactViolations(ctx: Ctx, c: DocGen.Corpus, out: java.nio.file.Path): Int = {
    val survivors = ctx.spark.read.parquet(s"$out/dedup/survivors")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    c.exactGroups.count(g => g.count(survivors.contains) > 1)
  }

  def run(ctx: Ctx): Unit = {
    val docsDir = ctx.work.resolve("curate/docs")
    val setups = (1 to SetupReps).map { _ =>
      Util.time {
        val c = DocGen.generate(ctx.seed, Docs)
        Util.deleteTree(docsDir)
        import ctx.spark.implicits._
        ctx.spark.createDataset(c.docs).repartition(ctx.cores)
          .write.parquet(docsDir.toString)
        c
      }
    }
    val corpus = setups.last._1
    ctx.setupMetric(setups.map(_._2))
    ctx.phase("set-up")
    ctx.notes ++= Seq("docs" -> corpus.docs.length,
      "exact_copies" -> corpus.exactCopies,
      "exact_share" -> corpus.share(corpus.exactCopies),
      "near_above" -> corpus.nearAbove.length,
      "near_above_share" -> corpus.share(corpus.nearAbove.length),
      "near_below" -> corpus.nearBelow.length,
      "near_below_share" -> corpus.share(corpus.nearBelow.length),
      "low_quality_share" -> corpus.share(corpus.lowQuality),
      "non_ascii_share" -> corpus.share(corpus.nonAscii),
      "input_bytes" -> corpus.inputBytes,
      "docs_parquet_bytes" -> Util.parquetBytes(docsDir))
    ctx.heapCheckpoint()

    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    var first: Option[Reports] = None
    var stored = 0L
    var pass = 0
    def more: Boolean = pass < WarmPasses + MinPasses ||
      walls.sum + Util.median(walls.toSeq) <= ctx.seconds
    while (more) {
      val out = ctx.dir("curate/out")
      val (r, wall) = Util.time(pipeline(ctx, docsDir.toString, out, None))
      pass += 1
      if (pass > WarmPasses) walls += wall
      else if (pass == WarmPasses) ctx.phase("warm-up passes")
      ctx.attempted += corpus.docs.length
      val bad = Seq(
        Some(exactViolations(ctx, corpus, out)).filter(_ > 0)
          .map(n => s"$n planted exact-duplicate groups kept twice"),
        first.filter(_ != r).map(f => s"report $r differs from first pass $f"),
        r.curate.toMap.get("n_kept").filter(_ <= 0).map(_ => "nothing kept")
      ).flatten
      if (bad.nonEmpty) {
        ctx.failed += corpus.docs.length
        System.err.println(s"[perfbench] curate mismatch: ${bad.mkString("; ")}")
      }
      if (first.isEmpty) {
        first = Some(r)
        val (maxMb, usedMb) = ctx.storageMb
        ctx.notes ++= Seq("storage_memory_mb" -> maxMb, "cached_after_pass_mb" -> usedMb)
      }
      stored = Util.parquetBytes(out)
      ctx.heapCheckpoint()
      graft.core.Caches.releaseScoped()
    }
    ctx.phase("timed passes")
    ctx.notes("passes") = walls.length
    ctx.notes("pass_walls_s") = walls.toSeq
    ctx.notes("p95_quantile_used") = Util.tailQuantile(walls.length)
    ctx.notes("dedup_report") = first.get.dedup.toMap
    ctx.notes("curate_report") = first.get.curate.toMap
    ctx.metric("ops_per_s", corpus.docs.length / Util.median(walls.toSeq), "1/s")
    ctx.metric("p50_ms", Util.median(walls.toSeq) * 1000, "ms")
    ctx.metric("p95_ms", Util.quantile(walls.toSeq, Util.tailQuantile(walls.length)) * 1000, "ms")
    ctx.metric("stored_bytes_per_input_byte", stored.toDouble / corpus.inputBytes, "ratio")

    if (ctx.traced) traced(ctx, corpus, docsDir, Util.median(walls.toSeq))
  }

  private def traced(ctx: Ctx, corpus: DocGen.Corpus, docsDir: java.nio.file.Path,
      untracedWall: Double): Unit = {
    val tracer = new Tracer(ctx.spark.sparkContext)
    val out = ctx.dir("curate/out-traced")
    val root = tracer.begin("bench.curate")
    val r = pipeline(ctx, docsDir.toString, out, Some(tracer))
    tracer.finish(root)
    graft.core.Caches.releaseScoped()
    val (gatesRoot, gateMetrics) = Gates.traced(ctx, tracer)
    tracer.drain()
    val tree = new SpanTree(tracer.spans)
    tracer.dump(ctx.work.resolve("spans-curate.jsonl"))
    tracer.stop()
    val counters = Seq("cpu_ms", "shuffle_bytes", "spill_bytes")
    Seq("llmops.dedup.pairs", "llmops.dedup.clusters", "llmops.dedup.survivors",
      "llmops.quality.scored", "llmops.curation.shards", "app.curate.export")
      .foreach(n => Layers.stage(ctx, tree, tree.named(n).head, n, counters))

    val pairs = ctx.spark.read.parquet(s"$out/dedup/pairs")
      .select("id_a", "id_b").collect().map(p => (p.getLong(0), p.getLong(1))).toSet
    val exactPairs = corpus.exactGroups.flatMap(g =>
      g.combinations(2).map(p => (p.min, p.max)))
    val dedup = r.dedup.toMap; val cur = r.curate.toMap
    ctx.metric("llmops.dedup.pairs_found", pairs.size.toDouble, "count")
    ctx.metric("llmops.dedup.planted_recall",
      corpus.nearAbove.count(pairs.contains).toDouble / corpus.nearAbove.length, "ratio")
    ctx.metric("llmops.dedup.planted_base", corpus.nearAbove.length.toDouble, "count")
    ctx.metric("llmops.dedup.exact_recall",
      exactPairs.count(pairs.contains).toDouble / exactPairs.length, "ratio")
    ctx.metric("llmops.dedup.exact_base", exactPairs.length.toDouble, "count")
    ctx.metric("llmops.dedup.below_found_share",
      corpus.nearBelow.count(pairs.contains).toDouble / corpus.nearBelow.length, "ratio")
    ctx.metric("llmops.dedup.removed_share",
      dedup("n_removed").toDouble / dedup("n_docs"), "ratio")
    ctx.metric("llmops.dedup.removed_base_docs", dedup("n_docs").toDouble, "count")
    ctx.metric("llmops.curation.kept_share",
      cur("n_kept").toDouble / cur("n_scored"), "ratio")
    ctx.metric("llmops.curation.kept_base_docs", cur("n_scored").toDouble, "count")
    gateMetrics(tree)
    Layers.report(ctx, tree, Seq(root, gatesRoot), tracedWall = root.dur / 1e9,
      untracedWall = untracedWall)
  }
}

/** A stdout sink that turns the apps' "stage <name> <secs> s" lines into
  * span boundaries: the open span is named after the stage just
  * announced and closed, and a fresh one opened for the next stage.
  */
final class StageMarks(t: Tracer, prefix: String, stages: Map[String, String]) {
  private var open: Span = t.begin("app.stage")
  private val buf = new java.io.ByteArrayOutputStream()
  val stream: java.io.PrintStream = new java.io.PrintStream(new java.io.OutputStream {
    override def write(b: Int): Unit = {
      if (b == '\n') {
        val line = buf.toString("UTF-8"); buf.reset()
        System.err.println(line)
        if (line.startsWith(prefix)) {
          val stage = line.stripPrefix(prefix).trim.takeWhile(_ != ' ')
          open.name = stages.getOrElse(stage, s"app.$stage")
          t.finish(open)
          open = t.begin("app.stage")
        }
      } else buf.write(b)
    }
  }, true, "UTF-8")

  /** The tail after the last announced stage is the app's own time. */
  def close(): Unit = { stream.flush(); t.finish(open) }
}
