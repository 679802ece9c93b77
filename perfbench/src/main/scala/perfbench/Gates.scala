package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The gate layer, measured in `curate`'s traced run: a fixed subset of
  * `SparkEntry.queries` run the way `Verify` runs them (result coalesced
  * and written as parquet, scoped persists released after each gate), in
  * sorted order, over seeded `documents`, `events` and `embeddings`
  * tables, one `<name>.parquet` file each as `graft.core.Tables` reads
  * them. Each gate's row count must equal its DuckDB oracle's count on
  * the same tables.
  *
  * The subset holds gates whose inputs the benchmark can generate and
  * whose oracle runs in well under a second at this size, one per
  * module family. The relational TPC-H gates need tables the
  * benchmark does not generate, and the streaming gates write their
  * sinks under /tmp, outside the benchmark's directory.
  */
object Gates {
  val Docs = 400
  val Events = 1000
  val Embeddings = 500

  /** Gate -> the module family it mainly calls. */
  val family: Map[String, String] = Map(
    "chess_fen_replay" -> "chess", "q22_sessionize" -> "relational",
    "llm_simhash" -> "dedup", "llm_quality" -> "text",
    "llm_pii_redact" -> "pii", "llm_bloom" -> "sketches",
    "llm_html_extract" -> "web", "llm_ann_topk" -> "ann",
    "llm_shard_plan" -> "curation", "llm_pipeline10" -> "graphs")
  val families: Seq[String] = family.values.toSeq.distinct.sorted
  val gates: Seq[String] = family.keys.toSeq.sorted

  private val langs = Vector("de", "en", "es", "fr", "zh")
  private val eventTypes = Vector("click", "error", "purchase", "signup", "view")

  /** Write the three tables as `<dir>/<name>.parquet`; returns input bytes. */
  def writeTables(ctx: Ctx, dir: java.nio.file.Path): Long = {
    val spark = ctx.spark
    val rng = new java.util.Random(ctx.seed * 7919 + 11)
    val docs = DocGen.generate(ctx.seed, Docs).docs.map(d =>
      Row(d.doc_id, d.text, langs(rng.nextInt(langs.length)), d.source, d.n_chars))
    val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
    var ts = t0
    val events = (0 until Events).map { i =>
      ts += (rng.nextInt(5000) * 1000000L) + rng.nextInt(1000000)
      Row(i.toLong, java.sql.Timestamp.from(
          java.time.Instant.ofEpochSecond(ts / 1000000L, (ts % 1000000L) * 1000L)),
        rng.nextInt(15).toLong, eventTypes(rng.nextInt(eventTypes.length)),
        math.round(rng.nextDouble() * 33000) / 100.0,
        s"""{"k": ${rng.nextInt(100)}}""")
    }
    val eventSchema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType)))
    val centers = Array.fill(10, 64)((rng.nextGaussian() * 0.15).toFloat)
    val embeddings = (0 until Embeddings).map { i =>
      val label = rng.nextInt(10)
      Row(i.toLong, centers(label).toSeq.map(c =>
        (c + rng.nextGaussian() * 0.05).toFloat), label)
    }
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val key = "spark.sql.parquet.outputTimestampType"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try Seq(("documents", docs, docSchema), ("events", events, eventSchema),
        ("embeddings", embeddings, embSchema)).foreach { case (name, rows, schema) =>
      // one file per table, the layout `graft.core.Tables` reads
      val tmp = dir.resolve(s"$name.tmp")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
      try java.nio.file.Files.move(part.filter(_.toString.endsWith(".parquet"))
        .findFirst().get(), dir.resolve(s"$name.parquet"))
      finally part.close()
      Util.deleteTree(tmp)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    Util.parquetBytes(dir)
  }

  /** Row counts of each gate's DuckDB oracle over the same tables. */
  def oracleCounts(ctx: Ctx, dir: java.nio.file.Path): Map[String, Long] = {
    val sql = graft.SparkEntry.oracleSql.filter { case (g, _) => family.contains(g) }
    val sqlFile = ctx.work.resolve("gates/oracle_sql.json")
    Util.writeString(sqlFile, Util.json(sql))
    val script = java.nio.file.Paths.get("perfbench", "oracle_counts.py").toString
    val p = new ProcessBuilder("python3", script, dir.toString, sqlFile.toString)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val out = try new String(p.getInputStream.readAllBytes(), "UTF-8")
      finally p.waitFor()
    require(p.exitValue() == 0, s"oracle_counts.py exited with ${p.exitValue()}")
    "\"([a-z0-9_]+)\":\\s*(\\d+)".r.findAllMatchIn(out)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  /** Run one gate as Verify does; returns its written row count. */
  def runGate(ctx: Ctx, g: String, in: java.nio.file.Path,
      out: java.nio.file.Path): Long =
    try {
      graft.SparkEntry.queries(g)(ctx.spark, in.toString).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve(g).toString)
      ctx.spark.read.parquet(out.resolve(g).toString).count()
    } finally graft.core.Caches.releaseScoped()

  /** Generate the tables, get the oracle counts, then run every gate
    * once, each as a span `gate.<name>` under one root. Returns the root
    * and a function that turns the finished trace into the gate layer's
    * metrics. */
  def traced(ctx: Ctx, tracer: Tracer): (Span, SpanTree => Unit) = {
    import org.apache.spark.metrics.source.CodegenMetrics
    val in = ctx.dir("gates/tables")
    val inputBytes = writeTables(ctx, in)
    val expected = oracleCounts(ctx, in)
    ctx.notes ++= Seq("gate_input_bytes" -> inputBytes, "gate_oracle_counts" -> expected)
    val out = ctx.dir("gates/out")
    val cg = CodegenMetrics.METRIC_COMPILATION_TIME
    val cg0 = cg.getCount
    val root = tracer.begin("bench.gates")
    gates.foreach { g =>
      val n = try tracer.span(s"gate.$g")(runGate(ctx, g, in, out)) catch {
        case e: Exception =>
          System.err.println(s"[perfbench] gate $g threw: $e"); -1L
      }
      ctx.attempted += 1
      if (n != expected.getOrElse(g, -2L)) {
        ctx.failed += 1
        System.err.println(s"[perfbench] gate $g: $n rows, oracle ${expected.get(g)}")
      }
    }
    tracer.finish(root)
    // the histogram keeps a sample, so this is count times mean
    val codegenMs = (cg.getCount - cg0) * cg.getSnapshot.getMean

    def emit(tree: SpanTree): Unit = {
      val spans = tree.children(root.id)
      families.foreach { f =>
        ctx.metric(s"gate.${f}_s", spans.filter(s =>
          family(s.name.stripPrefix("gate.")) == f).map(_.dur).sum / 1e9, "s")
      }
      ctx.metric("gate.jobs", tree.subtree(root).count(_.name == "spark.job").toDouble,
        "count")
      ctx.metric("gate.tasks", tree.total(root, "tasks"), "count")
      ctx.metric("gate.no_task_s", spans.map(tree.noTaskNs).sum / 1e9, "s")
      ctx.metric("gate.cpu_s", tree.total(root, "cpu_ms") / 1e3, "s")
      ctx.metric("gate.codegen_ms", codegenMs, "ms")
    }
    (root, emit)
  }
}
