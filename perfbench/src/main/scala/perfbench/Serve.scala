package perfbench

import java.net.{HttpURLConnection, URL}
import java.util.concurrent.atomic.AtomicInteger
import graft.app.ServeApp
import graft.query.{HybridExecutor, QueryIntent, ResultFormatter}

/** `serve`: the read path. A closed loop of `nproc / 2` client threads
  * posts questions to an in-process `ServeApp.start` (default settings:
  * no result cache, no limiter, no reranker). Set-up runs the write path
  * ([[Index]]) over a seeded PGN corpus, checks the written tables
  * against the generator, and loads them the way `ServeApp.main` does.
  * One operation is one request, plus one per checked index build.
  */
object Serve {
  val Games = 30
  val PoolSize = 16
  val SetupReps = 3
  /** Untimed closed-loop seconds before the timed loop. Request latency
    * falls steeply over the first seconds of load while the JIT compiles
    * the query path, and slowly after that. */
  val WarmupS = 8.0

  /** Clients of the closed loop. Each request already runs its Spark
    * tasks on every core; half as many clients as cores keeps the host
    * short of saturation, so the loop measures the server and not the
    * OS scheduler. */
  def clients(ctx: Ctx): Int = math.max(1, ctx.cores / 2)

  final case class Sample(latencyNs: Long, ok: Boolean)

  /** Generate, ingest and write the index, check it against the
    * generator, then load it. Returns the tables, the corpus and the
    * wall time without the check. */
  def setUp(ctx: Ctx, check: Boolean): (HybridExecutor.Tables, ChessGen.Corpus, Double) = {
    val t0 = System.nanoTime()
    val corpus = ChessGen.generate(ctx.seed, Games, Index.GamesPerFile)
    val pgn = ctx.dir("serve/pgn")
    Index.writePgn(corpus, pgn)
    val out = ctx.dir("serve/index")
    val b = Index.build(ctx, pgn, Span.untraced)
    Index.write(b, out, Span.untraced)
    val (bad, checkS) =
      if (check) Util.time(Index.check(ctx, corpus, b, out)) else (Nil, 0.0)
    if (check) ctx.attempted += 1
    if (bad.nonEmpty) {
      ctx.failed += 1
      System.err.println(s"[perfbench] index mismatch: ${bad.mkString("; ")}")
    }
    ctx.spark.catalog.clearCache()
    val tables = load(ctx)
    (tables, corpus, (System.nanoTime() - t0) / 1e9 - checkS)
  }

  /** Load the written index as ServeApp.main does: cached tables plus
    * the pre-materialized summaries view. */
  def load(ctx: Ctx): HybridExecutor.Tables = {
    val spark = ctx.spark
    val out = ctx.work.resolve("serve/index")
    val games = spark.read.parquet(s"$out/games").cache()
    val players = spark.read.parquet(s"$out/players").cache()
    val vectors = spark.read.parquet(s"$out/vectors").cache()
    val summaries = HybridExecutor.summaries(games, players)
    summaries.cache(); summaries.count()
    vectors.count(); games.count(); players.count()
    HybridExecutor.Tables(games, players, Some(vectors),
      summariesPrebuilt = Some(summaries))
  }

  def parsed(q: QuestionGen.Question): ServeApp.Parsed =
    ServeApp.Parsed(q.text, Some(q.limit), Some(q.offset))

  private def post(url: URL, body: String): (Int, String) = {
    val c = url.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setRequestProperty("Content-Type", "application/json")
    val os = c.getOutputStream
    try os.write(body.getBytes("UTF-8")) finally os.close()
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val text = if (in == null) "" else try new String(in.readAllBytes(), "UTF-8")
      finally in.close()
    (code, text)
  }

  /** Closed loop: `clients` threads each send their next request only
    * after the previous reply was read in full. */
  def load(url: URL, pool: Vector[QuestionGen.Question], seq: Array[Int],
      expected: Vector[String], clients: Int, seconds: Double)
      : (Vector[Sample], Double) = {
    val next = new AtomicInteger(0)
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val threads = (1 to clients).map { _ =>
      val th = new Thread(() => {
        while (System.nanoTime() < deadline) {
          val qi = seq(next.getAndIncrement() % seq.length)
          val s = System.nanoTime()
          val (code, body) = try post(url, pool(qi).json)
            catch { case e: java.io.IOException => (-1, e.toString) }
          results.add(Sample(System.nanoTime() - s,
            code == 200 && body == expected(qi)))
        }
      })
      th.start(); th
    }
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    (results.asScala.toVector, (System.nanoTime() - t0) / 1e9)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val setups = (1 to SetupReps).map { i =>
      val s = setUp(ctx, check = i == SetupReps)
      if (i < SetupReps) spark.catalog.clearCache()
      s
    }
    val (tables, corpus, _) = setups.last
    ctx.setupMetric(setups.map(_._3))
    ctx.notes ++= Seq("index_games" -> corpus.games, "index_plies" -> corpus.plies,
      "distinct_fens" -> corpus.distinctFens,
      "distinct_fen_share" -> corpus.distinctFenShare,
      "annotated_share" -> corpus.annotated.toDouble / corpus.games,
      "malformed_share" -> corpus.malformed.toDouble / corpus.games,
      "pgn_bytes" -> corpus.inputBytes)
    ctx.phase("set-up")
    val (maxMb, usedMb) = ctx.storageMb
    ctx.notes ++= Seq("storage_memory_mb" -> maxMb, "cached_index_mb" -> usedMb)
    val embedder = Index.embedder
    val pool = QuestionGen.pool(ctx.seed, PoolSize)
    val seq = QuestionGen.sequence(ctx.seed, PoolSize, 100000)
    // reference bodies, computed serially in-process before any load
    val expected = pool.map(q =>
      ServeApp.queryResponse(spark, tables, embedder, parsed(q)).toString)
    ctx.heapCheckpoint()
    ctx.phase("reference bodies")
    val server = ServeApp.start(spark, tables, embedder, 0)
    try {
      val url = new URL(s"http://127.0.0.1:${server.getAddress.getPort}/query")
      val (warm, _) = load(url, pool, seq, expected, clients(ctx), WarmupS)
      ctx.phase("warm-up loop")
      val (samples, wall) = load(url, pool, seq, expected, clients(ctx), ctx.seconds)
      ctx.attempted += warm.length + samples.length
      ctx.failed += warm.count(!_.ok) + samples.count(!_.ok)
      val lat = samples.map(_.latencyNs / 1e6)
      val used = seq.take(samples.length)
      ctx.notes ++= Seq("clients" -> clients(ctx), "warm_up_requests" -> warm.length,
        "requests" -> samples.length,
        "distinct_questions" -> used.distinct.length,
        "repeat_share" -> (1.0 - used.distinct.length.toDouble / used.length),
        "p95_quantile_used" -> Util.tailQuantile(lat.length))
      ctx.metric("ops_per_s", samples.count(_.ok) / wall, "1/s")
      ctx.metric("p50_ms", Util.median(lat), "ms")
      ctx.metric("p95_ms", Util.quantile(lat, Util.tailQuantile(lat.length)), "ms")
      ctx.metric("stored_bytes_per_input_byte",
        Util.parquetBytes(ctx.work.resolve("serve/index")).toDouble / corpus.inputBytes,
        "ratio")
      ctx.heapCheckpoint()
      ctx.phase("timed loop")
      if (ctx.traced) traced(ctx, url, tables, corpus, pool, seq, expected, Util.median(lat))
    } finally ServeApp.stop(server)
  }

  private def traced(ctx: Ctx, url: URL, served: HybridExecutor.Tables,
      corpus: ChessGen.Corpus, pool: Vector[QuestionGen.Question], seq: Array[Int],
      expected: Vector[String], p50Loaded: Double): Unit = {
    val spark = ctx.spark
    val phase = ctx.seconds / 2
    // one client over HTTP, then the same calls in-process, untraced
    val (one, _) = load(url, pool, seq, expected, 1, phase)
    val p50One = Util.median(one.map(_.latencyNs / 1e6))
    def inProcess(i: Int): Double = {
      val q = pool(seq(i))
      Util.time(ServeApp.queryResponse(spark, served, Index.embedder, parsed(q))
        .toString)._2 * 1000
    }
    val directMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var i = 0
    var acc = 0.0
    while (acc < phase * 1000) { val ms = inProcess(i); directMs += ms; acc += ms; i += 1 }
    val p50Direct = Util.median(directMs.toSeq)

    val tracer = new Tracer(spark.sparkContext)
    val (indexRoots, indexMetrics) =
      Index.traced(ctx, tracer, corpus, ctx.work.resolve("serve/pgn"))
    val tables = load(ctx) // the traced build cleared the cache
    // the public calls queryResponse composes, one span each
    val root = tracer.begin("bench.serve")
    var n = 0
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < phase * 1e9) {
      val q = pool(seq(n % seq.length))
      tracer.span("app.request") {
        val plan = tracer.span("query.analyse")(QueryIntent.analyse(
          QueryIntent.Request(q.text, Some(q.limit), Some(q.offset))))
        val exec = tracer.span("query.execute")(
          HybridExecutor.execute(spark, tables, plan, Index.embedder))
        val rows = tracer.span("query.collect")(exec.results.collect().toSeq)
        tracer.span("query.format") {
          ResultFormatter.summarize(rows); rows.map(ResultFormatter.resultFields)
        }
      }
      n += 1
    }
    tracer.finish(root)
    tracer.drain()
    val tree = new SpanTree(tracer.spans)
    tracer.dump(ctx.work.resolve("spans-serve.jsonl"))
    tracer.stop()
    indexMetrics(tree)

    val reqs = tree.named("app.request")
    def med(f: Span => Double): Double = Util.median(reqs.map(f))
    def child(r: Span, name: String): Span =
      tree.children(r.id).find(_.name == name).get
    ctx.metric("query.analyse_us", med(r => child(r, "query.analyse").dur / 1e3), "us")
    ctx.metric("query.execute_ms", med(r => child(r, "query.execute").dur / 1e6), "ms")
    ctx.metric("query.collect_ms", med(r => child(r, "query.collect").dur / 1e6), "ms")
    ctx.metric("query.format_us", med(r => child(r, "query.format").dur / 1e3), "us")
    ctx.metric("query.jobs_per_request",
      med(r => tree.subtree(r).count(_.name == "spark.job").toDouble), "count")
    ctx.metric("query.tasks_per_request", med(r => tree.total(r, "tasks")), "count")
    ctx.metric("query.no_task_ms", med(r => tree.noTaskNs(r) / 1e6), "ms")
    ctx.metric("query.cpu_ms", med(r => tree.total(r, "cpu_ms")), "ms")
    ctx.metric("app.http_ms", p50One - p50Direct, "ms")
    ctx.metric("app.wait_ms", p50Loaded - p50One, "ms")
    ctx.notes ++= Seq("p50_one_client_ms" -> p50One, "p50_in_process_ms" -> p50Direct,
      "traced_requests" -> reqs.length)
    Layers.report(ctx, tree, indexRoots :+ root, tracedWall = med(_.dur / 1e6),
      untracedWall = p50Direct)
  }
}
