package graft.tools

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import graft.core.GraftSession


/** Sustained concurrent serving throughput — the measured analog of the
  * reference's oha load test (docs/guides/operations/LOAD_TESTING.md:
  * ~500 req/s at 50 connections against Postgres+Qdrant): a CLOSED-LOOP
  * client fleet (N threads, each issuing its next POST /query the
  * moment the previous response lands) over the canonical ten-payload
  * mix, against a live in-process ServeApp on an ephemeral port.
  *
  * Reports completed req/s and p50/p95/p99 per-request latency. The
  * engine under test is a batch engine serving via Spark actions, so
  * the expectation is NOT parity with the reference's indexed-store
  * numbers — the point is that the comparison is measured, not argued.
  *
  *   runMain graft.tools.ServeLoad [nGames] [threads] [reqsPerThread]
  *     [cacheEntries]
  *
  * cacheEntries > 0 enables the ServeApp per-request result cache (the
  * round-15 serving lever); run with 0 AND a cache size and record both
  * rows — the uncached row is the honest engine number, the cached row
  * is what a production deployment of this serving surface would see on
  * a skewed query mix.
  *
  * The scheduler mode is ServeApp's: FAIR lets per-connection pools share
  * the cores (better tail under concurrency); FIFO can win closed-loop
  * THROUGHPUT because each job gets all cores and finishes sooner.
  * Measure both: `SPARK_SCHEDULER_MODE=FIFO` flips it.
  */
object ServeLoad {
  def main(args: Array[String]): Unit = {
    val nGames = if (args.nonEmpty) args(0).toInt else 500
    val threads = if (args.length > 1) args(1).toInt else 16
    val perThread = if (args.length > 2) args(2).toInt else 25
    val cacheEntries = if (args.length > 3) args(3).toInt else 0
    val spark = GraftSession.bench("graft-serve-load",
      graft.app.ServeApp.schedulerMode)
    import spark.implicits._

    // same synthetic corpus + cached serving tables as Bench's chess
    // workload — the canonical serving fixture
    val base = graft.core.Fixtures.extendedSampleGame
    val corpus = (1 to nGames).map { i =>
      (s"load_$i.pgn", base.replace(
        "[Event \"Interpolis International Tournament\"]",
        s"""[Event "Load $i"]"""))
    }
    val files = spark.createDataset(corpus)
    val t = graft.ingest.IngestJob.tables(spark,
      graft.ingest.IngestJob.gamesFromText(spark, files),
      persistRecords = true)
    t.games.cache(); t.players.cache(); t.positions.cache()
    t.positions.count(); t.games.count(); t.players.count()
    val embedder = graft.embed.DeterministicEmbedder(dims = 256)
    val vectors = graft.embed.VectorsJob.build(spark, t.games, t.players,
      t.positions, embedder)
    vectors.cache(); vectors.count()
    val summaries = graft.query.HybridExecutor.summaries(t.games, t.players)
    summaries.cache(); summaries.count()
    val tables = graft.query.HybridExecutor.Tables(t.games, t.players,
      Some(vectors), summariesPrebuilt = Some(summaries))

    // ServeApp.start returns a RUNNING server — starting it again threw
    // IllegalStateException and killed every pre-r15 run of this tool.
    val server = graft.app.ServeApp.start(spark, tables, embedder,
      port = 0, serverThreads = math.max(threads, 8),
      resultCache = cacheEntries)
    val port = server.getAddress.getPort

    val payloads = Seq(
      "find top 5 games where white is rated at least 2500",
      "show black wins",
      "english opening games",
      "kingside attack in the endgame",
      "best games after 1990",
      "games where black is rated at least 2400",
      "queens gambit declined",
      "tactical middlegame sacrifices",
      "show draws",
      "najdorf sicilian games")
      .map(q => s"""{"question":"${q}","limit":5}""")

    def post(client: HttpClient, body: String): Int = {
      val req = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/query"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
      client.send(req, HttpResponse.BodyHandlers.ofString()).statusCode()
    }

    // warmup: every distinct plan once (JIT + shuffle/broadcast reuse),
    // serially, before the measured window opens
    val warmClient = HttpClient.newHttpClient()
    payloads.foreach(p => require(post(warmClient, p) == 200, "warmup"))

    val latencies = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val errors = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val pool = (0 until threads).map { tid =>
      val th = new Thread(() => {
        val client = HttpClient.newHttpClient()
        var i = 0
        while (i < perThread) {
          val body = payloads((tid + i) % payloads.length)
          val s0 = System.nanoTime()
          val code = try post(client, body) catch { case _: Throwable => -1 }
          if (code == 200) latencies.add(System.nanoTime() - s0)
          else errors.incrementAndGet()
          i += 1
        }
      })
      th.start(); th
    }
    pool.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    graft.app.ServeApp.stop(server)

    val ls = {
      import scala.jdk.CollectionConverters._
      latencies.iterator().asScala.toArray.sorted
    }
    def pct(p: Double): Double =
      if (ls.isEmpty) -1 else ls(math.min(ls.length - 1,
        (p * ls.length).toInt)) / 1e6
    val done = ls.length
    println(f"""{"n_games":$nGames,"threads":$threads,""" +
      f""""result_cache":$cacheEntries,""" +
      f""""requests":${threads * perThread},"completed":$done,""" +
      f""""errors":${errors.get()},"wall_sec":$wall%.2f,""" +
      f""""req_per_sec":${done / wall}%.1f,""" +
      f""""p50_ms":${pct(0.50)}%.1f,"p95_ms":${pct(0.95)}%.1f,""" +
      f""""p99_ms":${pct(0.99)}%.1f}""")
    spark.stop()
  }
}
