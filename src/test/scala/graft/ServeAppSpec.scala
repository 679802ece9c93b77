package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.fasterxml.jackson.databind.ObjectMapper

import graft.app.ServeApp
import graft.embed.DeterministicEmbedder
import graft.query.HybridExecutor

/** P1 HTTP surface: validation parity with chessmate_api.ml and one real
  * end-to-end round trip (server on an ephemeral localhost port, JDK
  * HttpClient, fixture corpus).
  */
class ServeAppSpec extends SparkSpec {

  private val om = new ObjectMapper()

  test("GET param validation mirrors the reference error strings") {
    assert(ServeApp.parseGet(null) === Left("question parameter missing"))
    assert(ServeApp.parseGet("limit=5") === Left("question parameter missing"))
    assert(ServeApp.parseGet("q=%20%20") === Left("question must not be empty"))
    assert(ServeApp.parseGet("q=hi&limit=0") === Left("limit must be >= 1"))
    assert(ServeApp.parseGet("q=hi&limit=501") === Left("limit must be <= 500"))
    assert(ServeApp.parseGet("q=hi&limit=abc") ===
      Left("limit must be an integer"))
    assert(ServeApp.parseGet("q=hi&limit=") === Left("limit must not be empty"))
    assert(ServeApp.parseGet("q=hi&offset=-1") === Left("offset must be >= 0"))
    assert(ServeApp.parseGet("q=hi&offset=x") ===
      Left("offset must be an integer"))
    assert(ServeApp.parseGet("q=black%20wins&limit=5&offset=10") ===
      Right(ServeApp.Parsed("black wins", Some(5), Some(10))))
    // repeated params: first wins (reference Uri.get_query_param)
    assert(ServeApp.parseGet("q=a&q=b") ===
      Right(ServeApp.Parsed("a", None, None)))
  }

  test("POST body validation mirrors the reference error strings") {
    assert(ServeApp.parsePost("not json") === Left("invalid JSON payload"))
    assert(ServeApp.parsePost("[1,2]") === Left("invalid JSON payload"))
    assert(ServeApp.parsePost("{}") === Left("question parameter missing"))
    assert(ServeApp.parsePost("""{"question": null}""") ===
      Left("question parameter missing"))
    assert(ServeApp.parsePost("""{"question": 7}""") ===
      Left("question must be a string"))
    assert(ServeApp.parsePost("""{"question": "  "}""") ===
      Left("question must not be empty"))
    assert(ServeApp.parsePost("""{"question": "q", "limit": 0}""") ===
      Left("limit must be >= 1"))
    assert(ServeApp.parsePost("""{"question": "q", "limit": 1.5}""") ===
      Left("limit must be an integer"))
    // int-looking strings accepted, like parse_limit_json's `String case
    assert(ServeApp.parsePost("""{"question": "q", "limit": "25"}""") ===
      Right(ServeApp.Parsed("q", Some(25), None)))
    assert(ServeApp.parsePost("""{"question": "q", "offset": -2}""") ===
      Left("offset must be >= 0"))
    assert(ServeApp.parsePost(
      """{"question": "black wins", "limit": 5, "offset": 1}""") ===
      Right(ServeApp.Parsed("black wins", Some(5), Some(1))))
  }

  test("end-to-end: /query GET+POST, /health, /metrics on a live server") {
    val (t, v) = graft.gate.ChessQueries.data(spark)
    val summaries = HybridExecutor.summaries(t.games, t.players)
    val tables = HybridExecutor.Tables(t.games, t.players, Some(v),
      summariesPrebuilt = Some(summaries))
    val embedder = DeterministicEmbedder(graft.gate.ChessQueries.embedDims)
    val server = ServeApp.start(spark, tables, embedder, port = 0)
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val client = HttpClient.newHttpClient()
      def get(path: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(base + path)).build(),
          HttpResponse.BodyHandlers.ofString())
      def post(path: String, body: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(base + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())

      // GET with results: reference payload fields all present
      val ok = get("/query?q=show+black+wins&limit=3")
      assert(ok.statusCode() === 200)
      val j = om.readTree(ok.body())
      assert(j.get("question").asText() === "show black wins")
      assert(j.get("limit").asInt() === 3)
      assert(j.get("offset").asInt() === 0)
      assert(j.get("total").asLong() >= 1)
      assert(j.get("results").size() >= 1)
      assert(j.get("results").get(0).has("game_id"))
      assert(j.get("results").get(0).has("total_score"))
      assert(j.get("plan").get("cleaned_text").isTextual)
      assert(j.get("agent_status").asText() === "disabled")
      assert(j.get("summary").asText().nonEmpty)

      // POST parity: same question gives the same first result
      val pok = post("/query",
        """{"question": "show black wins", "limit": 3}""")
      assert(pok.statusCode() === 200)
      val pj = om.readTree(pok.body())
      assert(pj.get("results").get(0).get("game_id").asText() ===
        j.get("results").get(0).get("game_id").asText())

      // validation errors surface as 400 {"error": ...}
      val bad = get("/query?q=hi&limit=501")
      assert(bad.statusCode() === 400)
      assert(om.readTree(bad.body()).get("error").asText() ===
        "limit must be <= 500")
      val badPost = post("/query", "{}")
      assert(badPost.statusCode() === 400)
      assert(om.readTree(badPost.body()).get("error").asText() ===
        "question parameter missing")

      // oversized body -> 413 (body-limit middleware parity)
      val big = post("/query",
        s"""{"question": "${"x" * (ServeApp.maxBodyBytes + 10)}"}""")
      assert(big.statusCode() === 413)

      // openapi route parity (chessmate_api.ml:825)
      val oa = get("/openapi.yaml")
      assert(oa.statusCode() === 200)
      assert(oa.headers().firstValue("Content-Type").orElse("")
        .startsWith("application/yaml"))
      assert(oa.body().startsWith("openapi: 3.1.0"))
      assert(oa.body().contains("/query"))

      // health + metrics; /health carries per-dependency checks with
      // latency (reference health.ml response shape)
      val h = get("/health")
      assert(h.statusCode() === 200)
      val hj = om.readTree(h.body())
      assert(hj.get("status").asText() === "ok")
      assert(hj.get("games").asLong() >= 1)
      assert(hj.get("latency_ms").asDouble() >= 0.0)
      val checks = hj.get("checks")
      assert(checks.isArray && checks.size() === 2)
      val names = (0 until checks.size()).map(checks.get(_).get("name").asText())
      assert(names === Seq("tables", "vectors"))
      (0 until checks.size()).foreach { i =>
        val c = checks.get(i)
        assert(c.get("status").asText() === "ok")
        assert(c.get("latency_ms").asDouble() >= 0.0)
        assert(c.has("required") && c.has("detail"))
      }
      assert(checks.get(0).get("detail").asText().startsWith("games="))
      val m = get("/metrics")
      assert(m.statusCode() === 200)
      // per-phase serving latency, observed by the /query calls above
      val mj = om.readTree(m.body())
      Seq("page", "vectors", "score", "format").foreach { phase =>
        val series =
          s"""chessmate_api_query_phase_seconds_count{phase="$phase"}"""
        assert(mj.has(series), s"/metrics lacks $series")
        assert(mj.get(series).asDouble() >= 1.0)
      }
    } finally server.stop(0)
  }

  test("keep-alive responses leave at once: no Nagle / delayed-ACK stall") {
    // The JDK server writes headers and body as two segments. With Nagle
    // on, the body waits for the client's delayed ACK of the headers:
    // ~40 ms per request once TCP quick-ack mode ends. /metrics runs no
    // Spark job, so the median request is well under a millisecond
    // without the stall.
    val (t, v) = graft.gate.ChessQueries.data(spark)
    val tables = HybridExecutor.Tables(t.games, t.players, Some(v))
    val embedder = DeterministicEmbedder(graft.gate.ChessQueries.embedDims)
    val server = ServeApp.start(spark, tables, embedder, port = 0)
    try {
      val client = HttpClient.newBuilder()
        .version(HttpClient.Version.HTTP_1_1).build()
      val req = HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:${server.getAddress.getPort}/metrics")).build()
      val ms = (1 to 30).map { _ =>
        val t0 = System.nanoTime()
        val r = client.send(req, HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() === 200)
        (System.nanoTime() - t0) / 1e6
      }
      val median = ms.sorted.apply(ms.length / 2)
      assert(median < 20.0,
        f"median $median%.1f ms; all: ${ms.map(x => f"$x%.1f").mkString(" ")}")
    } finally ServeApp.stop(server)
  }

  test("concurrent load: parallel clients get consistent 200s") {
    val (t, v) = graft.gate.ChessQueries.data(spark)
    val summaries = HybridExecutor.summaries(t.games, t.players)
    val tables = HybridExecutor.Tables(t.games, t.players, Some(v),
      summariesPrebuilt = Some(summaries))
    val embedder = DeterministicEmbedder(graft.gate.ChessQueries.embedDims)
    val server = ServeApp.start(spark, tables, embedder, port = 0)
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val qs = Seq("show+black+wins", "best+games", "show+draws",
        "games+with+smyslov")
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      // 8 threads x 4 questions; every response 200 and, per question,
      // byte-identical across threads (Spark session thread-safety +
      // deterministic ranking under concurrency)
      val futs = (1 to 8).map { _ =>
        Future {
          val client = HttpClient.newHttpClient()
          qs.map { q =>
            val r = client.send(
              HttpRequest.newBuilder(
                URI.create(s"$base/query?q=$q&limit=3")).build(),
              HttpResponse.BodyHandlers.ofString())
            (q, r.statusCode(), r.body())
          }
        }
      }
      val all = futs.flatMap(f => Await.result(f, 120.seconds))
      assert(all.forall(_._2 == 200))
      qs.foreach { q =>
        val bodies = all.filter(_._1 == q).map(_._3).distinct
        assert(bodies.size === 1, s"divergent responses for $q")
      }
    } finally server.stop(0)
  }

  test("P3 live: limited requests get 429 + Retry-After, reference body") {
    val (t, v) = graft.gate.ChessQueries.data(spark)
    val summaries = HybridExecutor.summaries(t.games, t.players)
    val tables = HybridExecutor.Tables(t.games, t.players, Some(v),
      summariesPrebuilt = Some(summaries))
    val embedder = DeterministicEmbedder(graft.gate.ChessQueries.embedDims)
    // 1-token bucket, slow refill: the second request in the burst is
    // limited deterministically
    val limiter = new graft.query.RateLimiter(
      tokensPerMinute = 1, bucketSize = 1)
    val server = ServeApp.start(spark, tables, embedder, port = 0,
      limiter = Some(limiter))
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val client = HttpClient.newHttpClient()
      def get(path: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(base + path)).build(),
          HttpResponse.BodyHandlers.ofString())
      assert(get("/query?q=show+black+wins&limit=1").statusCode() === 200)
      val lim = get("/query?q=show+black+wins&limit=1")
      assert(lim.statusCode() === 429)
      val retry = lim.headers().firstValue("Retry-After")
      assert(retry.isPresent && retry.get().toLong >= 1)
      assert(lim.body() ===
        s"Rate limit exceeded. Retry after ${retry.get()} seconds.")
      // rate limiting is APP-WIDE like the reference middleware
      // (chessmate_api.ml:809-821): /health throttles too
      assert(get("/health").statusCode() === 429)
      // limiter counters recorded in the reference metric format
      assert(limiter.metrics.exists(l =>
        l.startsWith("api_rate_limited_total ") && l.endsWith(" 2")))
    } finally server.stop(0)
  }

  test("agent tier live: --agent serving reranks with agent_status " +
    "'enabled' and per-result agent fields; default stays 'disabled'") {
    val (t, v) = graft.gate.ChessQueries.data(spark)
    val summaries = HybridExecutor.summaries(t.games, t.players)
    val tables = HybridExecutor.Tables(t.games, t.players, Some(v),
      summariesPrebuilt = Some(summaries))
    val embedder = DeterministicEmbedder(graft.gate.ChessQueries.embedDims)
    val reranker = graft.query.EvalCache.cached(
      new graft.query.AgentEvaluator.AgentReranker(t.games),
      new graft.query.EvalCache.LruBackend())
    val server = ServeApp.start(spark, tables, embedder, port = 0,
      reranker = Some(reranker))
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val client = HttpClient.newHttpClient()
      val r = client.send(
        HttpRequest.newBuilder(
          URI.create(s"$base/query?q=best+games&limit=3")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() === 200)
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val j = om.readTree(r.body())
      assert(j.get("agent_status").asText() === "enabled")
      // the tier must have RUN, not degraded: the fallback path also
      // reports enabled + null agent columns, but it adds a warning —
      // this is the assertion that caught the missing-pgn-column bug
      assert(j.get("warnings") == null,
        s"agent tier degraded: ${j.get("warnings")}")
      val res = j.get("results")
      assert(res.size() >= 1)
      // candidates carry the deterministic evaluator's score +
      // explanation; blend keeps total_score in [0,1]
      val first = res.get(0)
      assert(first.has("agent_score") && first.has("explanation"))
      assert(!first.get("agent_score").isNull,
        "agent_score null: evaluator never scored the candidates")
      assert(first.get("agent_score").asDouble() >= 0.0 &&
        first.get("agent_score").asDouble() <= 1.0)
      assert(first.get("explanation").asText().nonEmpty)
      assert(first.get("total_score").asDouble() <= 1.0)
      // the same question WITHOUT the tier: disabled, no agent fields
      val server2 = ServeApp.start(spark, tables, embedder, port = 0)
      try {
        val r2 = client.send(
          HttpRequest.newBuilder(URI.create(
            s"http://127.0.0.1:${server2.getAddress.getPort}" +
              "/query?q=best+games&limit=3")).build(),
          HttpResponse.BodyHandlers.ofString())
        val j2 = om.readTree(r2.body())
        assert(j2.get("agent_status").asText() === "disabled")
        assert(!j2.get("results").get(0).has("agent_score"))
      } finally server2.stop(0)
    } finally server.stop(0)
  }

  test("lifecycle: start -> query -> stop shuts the request executor " +
    "down and its threads are daemon (a caller's JVM can exit)") {
    val (t, v) = graft.gate.ChessQueries.data(spark)
    val summaries = HybridExecutor.summaries(t.games, t.players)
    val tables = HybridExecutor.Tables(t.games, t.players, Some(v),
      summariesPrebuilt = Some(summaries))
    val embedder = DeterministicEmbedder(graft.gate.ChessQueries.embedDims)
    val server = ServeApp.start(spark, tables, embedder, port = 0)
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    val client = HttpClient.newHttpClient()
    val r = client.send(
      HttpRequest.newBuilder(
        URI.create(s"$base/query?q=show+black+wins&limit=1")).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() === 200)
    // the pool threads must be daemon: pre-r15 they were not, so any
    // programmatic caller (ServeLoad) hung forever after server.stop(0)
    val threads = {
      val arr = new Array[Thread](Thread.activeCount() * 2 + 8)
      Thread.enumerate(arr)
      arr.filter(th => th != null && th.getName.startsWith("graft-serve-"))
    }
    assert(threads.nonEmpty, "no graft-serve-* pool threads found")
    assert(threads.forall(_.isDaemon), "serve pool threads must be daemon")
    val exec = server.getExecutor
      .asInstanceOf[java.util.concurrent.ExecutorService]
    ServeApp.stop(server)
    assert(exec.isShutdown, "ServeApp.stop must shut the executor down")
    assert(exec.awaitTermination(30,
      java.util.concurrent.TimeUnit.SECONDS),
      "executor did not terminate after stop")
  }

  test("result cache: a hit runs zero Spark jobs and is byte-identical " +
    "to the uncached recompute") {
    val (t, v) = graft.gate.ChessQueries.data(spark)
    val summaries = HybridExecutor.summaries(t.games, t.players)
    val tables = HybridExecutor.Tables(t.games, t.players, Some(v),
      summariesPrebuilt = Some(summaries))
    val embedder = DeterministicEmbedder(graft.gate.ChessQueries.embedDims)
    val cached = ServeApp.start(spark, tables, embedder, port = 0,
      resultCache = 8)
    val plain = ServeApp.start(spark, tables, embedder, port = 0)
    try {
      val client = HttpClient.newHttpClient()
      def get(server: com.sun.net.httpserver.HttpServer,
          path: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${server.getAddress.getPort}" + path)).build(),
          HttpResponse.BodyHandlers.ofString())
      val q = "/query?q=show+black+wins&limit=3"
      val first = get(cached, q)
      assert(first.statusCode() === 200)
      // second identical request: byte-identical AND no new Spark job
      val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null)
        .length
      val second = get(cached, q)
      val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null)
        .length
      assert(second.statusCode() === 200)
      assert(second.body() === first.body(), "cache hit diverged")
      assert(jobsAfter === jobsBefore,
        s"cache hit ran Spark jobs ($jobsBefore -> $jobsAfter)")
      // hit ≡ recompute: an uncached server answers the same bytes
      val recompute = get(plain, q)
      assert(recompute.body() === first.body(),
        "cached body diverges from uncached recompute")
      // distinct limit = distinct key: not served from the limit=3 entry
      val other = get(cached, "/query?q=show+black+wins&limit=1")
      assert(other.statusCode() === 200)
      assert(om.readTree(other.body()).get("limit").asInt() === 1)
    } finally { ServeApp.stop(cached); ServeApp.stop(plain) }
  }

  test("middleware order: oversize body 413s WITHOUT debiting the rate " +
    "budget (body-limit before rate-limit, reference order)") {
    val (t, v) = graft.gate.ChessQueries.data(spark)
    val summaries = HybridExecutor.summaries(t.games, t.players)
    val tables = HybridExecutor.Tables(t.games, t.players, Some(v),
      summariesPrebuilt = Some(summaries))
    val embedder = DeterministicEmbedder(graft.gate.ChessQueries.embedDims)
    val limiter = new graft.query.RateLimiter(
      tokensPerMinute = 1, bucketSize = 1)
    val server = ServeApp.start(spark, tables, embedder, port = 0,
      limiter = Some(limiter))
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val client = HttpClient.newHttpClient()
      // oversize request first: 413 (not 429), and the bucket's single
      // token must survive it — debiting before the cap check burned
      // quota on rejected requests
      val big = client.send(
        HttpRequest.newBuilder(URI.create(s"$base/query"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"question": "${"x" * (ServeApp.maxBodyBytes + 10)}"}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(big.statusCode() === 413)
      // the untouched token admits the next valid request...
      val ok = client.send(
        HttpRequest.newBuilder(
          URI.create(s"$base/query?q=show+black+wins&limit=1")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(ok.statusCode() === 200)
      // ...and only then is the bucket empty
      val lim = client.send(
        HttpRequest.newBuilder(
          URI.create(s"$base/query?q=show+black+wins&limit=1")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(lim.statusCode() === 429)
    } finally server.stop(0)
  }
}
