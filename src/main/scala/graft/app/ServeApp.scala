package graft.app

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.embed.DeterministicEmbedder
import graft.core.{GraftSession, Sanitizer}
import graft.query.{EngineMetrics, HybridExecutor, QueryIntent, RateLimiter,
  ResultFormatter}

/** P1 live HTTP surface (reference services/api/chessmate_api.ml:586-724,
  * routes :809-827): the same `/query` contract as the reference API --
  * GET with `q`/`limit`/`offset` params, POST with a JSON
  * `{question, limit, offset}` body -- over [[HybridExecutor]], plus
  * `GET /health` (P5) and `GET /metrics` (P6). Served by the JDK's
  * built-in `com.sun.net.httpserver` on localhost: the engine stays a
  * zero-extra-dependency library; this main is the thin envelope.
  *
  * Validation mirrors chessmate_api.ml exactly: question required and
  * non-empty after trim; limit an integer in 1..[[QueryIntent.maxLimit]];
  * offset a non-negative integer; a POST body over the 64 KiB cap is
  * rejected 413 (the reference's body-limit middleware, :307-363).
  * Error bodies are `{"error": "..."}` with the sanitizer applied, and
  * the success payload carries the reference's field set: question,
  * plan, summary, results, offset, limit, total, has_more, agent_status
  * (+ warnings when non-empty).
  *
  * P3: `--rate-limit=RPM[:BURST]` enables the per-client token-bucket
  * admission control ([[graft.query.RateLimiter]], mirroring
  * lib/api/rate_limiter.ml); `--rate-limit-body=BPM[:BURST]` adds the
  * optional per-client body-byte budget. Limited requests get the
  * reference middleware's exact response: 429, `Retry-After:
  * max(1, ceil(retry_after))`, text/plain body.
  *
  *   runMain graft.app.ServeApp <tablesDir> [--port=8080]
  *     [--rate-limit=RPM[:BURST]] [--rate-limit-body=BPM[:BURST]]
  */
object ServeApp {

  // TCP_NODELAY on every accepted connection. The JDK server writes the
  // response headers and the body as separate segments; with Nagle on,
  // the body waits for the client's delayed ACK of the headers (40 ms on
  // Linux once quick-ack mode ends). The server reads the property once,
  // when the first HttpServer is created, so it is set here, before
  // [[start]]; a value given on the command line wins.
  System.getProperties.putIfAbsent("sun.net.httpserver.nodelay", "true")

  private val log = org.slf4j.LoggerFactory.getLogger("graft.app.ServeApp")

  val maxBodyBytes = 65536

  private val mapper = new ObjectMapper()

  /** limit per validate_limit (chessmate_api.ml:27-31). */
  def validateLimit(raw: String): Either[String, Int] =
    parseIntField("limit", raw).flatMap { v =>
      if (v < 1) Left("limit must be >= 1")
      else if (v > QueryIntent.maxLimit)
        Left(s"limit must be <= ${QueryIntent.maxLimit}")
      else Right(v)
    }

  /** offset per validate_offset (chessmate_api.ml:33-35). */
  def validateOffset(raw: String): Either[String, Int] =
    parseIntField("offset", raw).flatMap { v =>
      if (v < 0) Left("offset must be >= 0") else Right(v)
    }

  private def parseIntField(field: String, raw: String): Either[String, Int] = {
    val s = raw.trim
    if (s.isEmpty) Left(s"$field must not be empty")
    else
      try Right(s.toInt)
      catch { case _: NumberFormatException => Left(s"$field must be an integer") }
  }

  /** URL query string -> first-value map (no decoding surprises: the
    * reference reads repeated params first-wins too).
    */
  def queryParams(rawQuery: String): Map[String, String] =
    Option(rawQuery).getOrElse("").split("&").iterator
      .filter(_.nonEmpty)
      .map { kv =>
        val i = kv.indexOf('=')
        val (k, v) = if (i < 0) (kv, "") else (kv.take(i), kv.drop(i + 1))
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }
      .foldLeft(Map.empty[String, String]) { (m, kv) =>
        if (m.contains(kv._1)) m else m + kv
      }

  final case class Parsed(question: String, limit: Option[Int],
      offset: Option[Int])

  /** GET param extraction (chessmate_api.ml:95-116 `extract_query`). */
  def parseGet(rawQuery: String): Either[String, Parsed] = {
    val p = queryParams(rawQuery)
    for {
      q <- p.get("q").toRight("question parameter missing")
      qq <- { val t = q.trim
        if (t.isEmpty) Left("question must not be empty") else Right(t) }
      lim <- p.get("limit") match {
        case None => Right(None)
        case Some(raw) => validateLimit(raw).map(Some(_))
      }
      off <- p.get("offset") match {
        case None => Right(None)
        case Some(raw) => validateOffset(raw).map(Some(_))
      }
    } yield Parsed(qq, lim, off)
  }

  /** POST body extraction (chessmate_api.ml:59-93 + :697-724): limit /
    * offset accept either a JSON int or an int-looking string.
    */
  def parsePost(body: String): Either[String, Parsed] = {
    val json: JsonNode =
      try mapper.readTree(body)
      catch { case _: Throwable => return Left("invalid JSON payload") }
    if (json == null || !json.isObject) return Left("invalid JSON payload")
    def intField(name: String,
        check: String => Either[String, Int]): Either[String, Option[Int]] =
      json.get(name) match {
        case null => Right(None)
        case n if n.isNull => Right(None)
        case n if n.isIntegralNumber => check(n.asText()).map(Some(_))
        case n if n.isTextual => check(n.asText()).map(Some(_))
        case _ => Left(s"$name must be an integer")
      }
    for {
      qn <- json.get("question") match {
        case null => Left("question parameter missing")
        case n if n.isNull => Left("question parameter missing")
        case n if n.isTextual => Right(n.asText())
        case _ => Left("question must be a string")
      }
      q <- { val t = qn.trim
        if (t.isEmpty) Left("question must not be empty") else Right(t) }
      lim <- intField("limit", validateLimit)
      off <- intField("offset", validateOffset)
    } yield Parsed(q, lim, off)
  }

  private def planJson(plan: QueryIntent.Plan): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("cleaned_text", plan.cleanedText)
    o.put("limit", plan.limit)
    o.put("offset", plan.offset)
    val fs = o.putArray("filters")
    plan.filters.foreach { case QueryIntent.MetadataFilter(k, v) =>
      val f = mapper.createObjectNode(); f.put("field", k); f.put("value", v)
      fs.add(f); ()
    }
    val r = o.putObject("rating")
    plan.rating.whiteMin.foreach(v => r.put("white_min", v))
    plan.rating.blackMin.foreach(v => r.put("black_min", v))
    plan.rating.maxRatingDelta.foreach(v => r.put("max_rating_delta", v))
    val ks = o.putArray("keywords")
    plan.keywords.foreach { k => ks.add(k); () }
    o
  }

  /** Execute one validated request -> the reference's response payload.
    * With a reranker, the A1-A3 agent tier runs over the page and
    * `agent_status` reports the reference's states: "enabled" on a
    * successful evaluation, "circuit_open" when the breaker rejected it
    * (the degraded path keeps the heuristic ranking + a warning, like
    * hybrid_executor.ml's evaluate_agent error paths), "disabled"
    * without a reranker.
    */
  def queryResponse(spark: SparkSession, tables: HybridExecutor.Tables,
      embedder: DeterministicEmbedder, parsed: Parsed,
      reranker: Option[graft.query.Reranker] = None): ObjectNode = {
    val plan = QueryIntent.analyse(
      QueryIntent.Request(parsed.question, parsed.limit, parsed.offset))
    val exec = HybridExecutor.execute(spark, tables, plan, embedder)
    val (rows, agentWarnings) = reranker match {
      case Some(r) =>
        val (reranked, warnings) =
          graft.query.Reranker.applyOrFallback(exec.results, plan, r)
        (reranked.collect().toSeq, warnings)
      case None => (exec.resultRows, Seq.empty[String])
    }
    val agentStatus = reranker match {
      case None => "disabled"
      case Some(_) if agentWarnings.exists(_.toLowerCase.contains("circuit")) =>
        "circuit_open"
      case Some(_) => "enabled"
    }
    EngineMetrics.timePhase("format") {
      val o = mapper.createObjectNode()
      o.put("question", parsed.question)
      o.set[ObjectNode]("plan", planJson(plan))
      o.put("summary",
        if (rows.isEmpty) "No games matched the requested filters."
        else ResultFormatter.summarize(rows))
      val rs: ArrayNode = o.putArray("results")
      rows.foreach { row =>
        val m = ResultFormatter.resultFields(row)
        val n = mapper.createObjectNode()
        m.foreach {
          case (k, v: String) => n.put(k, v)
          case (k, v: Double) => n.put(k, v)
          case (k, Some(v: String)) => n.put(k, v)
          case (k, Some(v: Int)) => n.put(k, v)
          case (k, None) => n.putNull(k)
          case (k, v) => n.put(k, String.valueOf(v))
        }
        // agent-tier columns ride the response only when the tier ran
        if (reranker.isDefined &&
            row.schema.fieldNames.contains("agent_score")) {
          Option(row.getAs[java.lang.Double]("agent_score")) match {
            case Some(s) => n.put("agent_score", s.doubleValue())
            case None => n.putNull("agent_score")
          }
          Option(row.getAs[String]("explanation")) match {
            case Some(e) => n.put("explanation", e)
            case None => n.putNull("explanation")
          }
          ()
        }
        rs.add(n); ()
      }
      o.put("offset", plan.offset)
      o.put("limit", plan.limit)
      o.put("total", exec.total)
      o.put("has_more", exec.hasMore)
      o.put("agent_status", agentStatus)
      val allWarnings = exec.warnings ++ agentWarnings
      if (allWarnings.nonEmpty) {
        val ws = o.putArray("warnings")
        allWarnings.foreach { w => ws.add(w); () }
      }
      o
    }
  }

  /** Bounded LRU response cache keyed on the full request identity
    * (question verbatim + limit + offset — the plan is a deterministic
    * function of exactly those three, and the response embeds the raw
    * question, so two questions that normalize to the same plan still
    * need distinct entries). The value is the SERIALIZED response body,
    * so a hit is byte-identical to the recompute it replaced — the
    * serving analog of the A4 eval cache. Scoped per [[start]] call:
    * the serving tables are fixed for the server's lifetime, so there
    * is no invalidation protocol beyond "new tables = new server".
    */
  final class ResultCache(maxEntries: Int) {
    private val map = new java.util.LinkedHashMap[
        (String, Option[Int], Option[Int]), String](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Option[Int], Option[Int]), String])
          : Boolean = size() > maxEntries
    }
    private val hitsC = new java.util.concurrent.atomic.AtomicLong()
    private val missesC = new java.util.concurrent.atomic.AtomicLong()
    def get(key: (String, Option[Int], Option[Int])): Option[String] =
      map.synchronized {
        val v = Option(map.get(key))
        if (v.isDefined) hitsC.incrementAndGet() else missesC.incrementAndGet()
        v
      }
    def put(key: (String, Option[Int], Option[Int]), body: String): Unit =
      map.synchronized { map.put(key, body); () }
    def hits: Long = hitsC.get()
    def misses: Long = missesC.get()
  }

  /** Stop a server returned by [[start]] AND shut down its request
    * executor. `HttpServer.stop` alone leaves the pool's threads alive;
    * before round 15 they were non-daemon, so any programmatic caller's
    * JVM hung forever after "stopping" the server (the bug that kept
    * ServeLoad from ever completing a run). The threads are daemon now,
    * but an explicit shutdown is still the clean exit.
    */
  def stop(server: HttpServer, delaySec: Int = 0): Unit = {
    val exec = server.getExecutor
    server.stop(delaySec)
    exec match {
      case es: java.util.concurrent.ExecutorService => es.shutdown()
      case _ => ()
    }
  }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def errorJson(msg: String): String = {
    val o = mapper.createObjectNode()
    o.put("error", Sanitizer.sanitize(msg))
    o.toString
  }

  /** Start the server (port 0 = ephemeral; read it back via
    * `server.getAddress.getPort`). Handlers run on a small pool --
    * Spark actions are thread-safe per session.
    */
  def start(spark: SparkSession, tables: HybridExecutor.Tables,
      embedder: DeterministicEmbedder, port: Int,
      limiter: Option[RateLimiter] = None,
      reranker: Option[graft.query.Reranker] = None,
      serverThreads: Int = 4, resultCache: Int = 0): HttpServer = {
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", port), 0)
    // Daemon threads: the JVM must be able to exit once the caller is
    // done even if it forgets [[stop]] — a non-daemon pool here kept
    // ServeLoad's JVM alive forever after server.stop(0) (r14 verdict).
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(
      serverThreads,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger()
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-serve-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      }))
    val cache: Option[ResultCache] =
      if (resultCache > 0) Some(new ResultCache(resultCache)) else None

    // P3 admission control, applied APP-WIDE exactly like the reference
    // (chessmate_api.ml:809-821 adds the middleware to the base app, so
    // /health and /metrics are rate-limited too). Returns the Limited
    // decision after writing the reference middleware's verbatim
    // response (429, Retry-After = max(1, ceil(retry_after)),
    // text/plain body); None = admitted.
    def admit(ex: HttpExchange,
        bodyLen: Option[Long]): Option[RateLimiter.Limited] = {
      val limited = limiter.flatMap { l =>
        val addr = ex.getRemoteAddress.getAddress.getHostAddress
        l.check(addr, bodyLen) match {
          case lim: RateLimiter.Limited => Some(lim)
          case _ => None
        }
      }
      limited.foreach { lim =>
        val retry = math.max(1L, math.ceil(math.max(0.0,
          lim.retryAfter)).toLong)
        val body = s"Rate limit exceeded. Retry after $retry seconds."
        val bytes = body.getBytes("UTF-8")
        ex.getResponseHeaders.set("Content-Type",
          "text/plain; charset=utf-8")
        ex.getResponseHeaders.set("Retry-After", retry.toString)
        ex.sendResponseHeaders(429, bytes.length.toLong)
        val os = ex.getResponseBody
        try os.write(bytes) finally os.close()
      }
      limited
    }

    server.createContext("/health", (ex: HttpExchange) => {
      if (admit(ex, None).isDefined) ()
      else
      try {
        val t0 = System.nanoTime()
        val games = tables.games.count()
        val latencyMs = (System.nanoTime() - t0) / 1e6
        // per-dependency checks with per-check latency, the reference's
        // health.ml response shape: {status, checks: [{name, status,
        // required, latency_ms, detail}]}. These probe the LIVE serving
        // frames (already-loaded tables), not a directory re-read.
        val checks = Seq(
          graft.core.Health.runProbe("tables", required = true) {
            graft.core.Health.Ok(Some(
              s"games=$games players=${tables.players.count()}"))
          },
          graft.core.Health.runProbe("vectors", required = false) {
            tables.vectors match {
              case Some(v) => graft.core.Health.Ok(Some(s"vectors=${v.count()}"))
              case None => graft.core.Health.Skip(
                "no vectors table (hybrid falls back to metadata ranking)")
            }
          })
        val summary = graft.core.Health.summarize(checks)
        val o = mapper.createObjectNode()
        o.put("status", summary.status)
        o.put("games", games)
        o.put("latency_ms", latencyMs)
        val arr = o.putArray("checks")
        summary.checks.foreach { c =>
          val n = mapper.createObjectNode()
          n.put("name", c.name)
          n.put("status", c.status)
          n.put("required", c.required)
          n.put("latency_ms", c.latencyMs)
          c.detail match {
            case Some(d) => n.put("detail", d)
            case None => n.putNull("detail")
          }
          arr.add(n); ()
        }
        // health.ml http_status_of: Ok -> 200, Degraded | Error -> 503
        // (a degraded instance must stop receiving load-balancer traffic).
        respond(ex, if (summary.status == "ok") 200 else 503, o.toString)
      } catch {
        case e: Throwable =>
          // An exception while probing IS an outage: 503, per http_status_of.
          respond(ex, 503, errorJson(e.getMessage))
      }
    })

    server.createContext("/metrics", (ex: HttpExchange) => {
      if (admit(ex, None).isDefined) ()
      else {
        val o = mapper.createObjectNode()
        graft.core.Metrics.default.snapshot.foreach { case (k, v) =>
          o.put(k, v); ()
        }
        // P3 limiter counters ride the same snapshot; the reference
        // appends Rate_limiter.metrics lines to its /metrics body too
        // (chessmate_api.ml:571). Lines are "name[{labels}] value".
        limiter.foreach(_.metrics.foreach { line =>
          val i = line.lastIndexOf(' ')
          if (i > 0) o.put(line.take(i), line.drop(i + 1).toDouble)
        })
        respond(ex, 200, o.toString)
      }
    })

    // route parity with chessmate_api.ml:825 (App.get "/openapi.yaml"):
    // the machine-readable contract, bundled as a classpath resource
    server.createContext("/openapi.yaml", (ex: HttpExchange) => {
      if (admit(ex, None).isDefined) ()
      else {
        val in = getClass.getResourceAsStream("/openapi.yaml")
        if (in == null) respond(ex, 500, errorJson("openapi spec missing"))
        else {
          val bytes = try in.readAllBytes() finally in.close()
          ex.getResponseHeaders.set("Content-Type", "application/yaml")
          ex.sendResponseHeaders(200, bytes.length.toLong)
          val os = ex.getResponseBody
          try os.write(bytes) finally os.close()
        }
      }
    })

    server.createContext("/query", (ex: HttpExchange) => {
      try {
        // POST body is read up-front so the P3 body budget can be
        // debited on the same check that admits the request (the
        // reference's body-limit middleware stores the parsed size for
        // the rate-limit middleware the same way, :270-300).
        val bodyBytes: Option[Array[Byte]] =
          if (ex.getRequestMethod == "POST")
            Some(ex.getRequestBody.readNBytes(maxBodyBytes + 1))
          else None
        // Body-limit middleware runs BEFORE the rate limiter, matching
        // the reference's middleware order (chessmate_api.ml wires
        // body_limit ahead of rate_limit): an oversize request gets its
        // 413 WITHOUT debiting the client's request-token or body-byte
        // budget — debiting first meant an oversize client burned quota
        // on rejected requests and read 429 where the reference says 413.
        if (bodyBytes.exists(_.length > maxBodyBytes))
          respond(ex, 413, errorJson("request body too large"))
        else admit(ex, bodyBytes.map(_.length.toLong)) match {
          case Some(_) => () // 429 already written by admit
          case None =>
            val parsed: Either[String, Parsed] = ex.getRequestMethod match {
              case "GET" => parseGet(ex.getRequestURI.getRawQuery)
              case "POST" => parsePost(new String(bodyBytes.get, "UTF-8"))
              case _ => Left("unsupported method")
            }
            parsed match {
              case Left(err) => respond(ex, 400, errorJson(err))
              case Right(p) =>
                val key = (p.question, p.limit, p.offset)
                cache.flatMap(_.get(key)) match {
                  case Some(body) => respond(ex, 200, body)
                  case None =>
                    // One scheduler pool per server thread: under
                    // spark.scheduler.mode=FAIR the pools get equal
                    // shares, so a slow query convoys only its own
                    // connection instead of FIFO-serializing every
                    // concurrent request behind it. A no-op under the
                    // default FIFO scheduler.
                    spark.sparkContext.setLocalProperty(
                      "spark.scheduler.pool",
                      s"serve-${Thread.currentThread().getId}")
                    val payload =
                      try Right(queryResponse(spark, tables, embedder, p,
                        reranker).toString)
                      catch {
                        case e: Throwable =>
                          log.error("/query failed", e)
                          Left(e.getMessage)
                      }
                    payload match {
                      case Right(body) =>
                        cache.foreach(_.put(key, body))
                        respond(ex, 200, body)
                      case Left(err) => respond(ex, 500, errorJson(err))
                    }
                }
            }
        }
      } catch {
        case e: Throwable =>
          log.error("/query failed", e)
          try respond(ex, 500, errorJson(e.getMessage))
          catch { case _: Throwable => () }
      }
    })

    server.start()
    server
  }

  /** Serving scheduler mode, `SPARK_SCHEDULER_MODE` (default FAIR): FAIR
    * across per-connection pools lets concurrent requests share the
    * cluster instead of convoying behind the first-submitted job; FIFO
    * can win closed-loop throughput because each job gets all cores.
    */
  def schedulerMode: (String, String) =
    "spark.scheduler.mode" -> sys.env.getOrElse("SPARK_SCHEDULER_MODE", "FAIR")

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ServeApp <tablesDir> [--port=8080] " +
      "[--rate-limit=RPM[:BURST]] [--rate-limit-body=BPM[:BURST]] " +
      "[--agent]")
    val dir = args(0)
    val port = args.collectFirst { case s if s.startsWith("--port=") =>
      s.stripPrefix("--port=").toInt }.getOrElse(8080)
    // P3: --rate-limit=120 (burst defaults to the per-minute rate, as
    // the reference does when bucket_size is absent, chessmate_api.ml:
    // 260-263); optional body budget --rate-limit-body=1048576:2097152
    // env fallback: GRAFT_RATE_LIMIT / GRAFT_RATE_LIMIT_BODY hold the
    // same RATE[:BURST] syntax (the knob ConfigApp prints); an explicit
    // flag wins over the env.
    def rateArg(flag: String): Option[(Long, Option[Long])] = {
      val env = "GRAFT_" + flag.stripPrefix("--").toUpperCase.replace('-', '_')
      args.collectFirst { case s if s.startsWith(flag + "=") =>
        s.stripPrefix(flag + "=") }
        .orElse(sys.env.get(env))
        .map(_.split(':') match {
          case Array(r) => (r.toLong, None)
          case Array(r, b) => (r.toLong, Some(b.toLong))
          case _ => throw new IllegalArgumentException(
            s"$flag (or $env) expects RATE or RATE:BURST")
        })
    }
    val limiter: Option[RateLimiter] = rateArg("--rate-limit").map {
      case (rpm, burst) =>
        val body = rateArg("--rate-limit-body")
        new RateLimiter(
          tokensPerMinute = rpm.toInt,
          bucketSize = burst.getOrElse(rpm).toInt,
          bodyBytesPerMinute = body.map(_._1),
          bodyBucketSize = body.flatMap(_._2))
    }
    val spark = GraftSession.app("graft-serve", schedulerMode)

    val games = spark.read.parquet(s"$dir/games").cache()
    val players = spark.read.parquet(s"$dir/players").cache()
    val vectors =
      try Some(spark.read.parquet(s"$dir/vectors").cache())
      catch { case _: Throwable => None }
    val embedder = DeterministicEmbedder(dims = vectors.map(v =>
      v.selectExpr("size(embedding)").head().getInt(0)).getOrElse(1536))
    // pre-materialize the serving view (the reference serves from a
    // warm, indexed game_summary -- same move here)
    val summaries = HybridExecutor.summaries(games, players)
    summaries.cache(); summaries.count()
    vectors.foreach(_.count()); games.count(); players.count()
    val tables = HybridExecutor.Tables(games, players, vectors,
      summariesPrebuilt = Some(summaries))

    // --agent: the A1-A3 rerank tier over every query, through the A4
    // cache (persistent when GRAFT_EVAL_CACHE_DIR is set)
    val reranker =
      if (args.contains("--agent"))
        Some(graft.query.EvalCache.cached(
          new graft.query.AgentEvaluator.AgentReranker(games),
          graft.query.EvalCache.backendFromEnv()))
      else None
    // --result-cache=N: bounded per-request LRU over serialized response
    // bodies (hit ≡ recompute byte-for-byte; tables are immutable for
    // the server's lifetime). 0 (default) disables.
    val cacheEntries = args.collectFirst {
      case s if s.startsWith("--result-cache=") =>
        s.stripPrefix("--result-cache=").toInt
    }.orElse(sys.env.get("GRAFT_RESULT_CACHE").map(_.toInt)).getOrElse(0)
    val server = start(spark, tables, embedder, port, limiter, reranker,
      resultCache = cacheEntries)
    reranker.foreach(_ => println("[serve] agent rerank tier enabled"))
    limiter.foreach(_ => println(
      "[serve] rate limiting enabled (429 + Retry-After on limit)"))
    println(s"[serve] listening on http://127.0.0.1:${server.getAddress.getPort}")
    println("[serve] GET /query?q=...&limit=5  |  POST /query  |  /health  |  /metrics")
    // block until SIGTERM/SIGINT; stop Spark on the way out
    val done = new java.util.concurrent.CountDownLatch(1)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      stop(server)
      spark.stop()
      done.countDown()
    }))
    done.await()
  }
}
