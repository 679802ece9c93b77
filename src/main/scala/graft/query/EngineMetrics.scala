package graft.query

import graft.core.Metrics

/** P6: the engine's instrument set (reference lib/api_metrics.ml:31-88,
  * minus the HTTP-server-only gauges -- db pool and route labels belong
  * to the Postgres/Opium layer Spark replaces). Registered on the
  * default registry; `Metrics.default.render` yields the Prometheus
  * exposition.
  */
object EngineMetrics {

  val requestsTotal: Metrics.Counter = Metrics.default.counter(
    "chessmate_api_requests_total",
    "Total hybrid query executions", Seq("route", "status"))

  val requestLatency: Metrics.Histogram = Metrics.default.histogram(
    "chessmate_api_request_duration_seconds",
    "Latency of hybrid query executions in seconds", Seq("route"))

  val agentCacheTotal: Metrics.Counter = Metrics.default.counter(
    "chessmate_api_agent_cache_total",
    "Agent cache interactions", Seq("state"))

  val agentEvalTotal: Metrics.Counter = Metrics.default.counter(
    "chessmate_api_agent_evaluations_total",
    "Agent evaluation attempts", Seq("outcome"))

  val agentEvalLatency: Metrics.Histogram = Metrics.default.histogram(
    "chessmate_api_agent_evaluation_latency_seconds",
    "Latency of agent evaluations in seconds", Seq("outcome"))

  val breakerState: Metrics.Gauge = Metrics.default.gauge(
    "chessmate_api_agent_circuit_breaker_state",
    "Agent circuit breaker state (1=open,0=closed)")

  val queryEmbeddingTotal: Metrics.Counter = Metrics.default.counter(
    "chessmate_api_query_embedding_total",
    "Query embedding resolutions by source", Seq("source"))

  /** Per-phase latency of one served query: `page` (page top-k action),
    * `vectors` (vector top-k action, concurrent with `page`), `score`
    * (driver-side merge, scoring and rank once both actions returned;
    * the scoring plan is analysed beside them) and `format` (response
    * body). Buckets start at 0.5 ms: score and format are sub-ms.
    */
  val queryPhase: Metrics.Histogram = Metrics.default.histogram(
    "chessmate_api_query_phase_seconds",
    "Latency of one query phase in seconds", Seq("phase"),
    Seq(0.0005, 0.001, 0.0025) ++ Metrics.defaultBuckets)

  /** Run `body` and observe its wall time under `phase`. */
  def timePhase[T](phase: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    queryPhase.observe((System.nanoTime() - t0) / 1e9, Seq(phase))
    r
  }
}
