package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, when}
import graft.core.Fixtures
import graft.embed.{DeterministicEmbedder, VectorsJob}
import graft.ingest.IngestJob
import graft.query.{HybridExecutor, PlanCompiler, QueryIntent, ResultFormatter}

/** Hybrid executor semantics, mirroring the reference unit suite
  * (test/test_query.ml): scoring weights, fallback paths, pagination,
  * and the English-opening session documented in README.md:275-288.
  */
class HybridExecutorSpec extends SparkSpec {

  private lazy val tables = {
    import spark.implicits._
    val files = spark.createDataset(Fixtures.all)
    IngestJob.tables(spark, IngestJob.gamesFromText(spark, files))
  }
  private lazy val embedder = DeterministicEmbedder(dims = 16)
  private lazy val vectors = VectorsJob.build(spark, tables.games,
    tables.players, tables.positions, embedder)
  private def exec(question: String, limit: Option[Int] = None,
      offset: Option[Int] = None, withVectors: Boolean = true) = {
    val plan = QueryIntent.analyse(QueryIntent.Request(question, limit, offset))
    HybridExecutor.execute(spark,
      HybridExecutor.Tables(tables.games, tables.players,
        if (withVectors) Some(vectors) else None),
      plan, embedder)
  }

  test("no filters, no vectors: fallback score 0.6 * 0.75 weight") {
    val e = exec("anything at all", limit = Some(10), withVectors = false)
    assert(e.total == 3)
    assert(e.warnings.exists(_.contains("Vector search unavailable")))
    val rows = e.results.collect()
    assert(rows.length == 3)
    // vector fallback = 0.6 (no filters); keyword overlap 0 -> total 0.45.
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("vector_score") - 0.6) < 1e-9)
      assert(math.abs(r.getAs[Double]("total_score") - 0.45) < 1e-9)
    }
  }

  test("result filter narrows the page (R1) and fallback hits 1.0") {
    val e = exec("show black wins", limit = Some(10), withVectors = false)
    // only the extended fixture is 0-1.
    assert(e.total == 1)
    val r = e.results.collect().head
    assert(r.getAs[String]("result") == "0-1")
    // filters nonempty + all matched -> fallback 0.4+0.6 = 1.0.
    assert(math.abs(r.getAs[Double]("vector_score") - 1.0) < 1e-9)
  }

  test("rating threshold filters games via R2") {
    val e = exec("games where white rated at least 2500", limit = Some(10),
      withVectors = false)
    // extended fixture: WhiteElo 2568 -> only match.
    assert(e.total == 1)
    val r = e.results.collect().head
    assert(r.getAs[Int]("white_rating") >= 2500)
  }

  test("vector path: hits boost games and scores stay in [0,1]") {
    val e = exec("kingside attack in the endgame", limit = Some(10))
    val rows = e.results.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val t = r.getAs[Double]("total_score")
      assert(t >= 0.0 && t <= 1.0)
    }
  }

  test("pagination: offset beyond total -> empty page, has_more false") {
    val e = exec("anything", limit = Some(2), offset = Some(5),
      withVectors = false)
    assert(e.total == 3)
    assert(e.results.collect().isEmpty)
    assert(!e.hasMore)
  }

  test("pagination: offset 0 limit 2 of 3 -> has_more true") {
    val e = exec("anything", limit = Some(2), withVectors = false)
    assert(e.results.collect().length == 2)
    assert(e.hasMore)
  }

  test("pagination: offset past maxOffset is preserved, not clamped") {
    // Reference parity (query_intent.ml enforces only offset >= 0): a
    // client paging past 5000 gets the lazy two-action path and an empty
    // page -- never page-5000's rows.
    val plan = QueryIntent.analyse(QueryIntent.Request("anything",
      Some(2), Some(QueryIntent.maxOffset + 1000)))
    assert(plan.offset == QueryIntent.maxOffset + 1000)
    val e = exec("anything", limit = Some(2),
      offset = Some(QueryIntent.maxOffset + 1000), withVectors = false)
    assert(e.total == 3)
    assert(e.results.collect().isEmpty)
    assert(!e.hasMore)
  }

  /** executeBatch, the eager per-query path (driver-scored rows) and the
    * lazy `computeTotal = false` path give the same rows for every plan.
    */
  private def assertParity(t: HybridExecutor.Tables,
      plans: Seq[QueryIntent.Plan]): Unit = {
    val batch = HybridExecutor.executeBatch(spark, t, plans, embedder)
    assert(batch.length == plans.length)
    plans.zip(batch).foreach { case (plan, b) =>
      val what = s"'${plan.cleanedText}' offset ${plan.offset}"
      val single = HybridExecutor.execute(spark, t, plan, embedder)
      assert(single.rows.isDefined, s"eager path kept no rows for $what")
      val rows = single.rows.get
      assert(b.total == single.total, s"total for $what")
      assert(b.hasMore == single.hasMore, s"hasMore for $what")
      assert(b.results.collect().toSeq == rows, s"batch rows for $what")
      assert(single.results.collect().toSeq == rows, s"frame rows for $what")
      val lazyRows = HybridExecutor.execute(spark, t, plan, embedder,
        computeTotal = false).results.collect().toSeq
      assert(lazyRows == rows, s"lazy rows for $what")
    }
  }

  test("batch execution is byte-identical to per-query execution") {
    import QueryIntent.{MetadataFilter, Plan, RatingFilter, Request}
    val questions = Seq(
      "anything at all",
      "show black wins",
      "games where white rated at least 2500",
      "kingside attack in the endgame",
      "english opening games",
      "best games", // repeated intents amortize too
      "show draws after 1990",
      "find top games where black is rated at least 2400",
      "queens gambit declined",
      "tactical middlegame sacrifices",
      "games where white rated at least 3500") // empty page
    val plans = questions.map(q => QueryIntent.analyse(Request(q, Some(5))))
    // offset > 0, with and without vector hits
    val offsets = Seq(
      QueryIntent.analyse(Request("anything", Some(2), Some(1))),
      QueryIntent.analyse(Request("kingside attack in the endgame",
        Some(2), Some(1))))
    // every filter kind in one plan, matching the extended fixture game
    val slug = tables.games.where(col("eco_code") === "E11")
      .select("opening_slug").head().getString(0)
    val mixed = Plan(Request("mixed"), "smyslov interpolis",
      List("smyslov", "interpolis"),
      List(MetadataFilter("eco_range", "E00-E59"),
        MetadataFilter("opening", slug), MetadataFilter("result", "0-1")),
      RatingFilter(Some(2500), Some(2600), Some(200)), limit = 5, offset = 0)
    val t = HybridExecutor.Tables(tables.games, tables.players, Some(vectors))
    assertParity(t, plans ++ offsets :+ mixed)
    assert(HybridExecutor.execute(spark, t, mixed, embedder).total == 1)
    assert(HybridExecutor.execute(spark, t, plans.last, embedder).total == 0)

    // null played_on and opening_slug on page games, and a page game
    // whose vector hits carry null tag lists
    val nullGames = tables.games
      .withColumn("played_on", when(col("event") === "Test Event",
        lit(null).cast("date")).otherwise(col("played_on")))
      .withColumn("opening_slug", when(col("event") === "Annotated Fixture",
        lit(null).cast("string")).otherwise(col("opening_slug")))
    val extendedId = tables.games.where(col("eco_code") === "E11")
      .select("game_id").head().get(0)
    val nullLists = Seq("phases", "themes", "keywords").foldLeft(vectors) {
      (v, c) => v.withColumn(c, when(col("game_id") === lit(extendedId),
        lit(null).cast("array<string>")).otherwise(col(c)))
    }
    val hostile = HybridExecutor.Tables(nullGames, tables.players,
      Some(nullLists))
    assertParity(hostile, Seq(plans.head, plans(3)) ++ offsets :+ mixed)

    // no-vectors degradation carries the warning per plan
    val nv = HybridExecutor.Tables(tables.games, tables.players, None)
    val bNv = HybridExecutor.executeBatch(spark, nv, Seq(plans.head), embedder)
    assert(bNv.head.warnings.exists(_.contains("Vector search unavailable")))
    assertParity(nv, Seq(plans.head, offsets.head))
  }

  /** The properties of every Spark job of job group `group`, and the
    * number of SQL executions, while `body` runs. */
  private def countWork(group: String)(body: => Unit)
      : (Seq[java.util.Properties], Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[
      java.util.Properties]()
    val executions = new java.util.concurrent.atomic.AtomicInteger()
    val jobListener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          jobs.add(e.properties)
    }
    val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = executions.incrementAndGet()
      def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = executions.incrementAndGet()
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    try {
      sc.setJobGroup(group, group)
      body
      org.apache.spark.graftbridge.ListenerBridge.drain(sc)
    } finally {
      sc.clearJobGroup()
      spark.listenerManager.unregister(qeListener)
      sc.removeSparkListener(jobListener)
    }
    import scala.jdk.CollectionConverters._
    (jobs.asScala.toSeq, executions.get())
  }

  private def servingTables = {
    val (t, v) = graft.gate.ChessQueries.data(spark)
    val summaries = HybridExecutor.summaries(t.games, t.players).cache()
    summaries.count()
    HybridExecutor.Tables(t.games, t.players, Some(v),
      summariesPrebuilt = Some(summaries))
  }

  test("both jobs of one execute carry the caller's job group and " +
    "scheduler pool") {
    val t = servingTables
    val emb = DeterministicEmbedder(graft.gate.ChessQueries.embedDims)
    val plan = QueryIntent.analyse(
      QueryIntent.Request("kingside attack in the endgame", Some(5)))
    val sc = spark.sparkContext
    try {
      HybridExecutor.execute(spark, t, plan, emb) // warm the caches
      sc.setLocalProperty("spark.scheduler.pool", "hybrid-spec-pool")
      val (jobs, _) = countWork("hybrid-spec-props") {
        HybridExecutor.execute(spark, t, plan, emb)
      }
      assert(jobs.size == 2, s"jobs of the caller's group: ${jobs.size}")
      jobs.foreach { p =>
        assert(p.getProperty("spark.scheduler.pool") == "hybrid-spec-pool")
      }
    } finally {
      sc.setLocalProperty("spark.scheduler.pool", null)
      t.summariesPrebuilt.foreach(_.unpersist())
    }
  }

  test("one /query with vectors runs 2 Spark jobs and 2 SQL executions") {
    val t = servingTables
    val emb = DeterministicEmbedder(graft.gate.ChessQueries.embedDims)
    val parsed = graft.app.ServeApp.Parsed("kingside attack in the endgame",
      Some(5), None)
    try {
      graft.app.ServeApp.queryResponse(spark, t, emb, parsed) // warm
      val (jobs, executions) = countWork("hybrid-spec-count") {
        val body = graft.app.ServeApp.queryResponse(spark, t, emb, parsed)
        assert(body.get("results").size() > 0)
      }
      assert(jobs.size == 2, s"Spark jobs per request: ${jobs.size}")
      assert(executions == 2, s"SQL executions per request: $executions")
    } finally t.summariesPrebuilt.foreach(_.unpersist())
  }

  test("keyword overlap contributes 0.25-weighted score") {
    // 'smyslov' appears in the extended game's Black name.
    val e = exec("find smyslov games", limit = Some(10), withVectors = false)
    val rows = e.results.collect()
    val smy = rows.find(_.getAs[String]("black").toLowerCase.contains("smyslov")).get
    val other = rows.find(!_.getAs[String]("black").toLowerCase.contains("smyslov")).get
    assert(smy.getAs[Double]("keyword_score") > other.getAs[Double]("keyword_score"))
    assert(smy.getAs[Double]("total_score") > other.getAs[Double]("total_score"))
  }

  test("eco_range predicate compiles to BETWEEN semantics") {
    import graft.query.QueryIntent.MetadataFilter
    val pred = PlanCompiler.gameFilter(MetadataFilter("eco_range", "E60-E99")).get
    val df = tables.games.where(pred)
    // extended fixture is E11 -> excluded; none of the fixtures are E60+.
    assert(df.count() == 0)
    val pred2 = PlanCompiler.gameFilter(MetadataFilter("eco_range", "E00-E59")).get
    assert(tables.games.where(pred2).count() == 1)
  }

  test("unknown filter fields are silently dropped (injection safety)") {
    import graft.query.QueryIntent.MetadataFilter
    assert(PlanCompiler.gameFilter(
      MetadataFilter("opening; DROP TABLE games", "x")).isEmpty)
  }

  test("result formatter: synopsis, year, slug prettification") {
    assert(ResultFormatter.prettifySlug("kings_indian_defense") ==
      "Kings Indian Defense")
    assert(ResultFormatter.yearOf(Some("1994-05-12")).contains(1994))
    assert(ResultFormatter.yearOf(Some("????")).isEmpty)
    assert(ResultFormatter.synopsis("7f00ba", "A", "B", 0.875) ==
      "#7f00ba A vs B (score 0.88)")
  }
}
