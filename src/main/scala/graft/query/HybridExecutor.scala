package graft.query

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{GenericRowWithSchema,
  IntegerLiteral, InterpretedOrdering, InterpretedProjection}
import org.apache.spark.sql.catalyst.optimizer.{ReplaceExpressions,
  RewriteWithExpression}
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit,
  LocalLimit, LocalRelation, LogicalPlan, Project, Sort}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType,
  StructField, StructType}
import graft.embed.{DeterministicEmbedder, Embedder}
import graft.functions.VectorFunctions._
import graft.query.QueryIntent.Plan

/** The hybrid retrieval engine (reference lib/query/hybrid_executor.ml):
  *
  *   games x players  --filter/sort/page-->  summaries (date-ordered page)
  *   vectors --payload-filter--> cosine top-k --> per-game hit collapse
  *   summaries LEFT JOIN hits --> score columns --> stable sort --> limit
  *
  * The lazy and batch paths run this as DataFrame DAGs. The eager
  * per-query path (the serving default) runs only the two top-k legs as
  * Spark actions, concurrently, and evaluates the join and scoring tail
  * on the driver from the same Column builders ([[scoreLocal]]).
  *
  * Scale notes:
  *   - Both the game page and the KNN are `orderBy(...).limit(n)` =>
  *     Catalyst TakeOrderedAndProject: per-partition top-k then a single
  *     tiny merge -- no global sort, no single-partition shuffle at any
  *     data size.
  *   - The hit frame is <= max(3*limit,15) rows => broadcast join.
  *   - Pagination windows only ever run over the already-limited page
  *     (<= offset+limit <= 1000 rows), never the full table.
  */
object HybridExecutor {

  /** @param summariesPrebuilt optional materialized summaries projection
    *   (games x players already joined, [[summaries]] shape). The
    *   reference queries a warm, indexed game_summary view per request;
    *   the Spark analog is building the projection once (cached or
    *   written bucketed) and reusing it across queries instead of
    *   re-joining the player dimension per query.
    */
  final case class Tables(games: DataFrame, players: DataFrame,
      vectors: Option[DataFrame],
      summariesPrebuilt: Option[DataFrame] = None)

  /** One query's outcome. `rows` holds the final ranked rows when the
    * executor already has them on the driver (the eager per-query path
    * and the batch path); `results` is then a local frame over them,
    * built only when a caller asks for a frame (reranker, gates).
    */
  final class Execution(frame: => DataFrame, val total: Long,
      val hasMore: Boolean, val warnings: Seq[String],
      val rows: Option[Seq[Row]] = None) {
    lazy val results: DataFrame = frame
    /** The final rows: the driver copy when there is one, else one
      * collect of [[results]]. */
    def resultRows: Seq[Row] = rows.getOrElse(results.collect().toSeq)
  }

  val vectorWeight = 0.75
  val keywordWeight = 0.25
  val agentWeight = 0.4 // total = min(1, 0.6*heuristic + 0.4*agent)

  /** games x players(x2) -> the reference's game_summary shape
    * (repo_postgres_caqti.ml:215-227). No forced broadcast hint: the
    * player dimension grows with the corpus (1e8+ players at design
    * scale would OOM a forced broadcast); AQE broadcasts it when the
    * runtime size is actually small, and the bucketed-table path keeps
    * the sort-merge alternative shuffle-free.
    */
  def summaries(games: DataFrame, players: DataFrame): DataFrame = {
    val w = players.select(col("id").as("white_player_id"),
      col("name").as("white"))
    val b = players.select(col("id").as("black_player_id"),
      col("name").as("black"))
    games
      .join(w, Seq("white_player_id"), "left")
      .join(b, Seq("black_player_id"), "left")
      .select(col("game_id"), coalesce(col("white"), lit("")).as("white"),
        coalesce(col("black"), lit("")).as("black"), col("event"),
        col("played_on"), date_format(col("played_on"), "yyyy-MM-dd")
          .as("played_on_str"),
        col("eco_code"), col("opening_name"), col("opening_slug"),
        col("result"), col("white_rating"), col("black_rating"))
  }

  /** Summary keyword tokens (V8): alnum runs of length >= 3 from
    * white/black/event/opening_name/opening_slug, lowercased, dedup-sorted.
    */
  def summaryTokensCol: Column = {
    val src = concat_ws(" ", col("white"), col("black"), col("event"),
      col("opening_name"), col("opening_slug"))
    array_sort(array_distinct(filter(
      split(lower(src), "[^a-z0-9]+"), t => length(t) >= 3)))
  }

  /** Deterministic query vector (query_embedding_provider.ml:27-42):
    * tokens = keywords if non-empty else [cleaned_text], mean of per-token
    * buckets per dim.
    */
  def queryVector(plan: Plan, embedder: DeterministicEmbedder): Array[Double] = {
    val tokens =
      if (plan.keywords.nonEmpty) plan.keywords else List(plan.cleanedText)
    val dims = embedder.dims
    val out = new Array[Double](dims)
    if (tokens.isEmpty) return out
    var d = 0
    while (d < dims) {
      var sum = 0L
      tokens.foreach { t => sum += embedder.bucket(t, d) }
      out(d) = math.max(0.0, math.min(1.0,
        sum.toDouble / (tokens.length * 10000.0)))
      d += 1
    }
    out
  }

  /** V3: the payload-filtered cosine top-k frame [[vectorHits]]
    * collapses -- exposed separately so the eager per-query path can
    * collect its bounded <= max(3*limit, 15) rows and collapse them
    * driver-side (one TakeOrderedAndProject stage, no collapse
    * exchange).
    */
  def vectorTopK(vectors: DataFrame, plan: Plan, qv: Array[Double]): DataFrame =
    vectors
      .where(PlanCompiler.vectorPredicate(plan))
      .withColumn("score",
        normalizeScore(graft.functions.CosineSimilarity(col("embedding"),
          org.apache.spark.sql.functions.typedLit(qv.toSeq))))
      // game_id tiebreak makes the order TOTAL: vector_id is the fen
      // hash and the embedding cache dedups by fen, so (score,
      // vector_id) ties EXACTLY across games sharing a position (any
      // replicated/boilerplate corpus) -- without it, which game's row
      // enters the top-k is partition-order luck and the per-query and
      // batch paths can legally disagree.
      .orderBy(desc("score"), desc("vector_id"), desc("game_id"))
      .limit(math.max(3 * plan.limit, 15))

  /** V3+V5: payload-filtered cosine top-k, collapsed per game
    * (score=max, lists=lowercased dedup-sorted unions).
    */
  def vectorHits(vectors: DataFrame, plan: Plan, qv: Array[Double]): DataFrame =
    vectorTopK(vectors, plan, qv)
      .groupBy("game_id")
      // typed Aggregator (TagUnionAgg): buffer = distinct tag set with
      // map-side partial agg, not every hit's list via collect_list
      .agg(max("score").as("hit_score"),
        graft.functions.TagUnionAgg.lowerSortedUnion(col("phases"))
          .as("hit_phases"),
        graft.functions.TagUnionAgg.lowerSortedUnion(col("themes"))
          .as("hit_themes"),
        graft.functions.TagUnionAgg.lowerSortedUnion(col("keywords"))
          .as("hit_keywords"))

  /** Driver-side mirror of the [[vectorHits]] collapse over collected
    * [[vectorTopK]] rows: max score per game + TagUnionAgg's
    * lowercased dedup-sorted union per tag list (same null handling:
    * null arrays and null elements are skipped). Bounded input by
    * construction (k rows), used only on the eager per-query path; the
    * batch path keeps the distributed collapse, and HybridExecutorSpec
    * and the bench assert row-for-row equality between the two.
    * Returns game_id -> the four [[hitFields]] values.
    */
  private def collapseTopKLocal(rows: Array[Row], schema: StructType)
      : Map[Any, Seq[Any]] = {
    val gi = schema.fieldIndex("game_id")
    val si = schema.fieldIndex("score")
    val li = Seq("phases", "themes", "keywords").map(schema.fieldIndex)
    rows.groupBy(_.get(gi)).map { case (gid, rs) =>
      val unions = li.map { i =>
        val set = scala.collection.mutable.HashSet.empty[String]
        rs.foreach { r =>
          val a = r.getSeq[String](i)
          if (a != null) a.foreach(t => if (t != null) set += t.toLowerCase)
        }
        set.toSeq.sorted
      }
      gid -> (rs.map(_.getDouble(si)).max +: unions)
    }
  }

  /** The per-game vector-hit columns the page is joined with. */
  private val hitFields = Seq(StructField("hit_score", DoubleType),
    StructField("hit_phases", ArrayType(StringType)),
    StructField("hit_themes", ArrayType(StringType)),
    StructField("hit_keywords", ArrayType(StringType)))

  /** `df` plus all-null [[hitFields]]: scoring without a vectors table. */
  private def withNullHits(df: DataFrame): DataFrame =
    df.select(col("*") +: hitFields.map(f =>
      lit(null).cast(f.dataType).as(f.name)): _*)

  private val noVectorsWarning = "Vector search unavailable (no vectors table)"

  /** Runs the eager path's two top-k actions. Daemon threads, so an
    * embedding JVM can still exit.
    */
  private lazy val actionPool = java.util.concurrent.Executors
    .newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, "graft-hybrid-action")
      t.setDaemon(true)
      t
    }

  /** Full execution of a plan.
    *
    * @param computeTotal when true (the reference always pays it:
    *   repo_postgres_caqti.ml:293), the exact filtered total is
    *   piggybacked onto the page scan via `Observation`/CollectMetrics
    *   -- TakeOrderedAndProject consumes every input row, so the count
    *   rides the SAME single pass instead of a second full scan; the
    *   page is materialized inside this call to resolve the metric.
    *   When false, skips the count (total = -1, hasMore unknown) and
    *   returns a lazy frame.
    */
  def execute(spark: SparkSession, tables: Tables, plan: Plan,
      embedder: DeterministicEmbedder = DeterministicEmbedder(),
      computeTotal: Boolean = true): Execution = {
    val started = System.nanoTime()
    try {
      val e = execute0(spark, tables, plan, embedder, computeTotal)
      EngineMetrics.requestsTotal.inc(Seq("hybrid", "ok"))
      EngineMetrics.requestLatency.observe(
        (System.nanoTime() - started) / 1e9, Seq("hybrid"))
      e
    } catch {
      case t: Throwable =>
        EngineMetrics.requestsTotal.inc(Seq("hybrid", "error"))
        throw t
    }
  }

  private def execute0(spark: SparkSession, tables: Tables, plan: Plan,
      embedder: DeterministicEmbedder,
      computeTotal: Boolean): Execution = {

    val base = tables.summariesPrebuilt
      .getOrElse(summaries(tables.games, tables.players))
    // R1 vector_only: semi/anti-join against embedded game ids (the
    // reference's `positions.vector_id IS (NOT) NULL` EXISTS clause).
    val filtered = filteredFor(base, plan, tables)
    val pageLimit = plan.offset + plan.limit
    // QueryIntent.analyse clamps limit (<= maxLimit) but preserves any
    // requested offset (reference parity: query_intent.ml only enforces
    // offset >= 0). This guard is therefore the real gate: pages up to
    // maxOffset+maxLimit rows take the single-pass Observation path and
    // are collected to the driver; anything larger (a client paging past
    // 5000, or a hand-built Plan) falls back to two distributed actions
    // (lazy count + lazy window page) instead of being truncated.
    val collectSafe =
      pageLimit <= QueryIntent.maxOffset + QueryIntent.maxLimit
    val vectorsQv = tables.vectors.map { vectors =>
      EngineMetrics.queryEmbeddingTotal.inc(Seq("deterministic"))
      (vectors, queryVector(plan, embedder))
    }
    if (!computeTotal || !collectSafe) {
      // Lazy path: the page and the hit subtree stay lazy; the window
      // runs over <= offset+limit rows only (limited inside).
      val total = if (computeTotal) filtered.count() else -1L
      val hits = vectorsQv.map { case (v, qv) => vectorHits(v, plan, qv) }
      val (ranked, warnings) =
        scoreAndRank(lazyPageFor(filtered, plan), plan, hits)
      return new Execution(ranked, total,
        hasMoreFor(plan, total, computeTotal), warnings)
    }

    // Eager path: the page top-k and the vector top-k run as two Spark
    // actions at the same time, each on a pool thread, while this thread
    // analyses the scoring plan ([[scoringPlan]] needs only the schema).
    // The vector top-k is bounded (<= max(3*limit, 15) rows) just like
    // the page, and its per-game collapse happens driver-side
    // ([[collapseTopKLocal]]).
    val hitsEager = vectorsQv.map { case (vectors, qv) =>
      onPool(spark) {
        EngineMetrics.timePhase("vectors") {
          val tk = vectorTopK(vectors, plan, qv)
          collapseTopKLocal(tk.collect(), tk.schema)
        }
      }
    }
    // The page is collected as the terminal op of its own action:
    // a terminal orderBy.limit.collect() runs as
    // TakeOrderedAndProject.executeCollect (per-partition top-k + driver
    // merge, NO exchange above the metrics node), so the observed count
    // rides the same single pass. Leaving the page lazy instead plans the
    // downstream re-sort as a global Sort whose range-partitioning
    // exchange SAMPLES its input -- an extra pass over the observed
    // subtree that double-counts the metric (and an extra scan at scale).
    // The collected page is <= offset+limit rows, and collectSafe bounds
    // that by QueryIntent.maxOffset + maxLimit (= 5,500 small summary
    // rows) by design; offset is applied by dropping the already-sorted
    // prefix, exactly what the row_number window does on the lazy path.
    val obs = org.apache.spark.sql.Observation()
    val pageSchema = filtered.schema
    val pageRows = onPool(spark) {
      EngineMetrics.timePhase("page") {
        filtered.observe(obs, count(lit(1)).as("total"))
          .orderBy(pageOrder: _*).limit(pageLimit).collect()
      }
    }
    val scoring = scoringPlan(spark, pageSchema, plan)
    val kept = await(pageRows).drop(plan.offset)
    val total = obs.get("total") match {
      case n: Long => n
      case n: Number => n.longValue()
    }
    val hits = hitsEager.map(await)
    val rows = EngineMetrics.timePhase("score") {
      scoreLocal(kept, pageSchema, hits, scoring)
    }
    new Execution(spark.createDataFrame(rows.asJava, scoring.schema), total,
      hasMoreFor(plan, total, computed = true),
      if (hits.isEmpty) Seq(noVectorsWarning) else Nil, Some(rows))
  }

  /** Run `body` on [[actionPool]] with the caller's Spark local
    * properties -- scheduler pool, job group (so cancellation reaches the
    * job) and any tracing property -- and active session.
    */
  private def onPool[T](spark: SparkSession)(body: => T)
      : java.util.concurrent.CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      actionPool)(body)

  private def await[T](f: java.util.concurrent.CompletableFuture[T]): T =
    try f.get()
    catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }

  private val pageOrder =
    Seq(col("played_on").desc_nulls_last, col("game_id").desc)

  private def hasMoreFor(plan: Plan, total: Long, computed: Boolean): Boolean =
    computed && plan.offset + math.min(plan.limit.toLong,
      math.max(0L, total - plan.offset)) < total

  /** The eager path's scoring tail as a plan: [[rankScored]] itself --
    * the scoring, the V13 rank and the final projection from the same
    * Column builders the lazy and batch paths run -- analysed over an
    * EMPTY local relation of the page-with-hits schema, so it needs no
    * rows and can be built while the page and vector actions run. The
    * analysed plan is a chain of Project / Sort / Limit nodes; the two
    * rules replace the expressions the optimizer would replace before
    * execution (RuntimeReplaceable, `With`). No optimizer run, no
    * physical planning.
    */
  private def scoringPlan(spark: SparkSession, pageSchema: StructType,
      plan: Plan): LogicalPlan = {
    val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType(pageSchema.fields ++ hitFields))
    RewriteWithExpression(ReplaceExpressions(
      rankScored(empty, plan).queryExecution.analyzed))
  }

  /** Join the page rows with their collapsed hits (a driver-side hash
    * lookup: both are bounded local rows) and interpret `scoring`
    * ([[scoringPlan]]) over them with [[evalLocal]]: no Spark action, so
    * the request's only SQL executions are the page and the vector top-k.
    * HybridExecutorSpec asserts the rows byte-identical to the
    * Spark-evaluated batch and lazy paths.
    */
  private def scoreLocal(page: Array[Row], pageSchema: StructType,
      hits: Option[Map[Any, Seq[Any]]], scoring: LogicalPlan): Seq[Row] = {
    val gi = pageSchema.fieldIndex("game_id")
    val noHit = hitFields.map(_ => null)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(
      StructType(pageSchema.fields ++ hitFields))
    val merged = page.toSeq.map { pr =>
      val tail = hits.flatMap(_.get(pr.get(gi))).getOrElse(noHit)
      toCatalyst(Row.fromSeq(pr.toSeq ++ tail)).asInstanceOf[InternalRow]
    }
    val toScala = CatalystTypeConverters.createToScalaConverter(scoring.schema)
    evalLocal(scoring, merged).map(toScala(_).asInstanceOf[Row])
  }

  /** Interpret an analysed Project / Sort / Limit chain over `input`,
    * the rows of its single LocalRelation leaf.
    */
  private def evalLocal(p: LogicalPlan, input: Seq[InternalRow])
      : Seq[InternalRow] = p match {
    case _: LocalRelation => input
    case Project(list, child) =>
      val proj = new InterpretedProjection(list, child.output)
      proj.initialize(0)
      evalLocal(child, input).map(proj)
    case s: Sort =>
      evalLocal(s.child, input).sorted(
        new InterpretedOrdering(s.order, s.child.output))
    case GlobalLimit(IntegerLiteral(n), child) => evalLocal(child, input).take(n)
    case LocalLimit(IntegerLiteral(n), child) => evalLocal(child, input).take(n)
    case other => throw new IllegalStateException(
      s"driver-side scoring cannot evaluate ${other.nodeName}")
  }

  /** The lazy path's scoring stage: page -> vector-hit broadcast join
    * -> [[rankScored]]. Degrades to fallback scoring when there is no
    * vectors table (the reference's "vector search unavailable" path).
    */
  private def scoreAndRank(page: DataFrame, plan: Plan,
      hitsOpt: Option[DataFrame]): (DataFrame, Seq[String]) =
    hitsOpt match {
      case Some(hits) => (rankScored(
        page.join(broadcast(hits), Seq("game_id"), "left"), plan), Nil)
      case None => (rankScored(withNullHits(page), plan), Seq(noVectorsWarning))
    }

  /** applyScoring + the V13 stable rank + final projection -- the tail
    * every serving path shares once its page-with-hits frame exists.
    * V13: stable sort -- score desc, ties keep the page's date order
    * (OCaml List.sort is stable; Spark orderBy is not, so the original
    * order keys are explicit tiebreakers).
    */
  private def rankScored(withHits: DataFrame, plan: Plan): DataFrame =
    applyScoring(withHits, plan)
      .orderBy(desc("total_score"), col("played_on").desc_nulls_last,
        col("game_id").desc)
      .limit(plan.limit)
      .select(resultColumns.head, resultColumns.tail: _*)

  private val resultColumns = Seq("game_id", "white", "black", "event",
    "played_on_str", "eco_code", "opening_name", "opening_slug", "result",
    "white_rating", "black_rating", "total_score", "vector_score",
    "keyword_score", "phases", "themes", "keywords")

  // --- per-plan scoring column builders --------------------------------
  // One source of truth for the score formulas: the per-query path
  // applies them directly; the batch path wraps the SAME builders in a
  // CASE-on-plan_id dispatch, so the two paths cannot drift.

  /** V10 fallback score for games without a vector hit. */
  private def fallbackCol(plan: Plan): Column = {
    val ratingMatch = PlanCompiler.ratingPredicate(plan.rating)
    if (plan.filters.isEmpty) when(ratingMatch, 0.6).otherwise(0.0)
    else {
      val matched = plan.filters.map(f =>
        when(PlanCompiler.filterMatchCol(f), 1).otherwise(0))
        .reduce(_ + _)
      when(!ratingMatch, 0.0)
        .otherwise(lit(0.4) + lit(0.6) * matched / lit(plan.filters.size))
    }
  }

  private def vectorScoreCol(plan: Plan): Column = {
    val ratingMatch = PlanCompiler.ratingPredicate(plan.rating)
    when(col("hit_score").isNotNull,
      when(ratingMatch, least(col("hit_score"), lit(1.0))).otherwise(0.0))
      .otherwise(fallbackCol(plan))
  }

  /** V8/V9: summary tokens merged with hit keywords (plan-independent). */
  private def tokensCol: Column =
    when(col("hit_keywords").isNotNull,
      array_sort(array_distinct(concat(summaryTokensCol, col("hit_keywords")))))
      .otherwise(summaryTokensCol)

  /** Keyword overlap over the merged `tokens` column. */
  private def keywordScoreCol(plan: Plan): Column =
    if (plan.keywords.isEmpty) lit(0.0)
    else size(array_intersect(array(plan.keywords.map(lit): _*),
      col("tokens"))).cast("double") /
      lit(math.max(1, plan.keywords.size)).cast("double")

  private def mergedListCol(planList: Seq[String], hitCol: Column): Column = {
    val planArr = if (planList.isEmpty) array().cast("array<string>")
      else array(planList.map(lit): _*)
    when(hitCol.isNotNull && size(hitCol) > 0,
      array_sort(array_distinct(concat(planArr, hitCol))))
      .otherwise(planArr)
  }

  private def phasesCol(plan: Plan): Column =
    mergedListCol(plan.filters.filter(_.field == "phase").map(_.value)
      .distinct.sorted, col("hit_phases"))

  private def themesCol(plan: Plan): Column =
    mergedListCol(plan.filters.filter(_.field == "theme").map(_.value)
      .distinct.sorted, col("hit_themes"))

  private def keywordsCol(plan: Plan): Column =
    array_sort(array_distinct(concat(
      array(plan.keywords.map(k => lit(k.toLowerCase)): _*),
      col("tokens"))))

  /** Attach tokens + the four score/list columns for one plan (the
    * direct, no-dispatch form). TWO selects, not seven withColumns:
    * every DataFrame transformation runs the analyzer eagerly over the
    * whole accumulated tree, and on the per-query serving path that
    * analyzer time IS the latency floor -- the data is five local rows.
    * total_score inlines the two score expressions (deterministic, so
    * value-identical to referencing the aliases; double-evaluating over
    * a page of rows is free).
    */
  private def applyScoring(withHits: DataFrame, plan: Plan): DataFrame =
    withHits
      .select(col("*"), tokensCol.as("tokens"))
      .select(col("*"),
        vectorScoreCol(plan).as("vector_score"),
        keywordScoreCol(plan).as("keyword_score"),
        (lit(vectorWeight) * vectorScoreCol(plan) +
          lit(keywordWeight) * keywordScoreCol(plan)).as("total_score"),
        phasesCol(plan).as("phases"),
        themesCol(plan).as("themes"),
        keywordsCol(plan).as("keywords"))

  /** The lazy page for one plan: orderBy().limit() (top-k, never a
    * global sort) with the offset prefix dropped by a window over the
    * already-limited <= offset+limit rows. The batch path's per-plan
    * page; identical semantics to the per-query fallback branch.
    */
  private def lazyPageFor(filtered: DataFrame, plan: Plan): DataFrame = {
    val page0 = filtered.orderBy(pageOrder: _*).limit(plan.offset + plan.limit)
    if (plan.offset == 0) page0
    else {
      val wspec = Window.orderBy(pageOrder: _*)
      page0.withColumn("__rn", row_number().over(wspec))
        .where(col("__rn") > plan.offset).drop("__rn")
    }
  }

  /** Per-plan filtered summaries (shared page predicate + the R1
    * vector_only semi/anti-join).
    */
  private def filteredFor(base: DataFrame, plan: Plan,
      tables: Tables): DataFrame = {
    val prefiltered = base.where(PlanCompiler.gamePredicate(plan))
    plan.filters.find(_.field.toLowerCase == "vector_only")
      .flatMap { f =>
        tables.vectors.map { v =>
          val embedded = v.select("game_id").distinct()
          val joinType =
            if (f.value.trim.toLowerCase == "false") "left_anti" else "left_semi"
          prefiltered.join(embedded, Seq("game_id"), joinType)
        }
      }.getOrElse(prefiltered)
  }

  /** Execute MANY plans in TWO Spark actions total, with O(1) stages --
    * not O(plans).
    *
    * Per-query latency on Spark is dominated by fixed per-STAGE cost:
    * each query pays its own page top-k, hit top-k, broadcast exchange
    * and final rank (a plain union of per-plan subtrees still schedules
    * ~5 stages per branch and amortizes nothing -- measured: 10 unioned
    * plans ran at the single-query rate). This path instead threads all
    * plans through ONE pass over each table:
    *
    *   - every summary row is tagged with the array of plan ids whose
    *     predicate it matches (plan predicates are Column expressions,
    *     so the tag is one map-side CASE array + explode; the
    *     vector_only join-filter becomes a membership column attached by
    *     a single distinct-join shared by all plans),
    *   - ONE window (partitionBy plan_id) cuts every plan's page,
    *   - ONE pass over vectors scores each (vector, matching plan) pair
    *     against that plan's query vector and ONE window cuts every
    *     plan's top-k, collapsed per (plan_id, game_id) and broadcast
    *     into the page join,
    *   - the scoring formulas dispatch per-plan via CASE on plan_id
    *     (the SAME column builders the per-query path uses -- they
    *     cannot drift), and ONE final window ranks every plan's results.
    *
    * Totals (the reference always pays the filtered count) are one
    * groupBy(plan_id) over the tagged frame -- the second action.
    *
    * Results are byte-identical to per-query [[execute]]
    * (HybridExecutorSpec asserts row-for-row equality; the bench
    * re-asserts it every run and flips the metric negative on drift).
    *
    * Scale shape + tradeoff: shuffle volume is sum over plans of their
    * matched rows (tagging replicates a row once per matching plan), and
    * the per-plan window SORTS each plan's matched set where the
    * per-query path's TakeOrderedAndProject only heaps top-k. That is
    * the deliberate batch trade: constant stage count for interactive
    * many-query serving over a bounded corpus/page budget. For a single
    * scan-the-world query, use [[execute]] -- its top-k never sorts
    * globally.
    */
  def executeBatch(spark: SparkSession, tables: Tables, plans: Seq[Plan],
      embedder: DeterministicEmbedder = DeterministicEmbedder(),
      computeTotals: Boolean = true): Seq[Execution] = {
    require(plans.nonEmpty, "executeBatch needs at least one plan")
    val started = System.nanoTime()
    val base = tables.summariesPrebuilt
      .getOrElse(summaries(tables.games, tables.players))

    // CASE-on-plan_id dispatch of a per-plan column. No ELSE branch: the
    // pid domain is exactly 0..n-1, and an else-less CASE types itself
    // from the branches (works for doubles and arrays alike). Plan count
    // is an interactive batch, not data-sized, so the chain stays small.
    def byPid(f: Plan => Column): Column =
      plans.zipWithIndex.tail.foldLeft(
        when(col("__pid") === 0, f(plans.head))) {
        case (acc, (p, i)) => acc.when(col("__pid") === i, f(p))
      }

    // vector_only as a column: one shared distinct-join attaches
    // embedded-game membership, each plan's predicate then composes it.
    val needsEmb = tables.vectors.isDefined &&
      plans.exists(_.filters.exists(_.field.toLowerCase == "vector_only"))
    val baseE =
      if (needsEmb) {
        val embedded = tables.vectors.get.select(col("game_id")).distinct()
          .withColumn("__emb0", lit(true))
        base.join(broadcast(embedded), Seq("game_id"), "left")
          .withColumn("__emb", coalesce(col("__emb0"), lit(false)))
          .drop("__emb0")
      } else base.withColumn("__emb", lit(false))
    def planPred(p: Plan): Column = {
      val g = PlanCompiler.gamePredicate(p)
      p.filters.find(_.field.toLowerCase == "vector_only") match {
        case Some(f) if tables.vectors.isDefined =>
          if (f.value.trim.toLowerCase == "false") g && !col("__emb")
          else g && col("__emb")
        case _ => g
      }
    }
    val pidArr = filter(array(plans.zipWithIndex.map { case (p, i) =>
      when(planPred(p), lit(i)).otherwise(lit(null).cast("int"))
    }: _*), x => x.isNotNull)
    val tagged = baseE.withColumn("__pid", explode(pidArr)).drop("__emb")

    // ONE window cuts every plan's page (same order as the per-query
    // TakeOrderedAndProject; game_id makes the order total).
    val pw = Window.partitionBy(col("__pid")).orderBy(pageOrder: _*)
    val page = tagged.withColumn("__rn", row_number().over(pw))
      .where(col("__rn") > byPid(p => lit(p.offset)) &&
        col("__rn") <= byPid(p => lit(p.offset + p.limit)))
      .drop("__rn")

    // ONE pass over vectors: tag with matching plans, score against the
    // plan's query vector, window top-k, collapse per (plan, game).
    val (withHits, perPlanWarnings) = tables.vectors match {
      case Some(vectors) =>
        plans.foreach(_ =>
          EngineMetrics.queryEmbeddingTotal.inc(Seq("deterministic")))
        val vPidArr = filter(array(plans.zipWithIndex.map { case (p, i) =>
          when(PlanCompiler.vectorPredicate(p), lit(i))
            .otherwise(lit(null).cast("int"))
        }: _*), x => x.isNotNull)
        val qvE = byPid(p => typedLit(queryVector(p, embedder).toSeq))
        val kE = byPid(p => lit(math.max(3 * p.limit, 15)))
        // same TOTAL order as vectorTopK (game_id tiebreak: vector_id
        // ties exactly across games sharing a fen)
        val wk = Window.partitionBy(col("__pid"))
          .orderBy(desc("score"), desc("vector_id"), desc("game_id"))
        val topk = vectors.withColumn("__pid", explode(vPidArr))
          .withColumn("score", normalizeScore(
            graft.functions.CosineSimilarity(col("embedding"), qvE)))
          .withColumn("__rn", row_number().over(wk))
          .where(col("__rn") <= kE)
        val hits = topk.groupBy("__pid", "game_id")
          .agg(max("score").as("hit_score"),
            graft.functions.TagUnionAgg.lowerSortedUnion(col("phases"))
              .as("hit_phases"),
            graft.functions.TagUnionAgg.lowerSortedUnion(col("themes"))
              .as("hit_themes"),
            graft.functions.TagUnionAgg.lowerSortedUnion(col("keywords"))
              .as("hit_keywords"))
        (page.join(broadcast(hits), Seq("__pid", "game_id"), "left"),
          Seq.empty[String])
      case None =>
        (withNullHits(page), Seq(noVectorsWarning))
    }

    // Scoring: the per-query builders under CASE dispatch (tokens is
    // plan-independent).
    val scored = withHits
      .withColumn("tokens", tokensCol)
      .withColumn("vector_score", byPid(vectorScoreCol))
      .withColumn("keyword_score", byPid(keywordScoreCol))
      .withColumn("total_score",
        lit(vectorWeight) * col("vector_score") +
          lit(keywordWeight) * col("keyword_score"))
      .withColumn("phases", byPid(phasesCol))
      .withColumn("themes", byPid(themesCol))
      .withColumn("keywords", byPid(keywordsCol))

    // ONE final window ranks every plan (same order as the per-query
    // terminal TakeOrderedAndProject).
    val rw = Window.partitionBy(col("__pid"))
      .orderBy(desc("total_score"), col("played_on").desc_nulls_last,
        col("game_id").desc)
    val ranked = scored.withColumn("__rk", row_number().over(rw))
      .where(col("__rk") <= byPid(p => lit(p.limit)))
      .select((Seq("__pid", "__rk") ++ resultColumns).map(col): _*)
    val rows = ranked.collect()

    val totals: Seq[Long] =
      if (computeTotals) {
        val counts = tagged.groupBy("__pid").agg(count(lit(1)).as("__n"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        plans.indices.map(i => counts.getOrElse(i, 0L))
      } else plans.indices.map(_ => -1L)

    val schema = StructType(ranked.schema.drop(2)) // minus __pid, __rk
    val byPlan = rows.groupBy(_.getInt(0))
    val out = plans.zipWithIndex.map { case (plan, i) =>
      val mine: Seq[Row] = byPlan.getOrElse(i, Array.empty[Row]).toSeq
        .sortBy(_.getInt(1)) // __rk: the in-plan rank computed by Spark
        .map(r => new GenericRowWithSchema(r.toSeq.drop(2).toArray, schema))
      EngineMetrics.requestsTotal.inc(Seq("hybrid_batch", "ok"))
      new Execution(spark.createDataFrame(mine.asJava, schema), totals(i),
        hasMoreFor(plan, totals(i), computeTotals), perPlanWarnings, Some(mine))
    }
    EngineMetrics.requestLatency.observe(
      (System.nanoTime() - started) / 1e9, Seq("hybrid_batch"))
    out
  }
}
