package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import graft.embed.{DeterministicEmbedder, VectorsJob}
import graft.ingest.IngestJob
import graft.query.HybridExecutor

/** The write path that `serve` runs in its set-up: read seeded PGN
  * files, build the four chess tables, the position vectors and the
  * serving summaries, and write tables and vectors as parquet.
  */
object Index {
  val GamesPerFile = 5

  /** Tables, vectors and summaries of one build, all cached. The parsed
    * records that `tables(persistRecords = true)` pins are cached as well
    * and not reachable from here, so a build is released by clearing the
    * session's whole cache. */
  final case class Built(t: IngestJob.ChessTables, vectors: DataFrame,
      summaries: DataFrame)

  val embedder: DeterministicEmbedder = DeterministicEmbedder(dims = 256)

  def writePgn(corpus: ChessGen.Corpus, dir: java.nio.file.Path): Unit =
    corpus.files.foreach { case (name, text) =>
      java.nio.file.Files.write(dir.resolve(name), text.getBytes("UTF-8"))
    }

  /** The write path up to (not including) the parquet writes, each step
    * materialized inside its own span so the trace attributes its work. */
  def build(ctx: Ctx, pgnDir: java.nio.file.Path, span: Span.Wrap): Built = {
    val spark = ctx.spark
    val t = span("ingest.tables") {
      val t = IngestJob.tables(spark, IngestJob.readPgn(spark, pgnDir.toString),
        persistRecords = true)
      Seq(t.games, t.players, t.positions).foreach { df =>
        df.persist(StorageLevel.MEMORY_AND_DISK); df.count()
      }
      t
    }
    val vectors = span("embed.build") {
      val v = VectorsJob.build(spark, t.games, t.players, t.positions, embedder)
      v.persist(StorageLevel.MEMORY_AND_DISK); v.count()
      v
    }
    val summaries = span("query.summaries") {
      val s = HybridExecutor.summaries(t.games, t.players)
      s.persist(StorageLevel.MEMORY_AND_DISK); s.count()
      s
    }
    Built(t, vectors, summaries)
  }

  def write(b: Built, out: java.nio.file.Path, span: Span.Wrap): Unit = {
    span("ingest.write")(IngestJob.write(b.t, out.toString))
    span("embed.write")(VectorsJob.write(b.vectors, out.toString))
  }

  /** Count mismatches against the generator's truth, in memory and after
    * reading the written parquet back. */
  def check(ctx: Ctx, c: ChessGen.Corpus, b: Built,
      out: java.nio.file.Path): Seq[String] = {
    val spark = ctx.spark
    def read(n: String) = spark.read.parquet(out.resolve(n).toString)
    val expect = Seq(
      "games" -> (b.t.games.count(), read("games").count(), c.wellFormed.toLong),
      "issues" -> (b.t.issues.count(), read("issues").count(), c.malformed.toLong),
      "positions" -> (b.t.positions.count(), read("positions").count(), c.plies),
      "vectors" -> (b.vectors.count(), read("vectors").count(), c.plies),
      "distinct_vector_id" -> (
        b.t.positions.select("vector_id").distinct().count(),
        read("positions").select("vector_id").distinct().count(),
        c.distinctFens.toLong))
    expect.collect { case (n, (mem, disk, truth)) if mem != truth || disk != truth =>
      s"$n: memory $mem, parquet $disk, generated $truth" }
  }

  /** Kernel costs without Spark, then one traced build and write. Returns
    * the traced roots and a function that turns the finished trace into
    * the write path's per-layer metrics. */
  def traced(ctx: Ctx, tracer: Tracer, corpus: ChessGen.Corpus,
      pgnDir: java.nio.file.Path): (Seq[Span], SpanTree => Unit) = {
    val raws = corpus.files.flatMap { case (_, text) =>
      graft.ingest.PgnParser.splitRaws(text) }
    val kernels = tracer.begin("bench.kernels")
    val parsed = tracer.span("ingest.parse") {
      raws.map(graft.ingest.PgnParser.parse) }
    val sans = parsed.collect { case Right(g) => g.moves.map(_.san) }
    val fens = tracer.span("chess.replay") {
      sans.map(graft.chess.Chess.fensOfMoves) }
    val distinct = fens.collect { case Right(f) => f }.flatten.distinct
    tracer.span("embed.embed")(distinct.foreach(embedder.embed))
    tracer.finish(kernels)
    val out = ctx.dir("index/out-traced")
    val root = tracer.begin("bench.index")
    val b = build(ctx, pgnDir, Span.of(tracer))
    write(b, out, Span.of(tracer))
    tracer.finish(root)
    val issues = b.t.issues.count()
    ctx.spark.catalog.clearCache()

    def emit(tree: SpanTree): Unit = {
      def one(name: String): Span = tree.named(name).head
      ctx.metric("ingest.parse_us_per_game", one("ingest.parse").dur / 1e3 / raws.length, "us")
      ctx.metric("chess.replay_us_per_ply",
        one("chess.replay").dur / 1e3 / sans.map(_.length).sum, "us")
      ctx.metric("embed.embed_us_per_fen", one("embed.embed").dur / 1e3 / distinct.length, "us")
      Seq("ingest.tables", "embed.build", "query.summaries", "ingest.write",
        "embed.write").foreach(n => Layers.stage(ctx, tree, one(n), n))
      ctx.metric("ingest.bytes_written", Seq("games", "players", "positions", "issues")
        .map(t => Util.parquetBytes(out.resolve(t))).sum.toDouble, "bytes")
      ctx.metric("embed.bytes_written", Util.parquetBytes(out.resolve("vectors")).toDouble,
        "bytes")
      ctx.metric("ingest.issue_rows", issues.toDouble, "count")
      ctx.metric("ingest.issue_base_games", corpus.games.toDouble, "count")
      ctx.metric("embed.distinct_fen_share", corpus.distinctFenShare, "ratio")
      ctx.metric("embed.distinct_fen_base_positions", corpus.plies.toDouble, "count")
    }
    (Seq(kernels, root), emit)
  }
}
