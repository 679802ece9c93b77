package graft.app

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.llmops.{Ann, Pq}
import graft.core.GraftSession

/** Operational IVF x SQ8 ANN index: `build` trains the centroids and
  * per-dimension SQ8 bounds, writes the cell-partitioned codes artifact
  * AND the model file, so `query` loads the model instead of
  * retraining — the artifact layout a 100 TB serving deployment keeps:
  *
  *   codes/      (id, sq_code) parquet, directory-partitioned by cell
  *   model.json  centroids + per-dim min/max bounds + dims/cells
  *
  * Query cost shape: probe cells prune the file listing, the candidate
  * scan reads 1 byte/dim integer codes, and full float vectors are
  * touched only for the `--rerank` survivors (joined back to the
  * vectors table).
  *
  *   runMain graft.app.AnnIndexApp build <embeddings.parquet> <indexDir>
  *     [--cells=16] [--id-col=vec_id] [--vec-col=embedding]
  *   runMain graft.app.AnnIndexApp query <embeddings.parquet> <indexDir>
  *     <queryId> [--k=10] [--probes=4] [--rerank=100]
  */
object AnnIndexApp {

  final case class Model(cells: Int, dims: Int,
      centroids: Array[Array[Double]], mins: Array[Double],
      maxs: Array[Double])

  // model.json is written/read with a tiny fixed-shape renderer — the
  // engine keeps its zero-extra-dependency rule, and doubles round-trip
  // exactly via java.lang.Double.toString/parseDouble (shortest
  // round-trip representation since JDK 19's Ryu, exact parse).
  private def arr(xs: Array[Double]): String =
    xs.mkString("[", ",", "]")
  def render(m: Model): String =
    s"""{"cells":${m.cells},"dims":${m.dims},""" +
      s""""centroids":${m.centroids.map(arr).mkString("[", ",", "]")},""" +
      s""""mins":${arr(m.mins)},"maxs":${arr(m.maxs)}}"""

  def parseModel(s: String): Model = {
    def field(name: String): String = {
      val i = s.indexOf(s""""$name":""")
      require(i >= 0, s"model.json missing $name")
      val start = i + name.length + 3
      var depth = 0; var j = start
      while (j < s.length && (depth > 0 || (s(j) != ',' && s(j) != '}'))) {
        if (s(j) == '[') depth += 1
        if (s(j) == ']') depth -= 1
        j += 1
      }
      s.substring(start, j)
    }
    def nums(x: String): Array[Double] =
      x.stripPrefix("[").stripSuffix("]").split(',')
        .filter(_.nonEmpty).map(_.toDouble)
    val cents = field("centroids").stripPrefix("[").stripSuffix("]")
      .split("(?<=\\]),(?=\\[)").filter(_.nonEmpty).map(nums)
    Model(field("cells").toInt, field("dims").toInt, cents,
      nums(field("mins")), nums(field("maxs")))
  }

  def build(spark: SparkSession, embPath: String, indexDir: String,
      cells: Int, idCol: String, vecCol: String): Model = {
    val emb = spark.read.parquet(embPath)
    val cents = Ann.trainCentroids(emb, vecCol, cells)
    val sq8 = Pq.sq8Train(emb, vecCol)
    Pq.writeIvfSq8AtRest(emb, idCol, vecCol, cents, sq8,
      s"$indexDir/codes")
    val m = Model(cells, cents(0).length, cents, sq8.mins, sq8.maxs)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(indexDir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$indexDir/model.json"), render(m))
    m
  }

  def loadModel(indexDir: String): Model =
    parseModel(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$indexDir/model.json")))

  def query(spark: SparkSession, embPath: String, indexDir: String,
      queryId: Long, k: Int, probes: Int, rerank: Int,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : Seq[(Long, Double)] = {
    val m = loadModel(indexDir)
    val emb = spark.read.parquet(embPath)
    val q = emb.where(col(idCol) === queryId)
      .select(col(vecCol).cast("array<double>")).head().getSeq[Double](0)
    Pq.ivfSq8TopKAtRest(spark, s"$indexDir/codes", emb, idCol, vecCol,
      q, Pq.Sq8Model(m.mins, m.maxs), m.centroids, k, probes, rerank)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: AnnIndexApp build <emb.parquet> " +
      "<indexDir> [--cells=16] [--id-col=vec_id] [--vec-col=embedding] " +
      "| query <emb.parquet> <indexDir> <queryId> [--k=10] [--probes=4] " +
      "[--rerank=100] [--id-col=vec_id] [--vec-col=embedding]")
    def sflag(name: String, dflt: String): String =
      args.collectFirst { case s if s.startsWith(s"--$name=") =>
        s.stripPrefix(s"--$name=") }.getOrElse(dflt)
    def flag(name: String, dflt: Int): Int = sflag(name, dflt.toString).toInt
    // Reject unrecognized --flags instead of silently dropping them
    // (QueryApp protocol): a typo'd flag must fail fast, not surface as
    // a confusing AnalysisException on a missing default column later.
    val known = Set("cells", "k", "probes", "rerank", "id-col", "vec-col")
    args.filter(_.startsWith("--")).foreach { f =>
      val name = f.stripPrefix("--").takeWhile(_ != '=')
      require(known.contains(name), s"unknown flag --$name (known: " +
        known.toSeq.sorted.map("--" + _).mkString(", ") + ")")
    }
    val idCol = sflag("id-col", "vec_id")
    val vecCol = sflag("vec-col", "embedding")
    val spark = GraftSession.app("graft-ann-index")
    args(0) match {
      case "build" =>
        val m = build(spark, args(1), args(2), flag("cells", 16),
          idCol, vecCol)
        println(s"[ann] index built: ${args(2)} (cells=${m.cells} " +
          s"dims=${m.dims}; codes/ partitioned by cell + model.json)")
      case "query" =>
        val hits = query(spark, args(1), args(2), args(3).toLong,
          flag("k", 10), flag("probes", 4), flag("rerank", 100),
          idCol, vecCol)
        hits.foreach { case (id, score) =>
          println(f"[ann] $id%8d  cosine=$score%.6f")
        }
      case other => sys.error(s"unknown subcommand '$other'")
    }
    spark.stop()
  }
}
