package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math as Catalyst column expressions (no UDFs): built from
  * higher-order functions (`zip_with` / `aggregate`) so everything stays
  * inside whole-stage codegen and needs no serialization boundary.
  * Cosine similarity is the native [[CosineSimilarity]] expression.
  *
  * Reference semantics: cosine distance over 1536-d float vectors
  * (/root/reference/lib/core/config.ml:96-97, repo_qdrant.ml:132-170).
  */
object VectorFunctions {

  /** Sequential-fold dot product: deterministic order (array order), exact
    * same result every run and engine.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Element-wise sum of an ORDERED array of vectors via a zip_with
    * fold: deterministic addition order (the array's order), so any SQL
    * oracle reproduces the doubles exactly. Empty input -> null.
    */
  def sumVectors(vecs: Column): Column =
    when(size(vecs) === 0, lit(null))
      .otherwise(aggregate(
        slice(vecs, lit(2), size(vecs) - 1),
        element_at(vecs, 1),
        (acc, v) => zip_with(acc, v, (x, y) => x + y)))

  /** Mean-pool chunk embeddings into one document embedding: sort by the
    * order column (so the fold order -- and therefore every low FP bit --
    * is deterministic and SQL-reproducible), element-wise sum, ONE
    * division by the chunk count. The standard chunk->doc embedding
    * aggregation for retrieval over long documents; one shuffle on the
    * doc key.
    */
  def meanPool(df: org.apache.spark.sql.DataFrame, idCol: String,
      vecCol: String, orderCol: String): org.apache.spark.sql.DataFrame = {
    val ordered = array_sort(collect_list(
      struct(col(orderCol).as("o"), col(vecCol).cast("array<double>").as("v"))))
    df.groupBy(col(idCol))
      .agg(ordered.as("__ov"), count(lit(1)).as("n_chunks"))
      .withColumn("doc_embedding",
        transform(
          sumVectors(expr("transform(__ov, s -> s.v)")),
          x => x / col("n_chunks").cast("double")))
      .drop("__ov")
  }

  /** Score normalizer: NaN/inf -> 0, clamp [0,1]
    * (reference hybrid_planner.ml:68-70).
    */
  def normalizeScore(s: Column): Column =
    when(isnan(s) || s === Double.PositiveInfinity || s === Double.NegativeInfinity, 0.0)
      .otherwise(least(greatest(s, lit(0.0)), lit(1.0)))

  /** Random-projection dimensionality reduction (Johnson-Lindenstrauss):
    * out[p] = dot(vec, W[p]) for a fixed projection matrix `weights`
    * (rows = output dims). A pure map-side projection -- the standard
    * pre-step that makes downstream ANN / clustering cheap at corpus
    * scale (e.g. 1536-d -> 64-d cuts every pair-scan 24x). Each
    * component is the same sequential fold as [[dot]], so a SQL oracle
    * recomputing the weights reproduces every double exactly.
    */
  def randomProjection(vec: Column, weights: Seq[Seq[Double]]): Column = {
    val comps = weights.map { w => dot(vec.cast("array<double>"),
      array(w.map(lit): _*)) }
    array(comps: _*)
  }
}
