package graft

import org.apache.spark.sql.functions._
import graft.functions.CosineSimilarity

class CosineExprSpec extends SparkSpec {

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("codegen expression matches HOF and UDF cosine bit-for-bit") {
    val q = emb.where("vec_id = 3")
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val rows = emb.select(col("vec_id"),
      ReferenceKernels.cosineToQuery(col("embedding"), q).as("hof"),
      ReferenceKernels.cosineToQueryFast(col("embedding"), q).as("udf"),
      CosineSimilarity(col("embedding"), typedLit(q)).as("native"))
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(3),
        s"hof != native for ${r.getLong(0)}")
      assert(r.getDouble(2) == r.getDouble(3),
        s"udf != native for ${r.getLong(0)}")
    }
  }

  test("edge semantics: zero norm -> 0.0; identical -> 1.0; mismatch defined") {
    import spark.implicits._
    val df = Seq(
      (1, Seq(0.0, 0.0), Seq(1.0, 2.0)),
      (2, Seq(1.0, 1.0), Seq(1.0, 1.0)),
      (3, Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("id", "a", "b")
    val out = df.select(col("id"),
      CosineSimilarity(col("a"), col("b")).as("native")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(out(1) == 0.0)
    assert(math.abs(out(2) - 1.0) < 1e-15)
    // mismatch: common-prefix dot over full-array norms (documented;
    // the HOF form returns null here -- real vectors never mismatch).
    assert(math.abs(out(3) - 5.0 / (math.sqrt(14.0) * math.sqrt(5.0))) < 1e-15)
  }

  test("expression participates in whole-stage codegen ('*(n)' spans)") {
    val q = Seq.fill(8)(0.1)
    val plan = emb.select(
      CosineSimilarity(col("embedding"), typedLit(q)).as("c"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"no codegen span in:\n$plan")
  }
}
