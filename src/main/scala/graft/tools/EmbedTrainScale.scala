package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llmops.LearnedEmbeddings
import graft.core.GraftSession

/** Learned-embedding training at replicated scale: replicate the sf
  * documents corpus (replica r appends variant token v<r%10>, so vocab
  * and co-occurrence mass shift with the replica mix rather than being
  * a pure count multiplier), then train PPMI term embeddings and embed
  * every document. Reports per-stage wall, rows, shuffle read/write and
  * spill, plus machine-checked invariants:
  *  - every emitted term has exactly `dims` rows (no partial vectors);
  *  - term rows <= vocabSize*dims (the vocab cut bounds the model);
  *  - pair stream size == sum over docs of per-token window degree
  *    (the generator emits exactly min(i+w,n)-max(i-w,1) pairs per
  *    position -- nothing dropped, nothing duplicated);
  *  - doc embeddings are length-`dims` and cover every doc containing
  *    >= 1 vocab token with a surviving PPMI row.
  *
  * The sf documents corpus has only ~31 distinct tokens, so replicas
  * alone would never engage the vocab cut. Each replica therefore
  * appends THREE hashed variant tokens drawn from a `variantMod`-sized
  * synthetic vocabulary (v0..v<variantMod-1>), putting real pressure on
  * the top-V selection, the broadcast vocab join, and the model's
  * (token, dim) cardinality.
  *
  * Usage: runMain graft.tools.EmbedTrainScale [sfDir] [replicas]
  *   [variantMod] [vocabSize] [window] [dims]
  * Default: sf0.1 x 37 ~= 10M tokens, 20k variant vocab cut to 10k,
  * window 5, dims 64.
  */
object EmbedTrainScale {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val replicas = if (args.length > 1) args(1).toInt else 37
    val variantMod = if (args.length > 2) args(2).toInt else 20000
    val vocabSize = if (args.length > 3) args(3).toInt else 10000
    val window = if (args.length > 4) args(4).toInt else 5
    val dims = if (args.length > 5) args(5).toInt else 64
    val spark = GraftSession.bench("graft-embed-train-scale")
    val root = TempDirs.create("embed_scale")

    val counters = new StageCounters(spark.sparkContext)

    def timed[A](name: String)(body: => (A, Long)): A = {
      counters.begin(name)
      val t0 = System.nanoTime()
      val (a, n) = body
      val secs = (System.nanoTime() - t0) / 1e9
      counters.drain()
      println(f"[embed] $name%-12s $secs%7.1f s -> $n%,14d rows  " +
        counters.summary(name))
      a
    }

    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val docs = base
      .withColumn("r", explode(sequence(lit(0), lit(replicas - 1))))
      .withColumn("rid", col("doc_id") * replicas + col("r"))
      .select(col("rid").as("doc_id"),
        concat(col("text"),
          concat_ws("", transform(sequence(lit(0), lit(2)), k =>
            concat(lit(" v"),
              pmod(col("rid") * 2654435761L + k * 40503L,
                lit(variantMod.toLong)).cast("string")))))
          .as("text"))

    val t0 = System.nanoTime()
    val (nDocs, nTokens) = timed("tokenize") {
      val row = docs
        .select(count(lit(1)).as("d"),
          sum(size(graft.functions.TextFunctions.tokens(col("text"))))
            .as("t"))
        .head()
      ((row.getLong(0), row.getLong(1)), row.getLong(0))
    }
    println(f"[embed] corpus: $nDocs%,d docs, $nTokens%,d tokens " +
      f"(variant vocab $variantMod, cut $vocabSize, window $window, " +
      f"dims $dims)")

    // pair-stream size + the exact window-degree invariant
    val nPairs = timed("pairs") {
      val n = LearnedEmbeddings.skipGramPairs(docs, "text", window)
        .count()
      (n, n)
    }
    val expectedPairs = docs
      .select(graft.functions.TextFunctions.tokens(col("text")).as("tk"))
      .select(aggregate(transform(sequence(lit(1), size(col("tk"))), i =>
        least(size(col("tk")), i + window) -
          greatest(lit(1), i - window)),
        lit(0L), (acc, x) => acc + x).as("deg"))
      .agg(sum("deg")).head().getLong(0)
    require(nPairs == expectedPairs,
      s"pair generator emitted $nPairs, window degree sum $expectedPairs")

    val termEmb = timed("train") {
      val path = s"$root/term_emb"
      LearnedEmbeddings.termEmbeddings(docs, "text", vocabSize, window,
        dims).write.mode("overwrite").parquet(path)
      val out = spark.read.parquet(path)
      (out, out.count())
    }
    val termRows = termEmb.count()
    val badTerms = termEmb.groupBy("token")
      .agg(count(lit(1)).as("n"))
      .where(col("n") =!= dims).count()
    require(badTerms == 0, s"$badTerms terms with partial vectors")
    require(termRows <= vocabSize.toLong * dims,
      s"$termRows term rows exceeds vocab*dims bound")

    val docEmb = timed("embed_docs") {
      val path = s"$root/doc_emb"
      LearnedEmbeddings.docEmbeddings(docs, "doc_id", "text", termEmb)
        .write.mode("overwrite").parquet(path)
      val out = spark.read.parquet(path)
      (out, out.count())
    }
    val badDocs = docEmb.where(size(col("embedding")) =!= dims).count()
    require(badDocs == 0, s"$badDocs docs with wrong embedding length")
    val nDocEmb = docEmb.count()

    val total = (System.nanoTime() - t0) / 1e9
    println(f"[embed] TOTAL $total%.1f s  " +
      f"(${nTokens / total}%,.0f tokens/s end-to-end, " +
      f"${termRows / dims}%,d trained terms, $nDocEmb%,d doc vectors)")
    println("[embed] invariants: pair-degree exact, vectors complete, " +
      "vocab bound held")
    spark.stop()
  }
}
