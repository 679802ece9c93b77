package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation utilities. AQE's skew-join splitting covers joins; for
  * heavily-skewed AGGREGATIONS (one giant group -- e.g. per-opening
  * position counts where one opening dominates a 100 TB corpus) use
  * two-phase salted aggregation: partial-agg on (key, salt) then final
  * agg on key. Works for any algebraic aggregate expressed as
  * (partial, merge) pairs. For candidate SELF-joins whose buckets pile
  * up (LSH bands, simhash chunks, embedding cells) use the hot-bucket
  * sub-split, [[hotBuckets]] + [[withSubBucket]].
  */
object Skew {

  /** Two-phase salted count+sum aggregate.
    *
    * The salt MUST be a deterministic function of row content: a salt built
    * from spark_partition_id()/monotonically_increasing_id()/rand() makes the
    * shuffle map output indeterminate, and on a fetch-failure retry the
    * recomputed map tasks emit different salts than what surviving reducers
    * already consumed — double-counting or losing rows (SPARK-23207 class).
    * We therefore salt by hash(all columns). The one case this cannot spread
    * is a hot group consisting of EXACT-duplicate rows; for that, pass a
    * pre-existing stable uniquifier column (a source row id, file offset,
    * etc.) via `uniquifier` and it is mixed into the salt.
    *
    * @param salts      number of salt buckets the hot keys spread over
    * @param sums       numeric columns to sum (name -> expr)
    * @param uniquifier optional stable per-row id column for spreading
    *                   exact-duplicate hot rows
    */
  def saltedAgg(df: DataFrame, keys: Seq[String], salts: Int,
      sums: Map[String, Column], uniquifier: Option[String] = None): DataFrame = {
    require(salts > 0)
    uniquifier.foreach { u =>
      require(df.columns.contains(u), s"uniquifier column '$u' not in input")
    }
    val saltInputs = df.columns.map(col) ++ uniquifier.map(col)
    val salted = df.withColumn("__salt",
      pmod(hash(saltInputs: _*), lit(salts)))
    val partialAggs =
      count(lit(1)).as("__cnt") +:
        sums.toSeq.map { case (name, c) => sum(c).as(s"__sum_$name") }
    val partial = salted.groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(partialAggs.head, partialAggs.tail: _*)
    val finalAggs =
      sum("__cnt").as("cnt") +:
        sums.keys.toSeq.map(n => sum(s"__sum_$n").as(n))
    partial.groupBy(keys.map(col): _*)
      .agg(finalAggs.head, finalAggs.tail: _*)
  }

  /** The hot buckets of a capped candidate join, or None when the
    * sub-split is a no-op. `counted` is histogrammed on `keys`; a bucket
    * whose population exceeds `cap` comes back as (keys..., __k) with
    * __k = ceil(pop/cap), the number of sub-buckets it splits into.
    *
    * This is the one cap rule of every quadratic candidate generator
    * (minhash bands, simhash chunks, semantic and KNN cells): N
    * near-identical rows (web-scale boilerplate) share one bucket no
    * matter how the keys are chosen, and the within-bucket self-join is
    * O(N^2). Splitting a hot bucket into ceil(pop/cap) md5(id) groups
    * bounds its pair volume by pop*cap -- linear in pop. The recall
    * trade is one-sided: capped candidates are a SUBSET of uncapped
    * ones, and only pairs split across sub-buckets are lost, so a
    * cluster wholly inside one hot bucket may come out as up to
    * ceil(pop/cap) clusters. Hot buckets are exactly the piles whose
    * members are interchangeable. When the cap engages this logs how
    * many buckets split (slf4j "graft.core.Skew"), so a measurement
    * consumer can see the approximation; when none does the output is
    * EXACTLY the uncapped output.
    *
    * `cap = Int.MaxValue` is the uncapped sentinel: None, and no job.
    * Otherwise this is EAGER: the hot-only histogram (bounded:
    * post-aggregation, over-cap buckets only, so it broadcasts at any
    * corpus size) is pinned and counted once on the driver before the
    * method returns, and the count decides whether any join is needed.
    * A caller whose `counted` subtree is expensive and also feeds the
    * keyed side pins it first ([[Caches.scoped]]).
    */
  def hotBuckets(counted: DataFrame, keys: Seq[String],
      cap: Int): Option[DataFrame] = {
    require(cap > 0, s"hot-bucket cap must be positive, got $cap")
    if (cap == Int.MaxValue) None
    else {
      // pinned: the driver count below AND the broadcast join both
      // consume it; without the persist a non-empty result pays the
      // histogram aggregation twice
      val hot = Caches.scoped(
        counted.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("__pop"))
          .where(col("__pop") > cap)
          .select(keys.map(col) :+
            ceil(col("__pop").cast("double") / cap).cast("long")
              .as("__k"): _*))
      val nHot = hot.count()
      if (nHot == 0L) None
      else {
        org.slf4j.LoggerFactory.getLogger("graft.core.Skew").warn(
          s"hot-bucket cap engaged: $nHot bucket(s) of " +
            s"(${keys.mkString(", ")}) exceed cap=$cap and sub-split; " +
            "capped pairs are a subset (clusters may split " +
            "ceil(pop/cap) ways)")
        Some(hot)
      }
    }
  }

  /** `df` plus the sub-bucket column `__sub` under the [[hotBuckets]]
    * result `hot`: a row of a hot bucket gets the first 14 hex chars of
    * md5(cast(idCol as string)), read base-16, mod the bucket's __k --
    * deterministic, so a DuckDB oracle re-makes the identical split --
    * and every other row gets 0, as does a row with a null key. A
    * candidate join then matches on (keys, __sub). With no hot bucket
    * there is no join at all. `hot` may come from another frame over
    * the same keys (a KNN join splits both sides by the right side's
    * histogram).
    */
  def withSubBucket(df: DataFrame, keys: Seq[String], idCol: String,
      hot: Option[DataFrame]): DataFrame = hot match {
    case None => df.withColumn("__sub", lit(0L))
    case Some(h) =>
      df.join(broadcast(h), keys, "left")
        .withColumn("__sub",
          when(col("__k").isNull, lit(0L))
            .otherwise(pmod(
              conv(substring(md5(col(idCol).cast("string")), 1, 14),
                16, 10).cast("long"), col("__k"))))
        .drop("__k")
  }
}
