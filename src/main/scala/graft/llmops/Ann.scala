package graft.llmops

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two tiers:
  *   - bruteForceTopK: exact scored scan + TakeOrderedAndProject. At any
  *     scale this is one pass over the vectors table, no shuffle beyond
  *     the final tiny top-k merge -- the right baseline, and what the
  *     reference effectively does via Qdrant (repo_qdrant.ml:132-170).
  *   - ivfTopK: sign-bit coarse quantization (IVF-style cells). The table
  *     is bucketed once by cell; a query probes its own cell (+ optional
  *     neighbor cells), scanning ~n/2^bits rows. Trades recall for a
  *     2^bits scan reduction; recall of the probe set is exact.
  */
object Ann {

  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.CosineSimilarity(col(vecCol),
        org.apache.spark.sql.functions.typedLit(query)).as("score"))
      .orderBy(desc("score"), col("id"))
      .limit(k)

  /** Recall of an approximate top-k against the exact one: one row
    * (hits, k_exact) where hits = |approx ∩ exact| by id -- recall@k is
    * hits/k_exact. This is the tuning primitive for every approximate
    * tier (probes / scan fraction / code size vs recall): measure, don't
    * guess. Both inputs are k-row frames, so the semi join is trivially
    * broadcast; the call composes with any (exact, approx) pair from
    * [[bruteForceTopK]] / [[ivfCentroidTopK]] / [[rpTopK]] / PQ tiers.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame,
      idCol: String = "id"): DataFrame = {
    val hits = exact.select(col(idCol))
      .join(broadcast(approx.select(col(idCol))), Seq(idCol), "left_semi")
      .agg(count(lit(1)).as("hits"))
    val kx = exact.agg(count(lit(1)).as("k_exact"))
    hits.crossJoin(broadcast(kx))
  }

  /** Sign-bit cell id over the first `bits` dimensions. */
  def cellOf(query: Seq[Double], bits: Int): String =
    query.take(bits).map(x => if (x >= 0) '1' else '0').mkString

  def withCell(df: DataFrame, vecCol: String, bits: Int): DataFrame =
    df.withColumn("cell",
      concat((0 until bits).map(i =>
        when(element_at(col(vecCol).cast("array<double>"), i + 1) >= 0, "1")
          .otherwise("0")): _*))

  /** Probe the query's cell (exact scan within the cell). `probes` > 1
    * additionally probes cells at hamming distance 1 in sign-bit order
    * until the probe budget is exhausted (multi-probe LSH).
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, bits: Int = 8, probes: Int = 1): DataFrame = {
    val cell0 = cellOf(query, bits)
    val cells = (cell0 +: (0 until bits).map { i =>
      val flipped = cell0.updated(i, if (cell0(i) == '1') '0' else '1')
      flipped
    }).take(math.max(1, probes))
    withCell(df, vecCol, bits)
      .where(col("cell").isin(cells: _*))
      .select(col(idCol).as("id"),
        graft.functions.CosineSimilarity(col(vecCol),
        org.apache.spark.sql.functions.typedLit(query)).as("score"))
      .orderBy(desc("score"), col("id"))
      .limit(k)
  }

  // --- random-hyperplane LSH (the general cell function) --------------
  // Sign-of-leading-dims cells (above) are cheap but axis-aligned;
  // md5-derived random hyperplanes give rotation-invariant cells whose
  // collision probability is the standard 1 - theta/pi per bit. Planes
  // are deterministic from (seed, plane, dim) -- reproducible across
  // runs and engines, no RNG state to ship.

  /** Hyperplane weight in [-1, 1): derived from md5("seed:plane:dim"). */
  def planeWeight(seed: Int, plane: Int, dim: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(s"$seed:$plane:$dim".getBytes("UTF-8"))
    val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    (v % 2000L).toDouble / 1000.0 - 1.0
  }

  def hyperplaneCellOf(vec: Seq[Double], planes: Int, seed: Int = 42): String =
    (0 until planes).map { p =>
      var dot = 0.0
      var i = 0
      while (i < vec.length) { dot += vec(i) * planeWeight(seed, p, i); i += 1 }
      if (dot >= 0) '1' else '0'
    }.mkString

  /** Per-executor memo of the plane-weight matrix: planeWeight is an md5
    * per (plane, dim) -- recomputing it per ROW would put planes*dims
    * md5 calls in the scan hot path. Weights are deterministic from
    * (seed, plane, dim), so a benign racy rebuild is identical.
    */
  private final class PlaneWeights(planes: Int, seed: Int)
      extends Serializable {
    @transient @volatile private var table: Array[Array[Double]] = _
    def get(dims: Int): Array[Array[Double]] = {
      var t = table
      if (t == null || t.length == 0 || t(0).length < dims) {
        t = Array.tabulate(planes, dims)((p, d) => planeWeight(seed, p, d))
        table = t
      }
      t
    }
  }

  /** Attach a hyperplane LSH cell column (null for a null vector). The
    * weight matrix is materialized once per executor (lazily, at the
    * observed dim count) -- the per-row work is just planes*dims
    * multiply-adds.
    */
  def withHyperplaneCell(df: DataFrame, vecCol: String, planes: Int,
      seed: Int = 42): DataFrame = {
    val weights = new PlaneWeights(planes, seed)
    val f = udf { (v: Seq[Double]) =>
      if (v == null) null
      else {
        val w = weights.get(v.length)
        val arr = v.toArray
        val sb = new StringBuilder(planes)
        var p = 0
        while (p < planes) {
          val wp = w(p)
          var dot = 0.0
          var i = 0
          while (i < arr.length) { dot += arr(i) * wp(i); i += 1 }
          sb.append(if (dot >= 0) '1' else '0')
          p += 1
        }
        sb.toString
      }
    }
    df.withColumn("cell", f(col(vecCol).cast("array<double>")))
  }

  /** ANN via hyperplane cells: probe the query's cell plus the `probes-1`
    * nearest cells by flipping the lowest-|dot| bits (standard
    * multi-probe order).
    */
  def hyperplaneTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, planes: Int = 12, probes: Int = 4,
      seed: Int = 42): DataFrame = {
    val dots = (0 until planes).map { p =>
      var dot = 0.0
      var i = 0
      while (i < query.length) {
        dot += query(i) * planeWeight(seed, p, i); i += 1
      }
      (p, dot)
    }
    val cell0 = dots.map { case (_, d) => if (d >= 0) '1' else '0' }.mkString
    // flip bits in order of |dot| ascending (most uncertain planes first)
    val flipOrder = dots.sortBy { case (_, d) => math.abs(d) }.map(_._1)
    val cells = (cell0 +: flipOrder.map { p =>
      cell0.updated(p, if (cell0(p) == '1') '0' else '1')
    }).distinct.take(math.max(1, probes))
    withHyperplaneCell(df, vecCol, planes, seed)
      .where(col("cell").isin(cells: _*))
      .select(col(idCol).as("id"),
        graft.functions.CosineSimilarity(col(vecCol),
          org.apache.spark.sql.functions.typedLit(query)).as("score"))
      .orderBy(desc("score"), col("id"))
      .limit(k)
  }

  // --- IVF with data-derived centroids --------------------------------
  // Sign-bit and hyperplane cells are data-oblivious: on near-isotropic
  // embeddings their recall/scan tradeoff is poor (measured in
  // BASELINE.md). Real IVF trains centroids on the data itself, so cells
  // follow the actual density. Scale shape: train on a bounded
  // deterministic sample driver-side (at 100 TB: ~1M sampled rows,
  // k-means on the driver, centroids broadcast in the UDF closure),
  // assign cells in ONE scan, write partitioned-by-cell
  // (writePartitionedByCell); each query probes the `probes` nearest
  // cells only via partition pruning (ivfCentroidTopKAtRest).

  private[llmops] def l2normalize(v: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0) v else v.map(_ / n)
  }

  private[llmops] def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Deterministic Lloyd k-means over an in-memory sample (cosine/dot
    * metric on pre-normalized inputs); shared by centroid-IVF and PQ
    * subspace training.
    */
  private[llmops] def lloyd(sample: Array[Array[Double]], nCells: Int,
      iters: Int): Array[Array[Double]] = {
    require(sample.nonEmpty)
    val cents = scala.collection.mutable.ArrayBuffer[Array[Double]](sample(0))
    while (cents.length < math.min(nCells, sample.length)) {
      var best = -1; var bestD = Double.MaxValue
      var i = 0
      while (i < sample.length) {
        var near = Double.MinValue
        var c = 0
        while (c < cents.length) {
          val d = dot(sample(i), cents(c)); if (d > near) near = d; c += 1
        }
        if (near < bestD) { bestD = near; best = i }
        i += 1
      }
      cents += sample(best)
    }
    var centroids = cents.toArray
    var it = 0
    while (it < iters) {
      val sums = Array.fill(centroids.length)(
        new Array[Double](sample(0).length))
      val counts = new Array[Int](centroids.length)
      var i = 0
      while (i < sample.length) {
        var bc = 0; var bd = Double.MinValue; var c = 0
        while (c < centroids.length) {
          val d = dot(sample(i), centroids(c))
          if (d > bd) { bd = d; bc = c }
          c += 1
        }
        var j = 0
        while (j < sample(i).length) { sums(bc)(j) += sample(i)(j); j += 1 }
        counts(bc) += 1
        i += 1
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c) else l2normalize(sums(c))
      }.toArray
      it += 1
    }
    centroids
  }

  /** Deterministic k-means (cosine metric) over a hash-sampled subset.
    * Sampling filters on pmod(hash(vec), stride)==0 -- deterministic
    * under any partitioning/retry, unlike df.sample. Initialization is a
    * greedy k-means++-style farthest-first over the sample; `iters` Lloyd
    * rounds follow. Empty cells keep their previous centroid.
    */
  /** Deterministic hash-mod sample of normalized vectors (survives
    * retries/partitioning, unlike df.sample). When the hash-mod filter
    * passes more than sampleCap rows, the cut is made on sorted
    * (hash, vector) order -- NOT a bare limit, whose row choice would
    * depend on partition order and make trained centroids vary across
    * data layouts.
    */
  private[llmops] def hashSample(df: DataFrame, vecCol: String,
      sampleCap: Int): Array[Array[Double]] = {
    val total = df.count()
    val stride = math.max(1L, total / math.max(1, sampleCap))
    val vec = col(vecCol).cast("array<double>")
    val sample = df
      .where(pmod(hash(vec), lit(stride)) === 0)
      .select(vec.as("v"))
      .orderBy(hash(col("v")).asc, col("v").asc)
      .limit(sampleCap)
      .collect()
      .map(r => l2normalize(r.getSeq[Double](0).toArray))
    require(sample.nonEmpty, "empty training sample")
    sample
  }

  def trainCentroids(df: DataFrame, vecCol: String, nCells: Int,
      iters: Int = 5, sampleCap: Int = 20000): Array[Array[Double]] = {
    require(nCells > 0)
    lloyd(hashSample(df, vecCol, sampleCap), nCells, iters)
  }

  /** Nearest-centroid cell id, null for a null vector (compiled UDF;
    * centroids ride the closure as one broadcast-sized array).
    */
  def withIvfCentroidCell(df: DataFrame, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame = {
    val f = udf { (v: Seq[Double]) =>
      if (v == null) null
      else {
        val x = l2normalize(v.toArray)
        var bc = 0; var bd = Double.MinValue; var c = 0
        while (c < centroids.length) {
          val d = dot(x, centroids(c)); if (d > bd) { bd = d; bc = c }; c += 1
        }
        Int.box(bc)
      }
    }
    df.withColumn("cell", f(col(vecCol).cast("array<double>")))
  }

  /** The `probes` cells nearest the query (descending centroid dot,
    * stable on ties) -- the probe set both the in-memory and at-rest
    * top-k scan.
    */
  def probeCells(query: Seq[Double], centroids: Array[Array[Double]],
      probes: Int): Seq[Int] = {
    val q = l2normalize(query.toArray)
    centroids.indices
      .map(c => (c, dot(q, centroids(c)))).sortBy(-_._2)
      .map(_._1).take(math.max(1, probes))
  }

  /** ANN via trained centroids: probe the `probes` cells nearest the
    * query, exact cosine within the probe set. Returns (id, score).
    */
  def ivfCentroidTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, centroids: Array[Array[Double]],
      probes: Int = 1): DataFrame = {
    val order = probeCells(query, centroids, probes)
    withIvfCentroidCell(df, vecCol, centroids)
      .where(col("cell").isin(order: _*))
      .select(col(idCol).as("id"),
        graft.functions.CosineSimilarity(col(vecCol),
          org.apache.spark.sql.functions.typedLit(query)).as("score"))
      .orderBy(desc("score"), col("id"))
      .limit(k)
  }

  /** ANN via random-projection filter-and-refine: score every vector by
    * cosine in the `planes`-d JL-projected space (a map-side projection
    * -- planes x dims multiply-adds, no shuffle), keep the top `rerank`
    * candidates, then re-score exactly in the original space. At
    * production dims (1536-d -> 16-d) the candidate scan does ~1% of the
    * float math of a brute scan and the exact pass touches only `rerank`
    * rows; both stages end in TakeOrderedAndProject, so nothing wide
    * ever materializes.
    */
  def rpTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, planes: Int = 8, rerank: Int = 50,
      seed: Int = 7): DataFrame = {
    require(rerank >= k)
    val w = (0 until planes).map(p =>
      (0 until query.length).map(d => planeWeight(seed, p, d)))
    // query projected with the same sequential fold as the column side
    val qProj = w.map { row =>
      var s = 0.0
      var i = 0
      while (i < query.length) { s += query(i) * row(i); i += 1 }
      s
    }
    val cand = df
      .select(col(idCol).as("id"), col(vecCol).as("__v"),
        graft.functions.VectorFunctions.randomProjection(col(vecCol), w)
          .as("__p"))
      .withColumn("rp_score",
        graft.functions.CosineSimilarity(col("__p"), typedLit(qProj)))
      .orderBy(desc("rp_score"), col("id"))
      .limit(rerank)
    cand
      .withColumn("score", graft.functions.CosineSimilarity(
        col("__v"), org.apache.spark.sql.functions.typedLit(query)))
      .orderBy(desc("score"), col("id"))
      .limit(k)
      .select("id", "score")
  }

  /** Vectors AT REST, directory-partitioned by trained-centroid cell (no
    * metastore needed, unlike bucketBy): each cell becomes a partition
    * directory, so a probe query's `cell IN (...)` predicate is a
    * PARTITION filter -- Spark lists only the probed directories and
    * never opens the other cells' files. At 100 TB with 4096 cells and
    * 8 probes, a query touches ~0.2% of the files instead of scanning
    * everything (measured at sf0.1 in BASELINE.md; plan dump in
    * tools/PlanCheck shows the PartitionFilters entry).
    */
  def writePartitionedByCell(df: DataFrame, vecCol: String,
      centroids: Array[Array[Double]], path: String): Unit =
    withIvfCentroidCell(df, vecCol, centroids)
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Probe a cell-partitioned vectors table at rest: same semantics as
    * [[ivfCentroidTopK]], but the cell predicate prunes partitions of the
    * written table instead of filtering scanned rows.
    */
  def ivfCentroidTopKAtRest(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, vecCol: String, query: Seq[Double],
      k: Int, centroids: Array[Array[Double]], probes: Int = 1): DataFrame = {
    val order = probeCells(query, centroids, probes)
    spark.read.parquet(path)
      .where(col("cell").isin(order: _*))
      .select(col(idCol).as("id"),
        graft.functions.CosineSimilarity(col(vecCol),
          org.apache.spark.sql.functions.typedLit(query)).as("score"))
      .orderBy(desc("score"), col("id"))
      .limit(k)
  }

  /** All-pairs top-k join: for each left row, the k nearest right rows --
    * brute force within random-hyperplane LSH cells (both sides
    * bucketed), for KNN-graph construction at scale. Hyperplane cells,
    * not sign-of-leading-dims: non-zero-centered embedding models pile
    * most rows into the all-positive sign bucket, degenerating the
    * within-cell join to near-O(n^2); random hyperplanes stay balanced
    * under rotation/offset.
    *
    * `maxCellPop` closes the remaining quadratic hole: N near-identical
    * vectors (web-scale boilerplate) land in ONE cell no matter how many
    * planes. It is the hot-bucket cap ([[graft.core.Skew.hotBuckets]])
    * on the RIGHT side's cells (the candidate pool being searched);
    * both sides sub-split by their own id under that histogram, so
    * per-left candidates are bounded by ~maxCellPop. A hot cell is the
    * near-duplicate pile where any k of the pile are interchangeable
    * neighbors. A null vector gets a null cell and no edge.
    */
  def knnJoin(left: DataFrame, right: DataFrame, idCol: String,
      vecCol: String, k: Int, planes: Int = 8, seed: Int = 42,
      maxCellPop: Int = Int.MaxValue): DataFrame = {
    val l0 = withHyperplaneCell(left, vecCol, planes, seed)
      .select(col(idCol).as("lid"), col(vecCol).cast("array<double>").as("lv"),
        col("cell"))
    val r0 = withHyperplaneCell(right, vecCol, planes, seed)
      .select(col(idCol).as("rid"), col(vecCol).cast("array<double>").as("rv"),
        col("cell"))
    val hot = graft.core.Skew.hotBuckets(r0, Seq("cell"), maxCellPop)
    val l = graft.core.Skew.withSubBucket(l0, Seq("cell"), "lid", hot)
    val r = graft.core.Skew.withSubBucket(r0, Seq("cell"), "rid", hot)
    val scored = l.join(r, Seq("cell", "__sub"))
      .where(col("lid") =!= col("rid"))
      .select(col("lid"), col("rid"), graft.functions.CosineSimilarity(col("lv"), col("rv")).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lid").orderBy(desc("score"), col("rid"))
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k).drop("__rn")
  }

  /** Self-join keying as [[knnJoin]] applies it: (id, cell, __sub) with
    * the sub-split from the frame's own cell histogram -- the
    * ScaleCurve harness derives capped candidate volume from exactly
    * the keys the join would use.
    */
  private[graft] def knnKeyed(df: DataFrame, idCol: String, vecCol: String,
      planes: Int, seed: Int, maxCellPop: Int): DataFrame = {
    val celled = withHyperplaneCell(df, vecCol, planes, seed)
      .select(col(idCol).as("id"), col("cell"))
    graft.core.Skew.withSubBucket(celled, Seq("cell"), "id",
      graft.core.Skew.hotBuckets(celled, Seq("cell"), maxCellPop))
  }
}
