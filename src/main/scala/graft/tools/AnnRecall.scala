package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.llmops.Ann
import graft.core.GraftSession

/** Measure ANN recall@k vs brute force on the embeddings table: the
  * cell-probe variants trade recall for scan reduction; this prints the
  * actual numbers (recorded in BASELINE.md).
  *
  *   runMain graft.tools.AnnRecall [sfDir] [k] [nQueries] [corpus]
  *
  * corpus selects the vector distribution:
  *   table           (default) the sfDir embeddings.parquet — ISOTROPIC
  *                   synthetic vectors, the WORST CASE for every
  *                   cell-probe method (no density structure to find)
  *   clustered[:C]   deterministic mixture of C centroids (default 32)
  *                   at the same scale/dims as the sf0.1 table — the
  *                   shape real text/image embeddings have, where
  *                   trained-centroid IVF recovers the generating
  *                   clusters and nearest neighbors co-locate
  */
object AnnRecall {

  /** Deterministic mixture-of-centroids corpus: cluster c's centroid is
    * a fixed-seed Gaussian direction; members add N(0, sigma^2) noise
    * per dim (sigma=0.15 vs unit-ish centroids keeps intra-cluster
    * cosine well above inter-cluster). Same (vec_id, embedding) schema
    * as the parquet table; fully reproducible (seeded by id), no
    * wall-clock or global RNG state.
    */
  def clusteredCorpus(spark: SparkSession, n: Int, dims: Int,
      clusters: Int): org.apache.spark.sql.DataFrame = {
    val cents = Array.tabulate(clusters) { c =>
      val r = new scala.util.Random(1000L + c)
      Array.fill(dims)(r.nextGaussian())
    }
    val rows = (0 until n).map { id =>
      val c = id % clusters
      val r = new scala.util.Random(7000L + id)
      val v = Array.tabulate(dims)(d =>
        (cents(c)(d) + 0.15 * r.nextGaussian()).toFloat)
      (id.toLong, v.toSeq)
    }
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  def main(args: Array[String]): Unit = {
    val sf = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val k = if (args.length > 1) args(1).toInt else 10
    val nQ = if (args.length > 2) args(2).toInt else 20
    val corpus = if (args.length > 3) args(3) else "table"
    val spark = GraftSession.bench("graft-ann-recall",
      "spark.sql.shuffle.partitions" -> "32")

    val emb = (corpus match {
      case "table" => spark.read.parquet(s"$sf/embeddings.parquet")
      case s if s.startsWith("clustered") =>
        val c = s.split(':') match {
          case Array(_, cc) => cc.toInt
          case _ => 32
        }
        // match the sf0.1 table's scale and dims so rows are comparable
        val ref = spark.read.parquet(s"$sf/embeddings.parquet")
        val dims = ref.selectExpr("size(embedding)").head().getInt(0)
        val nRows = ref.count().toInt
        println(s"[recall] corpus = clustered mixture: $nRows x $dims-d, " +
          s"$c centroids, sigma=0.15")
        clusteredCorpus(spark, nRows, dims, c)
      case other => sys.error(s"unknown corpus mode: $other")
    }).cache()
    val n = emb.count()
    val queries = emb.orderBy("vec_id").limit(nQ)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))

    def recall(name: String,
        search: Seq[Double] => org.apache.spark.sql.DataFrame,
        scanned: Seq[Double] => Long): Unit = {
      var hit = 0
      var total = 0
      var scanSum = 0L
      queries.foreach { case (_, q) =>
        val exact = Ann.bruteForceTopK(emb, "vec_id", "embedding", q, k)
          .collect().map(_.getLong(0)).toSet
        val approx = search(q).collect().map(_.getLong(0)).toSet
        hit += (exact intersect approx).size
        total += exact.size
        scanSum += scanned(q)
      }
      println(f"[recall] $name%-28s recall@$k = ${hit.toDouble / total}%.3f" +
        f"  avg scanned = ${scanSum / queries.length}%d / $n rows")
    }

    // trained-centroid IVF: cells follow the data density (the scale
    // path; sign/hyperplane variants below are the data-oblivious floor)
    Seq((16, 2), (16, 4), (32, 4), (32, 8)).foreach { case (cells, probes) =>
      val cents = Ann.trainCentroids(emb, "embedding", cells)
      val celled = Ann.withIvfCentroidCell(emb, "embedding", cents).cache()
      recall(s"ivf-centroid($cells cells, $probes probes)",
        q => Ann.ivfCentroidTopK(emb, "vec_id", "embedding", q, k, cents,
          probes),
        q => {
          val qn = q.toArray
          val order = cents.indices.map { c =>
            var s = 0.0; var i = 0
            var nq = 0.0
            while (i < qn.length) { nq += qn(i) * qn(i); i += 1 }
            i = 0
            while (i < qn.length) { s += qn(i) / math.sqrt(nq) * cents(c)(i); i += 1 }
            (c, s)
          }.sortBy(-_._2).map(_._1).take(probes)
          celled.where(col("cell").isin(order: _*)).count()
        })
      celled.unpersist()
    }

    // PQ+ADC: full code scan (compression path, not a row-pruning path);
    // "scanned" reports the exact-rerank candidate count
    Seq((8, 32, 50), (8, 32, 100)).foreach { case (m, kk, rerank) =>
      val model = graft.llmops.Pq.train(emb, "embedding", m, kk)
      val enc = graft.llmops.Pq.encode(emb, "embedding", model).cache()
      enc.count()
      recall(s"pq(m=$m,k=$kk)+rerank $rerank",
        q => graft.llmops.Pq.adcTopK(enc, "vec_id", "embedding", model, q,
          k, rerank),
        _ => rerank.toLong)
      enc.unpersist()
    }

    // IVF x PQ composition at EQUAL scan fraction vs IVF alone
    // (16 cells / 4 probes = 1/4 of the table): the ADC stage reads codes
    // instead of floats within the probed cells, exact rerank on the
    // over-fetched candidates. "scanned" reports probed CODE rows; the
    // float reads are only the rerank candidates.
    {
      val model = graft.llmops.Pq.train(emb, "embedding", 8, 32)
      val cents = Ann.trainCentroids(emb, "embedding", 16)
      val both = graft.llmops.Pq.encode(
        Ann.withIvfCentroidCell(emb, "embedding", cents),
        "embedding", model).cache()
      both.count()
      Seq(50, 100).foreach { rerank =>
        recall(s"ivf(16c,4p) x pq(8,32)+rr $rerank",
          q => graft.llmops.Pq.ivfAdcTopK(both, "vec_id", "embedding",
            model, cents, q, k, probes = 4, rerank = rerank),
          q => both.where(col("cell")
            .isin(Ann.probeCells(q, cents, 4): _*)).count())
      }
      both.unpersist()
    }

    // SQ8: full scan of 1-byte/dim codes (compression path like PQ, but
    // no codebook); "scanned" reports the exact-rerank candidate count.
    // The int code dot approximates the raw DOT product, so for this
    // cosine workload the vectors are L2-NORMALIZED before quantization
    // (magnitude variation otherwise dominates the candidate order).
    {
      val vNorm = transform(col("embedding").cast("array<double>"), x =>
        x / sqrt(aggregate(
          transform(col("embedding").cast("array<double>"), y => y * y),
          lit(0.0), (a, b) => a + b)))
      val normed = emb.select(col("vec_id"), col("embedding"),
        vNorm.as("emb_n")).cache()
      normed.count()
      val model = graft.llmops.Pq.sq8Train(normed, "emb_n")
      Seq(50, 100).foreach { rerank =>
        recall(s"sq8(normalized)+rerank $rerank",
          q => {
            val qa = q.toArray
            var s = 0.0; var i = 0
            while (i < qa.length) { s += qa(i) * qa(i); i += 1 }
            val qn = if (s == 0) q else qa.map(_ / math.sqrt(s)).toSeq
            graft.llmops.Pq.sq8TopK(normed, "vec_id", "emb_n", qn,
              model, k, rerank)
          },
          _ => rerank.toLong)
      }
      normed.unpersist()
    }

    // IVF x SQ8 AT REST (the 100 TB serving composition): codes written
    // cell-partitioned parquet, probe PRUNES partitions, integer
    // candidate scan over 1-byte/dim codes, exact rerank joins back to
    // the float vectors. "scanned" reports probed CODE rows (the float
    // reads are only the rerank candidates). raw = the oracle-gated
    // configuration (llm_ivf_sq8_atrest); normalized = the recommended
    // quality configuration (quantize L2-normalized vectors).
    {
      val dir = TempDirs.create("annrecall_ivf_sq8")
      val cents = Ann.trainCentroids(emb, "embedding", 16)
      val mRaw = graft.llmops.Pq.sq8Train(emb, "embedding")
      graft.llmops.Pq.writeIvfSq8AtRest(emb, "vec_id", "embedding",
        cents, mRaw, s"$dir/raw")
      def scannedCodes(q: Seq[Double]): Long =
        spark.read.parquet(s"$dir/raw")
          .where(col("cell").isin(Ann.probeCells(q, cents, 4): _*)).count()
      Seq(100, 200).foreach { rerank =>
        recall(s"ivf(16c,4p) x sq8(raw)+rr $rerank",
          q => graft.llmops.Pq.ivfSq8TopKAtRest(spark, s"$dir/raw", emb,
            "vec_id", "embedding", q, mRaw, cents, k, probes = 4, rerank),
          scannedCodes)
      }
      val vNorm2 = transform(col("embedding").cast("array<double>"), x =>
        x / sqrt(aggregate(
          transform(col("embedding").cast("array<double>"), y => y * y),
          lit(0.0), (a, b) => a + b)))
      val normed2 = emb.select(col("vec_id"), vNorm2.as("emb_n")).cache()
      normed2.count()
      val mN = graft.llmops.Pq.sq8Train(normed2, "emb_n")
      graft.llmops.Pq.writeIvfSq8AtRest(normed2, "vec_id", "emb_n",
        cents, mN, s"$dir/norm")
      Seq(100, 200).foreach { rerank =>
        recall(s"ivf(16c,4p) x sq8(norm)+rr $rerank",
          q => {
            val qa = q.toArray
            var s = 0.0; var i = 0
            while (i < qa.length) { s += qa(i) * qa(i); i += 1 }
            val qn = if (s == 0) q else qa.map(_ / math.sqrt(s)).toSeq
            graft.llmops.Pq.ivfSq8TopKAtRest(spark, s"$dir/norm", normed2,
              "vec_id", "emb_n", qn, mN, cents, k, probes = 4, rerank)
          },
          scannedCodes)
      }
      normed2.unpersist()
    }

    // RP filter-and-refine: full scan of the PROJECTED vectors (planes
    // mults/row instead of dims -- the compression path, like PQ);
    // "scanned" reports the exact-rerank candidate count.
    Seq((8, 50), (8, 100), (16, 100)).foreach { case (planes, rerank) =>
      recall(s"rp(planes=$planes)+rerank $rerank",
        q => Ann.rpTopK(emb, "vec_id", "embedding", q, k, planes,
          rerank),
        _ => rerank.toLong)
    }

    recall("ivf(bits=3, probes=2)",
      q => Ann.ivfTopK(emb, "vec_id", "embedding", q, k, bits = 3, probes = 2),
      q => n / 8 * 2)
    recall("ivf(bits=6, probes=1)",
      q => Ann.ivfTopK(emb, "vec_id", "embedding", q, k, bits = 6),
      q => Ann.withCell(emb, "embedding", 6)
        .where(col("cell") === Ann.cellOf(q, 6)).count())
    recall("ivf(bits=6, probes=4)",
      q => Ann.ivfTopK(emb, "vec_id", "embedding", q, k, bits = 6, probes = 4),
      q => n / 64 * 4)
    recall("hyperplane(12 planes, 4 probes)",
      q => Ann.hyperplaneTopK(emb, "vec_id", "embedding", q, k,
        planes = 12, probes = 4),
      q => n / 4096 * 4)
    recall("hyperplane(8 planes, 8 probes)",
      q => Ann.hyperplaneTopK(emb, "vec_id", "embedding", q, k,
        planes = 8, probes = 8),
      q => n / 256 * 8)
    recall("hyperplane(4 planes, 4 probes)",
      q => Ann.hyperplaneTopK(emb, "vec_id", "embedding", q, k,
        planes = 4, probes = 4),
      q => n / 16 * 4)
    spark.stop()
  }
}
