package graft

import org.apache.spark.sql.functions._
import graft.core.Skew

class SkewSpec extends SparkSpec {

  test("salted aggregate equals plain aggregate on skewed keys") {
    import spark.implicits._
    // 10k rows, 95% on one hot key
    val df = spark.range(10000)
      .withColumn("key", when(col("id") % 20 =!= 0, "hot").otherwise(
        concat(lit("k"), (col("id") % 7).cast("string"))))
      .withColumn("v", (col("id") % 100).cast("long"))
    val plain = df.groupBy("key")
      .agg(count(lit(1)).as("cnt"), sum("v").as("v_sum"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val salted = Skew.saltedAgg(df, Seq("key"), salts = 16,
      Map("v_sum" -> col("v")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(salted == plain)
  }

  test("uniquifier spreads exact-duplicate hot rows across salts") {
    import spark.implicits._
    // 8k EXACT-duplicate rows (one hot group of identical content): without
    // a uniquifier they hash to ONE salt bucket; with a stable row id they
    // spread, and the result is still exact.
    val df = spark.range(8000)
      .select(col("id").as("row_id"), lit("hot").as("key"), lit(7L).as("v"))
    val noUniq = Skew.saltedAgg(df.drop("row_id"), Seq("key"), salts = 16,
      Map("v_sum" -> col("v")))
    val withUniq = Skew.saltedAgg(df, Seq("key"), salts = 16,
      Map("v_sum" -> col("v")), uniquifier = Some("row_id"))
    // both exact...
    assert(noUniq.collect().map(r => (r.getLong(1), r.getLong(2))).toSeq ===
      Seq((8000L, 56000L)))
    assert(withUniq.collect().map(r => (r.getLong(1), r.getLong(2))).toSeq ===
      Seq((8000L, 56000L)))
    // ...but only the uniquified variant spreads: count distinct salts in
    // the partial stage by re-deriving the salt expression
    val salts = df.withColumn("__salt",
      pmod(hash((df.columns.map(col) :+ col("row_id")): _*), lit(16)))
      .select(countDistinct(col("__salt"))).head().getLong(0)
    assert(salts > 1)
  }

  /** (id, key) rows: `hot` ids 1..hot in key "hot", `cold` ids from 1000
    * in key "cold", `nulls` ids from 2000 with a null key.
    */
  private def keyed(hot: Int, cold: Int, nulls: Int) = {
    import spark.implicits._
    ((1L to hot.toLong).map(i => (i, "hot")) ++
      (1000L until 1000L + cold).map(i => (i, "cold")) ++
      (2000L until 2000L + nulls).map(i => (i, null: String)))
      .toDF("id", "key")
  }

  private def hasJoin(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join])

  test("hot-bucket sub-split: the uncapped sentinel submits no Spark job") {
    val df = keyed(hot = 50, cold = 3, nulls = 0)
    val group = "skewspec-uncapped"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "uncapped sub-split")
      val hot = Skew.hotBuckets(df, Seq("key"), Int.MaxValue)
      val out = Skew.withSubBucket(df, Seq("key"), "id", hot)
      org.apache.spark.graftbridge.ListenerBridge.drain(sc)
      assert(hot.isEmpty)
      assert(jobs.get() == 0)
      assert(!hasJoin(out))
      // the control: a finite cap does run the histogram job
      Skew.hotBuckets(df, Seq("key"), 8)
      org.apache.spark.graftbridge.ListenerBridge.drain(sc)
      assert(jobs.get() > 0)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("hot-bucket sub-split: no hot bucket means no join and __sub = 0") {
    val df = keyed(hot = 5, cold = 3, nulls = 2)
    val hot = Skew.hotBuckets(df, Seq("key"), 5)
    assert(hot.isEmpty)
    val out = Skew.withSubBucket(df, Seq("key"), "id", hot)
    assert(!hasJoin(out))
    val subs = out.select("__sub").collect().map(_.getLong(0))
    assert(subs.length == 10 && subs.forall(_ == 0L))
  }

  test("hot-bucket sub-split: a hot row's __sub is the md5 formula, " +
    "below ceil(pop/cap)") {
    val df = keyed(hot = 50, cold = 3, nulls = 0)
    // pop 50 over cap 8 -> ceil(50/8) = 7 sub-buckets; cold stays whole
    val out = Skew.withSubBucket(df, Seq("key"), "id",
      Skew.hotBuckets(df, Seq("key"), 8))
    val rows = out.collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("key"),
        r.getAs[Long]("__sub")))
    assert(rows.length == 53)
    rows.foreach { case (id, key, sub) =>
      if (key == "hot") {
        assert(sub == ReferenceKernels.subBucketOf(id, 7), s"id $id")
        assert(sub >= 0 && sub < 7)
      } else assert(sub == 0L, s"id $id")
    }
    assert(rows.filter(_._2 == "hot").map(_._3).distinct.length > 1)
  }

  test("hot-bucket sub-split: rows with a null key are kept") {
    // the null group (pop 6) is itself over the cap: it still matches no
    // hot bucket, so its rows keep __sub = 0
    val df = keyed(hot = 20, cold = 2, nulls = 6)
    val out = Skew.withSubBucket(df, Seq("key"), "id",
      Skew.hotBuckets(df, Seq("key"), 4))
    val rows = out.collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("key"),
        r.getAs[Long]("__sub")))
    assert(rows.length == 28)
    val nullRows = rows.filter(_._2 == null)
    assert(nullRows.map(_._1).toSet == (2000L until 2006L).toSet)
    assert(nullRows.forall(_._3 == 0L))
  }

  test("executor computeTotal=false skips the count scan") {
    import spark.implicits._
    val files = spark.createDataset(graft.core.Fixtures.all)
    val t = graft.ingest.IngestJob.tables(spark,
      graft.ingest.IngestJob.gamesFromText(spark, files))
    val plan = graft.query.QueryIntent.analyse(
      graft.query.QueryIntent.Request("games", Some(2)))
    val e = graft.query.HybridExecutor.execute(spark,
      graft.query.HybridExecutor.Tables(t.games, t.players, None), plan,
      computeTotal = false)
    assert(e.total == -1L)
    assert(e.results.collect().length == 2)
  }
}
