package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Stage-artifact commit protocol shared by the operational runners
  * (DedupApp / CurateApp / PipelineApp).
  *
  * A parquet directory from a run killed mid-write can still have a
  * readable schema (the first task commits its part file before the job
  * finishes), so "schema reads" is NOT "stage complete". The only signal
  * the Hadoop committer gives that the JOB (not just a task) committed is
  * the `_SUCCESS` marker it writes last — so resume gates on that marker,
  * and a partially-written directory is rebuilt, not silently reused.
  */
object StageIo {

  /** True iff `path` holds a fully committed write: the `_SUCCESS`
    * marker exists (goes through the Hadoop FileSystem of the path's
    * scheme, so the check is the same on local disk, HDFS, or S3A).
    */
  def committed(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    try p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    catch { case _: Throwable => false }
  }

  /** Build-or-reuse stage `name` under `outDir`: reuse only when
    * resuming AND the marker says the previous write committed;
    * otherwise (re)build with mode=overwrite, which clears any partial
    * directory first. Prints the stage's wall time as
    * `[<app>] stage <name> <secs> s`, so a runner's log says which
    * stage the time went to (perfbench cuts its stage spans on this
    * line).
    */
  def stage(spark: SparkSession, app: String, outDir: String,
      name: String, resume: Boolean)(build: => DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    val path = s"$outDir/$name"
    if (!(resume && committed(spark, path)))
      build.write.mode("overwrite").parquet(path)
    val out = spark.read.parquet(path)
    println(
      f"[$app] stage $name%-10s ${(System.nanoTime() - t0) / 1e9}%.1f s")
    out
  }
}
