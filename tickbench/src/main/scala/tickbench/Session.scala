package tickbench

import org.apache.spark.sql.SparkSession

/** The one place that sets up Spark for every JVM of the benchmark: the
  * settings `graft.Bench` and the Tier-1 tests use (`local[nproc]`,
  * `nproc` shuffle partitions, UTC, UI off), then `Tables.configure`.
  */
object Session {
  def settings: Seq[(String, String)] = Seq(
    "spark.master" -> s"local[${Host.nproc}]",
    "spark.sql.shuffle.partitions" -> Host.nproc.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def create(workDir: String): SparkSession = {
    val b = SparkSession.builder().appName("tickbench")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
    settings.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.configure(spark)
    spark
  }

  /** Session settings and JVM heap, for the run's context record. */
  def context: Seq[(String, Any)] =
    settings.map { case (k, v) => k -> v } ++ Seq(
      "nproc" -> Host.nproc,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024))
}
