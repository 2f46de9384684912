package graft

import org.apache.spark.sql.SparkSession

/** The local Spark session of the library's mains ([[Bench]], [[Verify]],
  * [[Probe]]): `local[n]` with `n` shuffle partitions, UTC, UI off, WARN
  * logging, then [[Tables.configure]]. `n` is `SPARK_GRAFT_CPUS` when it is
  * set, else the JVM's available processors.
  */
object Sessions {
  def local(): SparkSession = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.configure(spark)
  }
}
