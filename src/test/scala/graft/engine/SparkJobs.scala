package graft.engine

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Counts the Spark jobs a block starts, without sleeping: the block
  * runs under a fresh job group, then a one-task fence job runs under a
  * second group. A listener receives job starts in the order they were
  * posted, so once it has seen the fence every job of the block has been
  * counted.
  */
object SparkJobs {
  private val seq = new AtomicInteger

  def count[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val n = seq.incrementAndGet()
    val group = s"counted-$n"
    val fence = s"fence-$n"
    val started = new AtomicInteger
    val fenceSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => started.incrementAndGet()
          case Some(`fence`) => fenceSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(fence, fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenceSeen.await(120, TimeUnit.SECONDS), "fence job never seen")
      (out, started.get)
    } finally sc.removeSparkListener(listener)
  }
}

/** Runs a block with `spark.sql.files.maxPartitionBytes` one byte below
  * the size of a table's parquet data files, restoring the setting
  * after. The local SELECT read only takes tables that fit one scan
  * split, so the block's SELECTs of that table take a Spark read instead
  * (`Catalog.readTableOrdered` or `Catalog.readTableOrderedDirty`).
  */
object SparkReads {
  def forced[A](spark: SparkSession, warehouse: String, db: String,
      tbl: String)(body: => A): A = {
    val key = "spark.sql.files.maxPartitionBytes"
    val d = java.nio.file.Paths.get(warehouse, db, tbl, "data")
    // parquet files only: the Spark writer leaves .crc sidecars beside them
    val bytes = java.nio.file.Files.list(d).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(java.nio.file.Files.size).sum
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, (bytes - 1).toString)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
