package graft.engine

import graft.SparkTestSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.control.NonFatal

/** Latches the tasks of a job that fills every task slot wait on. Tasks
  * of a local master run in this JVM, so they see this object.
  */
private object SlotGate {
  @volatile var running = new CountDownLatch(0)
  @volatile var release = new CountDownLatch(0)
}

/** Statements on different tables and connections run side by side:
  * DDL serializes in the catalog, and nothing else waits on another
  * table's work. Every wait is on an event or a latch and is bounded.
  */
class ConcurrencySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val engine =
    new Engine(spark, Files.createTempDirectory("graft-conc-wh").toString)

  private def withPool[A](n: Int)(body: ExecutionContext => A): A = {
    val pool = Executors.newFixedThreadPool(n)
    try body(ExecutionContext.fromExecutorService(pool))
    finally pool.shutdownNow()
  }

  test("concurrent DDL on one name: one table per CREATE IF NOT EXISTS race, a DROP/re-create race ends in the new shape") {
    val e = engine
    withPool(8) { implicit ec =>
      // round 1: eight connections create the same db and table, then
      // each inserts a row bound to the table it saw
      val go = new CountDownLatch(1)
      val round1 = (0 until 8).map { i =>
        Future {
          go.await()
          e.execute("create database if not exists cd")
          e.execute("create table if not exists cd.t(k int, v double, primary key(k))")
          e.execute(s"insert into cd.t values($i, $i.5)")
        }
      }
      go.countDown()
      round1.foreach(Await.result(_, 60.seconds))
      // the cached table is the one in schema.json, as a catalog opened
      // afresh on the warehouse reads it
      val td = e.catalog.getSchema("cd", "t")
      assert(td.incarnation != 0)
      assert(new Catalog(spark, e.warehouse).getSchema("cd", "t") == td)
      assert(e.execute("select * from cd.t").collect().toSeq ==
        (0 until 8).map(i => Row(i, i + 0.5)))

      // round 2: four connections each drop the table and re-create it in
      // another shape while four others read it (filling schema-cache
      // misses); every connection's last DDL is a re-create
      val go2 = new CountDownLatch(1)
      val ddlDone = new CountDownLatch(4)
      val ddl = (0 until 4).map { _ =>
        Future {
          go2.await()
          try {
            try e.execute("drop table cd.t")
            catch { case x: OtError if x.msg == "Table cd.t does not exists" => }
            e.execute("create table if not exists cd.t(k text, n bigint, primary key(k))")
          } finally ddlDone.countDown()
        }
      }
      val readers = (0 until 4).map { _ =>
        Future {
          go2.await()
          while (ddlDone.getCount > 0)
            try e.execute("select * from cd.t").collect()
            catch { case NonFatal(_) => } // a read racing DDL may fail
        }
      }
      go2.countDown()
      (ddl ++ readers).foreach(Await.result(_, 60.seconds))
      assert(e.catalog.getSchema("cd", "t").cols.map(_.tpe) ==
        Seq(OtType.Text, OtType.BigInt))
      e.execute("insert into cd.t values('x', 1)")
      assert(e.execute("select * from cd.t").collect().toSeq == Seq(Row("x", 1L)))
    }
  }

  test("no global lock: a point get and an insert complete beside a parked table function and a parked DELETE") {
    val e = engine
    val sc = spark.sparkContext
    e.execute("create database nl")
    e.execute("create table nl.docs(id int, txt text, primary key(id))")
    val words = (1 to 20).map(i => s"w$i").mkString(" ")
    e.batchInsert("insert into nl.docs values(?, ?)", Seq(
      Seq(1, words), Seq(2, words + " wx"), Seq(3, "alpha beta gamma delta")))
    e.execute("create table nl.del(k int, v double, primary key(k))")
    e.batchInsert("insert into nl.del values(?, ?)", Seq(Seq[Any](1, 1.0), Seq[Any](2, 2.0)))
    e.execute("create table nl.tick(k int, v double, primary key(k))")
    e.execute("insert into nl.tick values(1, 1.0)")
    val tfnSql = "select * from dedup_components('nl.docs', 'id', 'txt', 0.5)"
    val components = e.execute(tfnSql).collect().toSeq
    assert(components.map(_.toSeq.map(_.toString)) ==
      Seq(Seq("1", "1"), Seq("2", "1")))

    val slots = sc.defaultParallelism
    SlotGate.running = new CountDownLatch(slots)
    SlotGate.release = new CountDownLatch(1)
    val tfnJob = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == "tfn"))
          tfnJob.countDown()
    }
    sc.addSparkListener(listener)
    try withPool(4) { implicit ec =>
      val blocker = Future {
        sc.parallelize(1 to slots, slots).foreach { _ =>
          SlotGate.running.countDown()
          SlotGate.release.await()
        }
      }
      assert(SlotGate.running.await(60, TimeUnit.SECONDS), "slots never filled")
      val tfn = Future {
        sc.setJobGroup("tfn", "tfn")
        try e.execute(tfnSql).collect().toSeq finally sc.clearJobGroup()
      }
      assert(tfnJob.await(60, TimeUnit.SECONDS), "table function job never submitted")
      val (del, delThread) = e.catalog.withCommitLock("nl", "del") {
        val started = new java.util.concurrent.LinkedBlockingQueue[Thread]()
        val del = Future {
          started.add(Thread.currentThread())
          e.execute("delete from nl.del where k=1")
        }
        val delThread = started.poll(60, TimeUnit.SECONDS)
        // the point get and the insert on a third table run no Spark job
        // (local read, LocalParquet write), so no task slot is needed
        val gets = Future {
          val got = e.execute("select * from nl.tick where k=1").collect().toSeq
          e.execute("insert into nl.tick values(2, 2.0)")
          got ++ e.execute("select * from nl.tick where k=2").collect().toSeq
        }
        assert(Await.result(gets, 30.seconds) == Seq(Row(1, 1.0), Row(2, 2.0)))
        // the DELETE is still parked on the commit lock this thread holds
        val deadline = System.nanoTime() + 60L * 1000000000L
        def parked = delThread.getState == Thread.State.WAITING &&
          delThread.getStackTrace.exists(_.getMethodName == "withCommitLock")
        while (!parked && System.nanoTime() < deadline) Thread.onSpinWait()
        assert(parked && !del.isCompleted && !tfn.isCompleted)
        SlotGate.release.countDown()
        (del, delThread)
      }
      assert(delThread != null)
      Await.result(blocker, 60.seconds)
      assert(Await.result(tfn, 120.seconds) == components)
      Await.result(del, 60.seconds)
      assert(e.execute("select * from nl.del").collect().toSeq == Seq(Row(2, 2.0)))
    } finally {
      SlotGate.release.countDown()
      sc.removeSparkListener(listener)
    }
  }
}
