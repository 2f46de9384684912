package graft.engine

import graft.SparkTestSession
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Round-2 storage-layer semantics: deletion vectors (no-rewrite
  * DELETE), metadata-only column renames that survive later inserts,
  * the 1M-row batch guard, the clean-table ordered read that keeps
  * Exchange/Sort out of compat SELECT plans, and group commit of
  * concurrent appends.
  */
class StorageSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val engine = {
    val wh = Files.createTempDirectory("graft-storage-wh").toString
    val e = new Engine(spark, wh)
    e.execute("create database s")
    e
  }

  private def dataFiles(tbl: String): Seq[(String, Long)] = {
    val d = java.nio.file.Paths.get(engine.warehouse, "s", tbl, "data")
    if (!Files.isDirectory(d)) Nil
    else Files.list(d).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => (p.getFileName.toString, Files.getLastModifiedTime(p).toMillis))
      .toSeq.sortBy(_._1)
  }

  private def sparkRead[A](tbl: String)(body: => A): A =
    SparkReads.forced(spark, engine.warehouse, "s", tbl)(body)

  test("delete writes deletion vectors and rewrites no data file") {
    engine.execute("create table s.dv(a int, b double, primary key(a))")
    // several batches = several data files
    for (i <- 1 to 5)
      engine.execute(s"insert into s.dv values($i, $i.5)")
    val before = dataFiles("dv")
    assert(before.length == 5)
    engine.execute("delete from s.dv where a=3")
    // no data file added, removed, or touched
    assert(dataFiles("dv") == before)
    assert(Files.isDirectory(
      java.nio.file.Paths.get(engine.warehouse, "s", "dv", "deletes")))
    val r = engine.execute("select * from s.dv").collect()
    assert(r.map(_.getInt(0)).toSeq == Seq(1, 2, 4, 5))
    // re-insert after the delete: the newer version is visible again
    engine.execute("insert into s.dv values(3, 9.5)")
    assert(engine.execute("select * from s.dv where a=3").collect().toSeq ==
      Seq(Row(3, 9.5)))
  }

  test("time travel before a delete resurrects the rows") {
    engine.execute("create table s.tt(a int, b double, primary key(a))")
    engine.execute("insert into s.tt values(1, 1.5)")
    engine.execute("insert into s.tt values(2, 2.5)")
    val td = engine.catalog.getSchema("s", "tt")
    val beforeDelete = engine.catalog.writeVersion(td)
    engine.execute("delete from s.tt where a=1")
    assert(engine.execute("select * from s.tt").collect().toSeq ==
      Seq(Row(2, 2.5)))
    val asOf = engine.catalog.readTableAsOf(td, beforeDelete)
      .orderBy("a").collect().toSeq
    assert(asOf == Seq(Row(1, 1.5), Row(2, 2.5)))
  }

  test("compact folds deletion vectors away") {
    engine.execute("create table s.cf(a int, b double, primary key(a))")
    for (i <- 1 to 4) engine.execute(s"insert into s.cf values($i, $i.5)")
    engine.execute("delete from s.cf where a=2")
    val td = engine.catalog.getSchema("s", "cf")
    engine.catalog.compact(td)
    assert(!Files.isDirectory(
      java.nio.file.Paths.get(engine.warehouse, "s", "cf", "deletes")))
    assert(engine.execute("select * from s.cf").collect().map(_.getInt(0)).toSeq ==
      Seq(1, 3, 4))
  }

  test("rename column then insert then read keeps all values aligned") {
    engine.execute("create table s.rn(a int, b double, c text, primary key(a))")
    engine.execute("insert into s.rn values(1, 1.5, 'one')")
    engine.execute("alter table s.rn rename column b to bb")
    // this insert lands in a file written AFTER the rename; both files
    // must read back under the same physical mapping
    engine.execute("insert into s.rn values(2, 2.5, 'two')")
    val r = engine.execute("select a, bb, c from s.rn").collect().toSeq
    assert(r == Seq(Row(1, 1.5, "one"), Row(2, 2.5, "two")))
    // delete through the renamed column's table, then read again
    engine.execute("delete from s.rn where a=1")
    assert(engine.execute("select a, bb, c from s.rn").collect().toSeq ==
      Seq(Row(2, 2.5, "two")))
  }

  test("batch insert of 1M+ rows is rejected (seq packing guard)") {
    engine.execute("create table s.big(a int, primary key(a))")
    val td = engine.catalog.getSchema("s", "big")
    val row = Seq[Any](1)
    val rows = Seq.fill(1000000)(row) // shared instance; no real memory
    val e = intercept[OtError](engine.catalog.appendRows(td, rows))
    assert(e.msg.contains("1000000"))
  }

  test("batch insert past the 10 MB byte bound is rejected (FDB analog)") {
    engine.execute("create table s.wide(a int, t text, primary key(a))")
    val td = engine.catalog.getSchema("s", "wide")
    val mb = "x" * 1048576 // 1 MiB of text per row (shared instance)
    val over = (0 until 11).map(i => Seq[Any](i, mb)) // ~11.5 MB estimated
    val e = intercept[OtError](engine.catalog.appendRows(td, over))
    assert(e.msg.contains("-byte batch bound"), e.msg)
    // a batch under the bound (and the reference's own 10k-row OHLCV
    // batches, ~0.7 MB) still flows
    engine.catalog.appendRows(td, (0 until 9).map(i => Seq[Any](i, mb)))
    assert(engine.execute("select a from s.wide").collect().length == 9)
  }

  test("clean-table full scan: no Exchange, no Sort, PK presentation order") {
    import spark.implicits._
    val shuffled = Seq(5, 2, 9, 1, 7, 3, 8, 4, 6, 10)
      .map(i => (i, i * 1.5)).toDF("k", "v")
    engine.importTable("s", "ord", shuffled, Seq("k"))
    sparkRead("ord") {
      val df = engine.execute("select * from s.ord")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("LocalTableScan"), s"not a Spark read:\n$plan")
      assert(!plan.contains("Exchange"), s"plan has Exchange:\n$plan")
      assert(!plan.toLowerCase.contains("sortexec") && !plan.contains("Sort "),
        s"plan has Sort:\n$plan")
      assert(df.collect().map(_.getInt(0)).toSeq == (1 to 10))
      // reverse presentation via negative limit, still no Exchange
      val rev = engine.execute("select * from s.ord limit -3")
      val rplan = rev.queryExecution.executedPlan.toString
      assert(!rplan.contains("LocalTableScan"), s"not a Spark read:\n$rplan")
      assert(!rplan.contains("Exchange"), s"reverse plan has Exchange:\n$rplan")
      assert(rev.collect().map(_.getInt(0)).toSeq == Seq(10, 9, 8))
    }
    // an append dirties the table; results stay correct via the sort path
    engine.execute("insert into s.ord values(0, 0.5)")
    assert(engine.execute("select * from s.ord").collect()
      .map(_.getInt(0)).toSeq == (0 to 10))
  }

  test("a failed batch append commits nothing (staging + atomic rename)") {
    engine.execute("create table s.atom(k int, v double, primary key(k))")
    val td = engine.catalog.getSchema("s", "atom")
    engine.catalog.appendRows(td, Seq(Seq[Any](1, 1.5)))
    val dataDir = java.nio.file.Paths.get(engine.catalog.warehouse, "s",
      "atom", "data")
    def files = java.nio.file.Files.list(dataDir).toArray.map(_.toString)
    val before = files.toSet
    // a bad cell mid-batch: the write must fail WITHOUT publishing a
    // partial part file or leaking the staging file
    intercept[OtError](engine.catalog.appendRows(td,
      Seq(Seq[Any](2, 2.5), Seq[Any](3, new java.util.Date()))))
    assert(files.toSet == before, "failed append must leave no new file")
    assert(engine.execute("select * from s.atom").count() == 1)
  }

  test("ordered read plans O(1) in file count (many-file clean table)") {
    import spark.implicits._
    // import under a high shuffle-partition count -> ~200 range files,
    // the shape a 1000-executor compact produces
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val df = (1 to 2000).map(i => (i, i * 0.5)).toDF("k", "v")
      engine.importTable("s", "many", df, Seq("k"))
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    }
    val dataDir = java.nio.file.Paths.get(engine.catalog.warehouse, "s",
      "many", "data")
    val nFiles = java.nio.file.Files.list(dataDir).filter(
      _.getFileName.toString.endsWith(".parquet")).count()
    assert(nFiles > 100, s"expected many files, got $nFiles")
    sparkRead("many") {
      val out = engine.execute("select * from s.many")
      val plan = out.queryExecution.executedPlan.toString
      // one scan node regardless of file count: no per-file union chain,
      // no Exchange, no Sort
      assert(!plan.contains("LocalTableScan"), s"not a Spark read:\n$plan")
      assert(!plan.contains("Union"), s"plan has per-file Union:\n$plan")
      assert(!plan.contains("Exchange"), s"plan has Exchange:\n$plan")
      assert(plan.linesIterator.size < 12,
        s"plan must stay flat at $nFiles files:\n$plan")
      assert(out.collect().map(_.getInt(0)).toSeq == (1 to 2000))
      // reverse presentation across file boundaries
      assert(engine.execute("select * from s.many limit -5").collect()
        .map(_.getInt(0)).toSeq == Seq(2000, 1999, 1998, 1997, 1996))
      // pushed-down point/range predicates stay exact through the scan
      assert(engine.execute("select v from s.many where k=1234").collect()
        .map(_.getDouble(0)).toSeq == Seq(617.0))
      assert(engine.execute("select k from s.many where k>=1995 and k<1999")
        .collect().map(_.getInt(0)).toSeq == Seq(1995, 1996, 1997, 1998))
    }
  }

  test("nanosecond PK fidelity: ns-distinct keys are distinct rows with exact bounds") {
    engine.execute("create table s.ns(sec int, tm timestamp, px double, primary key(sec, tm))")
    // three rows inside the SAME microsecond (t=5s + 1µs + {250,500,750}ns),
    // inserted via the reference's (sec, nsec) placeholder pairs
    for ((ns, px) <- Seq(250 -> 1.0, 500 -> 2.0, 750 -> 3.0))
      engine.execute("insert into s.ns values(1, ?, ?)",
        Seq(Seq(5L, 1000L + ns), px))
    // all three survive as distinct keys (µs truncation would LWW them
    // into one)
    val all = engine.execute("select * from s.ns where sec=1").collect()
    assert(all.map(_.getDouble(2)).toSeq == Seq(1.0, 2.0, 3.0))
    // ns-exact point get
    assert(engine.execute("select px from s.ns where sec=1 and tm=?",
      Seq(Seq(5L, 1500L))).collect().map(_.getDouble(0)).toSeq == Seq(2.0))
    // ns-exact range bounds: (1250, 1750] keeps the middle and upper
    val r = engine.execute(
      "select px from s.ns where sec=1 and tm>? and tm<=?",
      Seq(Seq(5L, 1250L), Seq(5L, 1750L))).collect()
    assert(r.map(_.getDouble(0)).toSeq == Seq(2.0, 3.0))
    // ns-exact upsert: overwriting the middle key touches only it
    engine.execute("insert into s.ns values(1, ?, ?)",
      Seq(Seq(5L, 1500L), 9.0))
    assert(engine.execute("select * from s.ns where sec=1").collect()
      .map(_.getDouble(2)).toSeq == Seq(1.0, 9.0, 3.0))
    // ns-exact delete removes exactly one of the µs-colliding keys
    engine.execute("delete from s.ns where sec=1 and tm=?",
      Seq(Seq(5L, 1500L)))
    assert(engine.execute("select * from s.ns where sec=1").collect()
      .map(_.getDouble(2)).toSeq == Seq(1.0, 3.0))
    // reverse presentation order respects the sub-µs ordering
    assert(engine.execute("select * from s.ns where sec=1 limit -2")
      .collect().map(_.getDouble(2)).toSeq == Seq(3.0, 1.0))
  }

  test("randomized op sequences match a model (LWW + DV + rename + compact)") {
    val rnd = new scala.util.Random(42)
    engine.execute("create table s.prop(k int, v double, w text, primary key(k))")
    var model = Map.empty[Int, (Double, String)]
    var colV = "v"
    var renameIdx = 0
    var snapshot: Option[(Long, Map[Int, (Double, String)])] = None
    def tdNow = engine.catalog.getSchema("s", "prop")
    for (step <- 1 to 40) {
      rnd.nextInt(10) match {
        case n if n <= 5 => // upsert (whole-row replace)
          val k = rnd.nextInt(8)
          val v = rnd.nextInt(100) / 2.0
          val w = "s" + rnd.nextInt(5)
          engine.execute(s"insert into s.prop(k, $colV, w) values($k, $v, '$w')")
          model += k -> (v, w)
        case 6 | 7 => // point or range delete (deletion vectors)
          if (rnd.nextBoolean()) {
            val k = rnd.nextInt(8)
            engine.execute(s"delete from s.prop where k=$k")
            model -= k
          } else {
            val lo = rnd.nextInt(8)
            val hi = lo + rnd.nextInt(4)
            engine.execute(s"delete from s.prop where k>=$lo and k<=$hi")
            model = model.filter { case (k, _) => k < lo || k > hi }
          }
        case 8 => // metadata-only column rename
          val nn = s"v$renameIdx"; renameIdx += 1
          engine.execute(s"alter table s.prop rename column $colV to $nn")
          colV = nn
        case 9 =>
          engine.catalog.compact(tdNow)
      }
      if (step == 20)
        snapshot = Some((engine.catalog.writeVersion(tdNow), model))
      if (step % 4 == 0 || step == 40) {
        val got = engine.execute("select * from s.prop").collect()
          .map(r => r.getInt(0) -> (r.getDouble(1), r.getString(2))).toMap
        assert(got == model, s"step $step: $got != $model")
      }
    }
    // time travel back to the mid-sequence snapshot (unless a later
    // compact folded history away — compaction keeps only the present)
    snapshot.foreach { case (ver, snap) =>
      val stillHasLog = engine.catalog.writeVersion(tdNow) > ver
      if (stillHasLog) {
        val got = engine.catalog.readTableAsOf(tdNow, ver).collect()
          .map(r => r.getInt(0) -> (r.getDouble(1), r.getString(2))).toMap
        // a compact between snapshot and now rewrites history at the
        // current state; only assert when the data dir still holds the
        // original seq range (detectable: asOf returns the snapshot)
        if (got.nonEmpty || snap.isEmpty) assert(got == snap || got == model,
          s"asOf($ver): $got matches neither snapshot nor present")
      }
    }
  }

  test("adj projection is codegen-native: no ScalaUDF in the plan") {
    engine.execute("insert into s._adj_ values(1, 3, 0.5, 2)")
    engine.execute("create table s.bar(a int, b timestamp, c double, primary key(a, b))")
    for (b <- Seq(0, 2, 4))
      engine.execute(s"insert into s.bar values(1, $b, 1.0)")
    val (plan, got) = sparkRead("bar") {
      val df = engine.execute("select b, adj(c) from s.bar where a=1")
      (df.queryExecution.executedPlan.toString, df.collect().map(r =>
        (r.getTimestamp(0).toInstant.getEpochSecond, r.getDouble(1))).toSeq)
    }
    assert(!plan.contains("LocalTableScan"), s"not a Spark read:\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEval"),
      s"plan has a UDF node:\n$plan")
    assert(got == Seq((0L, 0.5), (2L, 0.5), (4L, 1.0)))
  }

  /** Park the table's commit lock, queue one append per batch from its
    * own thread (each thread starts once the previous append is queued,
    * so arrival order is the batch order), release the lock, and return
    * each call's failure, if any.
    */
  private def parkedAppends(td: TableDef,
      batches: Seq[Seq[Seq[Any]]]): Seq[Option[Throwable]] = {
    val failures = Array.fill[Option[Throwable]](batches.length)(None)
    val threads = engine.catalog.withCommitLock(td.dbName, td.tblName) {
      batches.zipWithIndex.map { case (rows, j) =>
        val t = new Thread(() =>
          try engine.catalog.appendRows(td, rows)
          catch { case e: Throwable => failures(j) = Some(e) })
        t.start()
        while (engine.catalog.queuedAppends(td) < j + 1 && t.isAlive)
          Thread.onSpinWait()
        assert(engine.catalog.queuedAppends(td) == j + 1)
        t
      }
    }
    threads.foreach(_.join())
    failures.toSeq
  }

  private def appendFiles(tbl: String): Seq[Path] = {
    val d = java.nio.file.Paths.get(engine.warehouse, "s", tbl, "data")
    if (!Files.isDirectory(d)) Nil
    else Files.list(d).iterator.asScala
      .filter(_.getFileName.toString.startsWith("part-append")).toSeq
  }

  test("group commit: appends queued on the commit lock land as one file and one seq") {
    engine.execute("create table s.gc(k int, v double, primary key(k))")
    val td = engine.catalog.getSchema("s", "gc")
    val failures = parkedAppends(td, Seq(
      Seq(Seq[Any](1, 1.0)), Seq(Seq[Any](2, 2.0)),
      Seq(Seq[Any](1, 3.0)), Seq(Seq[Any](3, 4.0))))
    assert(failures.forall(_.isEmpty), failures)
    val files = appendFiles("gc")
    assert(files.length == 1, files)
    val file = spark.read.parquet(files.head.toString)
    assert(file.count() == 4)
    assert(file.select("__seq").collect().map(_.getLong(0) / 1000000L)
      .distinct.length == 1)
    assert(engine.catalog.writeVersion(td) == 1)
    // the later arrival wins last-write-wins for the shared key 1
    assert(engine.execute("select * from s.gc").collect().toSeq ==
      Seq(Row(1, 3.0), Row(2, 2.0), Row(3, 4.0)))
  }

  test("group commit splits at the 1M-row and byte bounds") {
    engine.execute("create table s.gcrows(k int, primary key(k))")
    val rowsTd = engine.catalog.getSchema("s", "gcrows")
    val half = Seq.fill(500000)(Seq[Any](1)) // shared row instance
    assert(parkedAppends(rowsTd, Seq(half, half)).forall(_.isEmpty))
    // 500k + 500k reaches the 1M cap: two commits
    assert(appendFiles("gcrows").length == 2)
    assert(engine.catalog.writeVersion(rowsTd) == 2)

    engine.execute("create table s.gcbytes(k int, t text, primary key(k))")
    val bytesTd = engine.catalog.getSchema("s", "gcbytes")
    val mb = "x" * 1048576
    def batch(from: Int, n: Int) = (from until from + n).map(i => Seq[Any](i, mb))
    // ~6.3 MB + ~3.1 MB fit under the 10 MB bound; the next ~6.3 MB does not
    assert(parkedAppends(bytesTd,
      Seq(batch(0, 6), batch(6, 3), batch(9, 6))).forall(_.isEmpty))
    val perFile = appendFiles("gcbytes")
      .map(f => spark.read.parquet(f.toString).count()).sorted
    assert(perFile == Seq(6L, 9L))
    assert(engine.execute("select k from s.gcbytes").collect().length == 15)
  }

  test("a failed group write fails every member and leaves no file") {
    engine.execute("create table s.gcfail(k int, v double, primary key(k))")
    val td = engine.catalog.getSchema("s", "gcfail")
    val failures = parkedAppends(td, Seq(
      Seq(Seq[Any](1, 1.0)),
      Seq(Seq[Any](2, new java.util.Date())), // no parquet mapping
      Seq(Seq[Any](3, 3.0))))
    assert(failures.forall(_.exists(_.isInstanceOf[OtError])), failures)
    val dataDir = java.nio.file.Paths.get(engine.warehouse, "s", "gcfail", "data")
    val left = if (!Files.isDirectory(dataDir)) Nil
      else Files.list(dataDir).iterator.asScala.map(_.getFileName.toString).toSeq
    assert(left.isEmpty, s"no part or .inprogress staging file may remain: $left")
    // the next commit still lands
    engine.execute("insert into s.gcfail values(4, 4.0)")
    assert(engine.execute("select * from s.gcfail").collect().toSeq ==
      Seq(Row(4, 4.0)))
  }

  test("DROP TABLE while 4 threads insert leaves no table and no stray directory") {
    engine.execute("create table s.racing(k int, v double, primary key(k))")
    val td = engine.catalog.getSchema("s", "racing")
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // each insert is bound before the DROP and commits after it: the
    // commit lock is parked until the DROP (which re-enters it on this
    // thread) has run
    engine.catalog.withCommitLock("s", "racing") {
      val threads = (0 until 4).map { t =>
        val th = new Thread(() =>
          try engine.execute(s"insert into s.racing values($t, 1.0)")
          catch { case e: Throwable => failures.add(e) })
        th.start()
        th
      }
      while (engine.catalog.queuedAppends(td) < 4 && threads.forall(_.isAlive))
        Thread.onSpinWait()
      assert(engine.catalog.queuedAppends(td) == 4)
      engine.execute("drop table s.racing")
      threads
    }.foreach(_.join())
    assert(failures.size == 4)
    failures.asScala.foreach { e =>
      assert(e.isInstanceOf[OtError] &&
        e.getMessage.contains("s.racing does not exists"), e)
    }
    assert(!engine.catalog.hasTable("s", "racing"))
    assert(!Files.exists(java.nio.file.Paths.get(engine.warehouse, "s", "racing")))
  }

  /** Two inserts and a full DELETE bound to `s.tbl` wait on its commit
    * lock while the table is dropped and re-created as `recreate`, and an
    * insert of `fresh` commits into the new table before they run: the
    * stale statements fail, and a SELECT returns `rows`. */
  private def staleInsertsAcrossRecreate(tbl: String, recreate: String,
      fresh: String, rows: Seq[Row]): Unit = {
    engine.execute(s"create table s.$tbl(k int, v double, primary key(k))")
    val td = engine.catalog.getSchema("s", tbl)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def run(sql: String): Thread = {
      val th = new Thread(() =>
        try engine.execute(sql) catch { case e: Throwable => failures.add(e) })
      th.start()
      th
    }
    engine.catalog.withCommitLock("s", tbl) {
      val stale = (0 until 2).map(t => run(s"insert into s.$tbl values($t, 1.0)"))
      while (engine.catalog.queuedAppends(td) < 2 && stale.forall(_.isAlive))
        Thread.onSpinWait()
      assert(engine.catalog.queuedAppends(td) == 2)
      // the DELETE has resolved the old table once it waits on the lock
      val delete = run(s"delete from s.$tbl")
      val deadline = System.nanoTime() + 60L * 1000000000L
      def parked = delete.getState == Thread.State.WAITING &&
        delete.getStackTrace.exists(_.getMethodName == "withCommitLock")
      while (!parked && System.nanoTime() < deadline) Thread.onSpinWait()
      assert(parked)
      engine.execute(s"drop table s.$tbl")
      engine.execute(s"create table s.$tbl$recreate")
      // this thread holds the lock, so its insert commits now: the two
      // stale inserts queued ahead of it fail as one group first
      engine.execute(s"insert into s.$tbl values$fresh")
      stale :+ delete
    }.foreach(_.join())
    assert(failures.size == 3, failures)
    failures.asScala.foreach { e =>
      assert(e.isInstanceOf[OtError] &&
        e.getMessage.contains(s"s.$tbl does not exists"), e)
    }
    assert(engine.execute(s"select * from s.$tbl").collect().toSeq == rows)
  }

  test("inserts bound before DROP fail alone when the table is re-created in another shape") {
    staleInsertsAcrossRecreate("reborn", "(k text, n int, w bigint, primary key(k))",
      "('a', 1, 2)", Seq(Row("a", 1, 2L)))
  }

  test("inserts bound before DROP fail alone when the table is re-created in the same shape") {
    staleInsertsAcrossRecreate("reborn_same", "(k int, v double, primary key(k))",
      "(7, 2.0)", Seq(Row(7, 2.0)))
  }

  test("a schema.json written before incarnations reads as incarnation 0 and takes commits") {
    engine.execute("create table s.legacy(k int, v double, primary key(k))")
    Files.write(java.nio.file.Paths.get(engine.warehouse, "s", "legacy", "schema.json"),
      """{"cols":[["k","INT"],["v","DOUBLE"]],"keys":["k"]}""".getBytes("UTF-8"))
    val reopened = new Engine(spark, engine.warehouse)
    assert(reopened.catalog.getSchema("s", "legacy").incarnation == 0)
    reopened.execute("insert into s.legacy values(1, 1.5)")
    assert(reopened.execute("select * from s.legacy").collect().toSeq == Seq(Row(1, 1.5)))
  }

  test("a clean-table read beside a commit returns one row per key") {
    import spark.implicits._
    engine.importTable("s", "cleanrace",
      (1 to 4).map(i => (i, i * 1.0)).toDF("k", "v"), Seq("k"))
    val td = engine.catalog.getSchema("s", "cleanrace")
    def all = engine.execute("select * from s.cleanrace").collect().toSeq
    // a rewrite of an imported key queued on the parked commit lock: the
    // SELECT before the release sees the import, the one after the rewrite
    val insert = new Thread(() =>
      engine.execute("insert into s.cleanrace values(3, 30.0)"))
    engine.catalog.withCommitLock("s", "cleanrace") {
      insert.start()
      while (engine.catalog.queuedAppends(td) < 1 && insert.isAlive)
        Thread.onSpinWait()
      assert(all == (1 to 4).map(i => Row(i, i * 1.0)))
    }
    insert.join()
    assert(all == Seq(Row(1, 1.0), Row(2, 2.0), Row(3, 30.0), Row(4, 4.0)))
    // a commit that lands between the clean check and the end of the
    // file listing sends the read down the LWW path
    engine.catalog.compact(td)
    assert(engine.catalog.whileClean(td)("listed").contains("listed"))
    assert(engine.catalog.whileClean(td) {
      engine.catalog.appendRows(td, Seq(Seq[Any](2, 20.0)))
      "listed"
    }.isEmpty)
    assert(all == Seq(Row(1, 1.0), Row(2, 20.0), Row(3, 30.0), Row(4, 4.0)))
  }

  test("an adjusted SELECT after an acked _adj_ insert sees the new factor") {
    engine.execute("create database sa")
    engine.execute("create table sa.bar(a int, b timestamp, c double, primary key(a, b))")
    for (b <- Seq(0, 4)) engine.execute(s"insert into sa.bar values(1, $b, 1.0)")
    def adjusted = engine.execute("select b, adj(c) from sa.bar where a=1")
      .collect().map(_.getDouble(1)).toSeq
    val adjTd = engine.catalog.getSchema("sa", "_adj_")
    val insert = new Thread(() =>
      engine.execute("insert into sa._adj_ values(1, 3, 0.5, 2)"))
    engine.catalog.withCommitLock("sa", "_adj_") {
      insert.start()
      while (engine.catalog.queuedAppends(adjTd) < 1 && insert.isAlive)
        Thread.onSpinWait()
      // resolved between the insert's bind and its commit: caches the
      // factors as they were before it
      assert(adjusted == Seq(1.0, 1.0))
    }
    insert.join() // the insert is acked
    assert(adjusted == Seq(0.5, 1.0))
  }

  test("an adjusted SELECT after an _adj_ append made around the engine sees the new factor") {
    engine.execute("create database sb")
    engine.execute("create table sb.bar(a int, b timestamp, c double, primary key(a, b))")
    for (b <- Seq(0, 4)) engine.execute(s"insert into sb.bar values(1, $b, 1.0)")
    def adjusted = engine.execute("select b, adj(c) from sb.bar where a=1")
      .collect().map(_.getDouble(1)).toSeq
    assert(adjusted == Seq(1.0, 1.0)) // caches the factors
    engine.catalog.appendRows(engine.catalog.getSchema("sb", "_adj_"),
      Seq(Seq[Any](1, java.time.Instant.ofEpochSecond(3), 0.5, 2.0)))
    assert(adjusted == Seq(0.5, 1.0))
  }
}

/** The SELECT read on the calling thread (`Catalog.readTableLocal`)
  * against the Spark reads it stands in for: same rows in the same
  * order on every SELECT shape, the 10,000-row fallback, and no Spark
  * job where none is needed.
  */
class LocalReadSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val engine = {
    val wh = Files.createTempDirectory("graft-local-wh").toString
    val e = new Engine(spark, wh)
    e.execute("create database lr")
    e
  }

  /** Rows (ns companions kept) and Spark jobs of one wire SELECT. */
  private def select(sql: String, args: Seq[Any]): (Seq[Row], Int) =
    SparkJobs.count(spark)(
      engine.executeWireNs(sql, args, None, "lr").collect().toSeq)

  /** `sql` at default settings (the local read for a small table) and
    * with the split size below the table's size (the Spark ordered or
    * dirty read): both must return the same rows in the same order.
    * Returns the rows and the jobs of each run.
    */
  private def bothPaths(tbl: String, sql: String,
      args: Seq[Any] = Nil): (Seq[Row], Int, Int) = {
    val (local, localJobs) = select(sql, args)
    val (viaSpark, sparkJobs) =
      SparkReads.forced(spark, engine.warehouse, "lr", tbl)(select(sql, args))
    assert(local == viaSpark, s"$sql: local $local != spark $viaSpark")
    assert(sparkJobs > 0, s"$sql: the lowered split must force a Spark read")
    (local, localJobs, sparkJobs)
  }

  private def ts(us: Long, ns: Int): Seq[Long] = Seq(5L, us * 1000L + ns)

  test("local and Spark reads agree on every SELECT shape") {
    engine.execute("create table lr.d(sec int, tm timestamp, px double, primary key(sec, tm))")
    val ins = "insert into lr.d values(?, ?, ?)"
    // three appends: keys inside one µs differ by ns remainder only, and
    // the later appends rewrite earlier keys
    engine.batchInsert(ins, for (sec <- 1 to 3; us <- 0 until 4; ns <- Seq(0, 250, 500))
      yield Seq[Any](sec, ts(us, ns), sec * 100.0 + us * 10 + ns / 250))
    engine.batchInsert(ins, Seq(Seq[Any](2, ts(1, 250), -1.0), Seq[Any](2, ts(3, 0), -2.0)))
    engine.execute(ins, Seq(2, ts(1, 250), -3.0))
    val shapes = Seq(
      "select * from lr.d where sec=2 and tm=?" -> Seq(ts(1, 250)),
      "select * from lr.d where sec=2" -> Nil,
      "select px from lr.d where sec=2 and tm>=? and tm<?" -> Seq(ts(1, 250), ts(3, 0)),
      "select px from lr.d where sec=2 and tm>? and tm<=?" -> Seq(ts(1, 250), ts(3, 0)),
      "select * from lr.d where sec=2 limit -4" -> Nil,
      "select * from lr.d limit -5" -> Nil,
      "select * from lr.d" -> Nil)
    for ((sql, args) <- shapes) {
      val (rows, localJobs, _) = bothPaths("d", sql, args)
      assert(rows.nonEmpty, sql)
      assert(localJobs == 0, s"$sql: a local read starts no Spark job")
    }
    val (point, _, _) = bothPaths("d", shapes.head._1, shapes.head._2)
    assert(point == Seq(Row(2, java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(5L, 1000L)), -3.0, 250)))
    val (rev, _, _) = bothPaths("d", "select px from lr.d where sec=2 limit -3")
    assert(rev.map(_.getDouble(0)) == Seq(232.0, 231.0, -2.0))

    // a clean (imported) table: the Spark side is the ordered scan
    import spark.implicits._
    engine.importTable("lr", "c", (1 to 50).map(i => (i % 5, i, i * 0.5))
      .toDF("a", "b", "v"), Seq("a", "b"))
    for (sql <- Seq("select * from lr.c where a=3", "select v from lr.c where a=2 and b>12 and b<=37",
        "select * from lr.c limit -7")) {
      val (rows, localJobs, _) = bothPaths("c", sql)
      assert(rows.nonEmpty && localJobs == 0, sql)
    }

    // deletion vectors: both runs take the masking Spark read
    engine.execute("create table lr.dv(k int, v double, primary key(k))")
    for (k <- 1 to 6) engine.execute(s"insert into lr.dv values($k, $k.5)")
    engine.execute("delete from lr.dv where k>=2 and k<4")
    engine.execute("insert into lr.dv values(3, 9.5)")
    val (dv, dvJobs, _) = bothPaths("dv", "select * from lr.dv")
    assert(dv.map(_.getInt(0)) == Seq(1, 3, 4, 5, 6))
    assert(dvJobs > 0)

    // an adjusted column: factors apply the same on both paths
    engine.execute("insert into lr._adj_ values(2, ?, 0.5, 2)", Seq(ts(2, 0)))
    val adjSql = "select tm, adj(px) from lr.d where sec=2"
    engine.execute(adjSql) // loads and caches the factors (a Spark job)
    val (adj, adjJobs, _) = bothPaths("d", adjSql)
    assert(adjJobs == 0)
    assert(adj.map(_.getDouble(1)).take(3) == Seq(100.0, 100.5, 101.0))
  }

  test("a read matching more than 10,000 rows falls back to Spark, all rows in PK order") {
    engine.execute("create table lr.big(k int, v bigint, primary key(k))")
    val ins = "insert into lr.big values(?, ?)"
    engine.batchInsert(ins, (0 until 12000).reverse.map(k => Seq[Any](k, k.toLong)))
    engine.batchInsert(ins, Seq(Seq[Any](7, -7L), Seq[Any](11999, -1L)))
    // unfiltered (declined on the footers' row counts) and filtered
    // (declined once the 10,001st matching row version is read)
    for (sql <- Seq("select * from lr.big", "select * from lr.big where k>=0")) {
      val (rows, jobs) = select(sql, Nil)
      assert(jobs > 0, s"$sql: more than MaxHeldRows rows take the Spark read")
      assert(rows.map(_.getInt(0)) == (0 until 12000))
      assert(rows(7).getLong(1) == -7L && rows(11999).getLong(1) == -1L)
    }
    // a range of the same table under the bound stays local
    val (range, rangeJobs) = select("select * from lr.big where k>=5 and k<10", Nil)
    assert(rangeJobs == 0)
    assert(range.map(_.getLong(1)) == Seq(5L, 6L, -7L, 8L, 9L))
  }

  test("Spark reads of a dirty table know the file schema: building the read starts no job") {
    engine.execute("create table lr.ks(k int, tm timestamp, v double, primary key(k, tm))")
    for (k <- 1 to 3) engine.execute(s"insert into lr.ks values($k, $k, $k.5)")
    engine.execute("delete from lr.ks where k=2")
    val td = engine.catalog.getSchema("lr", "ks")
    val (df, jobs) = SparkJobs.count(spark)(engine.catalog.readTableKeepNs(td))
    assert(jobs == 0, "no schema-inference job for data or deletion vectors")
    assert(df.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 3))
  }

  test("a local scan stopped by a throw closes the file it was reading") {
    import graft.plans.OrderedParquetScan
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", IntegerType),
      StructField("v", DoubleType)))
    val f = Files.createTempDirectory("graft-scan").resolve("part-0.parquet")
    LocalParquet.write(f, schema,
      (1 to 100).iterator.map(k => Array[Any](k, k * 0.5)))
    val files = Seq(OrderedParquetScan.FileMeta(f.toString, Files.size(f)))
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.UnixOperatingSystemMXBean]
    val before = os.getOpenFileDescriptorCount
    // outside a task no completion listener closes a reader: a leak
    // would hold one descriptor per scan
    for (_ <- 1 to 200) intercept[IllegalStateException] {
      OrderedParquetScan.scanLocal(spark, files, schema, Nil) { _ =>
        throw new IllegalStateException("visit failed")
      }
    }
    val after = os.getOpenFileDescriptorCount
    assert(after - before < 100, s"open descriptors $before -> $after")
  }
}
