package graft.engine

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** End-to-end wire protocol: DDL/DML/select through the TCP server and
  * async client SDK, prepared statements + batch insert, meta commands,
  * idle-timeout heartbeats keeping a quiet connection alive, and
  * client auto-reconnect replaying session state (SURVEY §2.8 —
  * reference server.go / client/opentick.go).
  */
class ServerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val engine = {
    val wh = Files.createTempDirectory("graft-srv-wh").toString
    new Engine(spark, wh)
  }
  // short idle timeout so heartbeats actually fire during the test
  private lazy val server = new GraftServer(engine, port = 0,
    idleTimeoutMs = 150)
  private lazy val client = new NetClient("127.0.0.1", server.boundPort)

  test("e2e: DDL, insert, prepared batch, select, meta over the wire") {
    client.execute("create database net")
    client.use("net")
    client.execute("create table net.t(sec int, tm timestamp, px double, " +
      "note text, primary key(sec, tm))")
    client.execute("insert into net.t values(1, 10, 1.5, 'a')")
    val pid = client.prepare("insert into net.t values(?, ?, ?, ?)")
    client.batchInsert(pid, Seq(
      Seq(1, 20, 2.5, "b"), Seq(1, 30, 3.5, "c"), Seq(2, 10, 9.0, "d")))
    val rows = client.execute("select * from net.t where sec=1")
    assert(rows.length == 3)
    assert(rows.head == Seq(1L, java.time.Instant.ofEpochSecond(10), 1.5, "a"))
    // prepared select with args
    val sid = client.prepare("select px from net.t where sec=? and tm=?")
    assert(client.executePrepared(sid, Seq(1, 30)) == Seq(Seq(3.5)))
    // async pipelining: several selects in flight at once
    import scala.concurrent.ExecutionContext.Implicits.global
    val futs = (1 to 4).map(_ => client.executeAsync("select * from net.t where sec=1"))
    val all = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futs),
      scala.concurrent.duration.Duration("30s"))
    assert(all.forall(_.length == 3))
    // meta commands
    assert(client.listDatabases().contains("net"))
    assert(client.listTables().contains("t"))
    val sch = client.schema("t")
    assert(sch(0).map(_.head) == Seq("sec", "tm")) // keys
    assert(sch(1).map(_.head) == Seq("px", "note")) // values
  }

  test("error strings travel as failures (reference wording)") {
    val e1 = intercept[OtError](client.execute("select * from net.nope"))
    assert(e1.msg == "Table net.nope does not exists")
    val e2 = intercept[OtError](
      client.batchInsert(999, Seq(Seq(1))))
    assert(e2.msg == "Invalid preparedId 999")
    val e3 = intercept[OtError](client.use("xx"))
    assert(e3.msg == "xx does not exist")
  }

  test("nanosecond round trip over the wire: (sec, nsec) in, (sec, nsec) out") {
    client.execute("create table net.ns(k int, tm timestamp, v double, " +
      "primary key(k, tm))")
    val pid = client.prepare("insert into net.ns values(?, ?, ?)")
    client.batchInsert(pid, Seq(
      Seq(1, Seq(7L, 123L), 1.0), // 7s + 123ns
      Seq(1, Seq(7L, 456L), 2.0))) // same µs, different ns
    val rows = client.execute("select * from net.ns where k=1")
    assert(rows.map(_(1)) == Seq(
      java.time.Instant.ofEpochSecond(7L, 123L),
      java.time.Instant.ofEpochSecond(7L, 456L)))
    // ns-exact point get through the wire
    assert(client.execute("select v from net.ns where k=1 and tm=?",
      Seq(Seq(7L, 456L))) == Seq(Seq(2.0)))
  }

  test("heartbeats keep an idle connection alive across server timeouts") {
    // idle for several multiples of the 150ms server timeout: the server
    // sends 'H', the client answers empty frames, nobody disconnects
    Thread.sleep(800)
    assert(client.execute("select * from net.t where sec=2") ==
      Seq(Seq(2L, java.time.Instant.ofEpochSecond(10), 9.0, "d")))
  }

  test("scatter-gather over the wire: split ranges pipeline and merge clean") {
    client.execute("create table net.sg(a int, b int, v double, " +
      "primary key(a, b))")
    val pid = client.prepare("insert into net.sg values(?, ?, ?)")
    client.batchInsert(pid, (0 until 100).map(i => Seq[Any](1, i, i * 0.5)))
    val single = client.execute(
      "select * from net.sg where a=1 and b>=? and b<=?", Seq(0, 99))
    val parts = Client.splitRange(0L, 99L, 7)
    val gathered = client.executeRanges(
      "select * from net.sg where a=1 and b>=? and b<=?", parts)
    assert(gathered == single, "scatter-gather must equal the single scan")
    assert(gathered.length == 100)
  }

  test("connections are isolated: per-connection used-db and prepared ids") {
    val c2 = new NetClient("127.0.0.1", server.boundPort)
    try {
      client.execute("create database iso1")
      client.execute("create database iso2")
      client.execute("create table iso1.t(k int, primary key(k))")
      client.execute("create table iso2.t(k int, primary key(k))")
      client.use("iso1")
      c2.use("iso2")
      client.execute("insert into t values(1)")
      c2.execute("insert into t values(2)")
      // each connection resolves the unqualified name against ITS db
      assert(client.execute("select * from t where k>=0 and k<=9")
        .map(_.head) == Seq(1))
      assert(c2.execute("select * from t where k>=0 and k<=9")
        .map(_.head) == Seq(2))
      // prepared ids are per-connection: c2's first prepare gets id 0
      // even though `client` has prepared several statements already
      val id2 = c2.prepare("select * from t where k=?")
      assert(id2 == 0)
      assert(c2.executePrepared(id2, Seq(2)).map(_.head) == Seq(2))
    } finally {
      c2.close()
      client.use("net") // restore for the reconnect test below
    }
  }

  test("cached prepared selects resolve the connection's db and keep ns") {
    val srv = new GraftServer(engine, port = 0, cacheTtlMs = 5000)
    val c = new NetClient("127.0.0.1", srv.boundPort)
    try {
      c.execute("create database cch")
      c.use("cch")
      c.execute("create table cch.t(k int, tm timestamp, v double, " +
        "primary key(k, tm))")
      c.execute("insert into cch.t values(1, ?, 2.5)", Seq(Seq(5L, 123L)))
      // UNQUALIFIED table name through the cached path: must resolve
      // against this connection's used db, with full ns timestamps
      val pid = c.prepare("select * from t where k=1")
      val expect = Seq(Seq(1, java.time.Instant.ofEpochSecond(5L, 123L), 2.5))
      val r1 = c.executePrepared(pid, useCache = true)
      assert(r1 == expect)
      // second call served from the response cache, identical payload
      assert(c.executePrepared(pid, useCache = true) == expect)
      // unqualified prepared BATCH also resolves the connection db
      val ins = c.prepare("insert into t values(?, ?, ?)")
      c.batchInsert(ins, Seq(Seq(2, Seq(9L, 7L), 4.5)))
      assert(c.execute("select v from t where k=2").map(_.head) == Seq(4.5))
    } finally { c.close(); srv.stop() }
  }

  test("per-connection request cap: bursts queue instead of spawning") {
    val srv = new GraftServer(engine, port = 0, maxConcurrency = 2)
    val c = new NetClient("127.0.0.1", srv.boundPort)
    try {
      c.execute("create database cap")
      c.use("cap")
      c.execute("create table cap.t(k int, v double, primary key(k))")
      val pid = c.prepare("insert into cap.t values(?, ?)")
      c.batchInsert(pid, (0 until 50).map(i => Seq[Any](i, i * 1.0)))
      // pipeline well past the cap: all must complete (semaphore released)
      // and no more than `maxConcurrency` may ever dispatch at once
      import scala.concurrent.ExecutionContext.Implicits.global
      val futs = (1 to 12).map(_ =>
        c.executeAsync("select * from cap.t where k>=0 and k<=49"))
      val all = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futs),
        scala.concurrent.duration.Duration("60s"))
      assert(all.forall(_.length == 50))
      assert(srv.inflightHighWater.get() <= 2,
        s"in-flight high water ${srv.inflightHighWater.get()} exceeded cap 2")
    } finally { c.close(); srv.stop() }
  }

  test("wire SELECT responses are row-bounded, never an unbounded collect") {
    val srv = new GraftServer(engine, port = 0, maxWireRows = 10)
    val c = new NetClient("127.0.0.1", srv.boundPort)
    try {
      c.execute("create database bnd")
      c.use("bnd")
      c.execute("create table bnd.t(k int, v double, primary key(k))")
      val pid = c.prepare("insert into bnd.t values(?, ?)")
      c.batchInsert(pid, (0 until 25).map(i => Seq[Any](i, i * 1.0)))
      val e = intercept[OtError](
        c.execute("select * from bnd.t where k>=0 and k<=24"))
      assert(e.msg.startsWith("Result exceeds 10 rows"), e.msg)
      // within the bound the same shape works
      assert(c.execute("select * from bnd.t where k>=0 and k<=9").length == 10)
    } finally { c.close(); srv.stop() }
  }

  test("chunked SELECT streams past maxWireRows with bounded frames") {
    // maxWireRows=10 bounds any SINGLE buffer; the chunked protocol must
    // deliver a 25x larger result complete, in order, over many frames,
    // with idle-timeout heartbeats interleaving on the same connection
    val srv = new GraftServer(engine, port = 0, maxWireRows = 10,
      idleTimeoutMs = 150)
    val c = new NetClient("127.0.0.1", srv.boundPort)
    try {
      c.execute("create database chk")
      c.use("chk")
      c.execute("create table chk.t(k int, v double, primary key(k))")
      val pid = c.prepare("insert into chk.t values(?, ?)")
      c.batchInsert(pid, (0 until 250).map(i => Seq[Any](i, i * 1.0)))
      // the single-frame path still refuses (circuit breaker unchanged)
      val e = intercept[OtError](
        c.execute("select * from chk.t where k>=0 and k<=249"))
      assert(e.msg.startsWith("Result exceeds 10 rows"), e.msg)
      // the chunked path delivers everything, ordered; a 7-row chunk
      // size forces 36 frames
      val rows = c.executeChunked(
        "select * from chk.t where k>=0 and k<=249", chunkRows = 7)
      assert(rows.length == 250)
      assert(rows.map(_.head) == (0 until 250).map(_.toLong))
      // a requested chunk past maxWireRows is clamped server-side, not
      // refused: still complete
      assert(c.executeChunked("select * from chk.t where k>=0 and k<=249",
        chunkRows = 1000).length == 250)
      // idle long enough for several server heartbeats, then stream again:
      // the connection must have stayed alive
      Thread.sleep(500)
      assert(c.executeChunked("select v from chk.t where k>=0 and k<=249",
        chunkRows = 9).map(_.head) == (0 until 250).map(_ * 1.0))
      // empty results are a clean null final frame
      assert(c.executeChunked("select * from chk.t where k>=300 and k<=301",
        chunkRows = 5).isEmpty)
      // two chunked streams PIPELINED on one connection: their frames
      // interleave on the wire, the per-ticket buffers must keep them
      // apart and both complete in order
      import scala.concurrent.ExecutionContext.Implicits.global
      val fa = c.executeChunkedAsync(
        "select k from chk.t where k>=0 and k<=249", chunkRows = 7)
      val fb = c.executeChunkedAsync(
        "select v from chk.t where k>=0 and k<=249", chunkRows = 11)
      val (ra, rb) = scala.concurrent.Await.result(
        fa.zip(fb), scala.concurrent.duration.Duration("60s"))
      assert(ra.map(_.head) == (0 until 250).map(_.toLong))
      assert(rb.map(_.head) == (0 until 250).map(_ * 1.0))
      // a WITH-prefixed statement is routed to the chunked path (it is
      // SELECT-shaped); the dialect has no CTEs (reference grammar,
      // parser.go:9-183), so the parse error must come back as a clean
      // error final frame — not a maxWireRows refusal, not a hang
      val we = intercept[OtError](c.executeChunked(
        "with x as (select 1) select * from x", chunkRows = 5))
      assert(we.msg.contains("Unexpected token"), we.msg)
      // and the connection is still usable afterwards
      assert(c.executeChunked("select k from chk.t where k>=0 and k<=9",
        chunkRows = 3).length == 10)
    } finally { c.close(); srv.stop() }
  }

  test("a timeout mid-frame closes the connection instead of desyncing") {
    val srv = new GraftServer(engine, port = 0, idleTimeoutMs = 200)
    val raw = new java.net.Socket("127.0.0.1", srv.boundPort)
    try {
      raw.setSoTimeout(5000)
      val out = new java.io.DataOutputStream(raw.getOutputStream)
      Wire.writeFrame(out, "protocol=json".getBytes("UTF-8"))
      // write 2 bytes of a 4-byte length header, then stall: the server
      // must NOT answer with a heartbeat and re-parse the remaining
      // stream as a new frame — it closes the connection
      out.write(Array[Byte](9, 0)); out.flush()
      val in = raw.getInputStream
      // drain any heartbeat that raced the partial write; EOF must follow
      var eof = false
      val deadline = System.currentTimeMillis() + 5000
      while (!eof && System.currentTimeMillis() < deadline) {
        eof = try in.read() == -1
        catch { case _: java.net.SocketTimeoutException => false }
      }
      assert(eof, "server must close a connection that stalls mid-frame")
    } finally { raw.close(); srv.stop() }
  }

  test("junction merge drops exactly the measured boundary run") {
    // unit-level: overlap counts come from boundary point queries, so
    // exactly that many head rows drop — value lookalikes are immune
    val b = Seq[Any]("b-row")
    assert(NetClient.mergeParts(Seq(
      Seq(Seq("x"), b, b),
      Seq(b, b, Seq("y"), Seq("x"))), Seq(2)) ==
      Seq(Seq("x"), b, b, Seq("y"), Seq("x")))
    assert(NetClient.mergeParts(Seq(
      Seq(Seq(1.0), Seq(2.0)),
      Seq(Seq(3.0), Seq(1.0))), Seq(0)) ==
      Seq(Seq(1.0), Seq(2.0), Seq(3.0), Seq(1.0)))
  }

  test("scatter-gather keeps equal-valued rows under non-PK projections") {
    // keys 1,3,4 all share v=5.0; parts (0,3),(3,6) overlap only on the
    // single key-3 row. A value-matching merge heuristic (or whole-row
    // distinct) would drop key 4's identical-looking row; the boundary
    // point query measures overlap = 1 and keeps all three.
    client.execute("create table net.jx(k int, v double, primary key(k))")
    val pid = client.prepare("insert into net.jx values(?, ?)")
    client.batchInsert(pid, Seq(Seq[Any](1, 5.0), Seq[Any](3, 5.0),
      Seq[Any](4, 5.0)))
    val rows = client.executeRanges(
      "select v from net.jx where k>=? and k<=?", Seq((0, 3), (3, 6)))
    assert(rows == Seq(Seq(5.0), Seq(5.0), Seq(5.0)))
  }

  test("BSON default mode: full e2e without the protocol=json preamble") {
    // the reference's DEFAULT codec (server.go:287-291): no preamble,
    // every frame a BSON document — DDL, prepared batch, ns timestamps,
    // error strings, and meta all round-trip
    val srv = new GraftServer(engine, port = 0)
    val c = new NetClient("127.0.0.1", srv.boundPort, protocol = "bson")
    try {
      c.execute("create database bs")
      c.use("bs")
      c.execute("create table bs.t(sec int, tm timestamp, px double, " +
        "note text, primary key(sec, tm))")
      val pid = c.prepare("insert into bs.t values(?, ?, ?, ?)")
      c.batchInsert(pid, Seq(
        Seq(1, Seq(7L, 123L), 1.5, "a"), // 7s + 123ns over BSON
        Seq(1, Seq(7L, 456L), 2.5, "b"),
        Seq(2, 10, 9.0, "c")))
      val rows = c.execute("select * from bs.t where sec=1")
      assert(rows.map(_(1)) == Seq(
        java.time.Instant.ofEpochSecond(7L, 123L),
        java.time.Instant.ofEpochSecond(7L, 456L)))
      assert(c.execute("select px from bs.t where sec=1 and tm=?",
        Seq(Seq(7L, 456L))) == Seq(Seq(2.5)))
      val e = intercept[OtError](c.execute("select * from bs.nope"))
      assert(e.msg == "Table bs.nope does not exists")
      assert(c.listDatabases().contains("bs"))
      val sch = c.schema("t")
      assert(sch(0).map(_.head) == Seq("sec", "tm"))
      // a JSON-mode client on the SAME server coexists (per-connection
      // negotiation)
      val cj = new NetClient("127.0.0.1", srv.boundPort)
      try assert(cj.execute("select note from bs.t where sec=2") ==
        Seq(Seq("c")))
      finally cj.close()
    } finally { c.close(); srv.stop() }
  }

  test("concurrent single-row inserts: acked keys read back, rewrites after ack win") {
    client.execute("create database if not exists net")
    client.execute("create table net.gc(k int, v double, primary key(k))")
    val insert = "insert into net.gc values(?, ?)"
    val conns = (0 until 4).map(c => new NetClient("127.0.0.1",
      server.boundPort, protocol = if (c % 2 == 0) "json" else "bson"))
    val models = Array.fill(4)(Map.empty[Int, Double])
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    try {
      // per connection, 6 rounds of 4 outstanding inserts: first writes
      // of two new keys, and rewrites of the two keys whose first writes
      // the previous round saw acked
      val senders = conns.zipWithIndex.map { case (c, ci) =>
        val t = new Thread(() => try {
          var acked = Seq.empty[Int]
          for (r <- 0 until 6) {
            val fresh = Seq(ci * 1000 + 2 * r, ci * 1000 + 2 * r + 1)
            val sends = fresh.map(_ -> (r + 1.0)) ++ acked.map(_ -> -(r + 1.0))
            val futs = sends.map { case (k, v) => c.executeAsync(insert, Seq[Any](k, v)) }
            futs.foreach(f => scala.concurrent.Await.result(f,
              scala.concurrent.duration.Duration("60s")))
            models(ci) ++= sends
            acked = fresh
          }
        } catch { case e: Throwable => failures.add(e) })
        t.start()
        t
      }
      senders.foreach(_.join())
      assert(failures.isEmpty, failures)
      val want = models.reduce(_ ++ _)
      assert(want.size == 4 * 12)
      val got = client.execute("select * from net.gc").map(r =>
        r(0).asInstanceOf[Number].intValue -> r(1).asInstanceOf[Number].doubleValue)
      assert(got.toMap == want)
      assert(got.length == want.size)
    } finally conns.foreach(_.close())
  }

  test("reads beside appends and group commits: one row per key, never older than an acked write") {
    client.execute("create database if not exists net")
    client.execute("create table net.rw(k int, v double, primary key(k))")
    val nKeys = 16
    val rounds = 16
    val writer = new NetClient("127.0.0.1", server.boundPort)
    val readers = (0 until 2).map(c => new NetClient("127.0.0.1",
      server.boundPort, protocol = if (c == 0) "json" else "bson"))
    // acked(k): the newest version of key k whose write was acked
    val acked = new java.util.concurrent.atomic.AtomicIntegerArray(nKeys)
    val writing = new java.util.concurrent.atomic.AtomicBoolean(true)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def await[A](f: scala.concurrent.Future[A]): A =
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration("60s"))
    def check(cond: Boolean, msg: => String): Unit =
      if (!cond) failures.add(new AssertionError(msg))
    try {
      val pid = writer.prepare("insert into net.rw values(?, ?)")
      writer.batchInsert(pid, (0 until nKeys).map(k => Seq[Any](k, 0.0)))
      // version r of every key: an append of all keys on even rounds,
      // all keys' single-row inserts outstanding at once on odd rounds
      val w = new Thread(() => try {
        for (r <- 1 to rounds) {
          val rows = (0 until nKeys).map(k => Seq[Any](k, r.toDouble))
          if (r % 2 == 0) writer.batchInsert(pid, rows)
          else rows.map(writer.executeAsync("insert into net.rw values(?, ?)", _))
            .foreach(await(_))
          (0 until nKeys).foreach(acked.set(_, r))
        }
      } catch { case e: Throwable => failures.add(e) }
      finally writing.set(false))
      // each reader alternates point gets and full scans until the writer
      // is done, and reads at least 8 times
      val rs = readers.zipWithIndex.map { case (c, ci) =>
        new Thread(() => try {
          var i = 0
          while (writing.get() || i < 8) {
            val floor = (0 until nKeys).map(acked.get)
            if (i % 2 == 0) {
              val k = (i / 2 + ci * 5) % nKeys
              val got = c.execute("select * from net.rw where k=?", Seq(k))
              check(got.length == 1 && got.head.head.asInstanceOf[Number].intValue == k,
                s"point get of $k: $got")
              got.foreach { row =>
                val v = row(1).asInstanceOf[Number].doubleValue
                check(v >= floor(k) && v <= rounds, s"key $k read $v after ${floor(k)} was acked")
              }
            } else {
              val got = c.execute("select * from net.rw")
              check(got.map(_.head.asInstanceOf[Number].intValue) == (0 until nKeys),
                s"scan must hold each key once, in order: $got")
              got.foreach { row =>
                val k = row.head.asInstanceOf[Number].intValue
                val v = row(1).asInstanceOf[Number].doubleValue
                check(k < 0 || k >= nKeys || (v >= floor(k) && v <= rounds),
                  s"key $k read $v after ${floor(k)} was acked")
              }
            }
            i += 1
          }
        } catch { case e: Throwable => failures.add(e) })
      }
      (w +: rs).foreach(_.start())
      (w +: rs).foreach(_.join())
      assert(failures.isEmpty, failures.asScala.take(5).mkString("\n"))
      assert(client.execute("select * from net.rw").map(r =>
        r(1).asInstanceOf[Number].doubleValue) == Seq.fill(nKeys)(rounds.toDouble))
    } finally (writer +: readers).foreach(_.close())
  }

  test("a run INSERT, DELETE or DDL replies null on JSON and BSON") {
    client.execute("create database if not exists net")
    val srv = new GraftServer(engine, port = 0)
    try for (json <- Seq(true, false)) {
      val raw = new java.net.Socket("127.0.0.1", srv.boundPort)
      try {
        raw.setSoTimeout(30000)
        val out = new java.io.DataOutputStream(raw.getOutputStream)
        val in = new java.io.DataInputStream(raw.getInputStream)
        if (json) Wire.writeFrame(out, "protocol=json".getBytes("UTF-8"))
        val tbl = if (json) "nulls_json" else "nulls_bson"
        Seq(s"create table net.$tbl(k int, v double, primary key(k))",
          s"insert into net.$tbl values(1, 1.5)",
          s"delete from net.$tbl where k=1",
          s"drop table net.$tbl").zipWithIndex.foreach { case (sql, i) =>
          val req = Map[String, Any]("0" -> i, "1" -> "run", "2" -> sql)
          Wire.writeFrame(out, if (json) Wire.encode(req) else Bson.encode(req))
          val body = Wire.readFrame(in)
          val resp = if (json) Wire.decode(body) else Bson.decode(body)
          assert(resp.get("0").map(_.toString).contains(i.toString), resp)
          assert(resp.contains("1") && resp("1") == null, s"$sql: $resp")
        }
      } finally raw.close()
    } finally srv.stop()
  }

  test("table-valued functions over the wire: pipeline operators via SQL, JSON + BSON") {
    // the extension surface (SURVEY §2.9): library pipeline operators
    // addressable from the dialect — parse → catalog resolve under the
    // caller's read permission → the SAME library plan, over the wire
    client.execute("create database if not exists net")
    client.execute("create table net.docs(doc_id int, body text, " +
      "primary key(doc_id))")
    val words = (1 to 20).map(i => s"tok$i").mkString(" ")
    val docA = words                 // 20 tokens
    val docB = words + " tokx"       // near-dup: one appended token
    val docC = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val pid = client.prepare("insert into net.docs values(?, ?)")
    client.batchInsert(pid, Seq(
      Seq(1, docA), Seq(2, docB), Seq(3, docC)))
    // minhash_pairs finds exactly the near-dup pair, above threshold
    val pairs = client.execute(
      "select * from minhash_pairs('net.docs', 'doc_id', 'body', 0.5)")
    assert(pairs.map(_.take(2).map(_.toString)) == Seq(Seq("1", "2")))
    val jac = pairs.head(2).toString.toDouble
    assert(jac > 0.5 && jac <= 1.0)
    // bm25_scores: prepared + placeholder-bound like any statement
    val sid = client.prepare(
      "select * from bm25_scores('net.docs', 'doc_id', 'body', ?)")
    val scored = client.executePrepared(sid, Seq("tok3 tok7"))
    assert(scored.map(_.head.toString) == Seq("1", "2")) // doc 3: no hit
    assert(scored.forall(_(2).toString == "2")) // both terms hit
    // quality_score composes with LIMIT
    val q = client.execute(
      "select * from quality_score('net.docs', 'body') limit 2")
    assert(q.length == 2)
    // resample_ohlcv over an engine tick table, hand-computed bars
    client.execute("create table net.ticks(sym int, t bigint, px double, " +
      "primary key(sym, t))")
    val tp = client.prepare("insert into net.ticks values(?, ?, ?)")
    client.batchInsert(tp, Seq(
      Seq[Any](1, 0L, 10.0), Seq[Any](1, 5L, 12.0), Seq[Any](1, 9L, 11.0),
      Seq[Any](1, 10L, 20.0), Seq[Any](1, 19L, 25.0)))
    val bars = client.execute(
      "select * from resample_ohlcv('net.ticks', 'sym', 't', 'px', 10)")
    assert(bars.map(_.map(_.toString)) == Seq(
      Seq("1", "0", "10.0", "12.0", "10.0", "11.0", "3", "33.0"),
      Seq("1", "1", "20.0", "25.0", "20.0", "25.0", "2", "45.0")))
    // the dialect stays closed: exact error strings
    assert(intercept[OtError](client.execute(
      "select * from nope_fn('net.docs')")).msg ==
      "Unknown table function nope_fn")
    // projection/WHERE resolve against the TVF's OUTPUT schema with
    // the SELECT resolver's strict error strings (round-11 item 6)
    assert(intercept[OtError](client.execute(
      "select nope from minhash_pairs('net.docs', 'doc_id', 'body', 0.5)"))
      .msg == "Undefined column name nope")
    assert(intercept[OtError](client.execute(
      "select id_a, id_a from minhash_pairs" +
        "('net.docs', 'doc_id', 'body', 0.5)"))
      .msg == "Duplicate column name id_a")
    assert(intercept[OtError](client.execute(
      "select * from quality_score('net.docs', 'body') where nope=1"))
      .msg == "Undefined column name nope")
    assert(intercept[OtError](client.execute(
      "select * from quality_score('net.docs', 'body') limit -1")).msg ==
      "Table functions support positive LIMIT only")
    assert(intercept[OtError](client.execute(
      "select * from quality_score('net.docs', 'nope')")).msg ==
      "quality_score: no column nope in table")
    assert(intercept[OtError](client.execute(
      "select * from minhash_pairs('net.docs', 'doc_id', 'body')")).msg ==
      "Usage: minhash_pairs('db.tbl', 'id_col', 'text_col', threshold)")
    // BSON mode: same TVF through the default codec, unqualified table
    // ref resolving against the connection's used db
    val cb = new NetClient("127.0.0.1", server.boundPort, protocol = "bson")
    try {
      cb.use("net")
      val pb = cb.execute(
        "select * from minhash_pairs('docs', 'doc_id', 'body', 0.5)")
      assert(pb.map(_.take(2).map(_.toString)) == Seq(Seq("1", "2")))
    } finally cb.close()
  }

  test("round-11 TVFs: dedup_components, pii_scan, sample_hash (JSON + BSON)") {
    // the three pipeline entry points a wire user hits first
    // (round-10 verdict item 6), through the same parse → resolve →
    // library-plan route as the r10 set
    client.execute("create database if not exists net")
    client.execute("create table net.d2(doc_id int, body text, " +
      "primary key(doc_id))")
    val words = (1 to 20).map(i => s"tok$i").mkString(" ")
    val pid = client.prepare("insert into net.d2 values(?, ?)")
    client.batchInsert(pid, Seq(
      Seq(1, words),
      Seq(2, words + " tokx"), // near-dup of doc 1
      Seq(3, "reach me at bob@example.com or 555-123-4567 today")))
    // dedup_components labels the near-dup pair with its min id; doc 3
    // joins no pair so it carries no row (singletons are their own
    // component implicitly)
    val comp = client.execute(
      "select * from dedup_components('net.d2', 'doc_id', 'body', 0.5)")
    assert(comp.map(_.map(_.toString)) == Seq(Seq("1", "1"), Seq("2", "1")))
    // pii_scan: counts + email-redacted text per row
    val pii = client.execute(
      "select * from pii_scan('net.d2', 'doc_id', 'body')")
    assert(pii.length == 3)
    val doc3 = pii.find(_.head.toString == "3").get
    assert(doc3(1).toString == "1") // one email
    assert(doc3(2).toString == "1") // one phone
    assert(doc3(3).toString == "0" && doc3(4).toString == "0")
    assert(doc3(5).toString.contains("<EMAIL>") &&
      !doc3(5).toString.contains("bob@example.com"))
    // sample_hash: rate 1.0 keeps everything; lower rates are
    // deterministic (two calls, same rows) and nested (0.25 ⊆ 0.75)
    assert(client.execute(
      "select * from sample_hash('net.d2', 'doc_id', 1.0)").length == 3)
    def ids(rate: String) = client.execute(
      s"select * from sample_hash('net.d2', 'doc_id', $rate)")
      .map(_.head.toString).toSet
    assert(ids("0.25") == ids("0.25"))
    assert(ids("0.25").subsetOf(ids("0.75")))
    // argument validation keeps the closed-dialect error contract
    assert(intercept[OtError](client.execute(
      "select * from sample_hash('net.d2', 'doc_id', 1.5)")).msg ==
      "sample_hash: rate must be in (0, 1]")
    assert(intercept[OtError](client.execute(
      "select * from pii_scan('net.d2', 'doc_id')")).msg ==
      "Usage: pii_scan('db.tbl', 'id_col', 'text_col')")
    // LIMIT wider than Int range is rejected, not wrapped (both the
    // TVF path and plain SELECT)
    assert(intercept[OtError](client.execute(
      "select * from pii_scan('net.d2', 'doc_id', 'body') " +
        "limit 9999999999")).msg == "LIMIT 9999999999 out of range")
    assert(intercept[OtError](client.execute(
      "select * from net.d2 limit 9999999999")).msg ==
      "LIMIT 9999999999 out of range")
    // BSON mode: the same calls through the default codec with an
    // unqualified table ref against the used db
    val cb = new NetClient("127.0.0.1", server.boundPort, protocol = "bson")
    try {
      cb.use("net")
      val cbComp = cb.execute(
        "select * from dedup_components('d2', 'doc_id', 'body', 0.5)")
      assert(cbComp.map(_.map(_.toString)) ==
        Seq(Seq("1", "1"), Seq("2", "1")))
      val cbPii = cb.execute(
        "select * from pii_scan('d2', 'doc_id', 'body') limit 1")
      assert(cbPii.length == 1)
      assert(cb.execute(
        "select * from sample_hash('d2', 'doc_id', 1.0)").length == 3)
    } finally cb.close()
  }

  test("round-11b TVFs: hapax_stats, vocab_jaccard, gini, katz_centrality") {
    // the lexicon/concentration/graph additions through the same
    // parse → resolve → library-plan route; hand-computed values
    // matching RankStatsSpec's fixtures
    client.execute("create database if not exists net")
    client.execute("create table net.d3(doc_id int, body text, " +
      "src text, primary key(doc_id))")
    val pid = client.prepare("insert into net.d3 values(?, ?, ?)")
    client.batchInsert(pid, Seq(
      Seq(1, "a b a", "s1"), Seq(2, "b c", "s1"), Seq(3, "x", "s2")))
    // hapax_stats: s1 counts a:2 b:2 c:1 → vocab 3, tokens 5, hapax 1
    val hx = client.execute(
      "select * from hapax_stats('net.d3', 'body', 'src')")
    assert(hx.map(_.map(_.toString)) == Seq(
      Seq("s1", "3", "5", "1", "333333333", "600000000"),
      Seq("s2", "1", "1", "1", "1000000000", "1000000000")))
    // vocab_jaccard: s1 {a,b,c} vs s2 {x} → disjoint
    val vj = client.execute(
      "select * from vocab_jaccard('net.d3', 'body', 'src')")
    assert(vj.map(_.map(_.toString)) == Seq(
      Seq("s1", "s2", "3", "1", "0", "0")))
    // gini over an integer mass table: sorted (1,1,2) → 1/6
    client.execute("create table net.m(id int, v bigint, " +
      "primary key(id))")
    val mp = client.prepare("insert into net.m values(?, ?)")
    client.batchInsert(mp, Seq(
      Seq[Any](1, 1L), Seq[Any](2, 1L), Seq[Any](3, 2L)))
    assert(client.execute("select * from gini('net.m', 'id', 'v')")
      .map(_.map(_.toString)) == Seq(Seq("3", "4", "166666666")))
    // katz_centrality: the RankStatsSpec hand-unrolled 3-round graph
    client.execute("create table net.e(s bigint, d bigint, " +
      "primary key(s, d))")
    val ep = client.prepare("insert into net.e values(?, ?)")
    client.batchInsert(ep, Seq(
      Seq[Any](1L, 2L), Seq[Any](3L, 2L), Seq[Any](2L, 3L)))
    assert(client.execute(
      "select * from katz_centrality('net.e', 's', 'd', 3)")
      .map(_.map(_.toString)) == Seq(
      Seq("1", "1000000"), Seq("2", "2500000"), Seq("3", "2125000")))
    // closed-dialect argument contract
    assert(intercept[OtError](client.execute(
      "select * from katz_centrality('net.e', 's', 'd', 0)")).msg ==
      "katz_centrality: rounds must be in 1..16")
    assert(intercept[OtError](client.execute(
      "select * from gini('net.m', 'id', 'nope')")).msg ==
      "gini: no column nope in table")
    // BSON mode: one of each family through the default codec
    val cb = new NetClient("127.0.0.1", server.boundPort, protocol = "bson")
    try {
      cb.use("net")
      assert(cb.execute("select * from gini('m', 'id', 'v')")
        .map(_.map(_.toString)) == Seq(Seq("3", "4", "166666666")))
      assert(cb.execute(
        "select * from hapax_stats('d3', 'body', 'src') limit 1")
        .map(_.map(_.toString)) == Seq(
        Seq("s1", "3", "5", "1", "333333333", "600000000")))
    } finally cb.close()
  }

  test("round-12b TVFs: anova_f, wilcoxon, vocab_richness") {
    // the statistics wave through the same parse → resolve →
    // library-plan route; hand-computed values matching
    // AssocStatsSpec / RankStatsSpec fixtures
    client.execute("create database if not exists net")
    client.execute("create table net.av(id int, g text, v bigint, " +
      "primary key(id))")
    val ap = client.prepare("insert into net.av values(?, ?, ?)")
    client.batchInsert(ap, Seq(
      Seq[Any](1, "a", 1L), Seq[Any](2, "a", 2L),
      Seq[Any](3, "b", 3L), Seq[Any](4, "b", 5L)))
    // a = {1,2}, b = {3,5} → ssb 6, ssw 3, F = 4
    assert(client.execute(
      "select * from anova_f('net.av', 'g', 'v')")
      .map(_.map(_.toString)) ==
      Seq(Seq("4", "2", "6", "3", "4000000000")))
    client.execute("create table net.w(id int, d bigint, " +
      "primary key(id))")
    val wp = client.prepare("insert into net.w values(?, ?)")
    client.batchInsert(wp, Seq(
      Seq[Any](1, 1L), Seq[Any](2, -2L), Seq[Any](3, 3L),
      Seq[Any](4, 0L)))
    // diffs {1,−2,3}, zero drops → w2+ = 8, frac = 8/12
    assert(client.execute("select * from wilcoxon('net.w', 'd')")
      .map(_.map(_.toString)) == Seq(Seq("3", "8", "666666666")))
    client.execute("create table net.d5(doc_id int, body text, " +
      "src text, primary key(doc_id))")
    val dp = client.prepare("insert into net.d5 values(?, ?, ?)")
    client.batchInsert(dp, Seq(
      Seq(1, "x x y", "s1"), Seq(2, "x y z", "s2")))
    // s1: V=2 N=3 f1=1 f2=1 → chao1 2.0, p0 1/3; s2: all singletons
    assert(client.execute(
      "select * from vocab_richness('net.d5', 'body', 'src')")
      .map(_.map(_.toString)) == Seq(
      Seq("s1", "2", "3", "1", "1", "2000", "333333333"),
      Seq("s2", "3", "3", "3", "0", "6000", "1000000000")))
    // closed-dialect contract: usage + column errors
    assert(intercept[OtError](client.execute(
      "select * from anova_f('net.av', 'g')")).msg ==
      "Usage: anova_f('db.tbl', 'group_col', 'value_col')")
    assert(intercept[OtError](client.execute(
      "select * from vocab_richness('net.d5', 'nope', 'src')")).msg ==
      "vocab_richness: no column nope in table")
    // BSON mode + server-side WHERE on the TVF output
    val cb = new NetClient("127.0.0.1", server.boundPort, protocol = "bson")
    try {
      cb.use("net")
      assert(cb.execute("select * from wilcoxon('w', 'd')")
        .map(_.map(_.toString)) == Seq(Seq("3", "8", "666666666")))
      assert(cb.execute("select src, vocab from " +
        "vocab_richness('d5', 'body', 'src') where f1 >= 3")
        .map(_.map(_.toString)) == Seq(Seq("s2", "3")))
    } finally cb.close()
  }

  test("round-12: TVF WHERE + projection over the wire (JSON + BSON)") {
    // round-11 verdict item 6: a wire user filters and projects a
    // TVF's OUTPUT server-side — same strict resolver error strings
    // as plain SELECT, placeholders in WHERE binding after the
    // function-argument placeholders, LIMIT composing on top
    client.execute("create database if not exists net")
    client.execute("create table net.d4(doc_id int, body text, " +
      "primary key(doc_id))")
    val pid = client.prepare("insert into net.d4 values(?, ?)")
    client.batchInsert(pid, Seq(
      Seq(1, "plain text tok3 with no pii"),
      Seq(2, "reach me at bob@example.com today tok3"),
      Seq(3, "call 555-123-4567 or mail sue@example.com")))
    // filter on an output column + project a subset, server-side
    val hits = client.execute("select doc_id from pii_scan" +
      "('net.d4', 'doc_id', 'body') where n_emails >= 1")
    assert(hits.map(_.map(_.toString)) == Seq(Seq("2"), Seq("3")))
    // conjunction over two output columns
    val only = client.execute("select doc_id from pii_scan" +
      "('net.d4', 'doc_id', 'body') where n_emails >= 1 and n_phones = 0")
    assert(only.map(_.map(_.toString)) == Seq(Seq("2")))
    // projection reorders and LIMIT composes after the filter
    val proj = client.execute("select n_phones, doc_id from pii_scan" +
      "('net.d4', 'doc_id', 'body') where n_emails >= 1 limit 1")
    assert(proj.map(_.map(_.toString)) == Seq(Seq("0", "2")))
    // WHERE placeholder alone, prepared and re-bound
    val sid = client.prepare("select doc_id from pii_scan" +
      "('net.d4', 'doc_id', 'body') where n_emails >= ?")
    assert(client.executePrepared(sid, Seq(1))
      .map(_.head.toString) == Seq("2", "3"))
    assert(client.executePrepared(sid, Seq(2)).isEmpty)
    // fn-arg placeholder THEN where placeholder, positional
    val bid = client.prepare("select doc_id from bm25_scores" +
      "('net.d4', 'doc_id', 'body', ?) where doc_id <= ?")
    assert(client.executePrepared(bid, Seq("tok3", 1))
      .map(_.head.toString) == Seq("1"))
    assert(client.executePrepared(bid, Seq("tok3", 2))
      .map(_.head.toString) == Seq("1", "2"))
    // strict resolver contract on the output schema
    assert(intercept[OtError](client.execute(
      "select doc_id from pii_scan('net.d4', 'doc_id', 'body') " +
        "where nope = 1")).msg == "Undefined column name nope")
    assert(intercept[OtError](client.execute(
      "select doc_id, doc_id from pii_scan" +
        "('net.d4', 'doc_id', 'body')")).msg ==
      "Duplicate column name doc_id")
    assert(intercept[OtError](client.execute(
      "select nope from pii_scan('net.d4', 'doc_id', 'body')")).msg ==
      "Undefined column name nope")
    // unigram_lm: the tokenizer trainer over the wire, with a WHERE
    // on a column the projection then DROPS (filter-then-project)
    val ug = client.execute("select piece, cnt from unigram_lm" +
      "('net.d4', 'body', 2) where piece_len = 2 limit 3")
    assert(ug.nonEmpty && ug.forall(_.head.toString.length == 2),
      ug.toString)
    assert(intercept[OtError](client.execute(
      "select * from unigram_lm('net.d4', 'body', 0)")).msg ==
      "unigram_lm: rounds must be in 1..8")
    // BSON mode: the same filtered, projected TVF query
    val cb = new NetClient("127.0.0.1", server.boundPort,
      protocol = "bson")
    try {
      cb.use("net")
      assert(cb.execute("select doc_id from pii_scan" +
        "('d4', 'doc_id', 'body') where n_emails >= 1 and n_phones = 0")
        .map(_.map(_.toString)) == Seq(Seq("2")))
      assert(cb.execute("select redacted from pii_scan" +
        "('d4', 'doc_id', 'body') where doc_id = 2").head.head
        .toString.contains("<EMAIL>"))
    } finally cb.close()
  }

  test("client reconnects after a server restart and replays used db") {
    val port = server.boundPort
    server.stop()
    Thread.sleep(100)
    val revived = new GraftServer(engine, port = port, idleTimeoutMs = 150)
    try {
      // unqualified table name: only works if `use net` was replayed
      val rows = client.execute("select * from t where sec=2")
      assert(rows == Seq(Seq(2L, java.time.Instant.ofEpochSecond(10), 9.0, "d")))
    } finally {
      client.close()
      revived.stop()
    }
  }
}
