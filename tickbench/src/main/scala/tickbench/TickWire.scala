package tickbench

import java.util.concurrent.{ConcurrentLinkedQueue, Semaphore}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.ExecutionContext
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success}
import scala.util.control.NonFatal
import graft.engine.{Bson, NetClient}

/** `tick_wire`: tick traffic over the TCP wire to a [[GraftServer]] in its
  * own JVM ([[ServerMain]]), from this JVM as the one load generator with
  * `nproc` connections. The run's seconds are split into four rounds, and
  * each round into three closed-loop legs:
  *
  *  1. a quarter: prepared `batch` inserts of 10k rows on one connection
  *     (the reference's loop 2);
  *  2. a quarter: single-row `run` inserts on `nproc` connections, each
  *     keeping 2 requests outstanding (the reference's loop 1);
  *  3. a half: two reader connections loop over the fixed read mix of
  *     [[QueryOps]] while one writer connection appends 50-row batches to
  *     `today` every 250 ms (open loop, timed from when each was due).
  *
  * Per-layer figures come from replaying sampled ops inside the server.
  */
final class TickWire(a: RunArgs) {
  /** Latencies of one timed window, by leg, with the walls of the two
    * insert legs.
    */
  private final case class Legs(batchLat: Seq[(Int, Double)], singleLat: Seq[(Int, Double)],
      readLat: Seq[(String, Int, Double, Int)], appendLat: Seq[(Int, Double)],
      lateMs: Double, batchWall: Double, singleWall: Double)

  private val o = new Outcome
  private val tracer = new Tracer(a.trace)
  private val sut = new Sut(a.seed, a.work)
  private val db = "r1"
  private implicit val ec: ExecutionContext = ExecutionContext.global
  private val window = 2
  private val readerCount = math.max(1, math.min(2, Host.nproc - 1))
  private val appendPeriodMs = 250L
  private val rounds = 4
  private val hist = QueryOps.hist(a.seed)
  private val today = QueryOps.todayWinners(a.seed)
  private def readOp(i: Int): TickOp = QueryOps.read(a.seed, i, hist, today)

  /** Set up twice into databases r0 and r1 and keep r1; set-up time
    * counts the repeated part once, at its median.
    */
  private val setups: Seq[Map[String, Any]] = (0 until 2).map(r => sut.call(s"setup $r"))
  private val dataS = setups.map(Json.num(_, "data_s"))

  def run(): Outcome =
    try { body(); finish(); o }
    finally sut.stop()

  private def connect(): NetClient = {
    val c = new NetClient("127.0.0.1", sut.port, protocol = "bson")
    c.use(db)
    c
  }

  /** Call once the warm-up is done: the next op is the first timed one. */
  private def markSetupDone(): Unit = {
    o.e2e("setup_s") = (System.currentTimeMillis() - a.jvmStartMs) / 1000.0 -
      dataS.sum + Stats.median(dataS)
    o.detail("server_start_s") = sut.hello("spark_s")
    o.detail("data_setup_s") = dataS
  }

  /** Traced ops alternate with untraced ones within each op kind, so the
    * tracer's own cost shows as the latency difference between the two
    * halves of a kind. Reads alternate by pairs of mix cycles, so every
    * read kind, and both bulk-read variants, fall on both sides.
    */
  private def traced(kind: String, i: Int): Boolean =
    if (Metrics.readOps.contains(kind)) i / (2 * QueryOps.cycle) % 2 == 0 else i % 2 == 0

  /** Traced minus untraced mean latency of each kind, averaged over the
    * kinds weighted by their sample counts.
    */
  private def overhead(lat: Seq[(String, Int, Double)]): Unit = {
    val diffs = lat.groupBy(_._1).toSeq.flatMap { case (kind, xs) =>
      val (on, off) = xs.partition(x => traced(kind, x._2))
      if (on.isEmpty || off.isEmpty) None
      else Some((on.map(_._3).sum / on.length - off.map(_._3).sum / off.length, xs.length))
    }
    if (diffs.nonEmpty)
      o.layer("trace.overhead_ms_per_op") = diffs.map(d => d._1 * d._2).sum / diffs.map(_._2).sum
  }

  /** Encoded size and codec time per row of a 10k-row request and a
    * 10k-row response chunk, as the wire carries them.
    */
  private def codec(request: Map[String, Any], reqRows: Int, chunk: Seq[Tick]): Unit = {
    val resp = Map[String, Any]("0" -> 1, "1" -> chunk.map(_.args), "2" -> 1)
    def perRowUs(body: => Unit, rows: Int): Double = Stats.median((1 to 5).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e3 / rows
    })
    val reqB = Bson.encode(request)
    val respB = Bson.encode(resp)
    o.layer("wire.req_bytes_per_row") = reqB.length.toDouble / reqRows
    o.layer("wire.resp_bytes_per_row") = respB.length.toDouble / chunk.length
    o.layer("wire.bson_encode_us_per_row") = perRowUs(Bson.encode(resp), chunk.length)
    o.layer("wire.bson_decode_us_per_row") = perRowUs(Bson.decode(respB), chunk.length)
  }

  /** Replay the acknowledged ops `wireMs` (index -> round trip ms) of
    * `kind` in the server and record the layer split; the wire share is
    * the round trip's residual over the in-process replay of the same op.
    */
  private def replay(kind: String, wireMs: Seq[(Int, Double)]): Map[String, Any] =
    if (wireMs.isEmpty) Map.empty
    else {
      val r = sut.call(s"replay $db $kind ${wireMs.map(_._1).mkString(",")}")
      val inproc = r("total_by_req").asInstanceOf[Map[String, Any]]
      val shares = wireMs.flatMap { case (i, ms) =>
        inproc.get(s"$kind-$i").collect { case n: java.lang.Number => (ms - n.doubleValue) / ms }
      }
      if (shares.nonEmpty) o.layer(s"wire.share.$kind") = Stats.median(shares)
      o.layer(s"engine.parse_us.$kind") = Json.num(r, "parse_us")
      o.layer(s"engine.resolve_ms.$kind") = Json.num(r, "resolve_ms")
      if (Metrics.readOps.contains(kind)) {
        o.layer(s"spark.plan_ms.$kind") = Json.num(r, "plan_ms")
        o.layer(s"spark.exec_ms.$kind") = Json.num(r, "exec_ms")
        o.layer(s"spark.jobs.$kind") = Json.num(r, "jobs")
        o.layer(s"spark.tasks.$kind") = Json.num(r, "tasks")
      }
      r
    }

  private def finish(): Unit = {
    o.detail("run_s") = (System.currentTimeMillis() - a.jvmStartMs) / 1000.0
    o.e2e("peak_rss_mb") = Host.peakRssMb(sut.pid)
    o.detail("session") = sut.hello("session")
    if (a.trace) tracer.write(java.nio.file.Paths.get(a.work, "spans-client.tsv"))
  }

  private def err(e: Throwable): String = s"${e.getClass.getSimpleName}: ${e.getMessage}"

  private def exec(c: NetClient, op: TickOp): Seq[Seq[Any]] =
    if (op.ranges.nonEmpty) c.executeRanges(op.sql, op.ranges)
    else if (op.kind == "bulk_read") c.executeChunked(op.sql, op.args, 10000)
    else c.execute(op.sql, op.args)

  private def body(): Unit = {
    val bc = connect()
    val conns = (0 until Host.nproc).map(_ => connect())
    // two readers and the writer: past that, readers mostly wait for each
    // other on 4 cores and their latencies stop repeating run to run
    val (readers, writer) = (conns.take(readerCount), conns.last)
    val prep = bc.prepare(TickGen.insertSql(TickGen.table))
    val wprep = writer.prepare(TickGen.insertSql("today"))

    // warm-up: every statement of the run on the run's tables, at the run's
    // concurrency, until the first-quarter slowdown of a cold JIT is behind
    // it (the first batches into a table were still slow after warming on
    // another); ops use indices the run does not, and the read-back counts
    // the keys they write
    val warmBatches = (0 until 10).map(100000 + _)
    warmBatches.foreach(i => bc.batchInsert(prep, IngestOps.batch(a.seed, i).rows.map(_.args)))
    def concurrently(body: Int => Unit): Unit = {
      val ts = conns.indices.map(n => new Thread(() => body(n)))
      ts.foreach(_.start())
      ts.foreach(_.join())
    }
    val warmSingles = conns.indices.flatMap(n => (0 until 25).map(1000000 + 100 * n + _))
    concurrently(n => warmSingles.filter(_ / 100 % 10000 == n).foreach { i =>
      val op = IngestOps.single(a.seed, i)
      conns(n).execute(op.sql, op.args)
    })
    concurrently { n =>
      if (n < readers.length)
        (1000000 + 40 * n until 1000000 + 40 * n + 16).foreach(i => exec(readers(n), readOp(i)))
      else if (n == conns.length - 1) (0 until 4).foreach(w => writer.batchInsert(wprep,
        QueryOps.append(a.seed, 100000 + w).rows.map(_.args)))
    }
    markSetupDone()

    // each round gives its legs a quarter, a quarter and a half of its
    // time, so every leg's samples spread over the whole window; a leg ends
    // at a fixed point of the window, so one that overran its share (its
    // last ops finish after it) shortens the next
    val quarterNs = a.seconds * 250000000L / rounds
    // a contaminated window is measured once more, on the same tables and
    // with the same ops: inserts and appends then re-send their keys
    val attempts = ArrayBuffer.empty[Legs]
    val legs = Host.quietWindow(o, a.jvmStartMs) { _ =>
      val batchLat = ArrayBuffer.empty[(Int, Double)]
      val singleLat = new ConcurrentLinkedQueue[(Int, Double)]
      val readLat = new ConcurrentLinkedQueue[(String, Int, Double, Int)]
      val appendLat = ArrayBuffer.empty[(Int, Double)]
      var lateMs = 0.0
      var batchWall, singleWall = 0.0
      var i = 0
      val nextSingle = new AtomicInteger(0)
      val nextRead = new AtomicInteger(0)
      var w = 0
      val tW = System.nanoTime()
      (0 until rounds).foreach { r =>
        val endA = tW + (4 * r + 1) * quarterNs
        val endB = endA + quarterNs
        val endC = endB + 2 * quarterNs
        // leg 1: batch inserts, closed loop on one connection
        val tA = System.nanoTime()
        while (System.nanoTime() < endA) {
          val op = IngestOps.batch(a.seed, i)
          val args = op.rows.map(_.args)
          val t0 = System.nanoTime()
          try {
            bc.batchInsert(prep, args)
            tracer.record("wire.batch_insert", op.req, t0, System.nanoTime(), traced(op.kind, i))
            batchLat += i -> (System.nanoTime() - t0) / 1e6
            o.tally.ok()
          } catch { case NonFatal(e) => o.tally.fail(s"${op.req}: ${err(e)}") }
          i += 1
        }
        batchWall += (System.nanoTime() - tA) / 1e9

        // leg 2: single inserts, `window` outstanding per connection
        val tB = System.nanoTime()
        val singles = conns.map(c => new Thread(() => {
          val sem = new Semaphore(window)
          while (System.nanoTime() < endB) {
            sem.acquire()
            val i = nextSingle.getAndIncrement()
            val op = IngestOps.single(a.seed, i)
            val t0 = System.nanoTime()
            c.executeAsync(op.sql, op.args).onComplete { r =>
              r match {
                case Success(_) =>
                  tracer.record("wire.single_insert", op.req, t0, System.nanoTime(),
                    traced(op.kind, i))
                  singleLat.add(i -> (System.nanoTime() - t0) / 1e6)
                  o.tally.ok()
                case Failure(e) => o.tally.fail(s"${op.req}: ${err(e)}")
              }
              sem.release()
            }
          }
          sem.acquire(window)
        }))
        singles.foreach(_.start())
        singles.foreach(_.join())
        singleWall += (System.nanoTime() - tB) / 1e9

        // leg 3: the read mix beside an open-loop writer
        val tC = System.nanoTime()
        val reads = readers.map(c => new Thread(() => {
          while (System.nanoTime() < endC) {
            val i = nextRead.getAndIncrement()
            val op = readOp(i)
            val s = System.nanoTime()
            try {
              val rows = exec(c, op)
              tracer.record(s"wire.${op.kind}", op.req, s, System.nanoTime(), traced(op.kind, i))
              readLat.add((op.kind, i, (System.nanoTime() - s) / 1e6, rows.length))
              QueryOps.checkRows(op, rows) match {
                case None => o.tally.ok()
                case Some(why) => o.tally.fail(why)
              }
            } catch { case NonFatal(e) => o.tally.fail(s"${op.req}: ${err(e)}") }
          }
        }))
        reads.foreach(_.start())
        val w0 = w
        while (System.nanoTime() < endC) {
          val due = tC + (w - w0) * appendPeriodMs * 1000000L
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          lateMs = math.max(lateMs, (System.nanoTime() - due) / 1e6)
          val op = QueryOps.append(a.seed, w)
          try {
            writer.batchInsert(wprep, op.rows.map(_.args))
            tracer.record("wire.append", op.req, due, System.nanoTime(), traced(op.kind, w))
            appendLat += w -> (System.nanoTime() - due) / 1e6
            o.tally.ok()
          } catch { case NonFatal(e) => o.tally.fail(s"${op.req}: ${err(e)}") }
          w += 1
        }
        reads.foreach(_.join())
      }
      val l = Legs(batchLat.toSeq, singleLat.asScala.toSeq, readLat.asScala.toSeq,
        appendLat.toSeq, lateMs, batchWall, singleWall)
      attempts += l
      l
    }

    val Legs(batchLat, singles, reads, appendLat, lateMs, batchWall, singleWall) = legs
    // the read-back checks the keys every attempt acknowledged
    val ackedBatches = attempts.flatMap(_.batchLat.map(_._1)).distinct.toSeq
    val ackedSingles = attempts.flatMap(_.singleLat.map(_._1)).distinct.toSeq
    val writtenBatches = warmBatches ++ ackedBatches
    val writtenSingles = warmSingles ++ ackedSingles
    def ms(kind: String): Seq[Double] = kind match {
      case "batch_insert" => batchLat.map(_._2)
      case "single_insert" => singles.map(_._2)
      case "append" => appendLat.map(_._2)
      case k => reads.filter(_._1 == k).map(_._3)
    }
    Metrics.ops.foreach(k => o.latency(k, ms(k)))
    val bulk = reads.filter(_._1 == "bulk_read")
    // throughput of the median batch, so one stalled batch does not move it
    o.e2e("rows_per_s") = IngestOps.batchRows / (Stats.median(ms("batch_insert")) / 1000)
    // bulk reads are a few per run: their median stays in the detail record
    o.latencyMetrics(ms("single_insert"),
      Metrics.ops.filter(_ != "bulk_read").map(ms).filter(_.nonEmpty).map(Stats.median))
    o.detail("batch_insert_rows_per_s") =
      batchLat.length * IngestOps.batchRows / (ms("batch_insert").sum / 1000)
    o.detail("batch_insert_rows_per_s_wall") = batchLat.length * IngestOps.batchRows / batchWall
    o.detail("single_insert_rows_per_s") = singles.length / singleWall
    o.detail("bulk_read_rows_per_s") = bulk.map(_._4).sum / (bulk.map(_._3).sum / 1000)
    val (ranged, chunked) = bulk.partition(r => readOp(r._2).ranges.nonEmpty)
    if (chunked.nonEmpty) o.detail("bulk_chunked_ms") = Stats.median(chunked.map(_._3))
    if (ranged.nonEmpty) o.detail("bulk_ranges_ms") = Stats.median(ranged.map(_._3))
    o.detail("append_generator_late_ms_max") = lateMs

    // read-back: every acknowledged key is there once, and two range reads
    // bring acknowledged bars back with their nanoseconds
    val tc = System.nanoTime()
    val cnt = sut.call(s"count $db ${TickGen.table}")
    val singleKeys = writtenSingles.map(i => if (IngestOps.isResend(i)) i - 10 else i).distinct
    val expected = writtenBatches.length.toLong * IngestOps.distinctKeysPerBatch + singleKeys.length
    val rows = Json.num(cnt, "rows").toLong
    o.tally.check(rows == expected, s"read-back $rows rows, acknowledged $expected keys")
    val firstBatch = ackedBatches.headOption.map(i => IngestOps.batch(a.seed, i).rows.take(20))
    val singleBars = ackedSingles.filter(i => !IngestOps.isResend(i) && i < 20).toSet
    val singleRows = (0 until 20).filter(singleBars).map(i => IngestOps.single(a.seed, i).rows.head)
    (firstBatch.toSeq :+ singleRows).filter(_.nonEmpty).foreach { want =>
      val lo = want.head
      val hi = TickGen.instantOf(a.seed, lo.sec, 0, 20)
      try {
        val got = bc.execute("select * from ticks where sec=? and interval=0 and tm>=? and tm<?",
          Seq(lo.sec, lo.tm, hi)).flatMap(TickGen.fromWire)
        o.tally.check(got.length == want.length && got.map(_.key).toSet == want.map(_.key).toSet,
          s"round trip of sec ${lo.sec}: ${got.length} rows for ${want.length} keys")
      } catch { case NonFatal(e) => o.tally.fail(s"round trip of sec ${lo.sec}: ${err(e)}") }
    }
    o.detail("readback_s") = (System.nanoTime() - tc) / 1e9

    val inserts = warmBatches.length + warmSingles.length +
      attempts.map(l => l.batchLat.length + l.singleLat.length).sum
    o.layer("catalog.files_per_insert") = Json.num(cnt, "files") / math.max(1, inserts)
    o.layer("catalog.bytes_per_row") = Json.num(cnt, "bytes") / math.max(1L, rows)
    o.layer("catalog.log_files.today") = Json.num(sut.call(s"count $db today"), "log_files")
    o.layer("catalog.import_s") = Stats.median(setups.map(Json.num(_, "import_s")))
    if (a.trace) {
      // the replayed sample: the first acknowledged ops of each kind
      // (chunked bulk reads only: the replay runs one statement)
      def sample(kind: String, n: Int) = reads.filter(r => r._1 == kind &&
        readOp(r._2).ranges.isEmpty).map(r => r._2 -> r._3).sortBy(_._1).take(n)
      val rb = replay("batch_insert", batchLat.take(3).toSeq)
      val rs = replay("single_insert", singles.sortBy(_._1).take(10))
      o.layer("catalog.append_ms.batch") = Json.num(rb, "append_ms")
      o.layer("catalog.append_ms.single") = Json.num(rs, "append_ms")
      replay("point_get", sample("point_get", 10))
      replay("range_scan", sample("range_scan", 6))
      replay("fresh_get", sample("fresh_get", 6))
      replay("bulk_read", sample("bulk_read", 2))
      replay("append", appendLat.take(5).toSeq)
      val cat = sut.call(s"catalog $db")
      o.layer("catalog.ordered_read_ms") = Json.num(cat, "ordered_read_ms")
      o.layer("catalog.lww_read_ms") = Json.num(cat, "lww_read_ms")
      val op0 = IngestOps.batch(a.seed, 0)
      codec(Map("0" -> 1, "1" -> "batch", "2" -> 0, "3" -> op0.rows.map(_.args)),
        op0.rows.length, hist.take(10000).toSeq)
      overhead(batchLat.toSeq.map(b => ("batch_insert", b._1, b._2)) ++
        singles.map(x => ("single_insert", x._1, x._2)) ++
        appendLat.toSeq.map(x => ("append", x._1, x._2)) ++ reads.map(r => (r._1, r._2, r._3)))
    }
    (bc +: conns).foreach(_.close())
  }
}
