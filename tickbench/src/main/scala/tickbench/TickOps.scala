package tickbench

/** One wire operation of a tick workload: what is sent and, for reads,
  * what must come back. Both the load generator and the server's
  * in-process replay build op `i` of a kind from the seed alone, so a
  * replayed op is the same statement with the same arguments.
  */
final case class TickOp(kind: String, idx: Int, sql: String, args: Seq[Any],
    rows: Seq[Tick] = Nil, expectRows: Int = 0, expectSum: Long = 0L,
    ranges: Seq[(Any, Any)] = Nil) {
  def req: String = s"$kind-$idx"
}

/** Ingest ops of `tick_wire`: its batch and single-insert legs. */
object IngestOps {
  val batchRows = 10000
  private val resendEvery = 19 // 500 of each 10k batch re-send an earlier key

  /** Batch `i`: 9,500 fresh bars of series (100 + i, 0) followed by 500
    * re-sends of its own keys, half unchanged and half overwritten.
    */
  def batch(seed: Long, i: Int, tbl: String = TickGen.table): TickOp = {
    val base = TickGen.series(seed, 100 + i, 0, 0, batchRows - batchRows / 20)
    val again = base.indices.filter(_ % resendEvery == 0).take(batchRows / 20)
      .map { j =>
        val t = base(j)
        if (j % 2 == 0) t else t.copy(close = t.close + 0.01, v = t.v + 100.0)
      }
    val rows = (base ++ again).toSeq
    TickOp("batch_insert", i, TickGen.insertSql(tbl), Nil, rows = rows)
  }

  def distinctKeysPerBatch: Int = batchRows - batchRows / 20

  /** Single insert `i`: bar `i` of series (7, 0); every 20th op re-sends
    * the key of op `i - 10` with new prices.
    */
  def single(seed: Long, i: Int, tbl: String = TickGen.table): TickOp = {
    val resend = i % 20 == 19
    val bar = if (resend) i - 10 else i
    val t0 = TickGen.series(seed, 7, 0, bar, 1).head
    val t = if (resend) t0.copy(close = t0.close + 0.01) else t0
    TickOp("single_insert", i, TickGen.insertSql(tbl), t.args, rows = Seq(t))
  }

  def isResend(i: Int): Boolean = i % 20 == 19
}

/** Read-mix and writer ops of `tick_wire`.
  *
  * `hist` holds one series (sec 1, interval 0) of 100,000 bars, one per
  * 100 microseconds, imported in bulk. `today` is built from 30 appended
  * batches of 200 bars that keep overwriting a pool of 4,000 keys of sec
  * 50, so reads of it merge a dirty log; the writer appends new keys under
  * sec 51 while the readers run.
  */
object QueryOps {
  val histSec = 1
  val histBars = 100000
  val histStepUs = 100L
  val rangeBars = 1000
  val todaySec = 50
  val todayIntervals = 4
  val todayPool = 1000
  val todayBatches = 30
  val todayBatchRows = 200
  val writerSec = 51
  val writerRows = 50

  def hist(seed: Long): Array[Tick] =
    TickGen.series(seed, histSec, 0, 0, histBars, histStepUs, subMicro = false)

  private def histTm(seed: Long, k: Int) =
    TickGen.instantOf(seed, histSec, 0, k, histStepUs, subMicro = false)

  /** Set-up batch `j` of `today`: 200 keys of the pool with prices of
    * revision `j`; a key's timestamp does not depend on the revision.
    */
  def todayBatch(seed: Long, j: Int): Seq[Tick] = {
    val r = TickGen.rng(seed, 0x70DA7L + j)
    Seq.fill(todayBatchRows) {
      val iv = r.nextInt(todayIntervals)
      val k = r.nextInt(todayPool)
      val (tmSec, tmNano) = TickGen.tmOf(seed, todaySec, iv, k)
      TickGen.series(seed + 1 + j, todaySec, iv, k, 1).head
        .copy(tmSec = tmSec, tmNano = tmNano)
    }
  }

  /** Winners of the set-up batches in key order: what `today` must hold. */
  def todayWinners(seed: Long): IndexedSeq[Tick] =
    TickGen.winners((0 until todayBatches).flatMap(todayBatch(seed, _)))
      .values.toIndexedSeq.sortBy(_.key)

  /** Writer append `w`: 50 new bars of series (51, 0). */
  def append(seed: Long, w: Int, tbl: String = "today"): TickOp =
    TickOp("append", w, TickGen.insertSql(tbl), Nil,
      rows = TickGen.series(seed, writerSec, 0, w * writerRows, writerRows).toSeq)

  private val pointSql =
    "select * from %s where sec=? and interval=? and tm=?"
  private val rangeSql =
    "select * from hist where sec=? and interval=0 and tm>=? and tm<?"

  /** The read mix, the same for every seed: of each 20 reads, 11 point
    * gets and 5 1k-row range scans on `hist`, 3 point gets on `today`, and
    * one 100k-row bulk read of the `hist` series, alternately chunked and
    * split 10 ways on `tm` (the split column leads the order within one
    * series, as `NetClient.executeRanges` requires).
    */
  private val mix = "PRPFPRPPRPFPPRPFPRPB".map {
    case 'P' => "point_get"
    case 'R' => "range_scan"
    case 'F' => "fresh_get"
    case _ => "bulk_read"
  }

  /** Length of one cycle of the read mix. */
  def cycle: Int = mix.length

  def kindOf(i: Int): String = mix(i % mix.length)

  /** Read op `i`, with its expected row count and checksum. `hist` is
    * [[hist]] and `today` is [[todayWinners]] of the same seed.
    */
  def read(seed: Long, i: Int, hist: Array[Tick], today: IndexedSeq[Tick]): TickOp = {
    val r = TickGen.rng(seed, 0x5EAL + i)
    kindOf(i) match {
      case "point_get" =>
        val t = hist(r.nextInt(histBars))
        TickOp("point_get", i, pointSql.format("hist"), Seq(histSec, 0, t.tm),
          expectRows = 1, expectSum = TickGen.rowHash(t))
      case "range_scan" =>
        val k = r.nextInt(histBars - rangeBars)
        TickOp("range_scan", i, rangeSql,
          Seq(histSec, histTm(seed, k), histTm(seed, k + rangeBars)),
          expectRows = rangeBars,
          expectSum = TickGen.checksum(hist.slice(k, k + rangeBars)))
      case "fresh_get" =>
        val t = today(r.nextInt(today.length))
        TickOp("fresh_get", i, pointSql.format("today"),
          Seq(t.sec, t.interval, t.tm), expectRows = 1,
          expectSum = TickGen.rowHash(t))
      case _ =>
        val sum = TickGen.checksum(hist)
        val sql = s"select * from hist where sec=$histSec and interval=0"
        if (i / mix.length % 2 == 0)
          TickOp("bulk_read", i, sql, Nil, expectRows = histBars, expectSum = sum)
        else
          TickOp("bulk_read", i, sql + " and tm>=? and tm<=?", Nil,
            expectRows = histBars, expectSum = sum,
            ranges = graft.engine.Client.splitRange(histTm(seed, 0),
              histTm(seed, histBars - 1), 10))
    }
  }

  def checkRows(op: TickOp, rows: Seq[Seq[Any]]): Option[String] = {
    val ticks = rows.flatMap(TickGen.fromWire)
    if (ticks.length != rows.length) Some(s"${op.req}: unexpected row shape")
    else if (rows.length != op.expectRows)
      Some(s"${op.req}: ${rows.length} rows, expected ${op.expectRows}")
    else if (TickGen.checksum(ticks) != op.expectSum)
      Some(s"${op.req}: checksum mismatch")
    else None
  }
}
