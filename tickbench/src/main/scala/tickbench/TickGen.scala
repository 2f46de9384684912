package tickbench

import java.time.Instant
import java.util.SplittableRandom

/** One OHLCV bar of the reference's tick table. `tmSec` and `tmNano`
  * are the timestamp at full nanosecond precision.
  */
final case class Tick(sec: Int, interval: Int, tmSec: Long, tmNano: Int,
    open: Double, high: Double, low: Double, close: Double, v: Double,
    vwap: Double) {
  def key: (Int, Int, Long, Int) = (sec, interval, tmSec, tmNano)
  def tm: Instant = Instant.ofEpochSecond(tmSec, tmNano)
  def tmNs: Long = tmSec * 1000000000L + tmNano

  /** Argument list of [[TickGen.insertSql]], as the wire carries it. */
  def args: Seq[Any] = Seq(sec, interval, tm, open, high, low, close, v, vwap)
}

/** Seeded tick generator. Every series is a random walk of OHLCV bars for
  * one (`sec`, `interval`) pair; timestamps advance by a fixed step plus a
  * sub-microsecond remainder, so nanosecond round trips are exercised.
  * The same seed always gives the same ticks, whatever order series are
  * asked for in.
  */
object TickGen {
  val table = "ticks"
  val createSql: String =
    "create table if not exists %s(sec int, interval int, tm timestamp, " +
      "open double, high double, low double, close double, v double, " +
      "vwap double, primary key(sec, interval, tm))"
  def insertSql(tbl: String): String =
    s"insert into $tbl(sec, interval, tm, open, high, low, close, v, vwap) " +
      "values(?, ?, ?, ?, ?, ?, ?, ?, ?)"

  /** 2021-01-04 00:00:00 UTC; bars start here. */
  val epochSec = 1609718400L

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Independent random stream for (seed, tag); used for every choice. */
  def rng(seed: Long, tag: Long): SplittableRandom = new SplittableRandom(mix(seed, tag))

  /** Timestamp of bar `k` of series (`sec`, `interval`): one bar every
    * `stepUs` microseconds; with `subMicro` a 1-999 ns remainder drawn from
    * the key alone, so a key's timestamp never depends on its prices.
    */
  def tmOf(seed: Long, sec: Int, interval: Int, k: Int, stepUs: Long = 1000L,
      subMicro: Boolean = true): (Long, Int) = {
    val us = k * stepUs
    val ns =
      if (subMicro) 1 + java.lang.Math.floorMod(
        mix(mix(seed, (sec.toLong << 32) | interval), k.toLong), 999L).toInt
      else 0
    (epochSec + us / 1000000L, ((us % 1000000L) * 1000L + ns).toInt)
  }

  def instantOf(seed: Long, sec: Int, interval: Int, k: Int,
      stepUs: Long = 1000L, subMicro: Boolean = true): Instant = {
    val (s, n) = tmOf(seed, sec, interval, k, stepUs, subMicro)
    Instant.ofEpochSecond(s, n)
  }

  /** `n` bars of series (`sec`, `interval`) starting at bar `from`: a
    * random walk of prices seeded by (seed, sec, interval, from), at the
    * timestamps of [[tmOf]]. Without `subMicro` timestamps are whole
    * microseconds (what a bulk import keeps).
    */
  def series(seed: Long, sec: Int, interval: Int, from: Int, n: Int,
      stepUs: Long = 1000L, subMicro: Boolean = true): Array[Tick] = {
    val r = rng(seed, (sec.toLong << 32) ^ (interval.toLong << 20) ^ from)
    var px = 50.0 + r.nextInt(100)
    Array.tabulate(n) { i =>
      val (tmSec, tmNano) = tmOf(seed, sec, interval, from + i, stepUs, subMicro)
      val open = px
      px = math.max(1.0, px + (r.nextInt(201) - 100) / 100.0)
      val close = px
      val high = math.max(open, close) + r.nextInt(50) / 100.0
      val low = math.min(open, close) - r.nextInt(50) / 100.0
      val v = (1 + r.nextInt(10000)) * 100.0
      val vwap = (open + high + low + close) / 4
      Tick(sec, interval, tmSec, tmNano, open, high, low, close, v, vwap)
    }
  }

  /** Last-write-wins winners of a send order, keyed by primary key. */
  def winners(sent: Seq[Tick]): Map[(Int, Int, Long, Int), Tick] =
    sent.iterator.map(t => t.key -> t).toMap

  /** Order-insensitive checksum of ticks. */
  def checksum(ts: Iterable[Tick]): Long = ts.foldLeft(0L)((a, t) => a + rowHash(t))

  def rowHash(t: Tick): Long = {
    var h = mix(t.sec.toLong, t.interval.toLong)
    h = mix(h, t.tmSec); h = mix(h, t.tmNano.toLong)
    Seq(t.open, t.high, t.low, t.close, t.v, t.vwap).foreach(d =>
      h = mix(h, java.lang.Double.doubleToLongBits(d)))
    h
  }

  /** A wire row (`select *` over [[graft.engine.NetClient]]) back to a tick;
    * None when its shape is not the tick table's.
    */
  def fromWire(row: Seq[Any]): Option[Tick] = row match {
    case Seq(sec: Int, iv: Int, tm: Instant, o: Double, h: Double, l: Double,
        c: Double, v: Double, w: Double) =>
      Some(Tick(sec, iv, tm.getEpochSecond, tm.getNano, o, h, l, c, v, w))
    case _ => None
  }

  /** Canonical bytes of ticks, for the determinism self-test. */
  def bytes(ts: Seq[Tick]): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream
    val out = new java.io.DataOutputStream(bo)
    ts.foreach { t =>
      out.writeInt(t.sec); out.writeInt(t.interval); out.writeLong(t.tmSec)
      out.writeInt(t.tmNano)
      Seq(t.open, t.high, t.low, t.close, t.v, t.vwap).foreach(out.writeDouble)
    }
    out.flush()
    bo.toByteArray
  }
}
