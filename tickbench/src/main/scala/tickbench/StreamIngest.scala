package tickbench

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.types._
import graft.streaming.Ingest

/** `stream_ingest`: pre-staged seeded tick files, including re-sent and
  * overwritten keys, run through `Ingest.streamUpsert` one file per
  * trigger until drained; `readUpserted` then reads them back. Drains
  * repeat, each into a fresh log and checkpoint, until the run's seconds
  * are spent.
  */
final class StreamIngest(a: RunArgs) {
  private val files = 6
  private val freshRows = 1800
  private val resent = 200
  private val keys = Seq("sec", "interval", "tm_ns")
  private val schema = StructType(Seq(StructField("sec", IntegerType),
    StructField("interval", IntegerType), StructField("tm_ns", LongType)) ++
    Seq("open", "high", "low", "close", "v", "vwap").map(StructField(_, DoubleType)))

  /** File `f`: 1,800 fresh bars of series (1 + f % 3, f) and 200 re-sends
    * of the previous file's keys, alternately unchanged and overwritten.
    */
  private def file(f: Int): Seq[Tick] = {
    val fresh = TickGen.series(a.seed, 1 + f % 3, f, 0, freshRows).toSeq
    if (f == 0) fresh
    else fresh ++ TickGen.series(a.seed, 1 + (f - 1) % 3, f - 1, 0, freshRows)
      .take(resent).zipWithIndex.map { case (t, j) =>
        if (j % 2 == 0) t else t.copy(close = t.close + 0.01, v = t.v + 100.0)
      }
  }

  private def stage(dir: String, n: Int): Unit = {
    Files.createDirectories(Paths.get(dir))
    (0 until n).foreach { f =>
      val p = Paths.get(dir, f"ticks-$f%03d.parquet")
      graft.engine.LocalParquet.write(p, schema, file(f).iterator.map(t =>
        Array[Any](t.sec, t.interval, t.tmNs, t.open, t.high, t.low, t.close, t.v, t.vwap)))
      // the file source takes files in modification-time order
      Files.setLastModifiedTime(p, FileTime.fromMillis(1600000000000L + f * 1000L))
    }
  }

  def run(): Outcome = {
    val o = new Outcome
    val spark = Session.create(a.work)
    try {
      val tracer = new Tracer(a.trace)
      val stageS = (0 until 3).map { r =>
        val t0 = System.nanoTime()
        stage(s"${a.work}/landing-r$r", files)
        (System.nanoTime() - t0) / 1e9
      }
      val landing = s"${a.work}/landing-r2"
      val sent = (0 until files).flatMap(file)
      val winners = TickGen.winners(sent)
      val expectSum = TickGen.checksum(winners.values)

      def drain(name: String, src: String): (Double, Seq[java.util.Map[String, java.lang.Long]], Seq[Long]) = {
        val out = s"${a.work}/$name/log"
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
        val t0 = System.nanoTime()
        val q = Ingest.streamUpsert(stream, out, keys, s"${a.work}/$name/checkpoint")
        try q.processAllAvailable() finally q.stop()
        val wall = (System.nanoTime() - t0) / 1e9
        val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
        (wall, progress.map(_.durationMs), progress.map(_.numInputRows))
      }
      def readBack(name: String): Seq[Tick] =
        Ingest.readUpserted(spark, s"${a.work}/$name/log", keys).collect().toSeq.map { r =>
          val ns = r.getLong(2)
          Tick(r.getInt(0), r.getInt(1), Math.floorDiv(ns, 1000000000L),
            Math.floorMod(ns, 1000000000L).toInt, r.getDouble(3), r.getDouble(4),
            r.getDouble(5), r.getDouble(6), r.getDouble(7), r.getDouble(8))
        }

      // warm-up: four whole drains; after two, drains still got faster
      // through the next two
      (0 until 4).foreach { w =>
        drain(s"warm-$w", landing)
        readBack(s"warm-$w")
      }
      o.e2e("setup_s") = (System.currentTimeMillis() - a.jvmStartMs) / 1000.0 -
        stageS.sum + Stats.median(stageS)

      final case class Drains(walls: Seq[(Int, Double)],
          durations: Seq[java.util.Map[String, java.lang.Long]], readS: Seq[Double])
      // the timed drains; a contaminated window is measured once more
      val Drains(walls, durations, readS) = Host.quietWindow(o, a.jvmStartMs) { attempt =>
        val walls = ArrayBuffer.empty[(Int, Double)]
        val durations = ArrayBuffer.empty[java.util.Map[String, java.lang.Long]]
        val readS = ArrayBuffer.empty[Double]
        val t0 = System.nanoTime()
        var d = 0
        val minDrains = 2
        while (d < minDrains || System.nanoTime() - t0 < a.seconds * 1000000000L) {
          val on = d % 2 == 1 // traced and untraced drains alternate
          val name = s"drain-$attempt-$d"
          val (wall, durs, rows) = tracer.span("streaming.drain", name, on = on)(_ =>
            drain(name, landing))
          walls += d -> wall
          durations ++= durs
          o.tally.check(rows.sum == sent.length, s"$name ingested ${rows.sum} of ${sent.length} rows")
          val r0 = System.nanoTime()
          val got = tracer.span("streaming.read_upserted", name, on = on)(_ => readBack(name))
          readS += (System.nanoTime() - r0) / 1e9
          o.tally.check(got.length == winners.size && TickGen.checksum(got) == expectSum,
            s"$name read back ${got.length} rows, expected the ${winners.size} winners")
          d += 1
        }
        o.detail("drain_s") = walls.map(_._2)
        Drains(walls.toSeq, durations.toSeq, readS.toSeq)
      }
      val triggers = durations.length

      def mean(key: String): Double =
        durations.map(m => Option(m.get(key)).map(_.doubleValue).getOrElse(0.0)).sum /
          math.max(1, durations.length)
      val trig = durations.map(m => Option(m.get("triggerExecution")).map(_.doubleValue)
        .getOrElse(0.0)).toSeq
      val drainS = walls.map(_._2).toSeq
      o.e2e("rows_per_s") = sent.length / Stats.median(drainS)
      o.latencyMetrics(trig, Seq(Stats.median(trig), Stats.median(drainS) * 1000,
        Stats.median(readS) * 1000))
      o.latency("trigger", trig)
      o.detail("stream_rows_per_s") = o.e2e("rows_per_s")
      o.layer("stream.add_batch_ms") = mean("addBatch")
      o.layer("stream.wal_commit_ms") = mean("walCommit")
      o.layer("stream.commit_offsets_ms") = mean("commitOffsets")
      o.layer("stream.latest_offset_ms") = mean("latestOffset")
      o.layer("stream.query_planning_ms") = mean("queryPlanning")
      o.layer("stream.trigger_ms") = mean("triggerExecution")
      o.layer("stream.files_per_batch") = walls.length.toDouble * files / math.max(1, triggers)
      o.layer("stream.read_upserted_s") = Stats.median(readS)
      if (a.trace) {
        val (tr, un) = walls.partition(_._1 % 2 == 1)
        if (tr.nonEmpty && un.nonEmpty)
          o.layer("trace.overhead_ms_per_op") =
            (tr.map(_._2).sum / tr.length - un.map(_._2).sum / un.length) * 1000 / files
        tracer.write(Paths.get(a.work, "spans.tsv"))
      }
      o.e2e("peak_rss_mb") = Host.peakRssMb(Host.selfPid)
      o.detail("run_s") = (System.currentTimeMillis() - a.jvmStartMs) / 1000.0
      o.detail("session") = Json.obj(Session.context)
      o
    } finally spark.stop()
  }
}
