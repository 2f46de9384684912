package tickbench

import scala.collection.mutable

/** The benchmark's metric names and units. Every workload reports every
  * end-to-end metric, each measured on that workload's own traffic (see
  * README.md for the mapping), and every per-layer metric; a layer the
  * workload does not reach reads 0.
  */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "peak_rss_mb" -> "MB",
    "rows_per_s" -> "rows/s",
    "op_p50_ms" -> "ms",
    "op_tail_ms" -> "ms",
    "class_geomean_ms" -> "ms")

  /** Wire op classes of the tick workloads. */
  val ops = Seq("batch_insert", "single_insert", "point_get", "range_scan",
    "bulk_read", "fresh_get", "append")
  /** The op classes that plan and run Spark jobs. */
  val readOps = Seq("point_get", "range_scan", "bulk_read", "fresh_get")

  val perLayer: Seq[(String, String)] =
    Seq("wire.req_bytes_per_row" -> "B", "wire.resp_bytes_per_row" -> "B",
      "wire.bson_encode_us_per_row" -> "us", "wire.bson_decode_us_per_row" -> "us") ++
    ops.map(o => s"wire.share.$o" -> "ratio") ++
    ops.map(o => s"engine.parse_us.$o" -> "us") ++
    ops.map(o => s"engine.resolve_ms.$o" -> "ms") ++
    Seq("catalog.append_ms.batch" -> "ms", "catalog.append_ms.single" -> "ms",
      "catalog.files_per_insert" -> "count", "catalog.bytes_per_row" -> "B",
      "catalog.log_files.today" -> "count", "catalog.ordered_read_ms" -> "ms",
      "catalog.lww_read_ms" -> "ms", "catalog.import_s" -> "s") ++
    readOps.flatMap(o => Seq(s"spark.plan_ms.$o" -> "ms", s"spark.exec_ms.$o" -> "ms",
      s"spark.jobs.$o" -> "count", s"spark.tasks.$o" -> "count")) ++
    Analytics.queries.flatMap(q => Seq(s"analytics.$q.wall_s" -> "s",
      s"analytics.$q.build_s" -> "s", s"analytics.$q.shuffle_mb" -> "MB")) ++
    Analytics.fixpoint.map(q => s"analytics.$q.plan_nodes" -> "count") ++
    Seq("analytics.jobs_total" -> "count", "analytics.spill_mb_total" -> "MB",
      "analytics.cached_mb_after_total" -> "MB") ++
    Seq("stream.add_batch_ms", "stream.wal_commit_ms", "stream.commit_offsets_ms",
      "stream.latest_offset_ms", "stream.query_planning_ms", "stream.trigger_ms")
      .map(_ -> "ms") ++
    Seq("stream.files_per_batch" -> "count", "stream.read_upserted_s" -> "s",
      "trace.overhead_ms_per_op" -> "ms")
}

/** What one run of a workload produced. */
final class Outcome {
  val tally = new Tally
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Everything else worth keeping: sample counts, per-class figures,
    * host context. Printed, not gated.
    */
  val detail = mutable.LinkedHashMap.empty[String, Any]

  /** Median, tail percentile and sample count of one latency class,
    * recorded under `name` in the detail record.
    */
  def latency(name: String, ms: Seq[Double]): Unit =
    if (ms.nonEmpty) {
      detail(s"${name}_p50_ms") = Stats.median(ms)
      detail(s"${name}_n") = ms.length
      Stats.tail(ms).foreach { case (q, v, _) => detail(s"${name}_p${q}_ms") = v }
    }

  /** The three latency end-to-end metrics from the workload's own op
    * samples and class medians.
    */
  def latencyMetrics(opMs: Seq[Double], classMedians: Seq[Double]): Unit = {
    e2e("op_p50_ms") = Stats.median(opMs)
    // with fewer than 20 samples no percentile has ten above it; the
    // slowest sample is then the only honest tail
    val (q, v) = Stats.tail(opMs).map(t => (t._1, t._2)).getOrElse((100, opMs.max))
    e2e("op_tail_ms") = v
    detail("op_tail_percentile") = q
    detail("op_samples") = opMs.length
    e2e("class_geomean_ms") = Stats.geomean(classMedians)
  }
}

/** Arguments of one run. */
final case class RunArgs(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: String) {
  /** Wall-clock ms at which this JVM started; set-up is timed from here. */
  val jvmStartMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
}
