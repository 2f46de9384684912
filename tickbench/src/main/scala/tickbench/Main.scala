package tickbench

/** Entry point of one benchmark run, called by `run.py`:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *   Main --selftest
  *
  * Prints two lines on stdout: `@@detail {...}` (sample counts, per-class
  * figures, host context) and `@@result {...}` (the metrics of this run,
  * end-to-end ones untraced, per-layer ones traced).
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.contains("--selftest")) sys.exit(SelfTest.run())
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = RunArgs(opts("workload"), opts("seed").toLong, opts("seconds").toInt,
      opts("trace") == "1", opts("work"))
    val o = a.workload match {
      case "tick_wire" => new TickWire(a).run()
      case "analytics" => new Analytics(a).run()
      case "stream_ingest" => new StreamIngest(a).run()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val metrics =
      if (a.trace) Metrics.perLayer.map { case (n, u) => n -> (o.layer.getOrElse(n, 0.0), u) }
      else Metrics.endToEnd.map { case (n, u) =>
        n -> (o.e2e.getOrElse(n, throw new IllegalStateException(s"metric $n not measured")), u)
      }
    val bad = metrics.collect { case (n, (v, _)) if v.isNaN || v.isInfinite => n }
    if (bad.nonEmpty) throw new IllegalStateException(s"metrics not finite: ${bad.mkString(", ")}")
    println("@@detail " + Json.obj(o.detail.toSeq ++ Seq(
      "errors" -> o.tally.errors, "workload" -> a.workload, "seed" -> a.seed)))
    println("@@result " + Json.obj(Seq(
      "correct" -> o.tally.correct, "attempted" -> o.tally.attempted,
      "failed" -> o.tally.failed,
      "metrics" -> Json.obj(metrics.map { case (n, (v, u)) =>
        n -> Json.obj(Seq("value" -> v, "unit" -> u)) }))))
    System.out.flush()
    // client reader threads are not daemons everywhere; end the JVM here
    sys.exit(0)
  }
}
