package tickbench

import scala.collection.mutable

/** `analytics`: registry queries in-process through `SparkEntry.queries`
  * over seeded tables, each result sent to the `noop` sink. A first,
  * untimed pass writes every result to parquet for the DuckDB oracle
  * check and is the warm-up; timed passes then repeat the suite until the
  * run's seconds are spent, and each query reports its median.
  */
object Analytics {
  /** Fixpoint queries: iterative operators that run eager rounds. */
  val fixpoint = Seq("q_pagerank")
  val asOf = Seq("q_adj_distributed")
  val tick = Seq("q_ohlcv_bars")
  val queries: Seq[String] = fixpoint ++ asOf ++ tick
}

final class Analytics(a: RunArgs) {
  import Analytics._

  private final case class Exec(pass: Int, build: Double, wall: Double, shuffleMb: Double,
      spillMb: Double, jobs: Long, inputRows: Long, cachedMb: Double, planNodes: Int)

  def run(): Outcome = {
    val o = new Outcome
    val spark = Session.create(a.work)
    try {
      val sc = spark.sparkContext
      val listener = LayerListener.install(sc)
      val tracer = new Tracer(a.trace)
      // set-up twice into data-r0 and data-r1 and keep r1; the repeated
      // part counts once, at its median
      val gens = (0 until 2).map { r =>
        val t0 = System.nanoTime()
        val counts = TableGen.write(spark, a.seed, s"${a.work}/data-r$r")
        (counts, (System.nanoTime() - t0) / 1e9)
      }
      val dir = s"${a.work}/data-r1"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(a.work, "oracle_sql.json"),
        Json.obj(queries.map(q => q -> graft.SparkEntry.oracleSql(q))).json)
      o.detail("table_rows") = gens.last._1
      val tCheck = System.nanoTime()
      queries.foreach { q =>
        try {
          graft.SparkEntry.queries(q)(spark, dir).repartition(1)
            .write.mode("overwrite").parquet(s"${a.work}/results/$q")
          spark.catalog.clearCache()
        } catch { case e: Throwable =>
          o.tally.fail(s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
      o.detail("check_pass_s") = (System.nanoTime() - tCheck) / 1e9
      // a second, untimed pass through the noop sink: after the checking
      // pass alone the first timed pass was still the slowest
      queries.foreach { q =>
        try {
          graft.SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
          spark.catalog.clearCache()
        } catch { case e: Throwable =>
          o.tally.fail(s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
      val genS = gens.map(_._2)
      o.detail("data_setup_s") = genS
      o.e2e("setup_s") = (System.currentTimeMillis() - a.jvmStartMs) / 1000.0 -
        genS.sum + Stats.median(genS)

      // the timed passes; a contaminated window is measured once more
      val execs = Host.quietWindow(o, a.jvmStartMs) { attempt =>
        val execs = mutable.LinkedHashMap(queries.map(_ -> mutable.ArrayBuffer.empty[Exec]): _*)
        val t0 = System.nanoTime()
        var pass = 0
        // every query's median needs two passes at least (and a traced run
        // one untraced and one traced); a further pass starts only if half
        // of it fits in the run's seconds
        val minPasses = 2
        var lastPassNs = 0L
        def more = System.nanoTime() - t0 + lastPassNs / 2 < a.seconds * 1000000000L
        while (pass < minPasses || more) {
          val tp = System.nanoTime()
          val on = pass % 2 == 1 // traced and untraced passes alternate
          val req = s"$attempt-$pass"
          queries.foreach { q =>
            try {
              val ((build, wall, nodes), g) = LayerListener.inGroup(sc, q) {
                tracer.span(s"analytics.$q", s"$q-$req", on = on) { root =>
                  val s = System.nanoTime()
                  val df = tracer.span("operators.build", s"$q-$req", root, on)(_ =>
                    graft.SparkEntry.queries(q)(spark, dir))
                  val b = System.nanoTime()
                  tracer.span("spark.exec", s"$q-$req", root, on)(_ =>
                    df.write.format("noop").mode("overwrite").save())
                  val e = System.nanoTime()
                  val nodes = if (fixpoint.contains(q)) df.queryExecution.optimizedPlan
                    .collect { case p => p }.size else 0
                  ((b - s) / 1e9, (e - s) / 1e9, nodes)
                }
              }
              // storage the query left behind, read before our own clearCache
              val cached = sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
              spark.catalog.clearCache()
              val c = listener.await(g)
              execs(q) += Exec(pass, build, wall, c.shuffleWriteBytes.sum / 1048576.0,
                c.spillBytes.sum / 1048576.0, c.jobs, c.inputRecords.sum, cached, nodes)
              o.tally.ok()
            } catch { case e: Throwable =>
              o.tally.fail(s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}") }
          }
          lastPassNs = System.nanoTime() - tp
          pass += 1
        }
        o.detail("passes") = pass
        execs
      }

      def med(q: String, f: Exec => Double): Double = Stats.median(execs(q).map(f).toSeq)
      val ran = queries.filter(execs(_).nonEmpty)
      val wallMed = ran.map(q => q -> med(q, _.wall)).toMap
      val suite = wallMed.values.sum
      o.detail("suite_s") = suite
      o.detail("query_geomean_s") = Stats.geomean(wallMed.values.toSeq)
      o.detail("query_wall_s") = wallMed
      o.e2e("rows_per_s") = ran.map(q => med(q, _.inputRows.toDouble)).sum / suite
      // the op is one pass of the suite: the passes every query finished
      val passMs = execs.values.flatten.groupBy(_.pass).values
        .filter(_.size == queries.length).map(_.map(_.wall).sum * 1000).toSeq
      o.detail("pass_s") = passMs.map(_ / 1000)
      o.latencyMetrics(passMs, wallMed.values.map(_ * 1000).toSeq)
      ran.foreach { q =>
        o.layer(s"analytics.$q.wall_s") = wallMed(q)
        o.layer(s"analytics.$q.build_s") = med(q, _.build)
        o.layer(s"analytics.$q.shuffle_mb") = med(q, _.shuffleMb)
        if (fixpoint.contains(q)) o.layer(s"analytics.$q.plan_nodes") = med(q, _.planNodes.toDouble)
      }
      o.layer("analytics.jobs_total") = ran.map(q => med(q, _.jobs.toDouble)).sum
      o.layer("analytics.spill_mb_total") = ran.map(q => med(q, _.spillMb)).sum
      o.layer("analytics.cached_mb_after_total") = ran.map(q => med(q, _.cachedMb)).sum
      if (a.trace) {
        val (tr, un) = ran.flatMap(execs(_)).partition(_.pass % 2 == 1)
        if (tr.nonEmpty && un.nonEmpty)
          o.layer("trace.overhead_ms_per_op") =
            (tr.map(_.wall).sum / tr.length - un.map(_.wall).sum / un.length) * 1000
        tracer.write(java.nio.file.Paths.get(a.work, "spans.tsv"))
      }
      o.e2e("peak_rss_mb") = Host.peakRssMb(Host.selfPid)
      o.detail("run_s") = (System.currentTimeMillis() - a.jvmStartMs) / 1000.0
      o.detail("session") = Json.obj(Session.context)
      o
    } finally spark.stop()
  }
}
