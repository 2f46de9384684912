package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Per-round benchmark: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line (driver contract).
  * Full plans are executed via the `noop` sink (no driver collect).
  *
  * Load detection (BENCH_r04 post-mortem): a cheap I/O-bound point-get
  * canary proved BLIND to CPU/memory-bandwidth contention — the r4
  * artifact was inflated 2-100x on heavy queries with the canary green.
  * Three independent detectors now make a poisoned run self-evident:
  *  1. per-query EXTERNAL cpu fraction — Δ(/proc/stat busy) minus
  *     Δ(our process cpu), over Δ(total machine cpu): directly measures
  *     "someone else is eating the box" during each timed run;
  *  2. a fixed-work CPU-BOUND canary (67M xxhash64 fold across all
  *     cores) at suite start AND end, compared to a recorded idle
  *     envelope;
  *  3. the original point-get canary (still useful for I/O stalls).
  * `load_suspect` is reported per query and globally.
  */
object Bench {
  private val osBean =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Machine-wide busy cpu-seconds since boot (all cores summed), from
    * /proc/stat; -1 where /proc is unavailable (non-Linux dev box —
    * detection degrades gracefully, timings are unaffected).
    */
  private def machineBusySecs(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toDouble)
        val idle = f(3) + (if (f.length > 4) f(4) else 0.0) // idle + iowait
        (f.sum - idle) / 100.0 // USER_HZ = 100 on mainstream Linux
      } finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Run `body`, returning (wallSecs, externalCpuFrac, coresUsedBySpark).
    * externalCpuFrac: fraction of TOTAL machine cpu capacity consumed by
    * processes other than this JVM while `body` ran — ~0 idle, 0.5+ when
    * a concurrent build is poisoning the numbers. -1 when undetectable.
    */
  private def measured[A](body: => A): (Double, Double, Double) = {
    val busy0 = machineBusySecs()
    val cpu0 = osBean.getProcessCpuTime // ns, all threads
    val t0 = System.nanoTime()
    body
    val wall = (System.nanoTime() - t0) / 1e9
    val selfCpu = (osBean.getProcessCpuTime - cpu0) / 1e9
    val busy1 = machineBusySecs()
    val nCores = Runtime.getRuntime.availableProcessors()
    val capacity = nCores * wall
    val ext =
      if (busy0 < 0 || busy1 < 0 || wall <= 0) -1.0
      else math.max(0.0, (busy1 - busy0 - selfCpu) / capacity)
    val cores = if (wall > 0) selfCpu / wall else 0.0
    ((wall * 1000).round / 1000.0, (ext * 1000).round / 1000.0,
      (cores * 100).round / 100.0)
  }

  /** Fixed-work CPU-bound canary: fold 67M xxhash64 values across every
    * core. No I/O, no shuffle — pure cpu + memory bandwidth, exactly the
    * resource the r4 contention stole. Idle envelope on the driver
    * machine (local[32]): ~0.15-0.35 s; budget 3x the high end.
    */
  private def cpuCanary(spark: SparkSession): Double = {
    val (wall, _, _) = measured {
      spark.range(0L, 1L << 26, 1L, 32)
        // bit_xor, not sum: a sum of 64-bit hashes overflows long under
        // ANSI mode; xor folds the same work with no overflow
        .selectExpr("bit_xor(xxhash64(id, id + 1, id + 2)) AS s")
        .collect()
    }
    wall
  }
  private val cpuCanaryBudget = 1.05 // 3x the 0.35 s idle high end

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    // a crash is a FAILURE, not load: recorded here (first exception line)
    // and reported as failed_queries, never as load suspicion (r5 had 28
    // crashes masquerading as contention with all three canaries green)
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // per-run measurement: (wall, externalCpuFrac, coresUsed); -1 wall on error
    def runMeasured(name: String): (Double, Double, Double) = {
      try {
        val m = measured {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
        }
        // operators that self-join persist intermediates; drop them so one
        // query's cache doesn't pressure the next query's memory
        spark.catalog.clearCache()
        m
      } catch { case e: Throwable =>
        val firstLine = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.find(_.trim.nonEmpty).getOrElse(e.getClass.getName)
        failures.getOrElseUpdate(name, firstLine.take(300))
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        (-1.0, -1.0, -1.0)
      }
    }
    def run(name: String): Double = runMeasured(name)._1
    val names = SparkEntry.queries.keys.toSeq.sorted
    // Warm-up: pay JVM/Janino startup before timing. One query is not
    // enough — round-1 showed a ~7 s one-off codegen-compilation hit
    // landing on whichever query first exercised a codegen family
    // (q_rollup at 8.78 s vs 1.2-1.6 s steady-state, BENCH_r01 vs the
    // r2 rerun). Warm one representative per family: decimal hash agg,
    // grouping-sets Expand, window, sort-merge join, native as-of,
    // broadcast hash join and json-path codegen (the two r3
    // counter-trend queries — both plans are textbook, so the 2x was
    // almost certainly first-exercise JIT landing on them after the
    // registry grew; warming the family removes that from the timing).
    Seq(names.head, "q1_agg", "q_rollup", "q_window_rank", "q_self_join",
      "q_asof_native", "q_stats_moments", "q_join_broadcast",
      "q_json_extract").distinct.foreach(run)
    // Best-of-2 per query: machine-load noise poisoned BENCH_r02 (trivial
    // queries inflated 3-5x under a concurrent build). The best of two
    // runs is robust to one-sided load spikes; the canary below makes a
    // still-poisoned run self-evident to the reader.
    // CPU-bound canary at suite START (post-warm-up, so JIT is paid)
    cpuCanary(spark) // warm the canary's own codegen path
    val canaryStart = cpuCanary(spark)
    val nRuns = 2
    // best-of-2 per query, keeping the winning run's load measurements:
    // machine-load noise poisoned BENCH_r02 AND r04; the best of two is
    // robust to one-sided spikes, and the per-query external-cpu
    // fraction makes a still-poisoned number self-evident
    val results = names.map { n =>
      val runs = (0 until nRuns).map(_ => runMeasured(n)).filter(_._1 >= 0)
      n -> runs.minByOption(_._1).getOrElse((-1.0, -1.0, -1.0))
    }
    // collect/noop leg order ALTERNATES across the two runs (round-10
    // advice: subtracting two independently-minimized timings, with the
    // noop always running second in a warmed session, clamped the
    // residual to 0 — an ordering artifact reported as a measurement).
    // Run 0 times collect-then-noop, run 1 noop-then-collect; the
    // residual below is the raw SIGNED difference of the per-leg mins.
    val (ingestS, scanS, scanEngineS, scanProfile) = {
      val runs = (0 until nRuns).map(i =>
        baselineLoops(spark, noopFirst = i % 2 == 1,
          profile = i == nRuns - 1))
      (runs.map(_._1).min, runs.map(_._2).min, runs.map(_._3).min,
        runs.flatMap(_._4).toMap)
    }
    val (streamS, streamRows, streamProfile) = {
      val runs = (0 until nRuns).map(_ => streamingLoop(spark, sfDir))
      val best = runs.minBy(_._1)
      (best._1, runs.head._2, best._3)
    }
    // second point on the BATCH-SIZE axis (round-7 verdict item 4): the
    // same corpus in ONE micro-batch. rate(1)/rate(4) measures how much
    // of the 4-batch wall is per-batch fixed cost; the per-batch
    // overhead estimate below is the decomposition the 2×-of-batch bar
    // reduces to at real trigger sizes
    val (stream1S, _) = {
      val runs = (0 until nRuns).map(_ => streamingLoop(spark, sfDir, 1))
      (runs.map(_._1).min, streamRows)
    }
    // component decomposition at the 1-batch point (round-8 item 3,
    // re-centered by round-10 item 4 — see streamingLoop's variant
    // scaladoc): the primary ingest is the blind-append upsert with
    // read-side LWW (the reference-faithful policy); "statestore"
    // chains the optional watermark-dedup stage in front and is kept
    // as the committed comparison showing that stage's state-commit
    // cost (HDFS-backed; RocksDB measured no better, 1.77 vs 1.79 s;
    // shuffle partitions 16/32 both worse than 8).
    val streamStateS = (0 until nRuns)
      .map(_ => streamingLoop(spark, sfDir, 1, "statestore")._1).min
    val streamRawS = (0 until nRuns)
      .map(_ => streamingLoop(spark, sfDir, 1, "rawwrite")._1).min
    // original canary: a point get is ~0.2 s idle at any SF — still the
    // right probe for I/O stalls (but blind to cpu contention, r4)
    val canaryBudget = 0.6
    // a failed run (-1 sentinel) must read as SUSPECT, not healthy
    val canary = (0 until nRuns).map(_ => run("q_point_get"))
      .filter(_ >= 0).minOption.getOrElse(-1.0)
    // CPU-bound canary at suite END: contention that started mid-suite
    // shows here even if the start was clean
    val canaryEnd = cpuCanary(spark)
    // per-query suspicion: >20% of the machine's cpu went to OTHER
    // processes while the winning run was timed (floor 0.3 s wall —
    // sub-noise queries can't be meaningfully flagged). Crashed queries
    // are NOT suspicious — they are failed_queries, a separate axis.
    val suspectQueries = results.collect {
      case (n, (w, ext, _)) if ext > 0.2 && w > 0.3 => n
    }
    val cpuCanarySuspect = canaryStart > cpuCanaryBudget ||
      canaryEnd > cpuCanaryBudget
    val loadSuspect = canary < 0 || canary > canaryBudget ||
      cpuCanarySuspect || suspectQueries.nonEmpty
    val qs = results.map { case (k, (w, _, _)) => "\"" + k + "\":" + w }
      .mkString("{", ",", "}")
    val meta = results.map { case (k, (w, ext, cores)) =>
      s""""$k":{"wall_s":$w,"ext_cpu_frac":$ext,"jvm_cores_used":$cores,""" +
        s""""suspect":${ext > 0.2 && w > 0.3}}"""
    }.mkString("{", ",", "}")
    val total = results.map(_._2._1).filter(_ >= 0).sum
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val failedJson = failures
      .map { case (n, msg) => s"${jstr(n)}:${jstr(msg)}" }
      .mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$nRuns,""" +
      s""""queries":$qs,""" +
      s""""query_load":$meta,""" +
      s""""failed_queries":$failedJson,""" +
      s""""canary_point_get_s":$canary,"canary_budget_s":$canaryBudget,""" +
      s""""cpu_canary_start_s":$canaryStart,"cpu_canary_end_s":$canaryEnd,""" +
      s""""cpu_canary_budget_s":$cpuCanaryBudget,""" +
      s""""load_suspect_queries":${suspectQueries.sorted
        .map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""load_suspect":$loadSuspect,""" +
      s""""ingest_100k_ohlcv_s":$ingestS,"scan_100k_ohlcv_s":$scanS,""" +
      s""""ingest_rows_per_s":${(100000 / ingestS).toLong},""" +
      s""""scan_rows_per_s":${(100000 / scanS).toLong},""" +
      // scan decomposition (round-9 verdict item 5): engine_noop_s is
      // the same plan through the noop sink (scan+filter+decode, no
      // driver materialization); driver_collect_s is the RAW SIGNED
      // residual (round-10 advice: the old max(0, ·) clamp overstated
      // the decomposition's precision — leg order now alternates across
      // runs and a negative residual honestly reads "within noise")
      s""""scan_components":{"engine_noop_s":${
        (scanEngineS * 1000).round / 1000.0},"driver_collect_s":${
        ((scanS - scanEngineS) * 1000).round / 1000.0}},""" +
      // named component walls (round-10 verdict item 4): see
      // baselineLoops' profile leg for what each measures
      s""""scan_profile":${scanProfile.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")},""" +
      s""""scan_engine_rows_per_s":${(100000 / scanEngineS).toLong},""" +
      s""""streaming_upsert_s":${(streamS * 1000).round / 1000.0},""" +
      s""""streaming_upsert_rows":$streamRows,""" +
      s""""streaming_upsert_rows_per_s":${(streamRows / streamS).toLong},""" +
      s""""streaming_vs_batch_ingest":${
        ((streamRows / streamS) / (100000 / ingestS) * 1000).round / 1000.0
      },""" +
      // batch-size axis: the same corpus as ONE micro-batch, its rate
      // vs batch ingest, the rate-scaling factor vs the 4-batch run,
      // and the implied per-micro-batch fixed cost (t4 − t1)/3 — the
      // measured decomposition of the streaming-vs-batch gap
      s""""streaming_1batch_s":${(stream1S * 1000).round / 1000.0},""" +
      s""""streaming_1batch_rows_per_s":${(streamRows / stream1S).toLong},""" +
      s""""streaming_1batch_vs_batch_ingest":${
        ((streamRows / stream1S) / (100000 / ingestS) * 1000).round / 1000.0
      },""" +
      s""""streaming_rate_scaling_1v4":${
        ((streamRows / stream1S) / (streamRows / streamS) * 1000).round / 1000.0
      },""" +
      s""""streaming_per_batch_overhead_s":${
        (math.max(0.0, (streamS - stream1S) / 3.0) * 1000).round / 1000.0
      },""" +
      // the named 1-batch decomposition: machinery+source+write floor,
      // + the upsert path's stamp residual over a plain append (≈ 0 —
      // two literal columns), + the OPTIONAL watermark-dedup stage's
      // state-store commit measured on top of the primary path. The
      // primary ingest no longer pays that stage (round-10 item 4):
      // its first-wins dedup is subsumed by the log's read-side LWW,
      // which is also the reference's own upsert policy (FDB tr.Set)
      s""""streaming_component_machinery_write_s":${
        (streamRawS * 1000).round / 1000.0},""" +
      s""""streaming_component_upsert_stamp_s":${
        (math.max(0.0, stream1S - streamRawS) * 1000).round / 1000.0
      },""" +
      s""""streaming_statestore_1batch_s":${
        (streamStateS * 1000).round / 1000.0},""" +
      s""""streaming_component_statestore_stage_s":${
        (math.max(0.0, streamStateS - stream1S) * 1000).round / 1000.0
      },""" +
      s""""streaming_statestore_1batch_vs_batch_ingest":${
        ((streamRows / streamStateS) / (100000 / ingestS) * 1000).round / 1000.0
      },""" +
      // per-micro-batch component decomposition (round-11 verdict
      // item 3): mean per-trigger walls from StreamingQueryProgress
      // on the winning 4-batch upsert run. add_batch_s is the sink
      // work itself (the stamped append); everything else is the
      // Spark-fixed micro-batch machinery — wal_commit_s +
      // commit_offsets_s (two fsync'd checkpoint-log writes per
      // trigger), latest_offset_s + get_batch_s (file-source listing),
      // query_planning_s (per-batch incremental planning).
      // per_batch_machinery_s = trigger_execution_s − add_batch_s is
      // the named floor the amortized-rate gap reduces to.
      s""""streaming_batch_profile":{"n_batches":${
        streamProfile.getOrElse("nBatches", 0.0).toInt},""" + {
        def g(k: String): Double =
          (streamProfile.getOrElse(k, 0.0) * 1000).round / 1000.0
        s""""add_batch_s":${g("addBatch")},""" +
        s""""wal_commit_s":${g("walCommit")},""" +
        s""""commit_offsets_s":${g("commitOffsets")},""" +
        s""""latest_offset_s":${g("latestOffset")},""" +
        s""""get_batch_s":${g("getBatch")},""" +
        s""""query_planning_s":${g("queryPlanning")},""" +
        s""""trigger_execution_s":${g("triggerExecution")},""" +
        s""""per_batch_machinery_s":${
          ((streamProfile.getOrElse("triggerExecution", 0.0) -
            streamProfile.getOrElse("addBatch", 0.0)) * 1000).round / 1000.0}}"""
      } + "," +
      // machine-readable ingest-policy marker (round-10 advice: the
      // r10 re-center changed what streaming_upsert_s measures; tooling
      // comparing rounds needs a field, not free text, to see that)
      s""""streaming_ingest_policy":"blind-append-lww",""" +
      s""""streaming_gap_attribution":"primary ingest is the blind """ +
      s"""stamped append with read-side LWW (reference tr.Set policy, """ +
      s"""StreamingSpec-pinned); the watermark-dedup state-store stage """ +
      s"""is optional for upsert ingest and reported as its own """ +
      s"""component - its first-wins policy is subsumed by the log's """ +
      s"""LWW resolution",""" +
      s""""sf":"$sfDir"}"""
    println(line)
    // full-artifact persistence (round-7 verdict item 3): the driver's
    // BENCH_r{N} tail truncates per-query rows; writing the SAME line
    // to a repo file makes every per-query number committable without
    // /tmp archaeology
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "BENCH_FULL.json")
    // the sha is computed over the EXACT bytes written — trailing
    // newline included — so `sha256sum <full_artifact>` verifies the
    // committed checksum with standard tooling (round-10 verdict
    // item 2: r10 hashed the line before appending the newline, and
    // the published checksum matched nothing on disk)
    val fullBytes = (line + "\n").getBytes("UTF-8")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath), fullBytes)
    catch { case e: Throwable =>
      System.err.println(s"[bench] artifact write failed: ${e.getMessage}")
    }
    // driver-parseable FINAL line (round-9 verdict item 7): the
    // driver keeps only a 2000-char stdout tail, and the full line
    // above (278+ per-query entries) truncates mid-object → the
    // driver's `parsed` field came back null in r9. The last line is
    // therefore a compact self-contained summary — headline numbers,
    // the slowest queries, and the path+sha256 of the full artifact —
    // guaranteed to fit the tail whole. (build.sbt pairs with this:
    // raw run output + no "[success]" trailer, so this line IS the
    // last stdout line the driver sees.)
    val sha = {
      val d = java.security.MessageDigest.getInstance("SHA-256")
        .digest(fullBytes)
      d.map("%02x".format(_)).mkString
    }
    val slowest = results.filter(_._2._1 >= 0)
      .sortBy(-_._2._1).take(8)
      .map { case (k, (w, _, _)) => "\"" + k + "\":" + w }
      .mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$nRuns,""" +
      s""""n_queries":${results.size},""" +
      s""""n_failed":${failures.size},""" +
      s""""queries_slowest":$slowest,""" +
      s""""load_suspect":$loadSuspect,""" +
      s""""canary_point_get_s":$canary,""" +
      s""""cpu_canary_start_s":$canaryStart,"cpu_canary_end_s":$canaryEnd,""" +
      s""""ingest_100k_ohlcv_s":$ingestS,"scan_100k_ohlcv_s":$scanS,""" +
      s""""ingest_rows_per_s":${(100000 / ingestS).toLong},""" +
      s""""scan_rows_per_s":${(100000 / scanS).toLong},""" +
      s""""scan_components":{"engine_noop_s":${
        (scanEngineS * 1000).round / 1000.0},"driver_collect_s":${
        ((scanS - scanEngineS) * 1000).round / 1000.0}},""" +
      s""""scan_profile":${scanProfile.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")},""" +
      s""""scan_engine_rows_per_s":${(100000 / scanEngineS).toLong},""" +
      s""""streaming_ingest_policy":"blind-append-lww",""" +
      s""""streaming_upsert_rows_per_s":${(streamRows / streamS).toLong},""" +
      s""""streaming_1batch_rows_per_s":${(streamRows / stream1S).toLong},""" +
      s""""streaming_1batch_vs_batch_ingest":${
        ((streamRows / stream1S) / (100000 / ingestS) * 1000).round / 1000.0
      },""" +
      s""""full_artifact":${jstr(outPath)},"full_sha256":"$sha",""" +
      s""""sf":"$sfDir"}"""
    println(compact)
    spark.stop()
    // a crash anywhere in the suite must fail the run visibly, AFTER the
    // JSON line (the driver still gets partial timings to grade)
    if (failures.nonEmpty) {
      System.err.println(
        s"[bench] ${failures.size} queries FAILED: ${failures.keys.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Streaming-path throughput (round-6 verdict item 7): the sf events
    * rows re-shaped into 4 parquet files (setup, untimed), then
    * streamed file-per-trigger through the engine's streaming ingest —
    * the foreachBatch blind-append upsert
    * ([[streaming.Ingest.streamUpsert]]) with read-side last-write-wins
    * resolution — and timed from query start to drained. Returns
    * (wallSecs, rows). The JSON reports rows/s next to the batch
    * ingest rate so a regression in the streaming path (state-store
    * thrash, per-batch planning blowup) is visible as the ratio
    * drifting, the same way the scan/ingest loops track the reference
    * baseline.
    */
  /** `variant` (round-8 item 3 decomposition, re-centered by round-10
    * item 4): "upsert" — the engine's real ingest path — is
    * [[streaming.Ingest.streamUpsert]] alone: a blind stamped append
    * per micro-batch with ALL conflict resolution (replays, in-batch
    * duplicates, cross-batch PK overwrites) at read, the exact
    * last-write-wins the reference's FDB `tr.Set` upsert applies
    * (StreamingSpec pins the semantics). "statestore" chains the
    * optional watermark-dedup stage in front — the stage r8/r9
    * measured as the dominant gap component (~0.48 s/batch HDFS
    * state-store commit; RocksDB measured no better, 1.77 s vs
    * 1.79 s) — kept as the committed comparison point: its FIRST-wins
    * policy is subsumed by (and diverges from) the log's LWW, so the
    * upsert ingest doesn't need it; it remains the right tool for
    * append-mode pipelines with no downstream resolution. "rawwrite"
    * replaces the stamped upsert append with a plain append — the
    * micro-batch machinery + source read + parquet write floor.
    */
  private[graft] def streamingLoop(spark: SparkSession, sfDir: String,
      nBatches: Int = 4, variant: String = "upsert")
      : (Double, Long, Map[String, Double]) = {
    val base = java.nio.file.Files.createTempDirectory("graft-bench-stream")
    val srcDir = s"$base/src"
    val outDir = s"$base/out"
    val ckpt = s"$base/ckpt"
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    // feed the stream in event-time order, like a real source:
    // `nBatches` time-quantile files written oldest-first (increasing
    // mod times), so micro-batch i+1 never arrives behind batch i's
    // watermark — shuffling the quantiles would make the dedup's
    // lateness eviction drop half the corpus, which is a
    // watermark-semantics property, not an ingest-throughput one.
    // nBatches is the BATCH-SIZE axis: the per-micro-batch fixed cost
    // (planning, state-store commit, upsert-log write) amortizes with
    // rows/batch, and running the same corpus at two batch counts
    // measures that directly instead of asserting it
    val quartiled = ev.withColumn("__b",
      ntile(nBatches).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("ts"), col("event_id"))))
    for (i <- 1 to nBatches) {
      quartiled.filter(col("__b") === i).drop("__b")
        .coalesce(1).write.mode("append").parquet(srcDir)
      Thread.sleep(10) // distinct mod times fix the source's file order
    }
    val src = spark.read.parquet(srcDir)
    val n = src.count()
    // the stream's shuffles (watermark dedup state, upsert batches)
    // move ~25-100k rows — at 32 shuffle partitions each micro-batch
    // commits 32 near-empty state files and the fixed cost swamps the
    // work; 8 keeps every core busy at this volume while quartering
    // the per-batch commit fan-out. Session conf is restored after:
    // batch queries still want the full width.
    val savedParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val t0 = System.nanoTime()
      val stream = spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
        // the ts contract is LongType epoch-nanos; the watermark needs a
        // timestamp column (µs precision is plenty for a 10 min horizon)
        .withColumn("ts_event",
          timestamp_micros((col("ts") / lit(1000L)).cast("long")))
      val staged =
        if (variant == "statestore") streaming.Ingest.dedupWithinWatermark(
          stream, "ts_event", "10 minutes", Seq("event_id"))
        else stream
      val q = variant match {
        case "rawwrite" =>
          staged.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch((b: org.apache.spark.sql.Dataset[
                org.apache.spark.sql.Row], id: Long) =>
              b.toDF().withColumn("__seq", lit(id))
                .write.mode("append").parquet(outDir))
            .start()
        case _ =>
          streaming.Ingest.streamUpsert(
            staged, outDir, Seq("event_id"), ckpt)
      }
      q.processAllAvailable()
      // per-micro-batch component walls from Spark's own
      // instrumentation (round-11 verdict item 3): each
      // StreamingQueryProgress carries durationMs for the named
      // stages of one trigger — addBatch (the sink work itself),
      // walCommit + commitOffsets (the offset/commit checkpoint log),
      // latestOffset + getBatch (file-source listing/planning of the
      // batch's input), queryPlanning (per-batch incremental
      // planning), triggerExecution (the whole trigger). Captured
      // BEFORE stop() (stop clears nothing, but the query object does
      // not outlive the loop); means are per executed trigger.
      val prog = q.recentProgress.toSeq
      val batchProfile: Map[String, Double] =
        if (prog.isEmpty) Map.empty
        else {
          val comps = Seq("addBatch", "commitOffsets", "getBatch",
            "latestOffset", "queryPlanning", "triggerExecution",
            "walCommit")
          val nb = prog.length.toDouble
          comps.map { k =>
            val tot = prog.map(p => Option(p.durationMs.get(k))
              .map(_.toLong).getOrElse(0L)).sum
            k -> (tot / 1000.0 / nb)
          }.toMap + ("nBatches" -> nb)
        }
      q.stop()
      val wall = (System.nanoTime() - t0) / 1e9
      if (variant == "upsert") {
        val got = streaming.Ingest
          .readUpserted(spark, outDir, Seq("event_id"))
          .count() // untimed sanity: the upsert log must hold every key
        require(got == n, s"streaming upsert lost rows: $got != $n")
      }
      (wall, n, batchProfile)
    } finally spark.conf.set("spark.sql.shuffle.partitions", savedParts)
  }

  /** The reference's own benchmark shape (BASELINE.md; reference
    * bindings/go/test.go:23-124): 100k OHLCV bars into
    * test(sec,interval,tm, o,h,l,c,v,vwap) via 10 batch inserts of 10k,
    * then one ranged retrieve of all 100k rows. Targets: ~1.14 s ingest,
    * ~1.42 s single-stream retrieve.
    *
    * `noopFirst` swaps the order of the collect and noop scan legs
    * (round-10 advice: a fixed order in a warming session biased the
    * collect residual). `profile=true` additionally times the named
    * scan components (round-10 verdict item 4): the raw vectorized
    * parquet floor over the same files, the same floor minus the ns
    * companion columns, the ordered-scan machinery alone (no exact
    * predicate / final projection), and the legacy row-based reader —
    * so the engine wall decomposes into parquet IO+decode, ns-column
    * share, order-preserving machinery, predicate+projection, and the
    * reader-strategy delta, each named in the artifact.
    */
  private def baselineLoops(spark: SparkSession,
      noopFirst: Boolean = false, profile: Boolean = false)
      : (Double, Double, Double, Map[String, Double]) = {
    val e = new graft.engine.Engine(spark,
      java.nio.file.Files.createTempDirectory("graft-bench-wh").toString)
    e.execute("create database bench")
    e.execute("create table bench.t(sec int, interval int, tm timestamp, " +
      "open double, high double, low double, close double, vol double, " +
      "vwap double, primary key(sec, interval, tm))")
    val t0 = System.nanoTime()
    for (b <- 0 until 10) {
      val rows = (0 until 10000).map { i =>
        val k = b * 10000 + i
        Seq[Any](1, k % 100, k.toLong, 2.2, 2.4, 2.1, 2.3, 1000000.0, 2.25)
      }
      e.batchInsert("insert into bench.t values(?, ?, ?, ?, ?, ?, ?, ?, ?)", rows)
    }
    val t1 = System.nanoTime()
    def collectLeg(): Double = {
      val c0 = System.nanoTime()
      val n = e.execute("select * from bench.t where sec=1").collect().length
      val dt = (System.nanoTime() - c0) / 1e9
      require(n == 100000, s"expected 100k rows, got $n")
      dt
    }
    // scan decomposition (round-9 verdict item 5): the same ranged
    // retrieve through the noop sink — the full scan+filter+decode
    // plan executes, but nothing is serialized back to the driver.
    def noopLeg(): Double = {
      val c0 = System.nanoTime()
      e.execute("select * from bench.t where sec=1")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - c0) / 1e9
    }
    val (scanS, scanEngineS) =
      if (noopFirst) { val a = noopLeg(); val b = collectLeg(); (b, a) }
      else { val a = collectLeg(); val b = noopLeg(); (a, b) }
    // the profile leg (round-10 verdict item 4) decomposes the scan
    // wall into named components. The headline table is DIRTY here
    // (10 appends, never compacted — the reference loop's own shape),
    // so the headline scan is: raw parquet decode → LWW fold (window
    // over the append log) → exact predicate + PK sort + projection.
    // After measuring those, the table is compacted (profile runs
    // last; the timed legs are done) and the CLEAN path — the ordered
    // zero-sort scan every read-mostly table gets — is measured too,
    // with a reader-strategy A/B (vectorized vs the pre-r11 row-based
    // reader) on the same files.
    val prof: Map[String, Double] = if (!profile) Map.empty else {
      val td = e.catalog.getSchema("bench", "t")
      val dataDir = e.catalog.dataPath(td)
      def time(body: => Unit): Double = {
        val c0 = System.nanoTime(); body
        ((System.nanoTime() - c0) / 1e9 * 1000).round / 1000.0
      }
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val pushed = Seq(org.apache.spark.sql.sources.EqualTo("sec", 1))
      // raw vectorized FileSourceScan over the same part files — the
      // parquet IO + columnar-decode floor with none of the engine's
      // machinery
      val raw = time(noop(spark.read.parquet(dataDir)
        .filter(col("sec") === 1)))
      // the same floor with the ns companion + seq columns pruned —
      // raw − rawNoNs is the ns-precision storage tax on a full scan
      val rawNoNs = time(noop(spark.read.parquet(dataDir)
        .filter(col("sec") === 1)
        .select(td.cols.map(c => col(c.name)): _*)))
      // + the LWW fold (the append-log dedup window) — the dominant
      // engine-side component on a dirty table
      val lww = time(noop(e.catalog.readTableKeepNs(td)))
      // the full dirty select re-measured in this same state (should
      // track the run's scanEngineS; re-measured for comparability
      // with the legs above)
      val dirtyFull = time(noop(
        e.execute("select * from bench.t where sec=1")))
      // ── clean path: compact (untimed maintenance), then the ordered
      // scan the engine uses for read-mostly tables ──
      e.catalog.compact(td)
      val cleanFull = time(noop(
        e.execute("select * from bench.t where sec=1")))
      val ordered = time(
        e.catalog.readTableOrdered(td, reverse = false, pushed)
          .foreach(noop))
      spark.conf.set("spark.graft.orderedScan.vectorized", "false")
      val rowBased =
        try time(e.catalog.readTableOrdered(td, reverse = false, pushed)
          .foreach(noop))
        finally spark.conf.unset("spark.graft.orderedScan.vectorized")
      Map(
        "raw_vectorized_noop_s" -> raw,
        "raw_no_ns_cols_noop_s" -> rawNoNs,
        "dirty_lww_fold_noop_s" -> lww,
        "dirty_engine_noop_s" -> dirtyFull,
        "compacted_engine_noop_s" -> cleanFull,
        "compacted_ordered_noop_s" -> ordered,
        "compacted_rowbased_noop_s" -> rowBased)
    }
    ((t1 - t0) / 1e9, scanS, scanEngineS, prof)
  }
}
