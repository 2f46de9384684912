package tickbench

/** Self-tests of the measurement arithmetic and the generator, run with
  * `python3 tickbench/run.py --selftest`. Returns the process exit code.
  */
object SelfTest {
  private var passed = 0
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  private def check(name: String)(cond: => Boolean): Unit =
    try { if (cond) passed += 1 else failures += name }
    catch { case e: Throwable => failures += s"$name (${e.getMessage})" }

  def run(): Int = {
    val hundred = (1 to 100).map(_.toDouble)
    check("nearest-rank percentile") {
      Stats.percentile(hundred, 50) == 50 && Stats.percentile(hundred, 99) == 99 &&
        Stats.percentile(hundred, 100) == 100 && Stats.percentile(IndexedSeq(7.0), 99) == 7
    }
    check("samples above a percentile") {
      Stats.samplesAbove(100, 90) == 10 && Stats.samplesAbove(100, 91) == 9 &&
        Stats.samplesAbove(1000, 99) == 10 && Stats.samplesAbove(10, 50) == 5
    }
    check("tail keeps ten samples above it and reports the count") {
      Stats.tail(hundred) == Some((90, 90.0, 100)) &&
        Stats.tail((1 to 1000).map(_.toDouble)) == Some((99, 990.0, 1000)) &&
        Stats.tail((1 to 34).map(_.toDouble)) == Some((70, 24.0, 34)) &&
        Stats.tail((1 to 19).map(_.toDouble)).isEmpty
    }
    check("median, odd and even") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5
    }
    check("geomean") {
      math.abs(Stats.geomean(Seq(1.0, 10.0, 100.0)) - 10.0) < 1e-9 &&
        math.abs(Stats.geomean(Seq(2.0, 8.0)) - 4.0) < 1e-12
    }
    check("geomean refuses non-positive samples") {
      try { Stats.geomean(Seq(1.0, 0.0)); false }
      catch { case _: IllegalArgumentException => true }
    }
    check("span self time subtracts the union of its children inside it") {
      Stats.selfTime(0, 100, Seq((10, 30), (20, 40), (90, 120))) == 60 &&
        Stats.selfTime(0, 100, Nil) == 100 &&
        Stats.selfTime(0, 100, Seq((-5, 200))) == 0 &&
        Stats.selfTime(50, 60, Seq((0, 10), (70, 80))) == 10
    }
    check("tracer self times follow parent links") {
      val t = new Tracer(true)
      t.span("root", "r1") { id =>
        t.span("child", "r1", id)(_ => Thread.sleep(5))
        Thread.sleep(5)
      }
      val root = t.byName("root").head
      val child = t.byName("child").head
      child.parent == root.id && t.selfTimes("root") == Seq(root.durNs - child.durNs)
    }
    check("a disabled tracer records nothing and still runs the body") {
      val t = new Tracer(false)
      t.span("x", "r")(_ => 41) + 1 == 42 && t.spans.isEmpty
    }
    check("failure accounting") {
      val t = new Tally
      t.ok(); t.fail("refused"); t.check(good = false, "mismatch"); t.check(good = true, "")
      t.attempted == 4 && t.failed == 2 && !t.correct && t.errors == Seq("refused", "mismatch")
    }
    check("a run that attempted nothing is not correct") {
      val t = new Tally
      !t.correct && { t.ok(); t.correct }
    }
    def gen(seed: Long) = TickGen.bytes(
      TickGen.series(seed, 1, 0, 0, 500) ++ IngestOps.batch(seed, 3).rows ++
        QueryOps.todayBatch(seed, 2) ++ IngestOps.single(seed, 19).rows)
    check("same seed, identical generator bytes") {
      java.util.Arrays.equals(gen(42), gen(42))
    }
    check("different seed, different generator bytes") {
      !java.util.Arrays.equals(gen(42), gen(43))
    }
    check("timestamps carry sub-microsecond remainders") {
      val ts = TickGen.series(42, 1, 0, 0, 200)
      ts.forall(t => t.tmNano % 1000 != 0) && ts.map(_.tmNs).distinct.length == ts.length
    }
    check("a key's timestamp does not depend on its revision") {
      QueryOps.todayBatch(42, 0).map(t => (t.sec, t.interval, t.tmSec, t.tmNano)).forall {
        case (s, iv, sec, ns) => (0 until QueryOps.todayPool).exists(k =>
          TickGen.tmOf(42, s, iv, k) == ((sec, ns)))
      }
    }
    check("batch inserts re-send a twentieth of their keys") {
      val rows = IngestOps.batch(42, 0).rows
      rows.length == IngestOps.batchRows &&
        rows.map(_.key).distinct.length == IngestOps.distinctKeysPerBatch
    }
    check("last write wins") {
      val t = TickGen.series(42, 1, 0, 0, 1).head
      val t2 = t.copy(close = t.close + 1)
      TickGen.winners(Seq(t, t2)) == Map(t.key -> t2)
    }
    check("json renders every digit and parses back") {
      val s = Json.obj(Seq("a" -> 0.1234567890123, "b" -> Seq(1, 2), "c" -> "q\"")).json
      val m = Json.parse(s)
      Json.num(m, "a") == 0.1234567890123 && m("c") == "q\""
    }
    check("end-to-end and per-layer names are unique") {
      val names = (Metrics.endToEnd ++ Metrics.perLayer).map(_._1)
      names.distinct.length == names.length && Metrics.perLayer.length <= 128
    }
    failures.foreach(f => println(s"FAIL $f"))
    println(s"selftest: $passed passed, ${failures.length} failed")
    if (failures.isEmpty) 0 else 1
  }
}
