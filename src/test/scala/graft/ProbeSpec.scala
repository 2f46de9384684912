package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class ProbeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("Probe times each run and records its Spark actions") {
    val runs = Probe.probe(spark, sf, Seq("q1_agg"), 2)
    assert(runs.map(r => (r.query, r.run)) == Seq(("q1_agg", 1), ("q1_agg", 2)))
    assert(runs.forall(_.wallS > 0))
    assert(runs.forall(_.actions.nonEmpty))
    assert(runs.flatMap(_.actions).forall(a => a.wallS >= 0 && a.plan.isEmpty))
  }

  test("Probe's untimed warm-up pass is not reported") {
    // every action the call runs, the warm-up's included
    val all = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { all.incrementAndGet(); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val runs = try Probe.probe(spark, sf, Seq("q1_agg", "q_pagerank"), 1)
      finally {
        org.apache.spark.sql.GraftSql.awaitListeners(spark)
        spark.listenerManager.unregister(listener)
      }
    assert(runs.map(r => (r.query, r.run)) == Seq(("q1_agg", 1), ("q_pagerank", 1)))
    val reported = runs.map(_.actions.size).sum
    assert(reported > 0 && all.get == 2 * reported,
      s"$all actions ran, $reported reported")
  }

  test("Probe writes the last run's formatted plans to a plan directory") {
    val dir = Files.createTempDirectory("probe-plans").toString
    val runs = Probe.probe(spark, sf, Seq("q1_agg"), 1, Some(dir))
    assert(runs.head.actions.forall(_.plan.contains("== Physical Plan ==")))
    val text = Files.readString(Paths.get(dir, "q1_agg.txt"))
    assert(text.contains("== action: "))
    assert(text.contains("== Physical Plan =="))
  }
}
