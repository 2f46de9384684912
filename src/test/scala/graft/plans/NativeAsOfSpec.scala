package graft.plans

import graft.SparkTestSession
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class NativeAsOfSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val left = Seq(
    (1, 10L, "a"), (1, 20L, "b"), (1, 30L, "c"), (2, 15L, "d"))
    .toDF("k", "t", "tag")
  private lazy val right = Seq(
    (1, 10L, 100.0), (1, 25L, 200.0), (3, 5L, 999.0))
    .toDF("k", "rt", "v")
  // two right rows at the same (key, time), told apart by `eid`
  private lazy val rightEid = Seq(
    (1, 10L, 100.0, 1L), (1, 10L, 101.0, 2L), (1, 25L, 200.0, 3L),
    (3, 5L, 999.0, 4L))
    .toDF("k", "rt", "v", "eid")

  /** The as-of join written as the oracle SQL writes it: every same-key
    * right row on the allowed side of the left time (an inequality join),
    * ranked by `row_number`, the first kept. Left rows must be distinct.
    */
  private def bruteForce(left: DataFrame, right: DataFrame, by: String,
      leftTime: String, rightTime: String, payload: String,
      tieBreak: String, dir: AsOfDirection): DataFrame = {
    val r = right.select(col(by).as("__k"), col(rightTime).as("__rt"),
      col(payload).as("__v"), col(tieBreak).as("__tb"))
    val (lt, rt, tb) = (col(leftTime), col("__rt"), col("__tb"))
    val (side, rank) = dir match {
      case AsOfDirection.Backward => (rt <= lt, Seq(rt.desc, tb.desc))
      case AsOfDirection.Forward => (rt >= lt, Seq(rt.asc, tb.asc))
      case AsOfDirection.Nearest =>
        (lt.isNotNull && rt.isNotNull, Seq(abs(rt - lt).asc, rt.asc,
          when(rt <= lt, -tb).otherwise(tb).asc))
    }
    val w = Window.partitionBy(left.columns.map(col): _*).orderBy(rank: _*)
    left.join(r, col(by) === col("__k") && side, "left_outer")
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(left.columns.map(col) :+ col("__v").as(payload): _*)
  }

  private val sf = "/root/testdata/sf0.001"
  private def events: DataFrame = graft.Tables.load(spark, sf, "events")

  /** clicks and purchases of the sf0.001 events, the as-of query shape */
  private def clicksAndPurchases(payload: String): (DataFrame, DataFrame) = (
    events.filter($"event_type" === "click")
      .select($"user_id", $"event_id", $"ts"),
    events.filter($"event_type" === "purchase")
      .select($"user_id", $"ts".as("pts"), $"value".as(payload),
        $"event_id".as("p_eid")))

  test("native as-of matches expected rows incl. nulls and ties") {
    val out = NativeAsOf.backward(left, right, Seq("k"), "t", "rt", Seq("v"))
      .orderBy("k", "t").collect().toSeq
    assert(out == Seq(
      Row(1, 10L, "a", 100.0), // equal time visible
      Row(1, 20L, "b", 100.0),
      Row(1, 30L, "c", 200.0),
      Row(2, 15L, "d", null)))
  }

  test("strict excludes equal times") {
    val out = NativeAsOf.backward(left, right, Seq("k"), "t", "rt",
        Seq("v"), strict = true)
      .orderBy("k", "t").collect().toSeq
    assert(out.head == Row(1, 10L, "a", null))
  }

  test("asof backward: latest at-or-before, max tiebreak on equal times") {
    val out = NativeAsOf.backward(left, rightEid, Seq("k"), "t", "rt",
        Seq("v"), tieBreak = Seq("eid"))
      .orderBy("k", "t").collect().toSeq
    assert(out == Seq(
      Row(1, 10L, "a", 101.0), // equal time visible; eid=2 wins over eid=1
      Row(1, 20L, "b", 101.0),
      Row(1, 30L, "c", 200.0),
      Row(2, 15L, "d", null))) // no right rows for k=2
  }

  test("asof backward strict: equal times excluded") {
    val out = NativeAsOf.backward(left, rightEid, Seq("k"), "t", "rt",
        Seq("v"), tieBreak = Seq("eid"), strict = true)
      .orderBy("k", "t").collect().toSeq
    assert(out.head == Row(1, 10L, "a", null))
  }

  test("asof forward: earliest at-or-after, min tiebreak on equal times") {
    val out = NativeAsOf.forward(left, rightEid, Seq("k"), "t", "rt",
        Seq("v"), tieBreak = Seq("eid"))
      .orderBy("k", "t").collect().toSeq
    assert(out == Seq(
      Row(1, 10L, "a", 100.0), // equal time visible; eid=1 wins (smallest)
      Row(1, 20L, "b", 200.0),
      Row(1, 30L, "c", null), // nothing after t=30
      Row(2, 15L, "d", null)))
  }

  test("asof forward strict: equal times excluded") {
    val out = NativeAsOf.forward(left, rightEid, Seq("k"), "t", "rt",
        Seq("v"), tieBreak = Seq("eid"), strict = true)
      .orderBy("k", "t").collect().toSeq
    assert(out.head == Row(1, 10L, "a", 200.0))
  }

  test("asof nearest: closer side wins, backward wins distance ties") {
    val out = NativeAsOf.nearest(left, rightEid, Seq("k"), "t", "rt",
        Seq("v"), tieBreak = Seq("eid"))
      .orderBy("k", "t").collect().toSeq
    assert(out == Seq(
      Row(1, 10L, "a", 101.0), // Δ=0 backward; greatest eid at equal rt
      Row(1, 20L, "b", 200.0), // next Δ=5 beats prev Δ=10
      Row(1, 30L, "c", 200.0), // only prev exists
      Row(2, 15L, "d", null)))
    // exact distance tie: prev (backward) wins
    val lt = Seq((1, 17L)).toDF("k", "t")
    val rt = Seq((1, 10L, 1.0, 1L), (1, 24L, 2.0, 2L))
      .toDF("k", "rt", "v", "eid")
    val tie = NativeAsOf.nearest(lt, rt, Seq("k"), "t", "rt", Seq("v"),
      tieBreak = Seq("eid")).collect()
    assert(tie.head.getAs[Double]("v") == 1.0)
  }

  test("a null key or null time matches nothing, in every direction") {
    val l = Seq((Some(1), Some(10L), "a"), (Some(1), None, "nt"),
      (None, Some(10L), "nk"), (Some(2), Some(20L), "b"))
      .toDF("k", "t", "tag")
    val r = Seq((Some(1), Some(5L), 1.0, 1L), (Some(1), None, 9.0, 2L),
      (None, Some(10L), 8.0, 3L), (Some(1), Some(15L), 2.0, 4L),
      (Some(2), None, 7.0, 5L), (Some(2), Some(30L), 3.0, 6L))
      .toDF("k", "rt", "v", "eid")
    def run(dir: AsOfDirection): Seq[Row] = {
      val df = dir match {
        case AsOfDirection.Backward => NativeAsOf.backward(l, r, Seq("k"),
          "t", "rt", Seq("v"), tieBreak = Seq("eid"))
        case AsOfDirection.Forward => NativeAsOf.forward(l, r, Seq("k"),
          "t", "rt", Seq("v"), tieBreak = Seq("eid"))
        case AsOfDirection.Nearest => NativeAsOf.nearest(l, r, Seq("k"),
          "t", "rt", Seq("v"), tieBreak = Seq("eid"))
      }
      val out = df.orderBy("tag").collect().toSeq
      assert(out == bruteForce(l, r, "k", "t", "rt", "v", "eid", dir)
        .orderBy("tag").collect().toSeq, s"$dir vs the reference")
      out
    }
    // the null-time right row of k=2 is not "before" t=20; the null-key
    // left and right rows do not match each other
    assert(run(AsOfDirection.Backward) == Seq(Row(1, 10L, "a", 1.0),
      Row(2, 20L, "b", null), Row(null, 10L, "nk", null),
      Row(1, null, "nt", null)))
    assert(run(AsOfDirection.Forward) == Seq(Row(1, 10L, "a", 2.0),
      Row(2, 20L, "b", 3.0), Row(null, 10L, "nk", null),
      Row(1, null, "nt", null)))
    // k=1, t=10: 5 and 15 are both Δ=5 away, backward wins
    assert(run(AsOfDirection.Nearest) == Seq(Row(1, 10L, "a", 1.0),
      Row(2, 20L, "b", 3.0), Row(null, 10L, "nk", null),
      Row(1, null, "nt", null)))
  }

  test("plan uses the custom exec with sorted co-partitioned children") {
    val df = NativeAsOf.backward(left, right, Seq("k"), "t", "rt", Seq("v"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"custom exec missing:\n$plan")
  }

  test("chained as-of joins: no exchange or sort between the two") {
    val df = graft.Queries.byName("q_feature_join")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val joins = collect(plan) { case j: AsOfJoinExec => j }
    assert(joins.size == 2, s"two as-of execs expected:\n$plan")
    val outer = joins.find(j =>
      collect(j.left) { case i: AsOfJoinExec => i }.nonEmpty).get
    // the nodes from the outer join's left input down to the inner join
    def between(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: AsOfJoinExec => Nil
      case s: QueryStageExec => s +: between(s.plan)
      case _ => p +: between(p.children.head)
    }
    val bad = between(outer.left).filter {
      case _: ShuffleExchangeLike | _: SortExec | _: QueryStageExec => true
      case _ => false
    }
    assert(bad.isEmpty, s"the first join's partitioning and order must " +
      s"carry into the second:\n$plan")
  }

  test("parity with the brute-force as-of on real events") {
    val (clicks, purchases) = clicksAndPurchases("last_purchase")
    val native = NativeAsOf.backward(clicks, purchases, Seq("user_id"),
        "ts", "pts", Seq("last_purchase"), tieBreak = Seq("p_eid"))
      .collect().toSet
    val reference = bruteForce(clicks, purchases, "user_id", "ts", "pts",
      "last_purchase", "p_eid", AsOfDirection.Backward).collect().toSet
    assert(native.nonEmpty && native == reference)
  }

  test("nearest: parity with the brute-force as-of on real events") {
    val (clicks, purchases) = clicksAndPurchases("near_purchase")
    val native = NativeAsOf.nearest(clicks, purchases, Seq("user_id"),
        "ts", "pts", Seq("near_purchase"), tieBreak = Seq("p_eid"))
      .collect().toSet
    val reference = bruteForce(clicks, purchases, "user_id", "ts", "pts",
      "near_purchase", "p_eid", AsOfDirection.Nearest).collect().toSet
    assert(native.nonEmpty && native == reference)
  }

  test("survives pre-partitioned inputs and empty right side") {
    val emptyRight = right.filter($"k" === 999)
    val out = NativeAsOf.backward(left, emptyRight, Seq("k"), "t", "rt",
      Seq("v")).collect()
    assert(out.length == 4 && out.forall(_.isNullAt(3)))
    val repart = NativeAsOf.backward(left.repartition(7, $"k"),
      right.repartition(3, $"k"), Seq("k"), "t", "rt", Seq("v"))
      .orderBy("k", "t").collect()
    assert(repart.length == 4 && repart.head == Row(1, 10L, "a", 100.0))
  }

  test("equal-time ties resolve by tieBreak, parity with composed") {
    // three right rows at the SAME (key, time) with different payloads
    val dupRight = Seq(
      (1, 10L, 100.0, 1L), (1, 10L, 111.0, 3L), (1, 10L, 105.0, 2L),
      (1, 25L, 200.0, 9L))
      .toDF("k", "rt", "v", "rid")
    // backward: greatest rid at the tied time wins
    val bw = NativeAsOf.backward(left, dupRight, Seq("k"), "t", "rt",
        Seq("v"), tieBreak = Seq("rid"))
      .orderBy("k", "t").collect().toSeq
    assert(bw == Seq(
      Row(1, 10L, "a", 111.0),
      Row(1, 20L, "b", 111.0),
      Row(1, 30L, "c", 200.0),
      Row(2, 15L, "d", null)))
    val bwReference = bruteForce(left, dupRight, "k", "t", "rt", "v", "rid",
        AsOfDirection.Backward)
      .orderBy("k", "t").collect().toSeq
    assert(bw == bwReference)
    // forward: smallest rid at the tied time wins
    val fw = NativeAsOf.forward(left, dupRight, Seq("k"), "t", "rt",
        Seq("v"), tieBreak = Seq("rid"))
      .orderBy("k", "t").collect().toSeq
    assert(fw.head == Row(1, 10L, "a", 100.0))
    val fwReference = bruteForce(left, dupRight, "k", "t", "rt", "v", "rid",
        AsOfDirection.Forward)
      .orderBy("k", "t").collect().toSeq
    assert(fw == fwReference)
  }

  test("payload columns all come from the same right row (null-safe)") {
    // newest matching right row carries a NULL payload column: the join
    // must return THAT null, not an older row's non-null value
    val r2 = Seq(
      (1, 5L, Some(50.0), "old"), (1, 9L, None, "new"))
      .toDF("k", "rt", "v", "src")
    val nat = NativeAsOf.backward(left.filter($"t" === 10L), r2, Seq("k"),
        "t", "rt", Seq("v", "src"), tieBreak = Seq("rt")).collect().toSeq
    assert(nat == Seq(Row(1, 10L, "a", null, "new")))
  }

  test("mismatched key or time types are rejected with a clear error") {
    val badRight = right.withColumn("k", $"k".cast("long"))
    val e1 = intercept[IllegalArgumentException](
      NativeAsOf.backward(left, badRight, Seq("k"), "t", "rt", Seq("v")))
    assert(e1.getMessage.contains("type mismatch"))
    val badTime = right.withColumn("rt", $"rt".cast("int"))
    val e2 = intercept[IllegalArgumentException](
      NativeAsOf.backward(left, badTime, Seq("k"), "t", "rt", Seq("v")))
    assert(e2.getMessage.contains("time type mismatch"))
  }

  test("nearest takes only long or timestamp times and has no strict form") {
    val e1 = intercept[IllegalArgumentException](NativeAsOf.nearest(
      left.withColumn("t", $"t".cast("int")),
      right.withColumn("rt", $"rt".cast("int")),
      Seq("k"), "t", "rt", Seq("v")))
    assert(e1.getMessage.contains("time type"))
    val ts = NativeAsOf.nearest(
      left.withColumn("t", timestamp_micros($"t")),
      right.withColumn("rt", timestamp_micros($"rt")),
      Seq("k"), "t", "rt", Seq("v")).orderBy("k", "t").collect()
    assert(ts.map(_.get(3)).toSeq == Seq(100.0, 200.0, 200.0, null))
    val plan = org.apache.spark.sql.GraftSql.logicalPlan(left)
    val e2 = intercept[IllegalArgumentException](AsOfJoinNode(plan, plan,
      Nil, Nil, Literal(0L), Literal(0L), Nil, strict = true,
      AsOfDirection.Nearest))
    assert(e2.getMessage.contains("no strict form"))
  }

  test("forward direction: earliest at-or-after, parity with composed") {
    val out = NativeAsOf.forward(left, right, Seq("k"), "t", "rt", Seq("v"))
      .orderBy("k", "t").collect().toSeq
    assert(out == Seq(
      Row(1, 10L, "a", 100.0), // equal time visible
      Row(1, 20L, "b", 200.0),
      Row(1, 30L, "c", null),
      Row(2, 15L, "d", null)))
    val strictOut = NativeAsOf.forward(left, right, Seq("k"), "t", "rt",
      Seq("v"), strict = true).orderBy("k", "t").collect().toSeq
    assert(strictOut.head == Row(1, 10L, "a", 200.0))
    // parity on real events: next purchase value after each click
    val (clicks, purchases) = clicksAndPurchases("next_purchase")
    val native = NativeAsOf.forward(clicks, purchases, Seq("user_id"),
        "ts", "pts", Seq("next_purchase"), tieBreak = Seq("p_eid"))
      .collect().toSet
    val reference = bruteForce(clicks, purchases, "user_id", "ts", "pts",
      "next_purchase", "p_eid", AsOfDirection.Forward).collect().toSet
    assert(native.nonEmpty && native == reference)
  }
}
