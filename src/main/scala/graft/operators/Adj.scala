package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.broadcast.Broadcast

/** Corporate-action adjustment — the reference's one analytic operator
  * (reference adj.go; semantics from adj_test.go goldens).
  *
  * Factor model (reference adj.go:115-134): per security, load events
  * (time, px, vol), replace 0 with 1, then
  *   forward  Px[i]  = ∏ px[j],  j ≥ i   (suffix product)
  *   backward PxB[i] = ∏ 1/px[j], j ≤ i  (prefix product of inverses)
  * A row at time t is multiplied by Px[bisectRight(t)] (forward; rows
  * after the last event are unadjusted) or PxB[bisectRight(t)-1]
  * (backward; rows before the first event unadjusted).
  *
  * Multiplication order matches the reference exactly (sequential,
  * time-ascending), so float64 results are bit-identical to the goldens.
  *
  * Scale note: adjustment-event tables are small (corporate actions per
  * security), so factors are computed per-sec and broadcast — the same
  * shape as the reference's in-process cache (adj.go:34-47). The
  * application side stays fully distributed: a broadcast binary search
  * per row, no shuffle, no driver loop over data rows.
  */
object Adj {
  /** tm in epoch-micros; px/vol forward factors, pxB/volB backward. */
  final case class Factor(tm: Long, px: Double, vol: Double,
      pxB: Double, volB: Double)

  /** Build per-security factor arrays from an adjustment-event table
    * with columns (sec INT, time TIMESTAMP, px DOUBLE, vol DOUBLE).
    * Driver-side: the table is bounded (reference caches it wholesale).
    */
  def factors(adj: DataFrame): Map[Int, Array[Factor]] = {
    val rows = adj
      .select(col("sec").cast("int"), unix_micros(col("time")).as("tm"),
        col("px").cast("double"), col("vol").cast("double"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) 1.0 else r.getDouble(2),
        if (r.isNullAt(3)) 1.0 else r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    rows.groupBy(_._1).map { case (sec, evs) =>
      val n = evs.length
      val px = evs.map(e => if (e._3 == 0.0) 1.0 else e._3)
      val vol = evs.map(e => if (e._4 == 0.0) 1.0 else e._4)
      val fPx = px.clone(); val fVol = vol.clone()
      // suffix products, same order as reference adj.go:126-129
      var i = n - 2
      while (i >= 0) { fPx(i) *= fPx(i + 1); fVol(i) *= fVol(i + 1); i -= 1 }
      val bPx = px.map(1.0 / _); val bVol = vol.map(1.0 / _)
      i = 1
      while (i < n) { bPx(i) *= bPx(i - 1); bVol(i) *= bVol(i - 1); i += 1 }
      sec -> Array.tabulate(n)(j =>
        Factor(evs(j)._2, fPx(j), fVol(j), bPx(j), bVol(j)))
    }
  }

  /** bisectRight on event time (reference adj.go:49-68): first index
    * whose event time is strictly greater than tm.
    */
  private def bisectRight(a: Array[Factor], tm: Long): Int = {
    var lo = 0
    var hi = a.length
    while (lo < hi) {
      val mid = (lo + hi) / 2
      if (tm < a(mid).tm) hi = mid else lo = mid + 1
    }
    lo
  }

  /** Multiplier for one row; `which` 1=px 2=vol (reference adj.go:17-30,
    * 183-199). Returns 1.0 where the reference leaves the row unadjusted.
    */
  def multiplier(bySec: Map[Int, Array[Factor]], sec: Int, tmMicros: Long,
      which: Int, backward: Boolean): Double = {
    val arr = bySec.getOrElse(sec, null)
    if (arr == null || arr.isEmpty) return 1.0
    var i = bisectRight(arr, tmMicros)
    if (backward) {
      if (i == 0) return 1.0
      i -= 1
    } else if (i == arr.length) return 1.0
    val f = arr(i)
    if (which == 1) { if (backward) f.pxB else f.px }
    else { if (backward) f.volB else f.vol }
  }

  /** Entry point for generated code ([[graft.functions.AdjMultiplier]]):
    * unwraps the broadcast. Typed loosely because Java codegen sees the
    * broadcast value as Object.
    */
  def multiplierB(bc: Broadcast[_], sec: Int, tmMicros: Long,
      which: Int, backward: Boolean): Double =
    multiplier(bc.value.asInstanceOf[Map[Int, Array[Factor]]], sec, tmMicros,
      which, backward)

  /** Column expression: `valueCol` adjusted by the broadcast factor set,
    * keyed by (secCol, tmCol). Output is DOUBLE (the reference widens
    * adjusted values to float64). Codegen-native — no UDF in the
    * projection (see [[graft.functions.AdjMultiplier]]).
    */
  def adjusted(spark: SparkSession, bc: Broadcast[Map[Int, Array[Factor]]],
      valueCol: Column, secCol: Column, tmCol: Column,
      which: Int, backward: Boolean): Column =
    valueCol.cast("double") * graft.functions.AdjMultiplier(
      secCol.cast("int"), unix_micros(tmCol), bc, which, backward)

  /** Fully-distributed factor table for large event sets: one row per
    * (sec, event) with forward/backward factors — feeds [[graft.plans.NativeAsOf]]
    * when the broadcast path is too big. Input columns:
    * (sec INT-castable, tm LONG, px DOUBLE, vol DOUBLE); null/zero
    * px/vol are treated as 1. Output adds `idx`, the per-sec sorted
    * event position — use it as the as-of tiebreak so equal-tm events
    * resolve to the same order the products were computed in.
    */
  def factorsDF(spark: SparkSession, adj: DataFrame): DataFrame = {
    import spark.implicits._
    val prepped = adj.select(col("sec").cast("int"), col("tm").cast("long"),
      when(col("px").isNull || col("px") === 0.0, 1.0)
        .otherwise(col("px").cast("double")).as("px"),
      when(col("vol").isNull || col("vol") === 0.0, 1.0)
        .otherwise(col("vol").cast("double")).as("vol"))
      .as[(Int, Long, Double, Double)]
    prepped.groupByKey(_._1).flatMapGroups { (sec, it) =>
      val evs = it.toArray.sortBy(e => (e._2, e._3, e._4))
      val n = evs.length
      val fPx = evs.map(_._3); val fVol = evs.map(_._4)
      var i = n - 2
      while (i >= 0) { fPx(i) *= fPx(i + 1); fVol(i) *= fVol(i + 1); i -= 1 }
      val bPx = evs.map(e => 1.0 / e._3); val bVol = evs.map(e => 1.0 / e._4)
      i = 1
      while (i < n) { bPx(i) *= bPx(i - 1); bVol(i) *= bVol(i - 1); i += 1 }
      Iterator.tabulate(n)(j =>
        (sec, evs(j)._2, j, fPx(j), fVol(j), bPx(j), bVol(j)))
    }.toDF("sec", "tm", "idx", "px_f", "vol_f", "px_b", "vol_b")
  }
}
