package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed exact global ordering primitives — the scalable
  * substitute for `Window.orderBy(...)` with an empty partition spec
  * (which moves every row to ONE task: the straggler the registry's
  * plan gate bans). The shape is the classic two-pass parallel prefix
  * sum:
  *
  *   1. range-partition on the sort key (same key → same partition,
  *      partitions ordered by key range);
  *   2. a LOCAL running sum per partition — a window PARTITIONED by
  *      the physical partition id, so every task works its own slice;
  *   3. per-partition totals (≤ shuffle-partition-count rows — a
  *      bounded driver collect, the blessed codebook pattern) prefixed
  *      on the driver and broadcast-joined back as offsets.
  *
  * Results are exact integers independent of the partitioning, so the
  * DuckDB oracles keep their simple single-window formulations and
  * still match bit-for-bit.
  */
object Ranks {
  /** `df` + `outCol` = the INCLUSIVE global prefix sum of `cntCol` in
    * ascending `sortCols` order. Rows must be UNIQUE on `sortCols`
    * (use a grouped histogram or a key-complete sort), otherwise ties
    * make the local running sum order-dependent.
    */
  def globalPrefix(df: DataFrame, sortCols: Seq[String],
      cntCol: String, outCol: String): DataFrame = {
    val s = df.sparkSession
    val nParts = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val sc: Seq[Column] = sortCols.map(col)
    // RELIABLY pinned (not just cached): the offsets collected below
    // are only valid against THIS materialization's partition ids — a
    // recompute could re-sample different range boundaries and desync
    // offset from pid. Checkpoint files make the pid→offset pairing
    // stable however the output is re-read (and survive executor
    // loss, the IterState.durable contract).
    val local = IterState.durable(df
      .repartitionByRange(nParts, sc: _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__lpre", sum(col(cntCol).cast("long"))
        .over(Window.partitionBy("__pid").orderBy(sc: _*))))
    // bounded driver collect: one running total per range partition.
    // The total is sum(cntCol) per partition — NOT max of the running
    // sum, which only equals the total when every count is
    // non-negative (round-11 advice: a negative count would silently
    // corrupt every downstream offset under the max formulation; the
    // sum is correct for any sign).
    val totals = local.groupBy("__pid")
      .agg(sum(col(cntCol).cast("long")).as("__tot"))
      .orderBy("__pid")
      .collect()
    var acc = 0L
    val offsets = totals.map { r =>
      val o = (r.getInt(0), acc); acc += r.getLong(1); o
    }.toSeq
    import s.implicits._
    val offDf = offsets.toDF("__pid", "__off")
    val out = local
      .join(broadcast(offDf), Seq("__pid"))
      .withColumn(outCol, col("__off") + col("__lpre"))
      .drop("__pid", "__lpre", "__off")
    out
  }

  /** Exact 1-based global row numbers in ascending `sortCols` order,
    * distributed — `sortCols` must be a unique key (equal tuples would
    * make the numbering nondeterministic, exactly as they would under
    * a plain window).
    */
  def globalRowNumber(df: DataFrame, sortCols: Seq[String],
      outCol: String): DataFrame =
    globalPrefix(df.withColumn("__one", lit(1L)), sortCols, "__one",
      outCol).drop("__one")

  /** Per-distinct-value DOUBLED average ranks of `vCol`:
    * (v, c, r2) with c the value's multiplicity and
    * r2 = 2·avgrank = 2·cum − c + 1 (integer under ties, the Spearman
    * convention). One histogram aggregation + one [[globalPrefix]];
    * the corpus is touched once, everything after is |distinct v|.
    */
  def doubledRanks(df: DataFrame, vCol: String): DataFrame = {
    val hist = df.select(col(vCol).cast("long").as("v"))
      .groupBy("v").agg(count(lit(1)).as("c"))
    globalPrefix(hist, Seq("v"), "c", "cum")
      .select(col("v"), col("c"),
        (lit(2L) * col("cum") - col("c") + 1L).as("r2"))
  }
}
