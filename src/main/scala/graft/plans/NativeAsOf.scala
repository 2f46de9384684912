package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSql, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Which right row an as-of join attaches to each left row. */
sealed trait AsOfDirection
object AsOfDirection {
  /** latest right row at-or-before the left time */
  case object Backward extends AsOfDirection
  /** earliest right row at-or-after the left time */
  case object Forward extends AsOfDirection
  /** smallest |Δt|; the backward row wins equal distances and Δ=0 */
  case object Nearest extends AsOfDirection
}

/** The as-of join as a Catalyst operator — SURVEY.md §7.4 tier (c): a
  * custom LogicalPlan + Strategy + SparkPlan.
  *
  * The physical operator sort-merges the two sides directly:
  * EnsureRequirements co-partitions both children on the join keys and
  * sorts them by (keys, time), then each partition pair is merged in one
  * forward pass carrying the latest-visible right row — O(|L|+|R|) per
  * partition, no window state, rows stream straight through.
  *
  * A left row whose key or time is null gets a null payload; a right row
  * whose key or time is null is skipped (an SQL `=`/`<=` never matches a
  * null).
  */
case class AsOfJoinNode(left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    payload: Seq[NamedExpression], strict: Boolean,
    direction: AsOfDirection,
    rightTieBreak: Seq[Expression] = Nil) extends BinaryNode {
  require(!(strict && direction == AsOfDirection.Nearest),
    "as-of nearest has no strict form")
  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.toAttribute.withNullability(true))
  override protected def withNewChildrenInternal(l: LogicalPlan,
      r: LogicalPlan): AsOfJoinNode = copy(left = l, right = r)
}

object AsOfJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lt, rt, payload, strict, dir, tb) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, payload,
        strict, dir, tb) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    payload: Seq[NamedExpression], strict: Boolean,
    direction: AsOfDirection,
    rightTieBreak: Seq[Expression] = Nil) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.toAttribute.withNullability(true))

  // co-partition both sides on the join keys; EnsureRequirements inserts
  // the exchanges (or elides them when inputs are already clustered)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  // Sorted merge input: keys ascending, time ascending (backward,
  // nearest) or descending (forward — the merge then carries the
  // earliest-visible right row symmetrically). The merge keeps the LAST
  // visible right row it consumes, so tiebreak columns sort in the SAME
  // direction as time: at equal times backward keeps the greatest
  // tiebreak, forward the smallest — matching the
  // "ORDER BY ts DESC, id DESC LIMIT 1" correlated-subquery oracle. With
  // no tiebreak, equal-time winners follow whatever order the sort
  // emitted (nondeterministic across runs).
  private def timeDir: SortDirection =
    if (direction == AsOfDirection.Forward) Descending else Ascending
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, timeDir),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, timeDir)
      :++ rightTieBreak.map(SortOrder(_, timeDir)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyTypes = leftKeys.map(_.dataType)
    val timeType = leftTime.dataType
    val strictLocal = strict
    val forwardLocal = direction == AsOfDirection.Forward
    val nearestLocal = direction == AsOfDirection.Nearest
    val numPayload = payload.length

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(leftKeys, left.output)
      val rKeyProj = UnsafeProjection.create(rightKeys, right.output)
      val lTimeEval = UnsafeProjection.create(Seq(leftTime), left.output)
      val rTimeEval = UnsafeProjection.create(Seq(rightTime), right.output)
      val payloadProj = UnsafeProjection.create(payload, right.output)
      val keyOrd: Ordering[InternalRow] =
        RowOrdering.createNaturalAscendingOrdering(lKeyTypes)
      val timeOrd: Ordering[InternalRow] =
        RowOrdering.createNaturalAscendingOrdering(Seq(timeType))
      val nullPayload = new GenericInternalRow(numPayload)
      val joined = new JoinedRow
      val outProj = UnsafeProjection.create(output, output)

      new Iterator[InternalRow] {
        private var rHead: InternalRow = _
        private var rHeadKey: UnsafeRow = _
        private var rHeadTime: UnsafeRow = _
        private var lastKey: UnsafeRow = _ // key of buffered payload
        private var lastTime: UnsafeRow = _ // time of buffered payload
        private var lastPayload: UnsafeRow = _
        // the next right row with a non-null key and time, or null
        private def advanceRightHead(): Unit = {
          rHead = null
          while (rHead == null && rIter.hasNext) {
            val r = rIter.next()
            val k = rKeyProj(r)
            val t = rTimeEval(r)
            if (!k.anyNull && !t.anyNull) {
              rHead = r
              rHeadKey = k.copy()
              rHeadTime = t.copy()
            }
          }
        }
        advanceRightHead()

        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val lRow = lIter.next()
          val lKey = lKeyProj(lRow)
          val lTime = lTimeEval(lRow)
          val p =
            if (lKey.anyNull || lTime.anyNull) nullPayload
            else {
              // consume right rows visible to this left row
              var continue = rHead != null
              while (continue) {
                val kc = keyOrd.compare(rHeadKey, lKey)
                val visible = kc < 0 || (kc == 0 && {
                  val tc0 = timeOrd.compare(rHeadTime, lTime)
                  val tc = if (forwardLocal) -tc0 else tc0
                  if (strictLocal) tc < 0 else tc <= 0
                })
                if (visible) {
                  if (kc == 0) {
                    lastKey = rHeadKey
                    lastTime = rHeadTime
                    lastPayload = payloadProj(rHead).copy()
                  }
                  advanceRightHead()
                  continue = rHead != null
                } else continue = false
              }
              val carried =
                lastPayload != null && keyOrd.compare(lastKey, lKey) == 0
              // nearest: the right head is now the earliest same-key row
              // strictly after the left time (smallest tiebreak there);
              // it wins only when strictly closer than the carried row
              val ahead = nearestLocal && rHead != null &&
                keyOrd.compare(rHeadKey, lKey) == 0 && (!carried || {
                  val t = lTime.getLong(0)
                  rHeadTime.getLong(0) - t < t - lastTime.getLong(0)
                })
              if (ahead) payloadProj(rHead)
              else if (carried) lastPayload
              else nullPayload
            }
          outProj(joined(lRow, p))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(l: SparkPlan,
      r: SparkPlan): AsOfJoinExec = copy(left = l, right = r)
}

/** User-facing API + strategy registration. */
object NativeAsOf {
  /** Register the planner strategy on a session (idempotent). */
  def register(spark: SparkSession): Unit = GraftSql.addStrategy(spark, AsOfJoinStrategy)

  /** Backward as-of join: for each left row, the payload of the latest
    * right row with the same key and rightTime <= leftTime (< when
    * strict). Payload columns are appended, null when no match. At equal
    * right times the greatest `tieBreak` wins; with no tieBreak, ties
    * resolve nondeterministically.
    */
  def backward(left: DataFrame, right: DataFrame, by: Seq[String],
      leftTime: String, rightTime: String, payload: Seq[String],
      strict: Boolean = false, tieBreak: Seq[String] = Nil): DataFrame =
    join(left, right, by, leftTime, rightTime, payload, strict,
      AsOfDirection.Backward, tieBreak)

  /** Forward as-of: the payload of the EARLIEST right row with the same
    * key and rightTime >= leftTime (> when strict). At equal right times
    * the smallest `tieBreak` wins.
    */
  def forward(left: DataFrame, right: DataFrame, by: Seq[String],
      leftTime: String, rightTime: String, payload: Seq[String],
      strict: Boolean = false, tieBreak: Seq[String] = Nil): DataFrame =
    join(left, right, by, leftTime, rightTime, payload, strict,
      AsOfDirection.Forward, tieBreak)

  /** Nearest-in-time as-of: the payload of the right row with the same
    * key and the smallest |rightTime − leftTime|. The backward row wins
    * an equal distance, and an equal-time right row counts as backward;
    * then the per-side tie rules of [[backward]]/[[forward]] apply
    * (backward keeps the greatest `tieBreak`, forward the smallest).
    * Time columns must be long or timestamp, so the distance is exact
    * integer arithmetic.
    */
  def nearest(left: DataFrame, right: DataFrame, by: Seq[String],
      leftTime: String, rightTime: String, payload: Seq[String],
      tieBreak: Seq[String] = Nil): DataFrame =
    join(left, right, by, leftTime, rightTime, payload, strict = false,
      AsOfDirection.Nearest, tieBreak)

  private def join(left: DataFrame, right: DataFrame, by: Seq[String],
      leftTime: String, rightTime: String, payload: Seq[String],
      strict: Boolean, direction: AsOfDirection,
      tieBreak: Seq[String]): DataFrame = {
    val spark = left.sparkSession
    register(spark)
    val lPlan = GraftSql.logicalPlan(left)
    // self-join safety: re-alias the right side so its attributes get
    // fresh exprIds — analyzer dedup rules don't know this node type
    val rPlan = GraftSql.logicalPlan(
      right.select(right.columns.map(c =>
        org.apache.spark.sql.functions.col(c).as(c)).toSeq: _*))
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found"))
    val lk = by.map(attr(lPlan, _))
    val rk = by.map(attr(rPlan, _))
    // the merge compares key/time columns as raw UnsafeRow projections:
    // mismatched types would compare garbage, so reject them loudly here
    lk.zip(rk).zip(by).foreach { case ((l, r), n) =>
      require(l.dataType == r.dataType,
        s"as-of key '$n' type mismatch: left ${l.dataType} vs right ${r.dataType}")
    }
    val lt = attr(lPlan, leftTime)
    val rt = attr(rPlan, rightTime)
    require(lt.dataType == rt.dataType,
      s"as-of time type mismatch: $leftTime ${lt.dataType} vs " +
        s"$rightTime ${rt.dataType}")
    require(direction != AsOfDirection.Nearest ||
        lt.dataType == LongType || lt.dataType == TimestampType,
      s"as-of nearest time type unsupported: $leftTime ${lt.dataType} " +
        "(needs long or timestamp)")
    val node = AsOfJoinNode(lPlan, rPlan, lk, rk, lt, rt,
      payload.map(attr(rPlan, _)), strict, direction,
      tieBreak.map(attr(rPlan, _)))
    GraftSql.ofRows(spark, node)
  }
}
