package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Descending, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.Bridge

/** Backward as-of join as a WHOLE-OPERATOR plan node — tier (c) of the
  * custom-operator ladder (logical plan + strategy + physical exec),
  * beside the compositional form in [[graft.ops.AsOfJoin]] (tier (a)).
  *
  * Why a physical operator can beat the composition: the window rewrite
  * UNIONS both sides into one partition stream, sorts the combined
  * (|L|+|R|) rows, materializes a last-non-null carry column per row,
  * and filters half the stream back out. The native exec shuffles each
  * side once on its key (the same exchanges a sort-merge join would
  * need), sorts each side separately by (key, time), and then streams a
  * two-pointer merge per partition: O(|L|+|R|) with NO combined
  * materialization, no struct carry column, and the right side's
  * payload never widens left rows until the final joined projection.
  *
  * Scale shape: requiredChildDistribution = clustered on the join keys
  * (EnsureRequirements co-partitions both sides exactly as it would a
  * SortMergeJoin); requiredChildOrdering = (keys…, time) each side, so
  * the merge is a forward-only scan — state per partition is ONE
  * buffered right row. Nulls: null keys cluster like any value (the
  * window form behaves identically); a null left time matches nothing;
  * null right times are skipped.
  *
  * Semantics (backward, ≤): for each left row, the right row with the
  * greatest time ≤ the left time within the key group; unmatched left
  * rows keep null right columns. Matches DuckDB `ASOF JOIN … ON l.ts >=
  * r.ts` row-for-row (the q_asof_join_native oracle).
  */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
                        leftKeys: Seq[Expression], rightKeys: Seq[Expression],
                        leftTime: Expression, rightTime: Expression,
                        forward: Boolean = false)
    extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy: lowers [[AsOfJoinPlan]] to [[AsOfJoinExec]].
  * Injected via SparkSessionExtensions ([[graft.GraftExtensions]]) or at
  * runtime through `spark.experimental.extraStrategies` (the
  * [[AsOfJoinNative.backward]] wrapper registers it idempotently).
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, fwd) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, fwd) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
                        leftKeys: Seq[Expression], rightKeys: Seq[Expression],
                        leftTime: Expression, rightTime: Expression,
                        forward: Boolean = false)
    extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // co-partition both sides on the join keys — the SortMergeJoin contract
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))

  // sort each side by (keys…, time): the merge is then forward-only.
  // The forward variant sorts time DESCENDING — the identical merge then
  // tracks the smallest right time ≥ the left time instead
  private def timeOrder(e: Expression): SortOrder =
    SortOrder(e, if (forward) Descending else Ascending)
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ timeOrder(leftTime),
    rightKeys.map(SortOrder(_, Ascending)) :+ timeOrder(rightTime))

  // left rows stream through in order; partitioning/ordering survive
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeys = leftKeys
    val rKeys = rightKeys
    val lTimeE = leftTime
    val rTimeE = rightTime
    val fwd = forward
    val keyTypes = lKeys.map(_.dataType)
    val timeType = lTimeE.dataType

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeys, lOut)
      val rKeyProj = UnsafeProjection.create(rKeys, rOut)
      val lTime = BindReferences.bindReference(lTimeE, lOut)
      val rTime = BindReferences.bindReference(rTimeE, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val baseOrd = TypeUtils.getInterpretedOrdering(timeType)
        .asInstanceOf[Ordering[Any]]
      // backward keeps the greatest rt ≤ lt over an ascending stream;
      // forward keeps the smallest rt ≥ lt over a descending one — the
      // merge is the same with the time comparison flipped
      val timeOrd = if (fwd) baseOrd.reverse else baseOrd
      val nullRight = new GenericInternalRow(rOut.size)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        // one-row lookahead into the right side (copied: shuffle readers
        // reuse row buffers) and the current best match for the running key
        private var rHead: InternalRow = _
        private var rHeadKey: InternalRow = _
        private var lastMatch: InternalRow = _
        private var lastMatchKey: InternalRow = _

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lk = lKeyProj(l).copy()
          val lt = lTime.eval(l)
          if (lastMatch != null && keyOrd.compare(lastMatchKey, lk) != 0) {
            lastMatch = null; lastMatchKey = null
          }
          if (lt != null) {
            var advance = true
            while (advance && (rHead != null || rIter.hasNext)) {
              if (rHead == null) {
                val r = rIter.next()
                rHead = r.copy(); rHeadKey = rKeyProj(rHead).copy()
              }
              val c = keyOrd.compare(rHeadKey, lk)
              if (c < 0) {
                rHead = null // keys only grow: can never match a later left row
              } else if (c == 0) {
                val rt = rTime.eval(rHead)
                if (rt == null) rHead = null // unusable time: skip
                else if (timeOrd.lteq(rt, lt)) {
                  lastMatch = rHead; lastMatchKey = rHeadKey; rHead = null
                } else advance = false
              } else advance = false
            }
          }
          joined(l, if (lastMatch != null && lt != null) lastMatch else nullRight)
        }
      }
    }
  }
}

/** Column pruning THROUGH the custom node — the one optimization a
  * whole-operator plan forfeits by being opaque to Catalyst: the stock
  * ColumnPruning rule cannot reason about [[AsOfJoinPlan]], so without
  * help a `select(one column)` over the join still scans every column
  * of both inputs (at 100 TB, the difference between reading two
  * columns and twenty). This Rule[LogicalPlan] restores it: a Project
  * above the node pushes a child Project below each side keeping only
  * the referenced attributes plus the join keys/time — the downstream
  * built-in rules then carry the pruning all the way into the parquet
  * ReadSchema. Idempotent (fires only when something is actually
  * dropped); output attribute ids are preserved, so resolution above
  * the node is untouched.
  */
object AsOfJoinPruneRule
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.AttributeSet
  import org.apache.spark.sql.catalyst.plans.logical.Project

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case p @ Project(projList, aj: AsOfJoinPlan) =>
      val needed = AttributeSet(projList.flatMap(_.references)) ++
        AttributeSet(aj.leftKeys.flatMap(_.references)) ++
        AttributeSet(aj.rightKeys.flatMap(_.references)) ++
        aj.leftTime.references ++ aj.rightTime.references
      def prune(child: LogicalPlan): LogicalPlan = {
        val keep = child.output.filter(needed.contains)
        if (keep.length == child.output.length) child else Project(keep, child)
      }
      val nl = prune(aj.left)
      val nr = prune(aj.right)
      if ((nl eq aj.left) && (nr eq aj.right)) p
      else Project(projList, aj.copy(left = nl, right = nr))
  }
}

/** DataFrame-level entry point for the native as-of join. */
object AsOfJoinNative {

  /** Same surface as [[graft.ops.AsOfJoin.backward]]: left columns
    * as-is, right payload prefixed `r_`, left-outer semantics. Runs
    * through [[AsOfJoinExec]]; registers the strategy on the session's
    * experimental hook if absent (idempotent).
    */
  def backward(left: DataFrame, right: DataFrame, keyCols: Seq[String],
               tsCol: String): DataFrame =
    join(left, right, keyCols, tsCol, forward = false)

  /** Forward variant: smallest right time ≥ the left time per key. */
  def forward(left: DataFrame, right: DataFrame, keyCols: Seq[String],
              tsCol: String): DataFrame =
    join(left, right, keyCols, tsCol, forward = true)

  private def join(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                   tsCol: String, forward: Boolean): DataFrame = {
    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    if (!spark.experimental.extraOptimizations.contains(AsOfJoinPruneRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ AsOfJoinPruneRule

    import org.apache.spark.sql.functions.col
    val rightPayload = right.columns.filterNot(keyCols.contains)
    // keys ride along renamed so the exec can evaluate them; dropped after
    val r2 = right.select(
      keyCols.map(c => col(c).as(s"__rk_$c")) ++
        rightPayload.map(c => col(c).as(s"r_$c")): _*)

    val lPlan = Bridge.analyzed(left)
    val rPlan = Bridge.analyzed(r2)
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
    val plan = AsOfJoinPlan(lPlan, rPlan,
      keyCols.map(attr(lPlan, _)), keyCols.map(c => attr(rPlan, s"__rk_$c")),
      attr(lPlan, tsCol), attr(rPlan, s"r_$tsCol"), forward)
    Bridge.ofRows(spark, plan).drop(keyCols.map(c => s"__rk_$c"): _*)
  }
}
