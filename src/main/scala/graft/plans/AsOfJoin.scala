package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.graft.PlanBridge

/** Whole-operator as-of join as a first-class Catalyst citizen — the (c)
  * extension path from the build guide: custom LogicalPlan + planner
  * Strategy + physical BinaryExecNode, registered through
  * SparkSessionExtensions (GraftExtensions).
  *
  * Contract: both children start with (key: Long, time: Long, …payload).
  * For every left row, the operator attaches the payload of the latest
  * right row of the same key with right.time <= left.time (ties resolved
  * by the right child's sort order), or nulls when none qualifies —
  * i.e. a left-outer merge as-of join.
  *
  * Scale shape: the exec node only DECLARES distribution (co-cluster both
  * sides by key) and ordering ((key, time) ascending) requirements;
  * Catalyst's EnsureRequirements inserts the minimal exchanges/sorts. The
  * join itself is then a streaming single-pass partition-local merge —
  * O(n) with O(1) state (one buffered right row), no candidate blowup,
  * no per-key materialization. This is the plan you want at 100 TB:
  * one shuffle per side, no sort-merge buffer growth.
  */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan)
    extends BinaryNode {
  // right's (key, time) are join machinery, not output; payload nullable
  override def output: Seq[Attribute] =
    left.output ++ right.output.drop(2).map(_.withNullability(true))
  // the join consumes both children's (key, time) columns positionally —
  // declare them so ColumnPruning doesn't strip them from the children
  // (without this, the optimizer pruned the right child to payload-only
  // and the merge read the wrong columns)
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(
      left.output.take(2) ++ right.output.take(2))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    override val output: Seq[Attribute]) extends BinaryExecNode {

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(left.output.head :: Nil) ::
      ClusteredDistribution(right.output.head :: Nil) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(
      Seq(SortOrder(left.output(0), Ascending), SortOrder(left.output(1), Ascending)),
      // full ascending order on the right: the LAST qualifying row is the
      // max (time, payload…) — deterministic tie-break for free
      right.output.map(a => SortOrder(a, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(left.output(0), Ascending), SortOrder(left.output(1), Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val nRightPayload = right.output.size - 2
    val leftAttrs = left.output
    val rightAttrs = right.output
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val project = UnsafeProjection.create(output, leftAttrs ++ rightAttrs.drop(2))
      val nullRight = new GenericInternalRow(nRightPayload)
      val joined = new JoinedRow
      val rBuf = rIt.buffered
      // last qualifying right row for the current key (copied: UnsafeRows
      // from shuffle readers are reused buffers)
      var curKey = 0L
      var hasCur = false
      var lastMatch: InternalRow = null
      val payloadProj = UnsafeProjection.create(rightAttrs.drop(2), rightAttrs)
      lIt.map { lRow =>
        val k = lRow.getLong(0)
        val t = lRow.getLong(1)
        if (!hasCur || curKey != k) { curKey = k; hasCur = true; lastMatch = null }
        // advance right cursor through rows of smaller keys (their matches
        // are irrelevant — left is key-sorted too) and through qualifying
        // rows of this key
        var advancing = true
        while (advancing && rBuf.hasNext) {
          val rk = rBuf.head.getLong(0)
          if (rk < k) { rBuf.next(); advancing = true }
          else if (rk == k && rBuf.head.getLong(1) <= t) {
            lastMatch = payloadProj(rBuf.next()).copy()
          } else advancing = false
        }
        val r = if (lastMatch != null) lastMatch else nullRight
        project(joined(lRow, r))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy: AsOfJoinPlan -> AsOfJoinExec. Injected via
  * GraftExtensions.injectPlannerStrategy.
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: AsOfJoinPlan =>
      AsOfJoinExec(planLater(p.left), planLater(p.right), p.output) :: Nil
    case _ => Nil
  }
}

object AsOf {
  /** As-of join two frames whose first two columns are (key: Long,
    * time: Long). The session must carry `GraftExtensions` (every
    * `GraftSession` does), whose planner strategy is the only one that
    * plans `AsOfJoinPlan`; without it Spark's planner fails with
    * "No plan for AsOfJoinPlan".
    */
  def join(left: DataFrame, right: DataFrame): DataFrame =
    PlanBridge.ofRows(left.sparkSession,
      AsOfJoinPlan(PlanBridge.logical(left), PlanBridge.logical(right)))
}
