package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** First-class AS-OF JOIN — the whole-operator custom path
  * (SURVEY.md §4.3 ladder rung (c): LogicalPlan + Strategy + SparkPlan).
  *
  * Semantics: for every left row, attach the LATEST right row with the
  * same key and `rightTime <= leftTime` (inclusive); right columns are
  * null when no such row exists. This is kdb's `aj` / pandas
  * `merge_asof(direction="backward")`.
  *
  * Physical shape — why a custom operator instead of composition:
  * the relational encodings are either an exploding inequality join
  * (O(n·m) pairs then argmax) or a union + running-window (one wide sort
  * but materializes both streams into a single window partition). This
  * operator asks EnsureRequirements for co-partitioning on the key and
  * (key, time) in-partition ordering — the same requirements as a
  * sort-merge join — then runs a single O(n+m) forward merge per
  * partition with O(1) state (the latest matching right row). At 100 TB:
  * one shuffle per side, no pair explosion, no window buffering.
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // Same requirements as a sort-merge join: co-partition on the key,
  // sort each partition by (key, time).
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def doExecute(): RDD[InternalRow] = {
    val lKey = leftKey; val rKey = rightKey
    val lTime = leftTime; val rTime = rightTime
    val lOut = left.output; val rOut = right.output
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      // keys and times are read interpreted, bound to their ordinals: a
      // generated projection per column would be four more compiled
      // classes for a single field read each
      val lKeyRef = BindReferences.bindReference(lKey, lOut)
      val rKeyRef = BindReferences.bindReference(rKey, rOut)
      val lTimeRef = BindReferences.bindReference(lTime, lOut)
      val rTimeRef = BindReferences.bindReference(rTime, rOut)
      val keyOrd = TypeUtils.getInterpretedOrdering(lKey.dataType)
        .asInstanceOf[Ordering[Any]]
      val timeOrd = TypeUtils.getInterpretedOrdering(lTime.dataType)
        .asInstanceOf[Ordering[Any]]
      val nullRight = new GenericInternalRow(rOut.length)
      val joined = new JoinedRow

      val rBuf = rIt.buffered
      // latest right row seen for the current key (deep-copied: rows from
      // the sort iterator are reused)
      var lastKey: Any = null
      var lastRow: InternalRow = null

      lIt.map { lRow =>
        val lk = lKeyRef.eval(lRow)
        val lt = lTimeRef.eval(lRow)
        // advance the right side through every row with
        // (key < lk) or (key == lk && time <= lt); null keys never match.
        // Right rows with null key or null time are consumed and discarded:
        // they can never match any left row, and Ascending sorts NULLS
        // FIRST, so stopping on one (instead of skipping it) would
        // permanently block every later valid right row for the key.
        var advancing = lk != null
        while (advancing && rBuf.hasNext) {
          val head = rBuf.head
          val rk = rKeyRef.eval(head)
          if (rk == null) {
            rBuf.next() // null key matches nothing; discard
          } else {
            val kc = keyOrd.compare(rk, lk)
            if (kc < 0) {
              rBuf.next() // right key already passed; discard
            } else if (kc == 0) {
              val rt = rTimeRef.eval(head)
              if (rt == null) {
                rBuf.next() // null time satisfies no `<= lt`; discard
              } else if (lt != null && timeOrd.compare(rt, lt) <= 0) {
                lastKey = rk
                lastRow = rBuf.next().copy()
              } else advancing = false
            } else advancing = false
          }
        }
        val matched = lastRow != null && lastKey != null && lk != null &&
          keyOrd.compare(lastKey, lk) == 0
        joined(lRow, if (matched) lastRow else nullRight)
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object GraftStrategies extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
    case _ => Nil
  }
}

object AsOf {
  /** left-backward as-of join: every left row + latest right row with
    * equal key and rightTime <= leftTime. Columns are named (resolved
    * directly against each side's analyzed output — custom logical nodes
    * don't get analyzer attribute resolution). Right-side columns must
    * not clash with left-side names (rename first — also guarantees
    * fresh expr ids for self-joins). */
  def join(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String): DataFrame = {
    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(GraftStrategies)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ GraftStrategies
    }
    val lPlan = GraftBridge.analyzedPlan(left)
    val rPlan = GraftBridge.analyzedPlan(right)
    def attr(plan: LogicalPlan, name: String): Expression =
      plan.output.find(_.name.equalsIgnoreCase(name))
        .getOrElse(throw new IllegalArgumentException(
          s"column '$name' not found in [${plan.output.map(_.name).mkString(", ")}]"))
    GraftBridge.ofRows(spark, AsOfJoin(
      lPlan, rPlan,
      attr(lPlan, leftKey), attr(rPlan, rightKey),
      attr(lPlan, leftTime), attr(rPlan, rightTime)))
  }
}
