package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

/** Parallelism floor for quadratic pair stages (r17).
  *
  * The all-pairs shapes (eval_ann_recall's exact ground truth,
  * dedup_embedding's BNLJ baseline) multiply every streamed row by
  * |other side| vector ops ABOVE the scan, so their parallelism is
  * whatever the scan provides — 2 tasks on the single-file fixture,
  * measured 117 s of taskTime on 2 of 32 cores at sf1. Repartitioning
  * the streamed side is amortized there (bytes moved are ~1/|Q| of the
  * compute above), but at real scale the scan already has thousands of
  * splits and the same shuffle would move the whole vector corpus for
  * nothing. So: floor the partition count only when the scan cannot
  * provide it — `repartition(n)` iff the frame has fewer partitions
  * than `spark.sql.shuffle.partitions` (scale-adaptive by the bench
  * contract), pass-through otherwise.
  *
  * Contract: the frame's top is a scan or a checkpoint. The partition
  * count is read from `df.rdd`, which plans the frame physically; under
  * AQE, planning a frame that contains an exchange executes its upstream
  * stages right there, and the query that consumes the result runs them
  * again. So a frame whose physical plan holds an exchange is refused
  * before `df.rdd` runs anything.
  */
object Parallelism {
  def floor(df: DataFrame): DataFrame = {
    require(exchanges(df.queryExecution.executedPlan).isEmpty,
      "Parallelism.floor takes a scan or a checkpoint: this frame's plan " +
        "contains an exchange, whose stages reading its partition count " +
        "would run now and again in the consuming query")
    val n = GraftBridge.shufflePartitions(df.sparkSession)
    if (df.rdd.getNumPartitions >= n) df else df.repartition(n)
  }

  /** Every exchange in `plan`, subqueries included. An AQE root is a
    * leaf whose current plan is walked explicitly: before execution that
    * is the input plan with the exchanges EnsureRequirements adds (its
    * `inputPlan` alone has none of them), after execution the final plan,
    * whose query stages are leaves wrapping their exchange. A reused
    * exchange is not walked: the exchange it reuses is in the plan. */
  private[graft] def exchanges(plan: SparkPlan): Seq[Exchange] = plan match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case p =>
      val below = (p.children ++ p.subqueries).flatMap(exchanges)
      p match {
        case e: Exchange => e +: below
        case _ => below
      }
  }
}
