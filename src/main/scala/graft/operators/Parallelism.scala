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
    require(!hasExchange(df.queryExecution.executedPlan),
      "Parallelism.floor takes a scan or a checkpoint: this frame's plan " +
        "contains an exchange, whose stages reading its partition count " +
        "would run now and again in the consuming query")
    val n = GraftBridge.shufflePartitions(df.sparkSession)
    if (df.rdd.getNumPartitions >= n) df else df.repartition(n)
  }

  /** Whether `plan` holds an exchange or a query stage, in subqueries
    * too. An AQE root is a leaf whose current plan (before execution:
    * the input plan with the exchanges EnsureRequirements adds) is walked
    * explicitly; its `inputPlan` alone would miss those exchanges. */
  private def hasExchange(plan: SparkPlan): Boolean = plan match {
    case a: AdaptiveSparkPlanExec => hasExchange(a.executedPlan)
    case _: Exchange | _: QueryStageExec => true
    case p => p.children.exists(hasExchange) || p.subqueries.exists(hasExchange)
  }
}
