package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge}

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
  * Hazard: the partition count is read from `df.rdd`, which plans the
  * frame physically. Under AQE, planning a frame that contains an
  * exchange executes its upstream shuffle stages right there, and the
  * query that consumes the result runs them again. Pass only frames
  * whose top is a scan or a checkpoint, as every call site does today.
  */
object Parallelism {
  def floor(df: DataFrame): DataFrame = {
    val n = GraftBridge.shufflePartitions(df.sparkSession)
    if (df.rdd.getNumPartitions >= n) df else df.repartition(n)
  }
}
