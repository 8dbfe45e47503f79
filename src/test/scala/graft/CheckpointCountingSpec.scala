package graft

import org.apache.spark.sql.{GraftBridge, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins `GraftBridge.localCheckpointCounting` — the r17 optimization
  * that folds the connected-components convergence count into the
  * checkpoint materialization job (one pass instead of checkpoint +
  * filter/count). The fixpoint semantics themselves stay pinned by
  * DedupSimilaritySpec's cluster cases; this suite pins the seam. */
class CheckpointCountingSpec extends SparkSpec {

  private def labelsDf(rows: Seq[(Long, Long, Long)]) =
    spark.createDataFrame(rows).toDF("id", "old_label", "label")

  test("counts exactly the rows whose long columns differ, rows unchanged") {
    val in = labelsDf(Seq(
      (1L, 1L, 1L), (2L, 2L, 1L), (3L, 3L, 3L), (4L, 4L, 2L), (5L, 5L, 5L)))
    val (out, changed) =
      GraftBridge.localCheckpointCounting(in, "label", "old_label")
    assert(changed === 2L)
    assert(out.schema === in.schema)
    assert(out.collect().toSet === in.collect().toSet)
  }

  test("a null in either column counts as changed, never as converged") {
    // getLong on a null UnsafeRow field reads 0: unguarded, the
    // (null, 0) and (null, null) rows would compare equal
    val in = spark.range(4).select(col("id"),
      when(col("id") < 2, lit(null)).otherwise(lit(0L)).cast(LongType).as("old_label"),
      when(col("id") === 1, lit(null)).otherwise(lit(0L)).cast(LongType).as("label"))
    val (out, changed) =
      GraftBridge.localCheckpointCounting(in, "label", "old_label")
    assert(changed === 2L)
    assert(out.collect().toSet === in.collect().toSet)
  }

  test("converged input counts zero") {
    val in = labelsDf(Seq((1L, 7L, 7L), (2L, 7L, 7L)))
    val (out, changed) =
      GraftBridge.localCheckpointCounting(in, "label", "old_label")
    assert(changed === 0L)
    assert(out.count() === 2L)
  }

  test("empty input counts zero and keeps the schema") {
    val in = labelsDf(Seq.empty)
    val (out, changed) =
      GraftBridge.localCheckpointCounting(in, "label", "old_label")
    assert(changed === 0L)
    assert(out.count() === 0L)
    assert(out.columns.toSeq === Seq("id", "old_label", "label"))
  }

  test("output is materialized: a checkpoint, not a live re-evaluation") {
    val in = labelsDf(Seq((1L, 1L, 1L), (2L, 2L, 1L)))
    val (out, _) =
      GraftBridge.localCheckpointCounting(in, "label", "old_label")
    // the plan must be a bare LogicalRDD (lineage cut) like localCheckpoint
    assert(out.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.execution.LogicalRDD])
  }

  test("loudly rejects missing or non-long columns") {
    val in = labelsDf(Seq((1L, 1L, 1L)))
    intercept[IllegalArgumentException] {
      GraftBridge.localCheckpointCounting(in, "label", "nope")
    }
    val strs = spark.createDataFrame(Seq(("a", "b"))).toDF("x", "y")
    intercept[IllegalArgumentException] {
      GraftBridge.localCheckpointCounting(strs, "x", "y")
    }
  }
}
