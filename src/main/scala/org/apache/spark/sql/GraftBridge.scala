package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the private[sql] Column↔Expression converters of the classic
  * API — the supported low-level seam for third-party native expressions
  * (graft.functions.DotProduct et al.). Kept to two one-liners so the
  * private-API surface we touch is minimal and auditable.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Build a DataFrame from a custom LogicalPlan (classic API). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan backing a DataFrame. */
  def analyzedPlan(df: Dataset[_]):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Materialize `df` exactly like eager `Dataset.localCheckpoint()`
    * (execute, copy rows, localCheckpoint the RDD, count to
    * materialize, wrap in a LogicalRDD) while counting — in the SAME
    * materialization pass — the rows whose LONG columns `aName` and
    * `bName` differ. Folds the connected-components
    * convergence test into the per-round checkpoint job (round-17 opt):
    * previously every fixpoint round paid a second full job
    * (`filter(a =!= b).count()`) over the rows the checkpoint had just
    * materialized. Both columns must be LongType. A row with a null in
    * either column counts as changed: `getLong` on a null field reads
    * whatever the slot holds (0 in an UnsafeRow), so an unguarded
    * null could compare equal and end a fixpoint early (a null that
    * never goes away keeps the fixpoint running instead).
    *
    * Accumulator discipline: the count is taken inside a
    * transformation, so a retried/speculated task could over-count a
    * round — harmless here because labels are monotone non-increasing:
    * an over-count only schedules an extra identity round, while a
    * CONVERGED round adds 0 in every attempt, so termination is exact. */
  def localCheckpointCounting(
      df: DataFrame, aName: String, bName: String): (DataFrame, Long) = {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
    import org.apache.spark.sql.catalyst.expressions.ExpressionSet
    import org.apache.spark.sql.types.LongType
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val qe = df.queryExecution
    val output = qe.analyzed.output
    val ia = output.indexWhere(_.name == aName)
    val ib = output.indexWhere(_.name == bName)
    require(ia >= 0 && ib >= 0 &&
      output(ia).dataType == LongType && output(ib).dataType == LongType,
      s"localCheckpointCounting: need long columns '$aName', '$bName' in " +
        output.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(", "))
    val acc = spark.sparkContext.longAccumulator("graft.checkpoint.changed")
    val rdd = qe.toRdd.mapPartitions { it =>
      it.map { r =>
        if (r.isNullAt(ia) || r.isNullAt(ib) || r.getLong(ia) != r.getLong(ib))
          acc.add(1L)
        r.copy()
      }
    }
    rdd.localCheckpoint()
    rdd.count() // ONE job: materializes the checkpoint AND fills acc
    val out = ofRows(spark, LogicalRDD(
      output, rdd, UnknownPartitioning(0), Nil, isStreaming = false, None)(
      spark, None, None: Option[ExpressionSet]))
    (out, acc.value)
  }

  /** Block until the listener bus has delivered all queued events —
    * deterministic counter drain for QueryDebug's work counters (a
    * fixed sleep under-counted on a loaded box; advisor round-16). */
  def drainListenerBus(spark: SparkSession, timeoutMs: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  /** Re-stamp a checkpointed DataFrame's `LogicalRDD` with the hash
    * partitioning its rows PHYSICALLY have. `Dataset.localCheckpoint`
    * tries to carry the child plan's partitioning into the LogicalRDD,
    * but under AQE the adaptive root frequently reports
    * `UnknownPartitioning` (coalesced / not-yet-rewritable shuffle
    * reads), so every consumer of the materialized index pays a fresh
    * exchange for a partitioning the data already satisfies — measured
    * round 16: each `repartition(k).buildCheckpoint()` site re-shuffled
    * per consumer. Caller contract: the checkpoint was built from a
    * `repartition(numParts, keys…)` (REPARTITION_BY_NUM — AQE may not
    * coalesce it), so `HashPartitioning(keys, numParts)` is the true
    * physical layout. Guarded: if the plan is not a bare LogicalRDD, a
    * key is missing, or the RDD's partition count differs from
    * `numParts`, the frame is returned unstamped (correct, just
    * unoptimized). Attribute dedup on self-joins is safe:
    * `LogicalRDD.newInstance` rewrites the stamped partitioning's
    * attributes along with the output. */
  def stampHashPartitioning(
      ck: DataFrame, numParts: Int, keyNames: String*): DataFrame = {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.catalyst.expressions.{Attribute, ExpressionSet}
    import org.apache.spark.sql.catalyst.plans.logical.Statistics
    ck.queryExecution.analyzed match {
      case lr: LogicalRDD if lr.rdd.getNumPartitions == numParts =>
        // a key name must match exactly ONE output attribute: with
        // duplicate names (possible for callers outside partitionedBy,
        // which rejects ambiguous df.col), find() would stamp the first
        // match and consumers keyed on the OTHER attribute would skip a
        // required exchange — return unstamped instead, like missing keys
        val keys: Seq[Option[Attribute]] =
          keyNames.map(n => lr.output.filter(_.name == n) match {
            case Seq(a) => Some(a)
            case _      => None
          })
        if (keys.exists(_.isEmpty)) ck
        else {
          // carry the checkpoint's stats forward (computeStats resolves
          // the originStats localCheckpoint captured) so join-strategy
          // estimates are unchanged by the re-stamp
          ofRows(ck.sparkSession, LogicalRDD(
            lr.output, lr.rdd,
            HashPartitioning(keys.map(_.get), numParts),
            lr.outputOrdering, lr.isStreaming, lr.stream)(
            ck.sparkSession.asInstanceOf[classic.SparkSession],
            Some(lr.computeStats()),
            None: Option[ExpressionSet]))
        }
      case _ => ck
    }
  }
}
