package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.DataType

/** Materialization seam for index/build pipelines.
  *
  * Queries wrap every `localCheckpoint()` in [[Checkpoint.apply]] so the
  * wide-shuffle audit can switch materialization OFF and walk the FULL
  * lineage: an eager localCheckpoint plans as a bare RDD scan, so any
  * exchange below it — the one-time index builds — escaped
  * `QueryDebug.wideShuffles` and carried its justification as an in-code
  * comment the audit could not check (the round-5 blind spot, SCALE.md).
  * With `inlineForAudit` set, the checkpoint is skipped, the build
  * exchanges surface in the walked plan, and the audit's allowlist
  * becomes the single machine-checked justification record.
  *
  * Production behavior is unchanged (`inlineForAudit` defaults to false
  * and only `QueryDebug audit` / AuditSpec flip it): checkpoints still
  * cut lineage and fix consumer partitioning exactly as before. Inline
  * mode re-expands each checkpoint reference, so audit-mode plans are a
  * SUPERSET of production exchanges — fine for an invariant that must
  * hold for every exchange.
  */
object Checkpoint {
  @volatile var inlineForAudit: Boolean = false

  def apply(df: DataFrame): DataFrame =
    if (inlineForAudit) df else df.localCheckpoint()

  /** LAZY variant for tiny derived state (boundary arrays, model rows):
    * no job at query construction (the laziness contract), but the
    * first execution materializes the handful of rows once and every
    * later evaluation of the same frame — the offsets side of a ranked
    * pipeline, a consumer re-executing the frame — reuses them instead
    * of re-running the stats aggregate over the data (round-11 verdict:
    * the in-plan q54 boundaries cost one key-column pass PER
    * evaluation). Audit mode inlines it like the eager form so build
    * exchanges stay visible to the wide-shuffle audit. */
  def lazily(df: DataFrame): DataFrame =
    if (inlineForAudit) df else df.localCheckpoint(eager = false)

  /** Checkpoint an index/build table KEYED for its consumers: shuffle to
    * `HashPartitioning(keys, spark.sql.shuffle.partitions)` with a pinned
    * partition count (REPARTITION_BY_NUM, so AQE cannot coalesce it and
    * the claimed layout is physically exact), materialize, then re-stamp
    * the LogicalRDD with that partitioning (see
    * `GraftBridge.stampHashPartitioning` — `localCheckpoint` alone
    * reports UnknownPartitioning under AQE). Consumers that join, group
    * or window on a superset of `keys` (exactly `keys` for joins —
    * HashPartitioning(keys) satisfies ClusteredDistribution only when
    * the clustering expressions cover every key; a PREFIX consumer
    * still shuffles) then plan WITHOUT their own
    * exchange: the one build shuffle replaces every per-consumer
    * re-shuffle of the same materialized rows (round-16 optimization;
    * partition count stays scale-adaptive via spark.sql.shuffle.
    * partitions rather than a constant). Audit mode keeps lineage and
    * the build exchange visible, like `apply`. */
  def partitionedBy(df: DataFrame, keys: Seq[String]): DataFrame = {
    val cols = keys.map(df.col)
    if (inlineForAudit) df.repartition(cols: _*)
    else {
      val n = GraftBridge.shufflePartitions(df.sparkSession)
      GraftBridge.stampHashPartitioning(
        df.repartition(n, cols: _*).localCheckpoint(), n, keys: _*)
    }
  }

  /** Size-ADAPTIVE keyed stamp (r17, VERDICT item 3), for the sites
    * where the round-16 A/Bs measured the pinned-count stamped
    * checkpoint LOSING at bench scale (pinning the partition count
    * defeats AQE's small-partition coalescing downstream, and
    * ~0.1–0.2 s/task fixed overhead on 32-task stages outweighs the
    * removed narrow exchanges on tiny tables) while the 100 TB story
    * wants exactly that stamp (exchange bytes grow linearly with the
    * input; per-task overhead amortizes).
    *
    * Mechanics: materialize the plain checkpoint EXACTLY as the call
    * site does today (callers keep their own repartition, so the
    * below-threshold plan is byte-identical to round 16's measured
    * winner), read the checkpoint's MEASURED storage footprint from the
    * block manager, and only at/above `spark.graft.stamp.minBytes`
    * (default 256 MB ≈ 8 MB/task at 32 shuffle partitions — where
    * per-consumer exchange bytes start dominating per-task overhead;
    * production tunes the threshold with the cluster) pay ONE more
    * keyed shuffle over the already-materialized rows to produce the
    * stamped co-partitioned table every consumer then reads
    * exchange-free. The plain checkpoint's blocks are dropped once the
    * stamped copy exists. Decision input is measured bytes, not plan
    * estimates — UDF/explode-heavy builds estimate garbage.
    * AdaptiveStampSpec pins both paths. */
  def adaptivelyStampedBy(df: DataFrame, keys: Seq[String]): DataFrame = {
    if (inlineForAudit) return df
    val ck = df.localCheckpoint()
    if (checkpointedBytes(ck) < stampMinBytes(df)) ck
    else {
      val stamped = partitionedBy(ck, keys)
      checkpointedRdd(ck).foreach(_.unpersist(blocking = false))
      stamped
    }
  }

  /** Measured storage footprint (memory + disk) of an eager
    * localCheckpoint's blocks, read synchronously from the block
    * manager master (`getRDDStorageInfo` reads the status store the
    * listener bus fills later, so it can still read 0 right after the
    * checkpoint job). 0 when the plan is not a bare checkpoint (safe:
    * reads as below-threshold, i.e. the unstamped round-16 behavior). */
  private def checkpointedBytes(ck: DataFrame): Long =
    checkpointedRdd(ck)
      .map(rdd => GraftBridge.storedRddBytes(ck.sparkSession, rdd.id))
      .getOrElse(0L)

  private def checkpointedRdd(ck: DataFrame)
      : Option[org.apache.spark.rdd.RDD[_]] =
    GraftBridge.analyzedPlan(ck) match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  private def stampMinBytes(df: DataFrame): Long =
    scala.util.Try(df.sparkSession.conf
      .get("spark.graft.stamp.minBytes", (256L << 20).toString).toLong)
      .getOrElse(256L << 20)

  /** Postfix form so call sites keep the `.localCheckpoint()` shape. */
  implicit class CheckpointOps(private val df: DataFrame) extends AnyVal {
    def buildCheckpoint(): DataFrame = Checkpoint(df)
    def lazyCheckpoint(): DataFrame = Checkpoint.lazily(df)
    def buildCheckpointBy(keys: String*): DataFrame =
      Checkpoint.partitionedBy(df, keys)
    def buildCheckpointAdaptiveBy(keys: String*): DataFrame =
      Checkpoint.adaptivelyStampedBy(df, keys)
  }

  /** Poison a column of an audit-only plan: planning and plan-walking
    * pass through untouched (the expression is a narrow projection with
    * the child's type, so every exchange below stays visible to the
    * audit), but ANY evaluation — an action run while `inlineForAudit`
    * is set, or on a plan that leaked past an un-reset flag — throws
    * IllegalStateException instead of silently returning wrong data.
    * Used by connectedComponents, whose audit-mode plan is ONE
    * unconverged fixpoint round (review-caught semantic hazard). */
  def poison(c: Column, reason: String): Column =
    GraftBridge.column(AuditPoison(GraftBridge.expression(c), reason))
}

/** Non-foldable (so no optimizer rule constant-folds it at plan time),
  * CodegenFallback (never on a hot path — its only job is to throw). */
case class AuditPoison(child: Expression, reason: String)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = child.dataType
  override def foldable: Boolean = false
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_audit_poison"
  override def eval(input: InternalRow): Any =
    throw new IllegalStateException(s"audit-only plan executed: $reason")
  override protected def withNewChildInternal(
      newChild: Expression): AuditPoison = copy(child = newChild)
}
