package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge}

/** Keyed checkpoints for index/build tables.
  *
  * A plain materialization point is Spark's own `localCheckpoint()` (or
  * `localCheckpoint(eager = false)` for tiny derived state: no job at
  * construction, one materialization at first execution). This object
  * holds only the two KEYED forms, which stamp the checkpoint with the
  * hash partitioning its rows physically have so consumers keyed the
  * same way plan without an exchange. Every checkpoint is a SQL
  * execution of its own, so the wide-shuffle audit (`QueryDebug audit`)
  * sees the exchanges below it.
  */
object Checkpoint {
  implicit class CheckpointOps(private val df: DataFrame) extends AnyVal {

    /** Checkpoint KEYED for the consumers: shuffle to
      * `HashPartitioning(keys, spark.sql.shuffle.partitions)` with a
      * pinned partition count (REPARTITION_BY_NUM, so AQE cannot
      * coalesce it and the claimed layout is physically exact),
      * materialize, then re-stamp the LogicalRDD with that partitioning
      * (`GraftBridge.stampHashPartitioning` — `localCheckpoint` alone
      * reports UnknownPartitioning under AQE). Consumers that join,
      * group or window on a superset of `keys` (exactly `keys` for
      * joins; a PREFIX consumer still shuffles) then plan WITHOUT their
      * own exchange: the one build shuffle replaces every per-consumer
      * re-shuffle of the same materialized rows (round 16). */
    def buildCheckpointBy(keys: String*): DataFrame = {
      val n = GraftBridge.shufflePartitions(df.sparkSession)
      GraftBridge.stampHashPartitioning(
        df.repartition(n, keys.map(df.col): _*).localCheckpoint(), n, keys: _*)
    }

    /** Size-ADAPTIVE keyed stamp (r17). The round-16 A/Bs measured the
      * pinned-count stamp LOSING at bench scale (pinning the count
      * defeats AQE's small-partition coalescing, and per-task overhead
      * outweighs the narrow exchanges it removes on tiny tables), while
      * at 100 TB exchange bytes dominate and the stamp pays. So: take
      * the plain checkpoint exactly as the call site would (callers keep
      * their own repartition), read its MEASURED storage footprint from
      * the block manager, and only at/above `spark.graft.stamp.minBytes`
      * (default 256 MB ≈ 8 MB/task at 32 shuffle partitions) pay ONE
      * more keyed shuffle over the materialized rows, as
      * [[buildCheckpointBy]], dropping the plain copy's blocks after.
      * Measured bytes, not plan estimates: UDF/explode-heavy builds
      * estimate garbage. AdaptiveStampSpec pins both paths. */
    def buildCheckpointAdaptiveBy(keys: String*): DataFrame = {
      val ck = df.localCheckpoint()
      if (checkpointedBytes(ck) < stampMinBytes(df)) ck
      else {
        val stamped = ck.buildCheckpointBy(keys: _*)
        checkpointedRdd(ck).foreach(_.unpersist(blocking = false))
        stamped
      }
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
}
