package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge}

/** The keyed checkpoint for index/build tables.
  *
  * A plain materialization point is Spark's own `localCheckpoint()` (or
  * `localCheckpoint(eager = false)` for tiny derived state: no job at
  * construction, one materialization at first execution). The rule: a
  * table that a consumer joins, groups or windows on exactly `keys` is
  * checkpointed KEYED ([[CheckpointOps.buildCheckpointBy]]); a table with
  * no such consumer takes the plain `localCheckpoint()`. `EntryPointsSpec`
  * holds every keyed call site to that rule. Every checkpoint is a SQL
  * execution of its own, so the wide-shuffle audit (`QueryDebug audit`)
  * sees the exchanges below it.
  */
object Checkpoint {
  implicit class CheckpointOps(private val df: DataFrame) extends AnyVal {

    /** Checkpoint KEYED for the consumers: shuffle to
      * `HashPartitioning(keys, spark.sql.shuffle.partitions)` with a
      * pinned partition count (REPARTITION_BY_NUM, so AQE cannot
      * coalesce it and the claimed layout is physically exact),
      * materialize once, then re-stamp the LogicalRDD with that
      * partitioning (`GraftBridge.stampHashPartitioning` —
      * `localCheckpoint` alone reports UnknownPartitioning under AQE).
      * Consumers that join, group or window on a superset of `keys`
      * (exactly `keys` for joins; a PREFIX consumer still shuffles) then
      * plan WITHOUT their own exchange: the one build shuffle replaces
      * every per-consumer re-shuffle of the same materialized rows. A
      * caller needs no repartition of its own before it. */
    def buildCheckpointBy(keys: String*): DataFrame = {
      val n = GraftBridge.shufflePartitions(df.sparkSession)
      GraftBridge.stampHashPartitioning(
        df.repartition(n, keys.map(df.col): _*).localCheckpoint(), n, keys: _*)
    }
  }
}
