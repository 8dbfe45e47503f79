package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation: two-stage salted aggregation.
  *
  * A single hot key concentrates its whole group on one reducer; salting
  * splits each group into `buckets` subgroups (deterministic spread via a
  * hash of a spread column — NOT rand(), so retries/replays stay
  * deterministic), partially aggregates per (key, salt), then combines
  * partials per key. Both shuffles are bounded by buckets × keys.
  *
  * Usable for any algebraic aggregate expressed as (partial, combine)
  * column pairs — the same decomposition Catalyst uses for partial
  * aggregation, applied one level deeper when AQE's skew handling isn't
  * available (e.g. non-join skew, or fixed engine configs).
  */
object Salting {

  /** count + sum(decimal-exact) per key, salted. `spreadOn` must be a
    * column that varies within the hot key's rows (e.g. a row id). */
  def saltedCountSum(
      df: DataFrame,
      key: Column,
      value: Column,
      spreadOn: Column,
      buckets: Int = 16): DataFrame = {
    val salted = df.withColumn("__salt", pmod(xxhash64(spreadOn), lit(buckets)))
    salted
      .groupBy(key.as("k"), col("__salt"))
      .agg(count(lit(1)).as("pc"), sum(value).as("ps"))
      .groupBy("k")
      .agg(sum(col("pc")).as("cnt"), sum(col("ps")).as("sum_v"))
  }

  /** Skew-salted equi-join: the fact side gets a deterministic salt in
    * [0, buckets); the dim side is replicated once per salt value
    * (explode of a literal sequence — buckets× the SMALL side only), and
    * the join runs on (keys, salt). A hot fact key's rows then land on
    * `buckets` reducers instead of one. Same remedy AQE's skew-join
    * split applies at runtime, expressed statically for engines/configs
    * where AQE can't see the skew (or for deterministic plan pinning).
    * Result == plain `fact JOIN dim USING (keys)` exactly; only the
    * partitioning differs. */
  def saltedJoin(
      fact: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      spreadOn: Column,
      buckets: Int = 16): DataFrame = {
    require(buckets > 0, s"saltedJoin: buckets must be positive ($buckets)")
    require(!fact.columns.contains("__salt") && !dim.columns.contains("__salt"),
      "saltedJoin: inputs must not already contain a __salt column")
    val saltedFact = fact
      .withColumn("__salt", pmod(xxhash64(spreadOn), lit(buckets.toLong)))
    val replicatedDim = dim
      .withColumn("__salt",
        explode(sequence(lit(0L), lit(buckets.toLong - 1))))
    saltedFact.join(replicatedDim, keys :+ "__salt").drop("__salt")
  }
}
