package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Store→store replication by replaying the CHANGE FEED (the
  * Firestore-watch analogue, README §4): tail the source store's
  * `_changelog` through the DSv2 streaming source and upsert every
  * entry into the destination store in commit order, then print a
  * convergence summary of both stores.
  *
  * `maxEntriesPerTrigger` defaults to 1 — one ordered micro-batch per
  * committed source batch, which is what makes last-write-wins
  * replication order-correct when the backlog re-upserts the same doc
  * (two upserts in one micro-batch would race across partitions).
  * `Trigger.AvailableNow` drains the current backlog and exits; the
  * checkpoint lives under the DESTINATION root (`_replication_ckpt`,
  * `_`-prefixed = store metadata), so re-running resumes after the last
  * replicated entry and replays nothing — run it again after more
  * source commits and only the new entries flow.
  *
  * Usage: FeedReplicate <srcStoreRoot> <dstStoreRoot> [maxEntriesPerTrigger=1]
  */
object FeedReplicate {

  /** The replication job itself (shared by [[main]] and the sf1-volume
    * spec in StreamingScaleSpec, which drives THIS code): tail `src`'s
    * change feed in commit order and upsert each micro-batch into
    * `dst`; AvailableNow drains the current backlog and returns. Named
    * `name` so a StreamingQueryListener can sample its progress. */
  def replicate(spark: SparkSession, src: String, dst: String,
      perTrigger: Long = 1L, name: String = "feed_replicate"): Unit = {
    graft.streaming.LocalCheckpointFileManager.install(spark)
    val q = spark.readStream.format("graft.sources.DocStoreDataSource")
      .option("path", src)
      .option("maxEntriesPerTrigger", perTrigger.toString)
      .load()
      .writeStream
      .queryName(name)
      .option("checkpointLocation", s"$dst/_replication_ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.format("graft.sources.DocStoreDataSource")
          .option("path", dst).mode("append").save()
      }
      .start()
    q.awaitTermination()
  }

  /** Per-collection (docs, sum(count)) of a store — the convergence
    * fingerprint both sides must agree on. */
  def summary(spark: SparkSession, root: String): Map[String, (Long, Long)] =
    spark.read.format("graft.sources.DocStoreDataSource")
      .option("path", root).load()
      .groupBy("collection").agg(
        org.apache.spark.sql.functions.count("*").as("docs"),
        org.apache.spark.sql.functions.sum("count").as("total"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: FeedReplicate <srcStoreRoot> <dstStoreRoot> [maxEntriesPerTrigger]")
    val (src, dst) = (args(0), args(1))
    val perTrigger = if (args.length > 2) args(2).toLong else 1L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .appName("graft-feedreplicate").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      replicate(spark, src, dst, perTrigger)

      val (s, d) = (summary(spark, src), summary(spark, dst))
      def fmt(m: Map[String, (Long, Long)]): String =
        m.toSeq.sortBy(_._1).map { case (c, (n, t)) =>
          s""""$c": {"docs": $n, "sum": $t}"""
        }.mkString("{", ", ", "}")
      // converged = dst covers src exactly (dst may also hold collections
      // of its own if it was not empty — report, don't fail)
      val converged = s.forall { case (c, v) => d.get(c).contains(v) }
      println(s"""{"src": ${fmt(s)}, "dst": ${fmt(d)}, """ +
        s""""converged": $converged}""")
      if (!converged) sys.exit(1)
    } finally spark.stop()
  }
}
