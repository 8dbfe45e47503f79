package graft

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions.col
import graft.metrics.Recording
import graft.operators.Parallelism

/** `Parallelism.floor` reads the partition count from `df.rdd`, which
  * under AQE runs the upstream stages of any exchange in the frame. Its
  * contract is a scan or a checkpoint; anything else is refused before a
  * job starts. */
class ParallelismSpec extends SparkSpec {

  private def grouped: DataFrame =
    Tables.embeddings(spark, sf0001).groupBy("label").count()

  test("a frame with an exchange is refused before any job starts") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val frame = grouped
    val (err, rec) = Recording.of(spark)(
      intercept[IllegalArgumentException](Parallelism.floor(frame)))
    assert(err.getMessage.contains("scan or a checkpoint"), err.getMessage)
    assert(rec.jobs.isEmpty, s"${rec.jobs.size} job(s) started")
  }

  test("a scan frame and a checkpoint frame pass") {
    val n = GraftBridge.shufflePartitions(spark)
    val scan = Tables.embeddings(spark, sf0001).select(col("vec_id"))
    assert(Parallelism.floor(scan).rdd.getNumPartitions >= n)
    val checkpointed = grouped.localCheckpoint()
    assert(Parallelism.floor(checkpointed).count() ==
      grouped.count())
  }
}
