package graft

import graft.operators.Parallelism
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._

/** Pins `buildCheckpointAdaptiveBy` (r17, VERDICT item 3): below
  * `spark.graft.stamp.minBytes` the result is byte-identical to the
  * plain localCheckpoint the round-16 A/Bs measured as the bench-scale
  * winner; at/above it the materialized rows are re-checkpointed keyed
  * and STAMPED so consumers keyed the same way plan exchange-free —
  * the 100 TB shape — with identical rows either way. */
class AdaptiveStampSpec extends SparkSpec {
  import graft.operators.Checkpoint.CheckpointOps

  private def input: DataFrame = {
    import spark.implicits._
    (1 to 1000).map(i => (i.toLong % 97, i.toLong)).toDF("k", "v")
  }

  // count shuffle-Exchange node headers in the formatted explain — the
  // same counting method as the committed plans/r16–r17 evidence (the
  // physical-plan walk would need AQE's initialPlan, which is private;
  // inputPlan predates EnsureRequirements and shows no exchanges)
  private def exchanges(df: DataFrame): Int =
    """\(\d+\) Exchange\b""".r.findAllIn(df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)).length

  private def withThreshold[A](bytes: Long)(f: => A): A = {
    spark.conf.set("spark.graft.stamp.minBytes", bytes.toString)
    try f finally spark.conf.unset("spark.graft.stamp.minBytes")
  }

  test("below threshold: plain checkpoint, unknown partitioning, rows kept") {
    // multi-partition input (real call sites checkpoint shuffled/scanned
    // data): a 1-partition checkpoint would satisfy ANY clustering via
    // SinglePartition and the exchange assertion below would be vacuous
    val out = withThreshold(Long.MaxValue)(
      input.repartition(4).buildCheckpointAdaptiveBy("k"))
    val lr = out.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    assert(!lr.outputPartitioning.isInstanceOf[HashPartitioning])
    assert(out.collect().toSet === input.collect().toSet)
    // a keyed consumer still needs its own exchange on this path
    assert(exchanges(out.groupBy("k").count()) === 1)
  }

  test("at/above threshold: stamped hash partitioning, consumers exchange-free") {
    val out = withThreshold(1L)(input.buildCheckpointAdaptiveBy("k"))
    val lr = out.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    assert(lr.outputPartitioning.isInstanceOf[HashPartitioning])
    assert(lr.outputPartitioning.asInstanceOf[HashPartitioning]
      .expressions.map(_.asInstanceOf[
        org.apache.spark.sql.catalyst.expressions.Attribute].name) === Seq("k"))
    assert(out.collect().toSet === input.collect().toSet)
    // groupBy on the stamp key plans WITHOUT an exchange
    assert(exchanges(out.groupBy("k").count()) === 0)
    // self-join on the stamp key plans WITHOUT exchanges (SMJ may sort,
    // never shuffle)
    val joined = out.toDF("k", "va").join(out.toDF("k", "vb"), "k")
    assert(exchanges(joined) === 0)
    assert(joined.count() ===
      input.groupBy("k").count().agg(sum(col("count") * col("count")))
        .head().getLong(0))
  }

  test("the stamp decision does not wait for the listener bus") {
    // hold the status queue: the checkpoint job's block updates reach the
    // status store only after the release, so a size read from it sees 0
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        release.await(60, java.util.concurrent.TimeUnit.SECONDS)
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusProbe.addToStatusQueue(sc, holder)
    try {
      val out = withThreshold(1L)(
        input.repartition(4).buildCheckpointAdaptiveBy("k"))
      assert(out.queryExecution.analyzed.asInstanceOf[LogicalRDD]
        .outputPartitioning.isInstanceOf[HashPartitioning])
    } finally {
      release.countDown()
      sc.removeSparkListener(holder)
    }
  }

  test("both paths produce identical aggregates") {
    val small = withThreshold(Long.MaxValue)(
      input.buildCheckpointAdaptiveBy("k"))
      .groupBy("k").agg(sum("v").as("s")).collect().toSet
    val big = withThreshold(1L)(input.buildCheckpointAdaptiveBy("k"))
      .groupBy("k").agg(sum("v").as("s")).collect().toSet
    assert(small === big)
  }

  test("once the stamp engages (minBytes = 1), the stamp's keyed exchange is among the executed plans") {
    def keyedExchanges(minBytes: Long): Seq[Seq[String]] = {
      val (_, rec) = graft.metrics.Recording.of(spark)(
        withThreshold(minBytes)(input.buildCheckpointAdaptiveBy("k")))
      rec.plans.flatMap(Parallelism.exchanges).collect {
        case e: ShuffleExchangeExec => e.outputPartitioning
      }.collect { case h: HashPartitioning =>
        h.expressions.collect { case a: Attribute => a.name }
      }
    }
    assert(keyedExchanges(1L) == Seq(Seq("k")))
    assert(keyedExchanges(Long.MaxValue).isEmpty)
  }

  test("malformed threshold conf falls back to the default, not a crash") {
    spark.conf.set("spark.graft.stamp.minBytes", "auto")
    try {
      val out = input.buildCheckpointAdaptiveBy("k")
      // tiny table < default 256 MB -> plain path
      assert(!out.queryExecution.analyzed.asInstanceOf[LogicalRDD]
        .outputPartitioning.isInstanceOf[HashPartitioning])
    } finally spark.conf.unset("spark.graft.stamp.minBytes")
  }
}
