package graft

import graft.operators.Parallelism
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._

/** Pins `buildCheckpointBy`: the materialized rows are checkpointed
  * keyed and STAMPED, so consumers keyed the same way plan
  * exchange-free, with the input's rows unchanged. */
class KeyedCheckpointSpec extends SparkSpec {
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

  test("stamped hash partitioning, consumers exchange-free") {
    val out = input.buildCheckpointBy("k")
    val lr = out.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    assert(lr.outputPartitioning.isInstanceOf[HashPartitioning])
    assert(lr.outputPartitioning.asInstanceOf[HashPartitioning]
      .expressions.map(_.asInstanceOf[Attribute].name) === Seq("k"))
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

  test("the stamp's keyed exchange is among the executed plans") {
    val (_, rec) = graft.metrics.Recording.of(spark)(
      input.repartition(4).buildCheckpointBy("k"))
    val keyed = rec.plans.flatMap(Parallelism.exchanges).collect {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.collect { case h: HashPartitioning =>
      h.expressions.collect { case a: Attribute => a.name }
    }
    assert(keyed == Seq(Seq("k")))
  }
}
