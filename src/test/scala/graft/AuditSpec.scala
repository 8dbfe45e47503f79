package graft

import graft.tools.QueryDebug
import org.apache.spark.sql.functions._

/** Meta-test for the wide-shuffle audit: the tool that guards the
  * no-raw-columns-across-the-wire invariant must itself be proven able
  * to see a violation — review round 5 caught the audit silently passing
  * because AQE hides the plan tree behind an AdaptiveSparkPlanExec leaf. */
class AuditSpec extends SparkSpec {

  private def withAqe[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    try { spark.conf.set(key, on.toString); body }
    finally spark.conf.set(key, prev)
  }

  test("audit detects a raw-text shuffle when AQE is off") {
    withAqe(on = false) {
      val bad = Tables.documents(spark, sf0001).repartition(col("doc_id"))
      val flagged = QueryDebug.wideShuffles(bad)
      assert(flagged.nonEmpty && flagged.head.contains("text"))
    }
  }

  test("audit passes a clean plan (narrow aggregate shuffle only)") {
    withAqe(on = false) {
      val clean = SparkEntry.queries("q66_outer_explode")(spark, sf0001)
      assert(QueryDebug.wideShuffles(clean).isEmpty)
    }
  }

  test("under AQE the same bad plan is STILL detected (inputPlan descent)") {
    // the AdaptiveSparkPlanExec root is a leaf to a naive traversal —
    // wideShuffles must descend into inputPlan or it passes vacuously
    // (the original review finding)
    withAqe(on = true) {
      val bad = Tables.documents(spark, sf0001).repartition(col("doc_id"))
      val flagged = QueryDebug.wideShuffles(bad)
      assert(flagged.nonEmpty && flagged.head.contains("text"))
    }
  }

  test("build exchanges below a checkpoint are hidden normally, SEEN in audit mode") {
    // the round-5 blind spot: an eager localCheckpoint plans as a bare
    // RDD scan, so a wide exchange below it escapes the walk. The
    // Checkpoint seam must (a) hide it in production mode — documenting
    // why the audit needs inline mode at all — and (b) surface it when
    // inlineForAudit is set, which is how `QueryDebug audit` now runs.
    import graft.operators.Checkpoint
    // the aggregate reads text ABOVE the build exchange, so column
    // pruning cannot strip the wide payload out of the inline-mode plan
    def buildThenConsume(): org.apache.spark.sql.DataFrame =
      Checkpoint(
        Tables.documents(spark, sf0001).repartition(col("doc_id")))
        .groupBy("lang").agg(sum(length(col("text"))).as("chars"))
    withAqe(on = false) {
      assert(!Checkpoint.inlineForAudit,
        "suite must start in production mode")
      assert(QueryDebug.wideShuffles(buildThenConsume()).isEmpty,
        "checkpointed build exchange should be invisible in production mode")
      try {
        Checkpoint.inlineForAudit = true
        val flagged = QueryDebug.wideShuffles(buildThenConsume())
        assert(flagged.nonEmpty && flagged.head.contains("text"),
          s"inline mode must surface the build exchange, got $flagged")
      } finally Checkpoint.inlineForAudit = false
    }
  }

  test("audit-mode connectedComponents plan fails fast if executed") {
    // inlineForAudit makes connectedComponents return ONE unconverged
    // round — fine for plan-walking, semantically WRONG if executed (a
    // result-running audit, or a flag leaked past an exception). The
    // label column is poisoned: planning must succeed, any action must
    // throw, and resetting the flag must restore real execution.
    import graft.operators.Checkpoint
    assert(!Checkpoint.inlineForAudit, "suite must start in production mode")
    val run = graft.queries.DedupQueries.queries("dedup_clusters")
    try {
      Checkpoint.inlineForAudit = true
      val df = run(spark, sf0001)
      df.queryExecution.executedPlan // planning + audit walk: fine
      // collect(), not count(): cluster labels feed only output VALUES
      // (the downstream join keys on doc_id), so a bare count prunes the
      // poisoned column away — and its result is actually correct (the
      // id set is round-invariant). The hazard is reading label VALUES.
      val e = intercept[Exception](df.collect())
      def causes(t: Throwable): Seq[Throwable] =
        Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
      assert(causes(e).exists(c => c.isInstanceOf[IllegalStateException] &&
          c.getMessage.contains("audit-only plan executed")),
        s"expected poison throw, got $e")
    } finally Checkpoint.inlineForAudit = false
    // flag reset: the same entry point executes for real again
    assert(run(spark, sf0001).count() > 0)
  }

  test("a wide column used as the partitioning KEY is not flagged") {
    withAqe(on = false) {
      // grouping by the token IS the operator (inverted index / tf
      // aggregate); the partial-aggregate exchange keys on it
      val byToken = Tables.documents(spark, sf0001)
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").count()
      assert(QueryDebug.wideShuffles(byToken).isEmpty)
    }
  }

  test("plans text stays the same when unrelated lambdas add a digit to the counter") {
    // each Scala-lambda higher-order function takes the next number of a
    // JVM-wide counter (`x_12`); the mask hides it, but only if Spark has
    // not cut the scan's DataFilters text first
    def lambdaNumber(): Long = """x_(\d+)""".r
      .findFirstMatchIn(filter(col("a"), x => x =!= "").toString)
      .get.group(1).toLong
    def render() = QueryDebug.stablePlan(spark, "dedup_substr_remove", sf001)
    val first = render()
    val before = lambdaNumber()
    val nextDigit = math.pow(10, before.toString.length).toLong
    (before until nextDigit).foreach(_ => lambdaNumber())
    assert(lambdaNumber().toString.length > before.toString.length)
    assert(render() == first)
  }
}
