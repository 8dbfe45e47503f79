package graft

import graft.metrics.Recording
import graft.tools.{CodegenWorkingSet, QueryDebug}
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
    // wideShuffles must descend into it or it passes vacuously
    withAqe(on = true) {
      val bad = Tables.documents(spark, sf0001).repartition(col("doc_id"))
      val flagged = QueryDebug.wideShuffles(bad)
      assert(flagged.nonEmpty && flagged.head.contains("text"))
    }
  }

  test("recorded plans show a wide exchange below an eager and a lazy localCheckpoint") {
    // a localCheckpoint plans as a bare RDD scan, so a wide exchange
    // below it is absent from the consumer's plan; it is in the
    // checkpoint's own execution, which the audit collects
    withAqe(on = false) {
      for (eager <- Seq(true, false)) {
        val (_, rec) = Recording.of(spark) {
          val ck = Tables.documents(spark, sf0001).repartition(col("doc_id"))
            .localCheckpoint(eager)
          val consumer = ck.groupBy("lang").agg(sum(length(col("text"))))
          assert(QueryDebug.wideShuffles(consumer).isEmpty,
            "the consumer's own plan has no wide exchange")
          CodegenWorkingSet.touchAll(consumer)
        }
        rec.persisted.foreach(_.unpersist(blocking = false))
        val flagged = rec.plans.flatMap(QueryDebug.wideShuffles)
        assert(flagged.exists(_.contains("text")),
          s"eager=$eager: the build exchange is not among the executed plans")
      }
    }
  }

  test("under AQE a join's exchanges are seen before and after execution") {
    // the exchanges of a sort-merge join are added by EnsureRequirements:
    // the AQE root's inputPlan has none, its current plan has both
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    withAqe(on = true) {
      try {
        spark.conf.set(key, "-1")
        val docs = Tables.documents(spark, sf0001)
        val joined = docs.select("doc_id", "text")
          .join(docs.select("doc_id", "lang"), "doc_id")
        assert(QueryDebug.wideShuffles(joined) == Seq(Seq("text")))
        CodegenWorkingSet.touchAll(joined)
        assert(QueryDebug.wideShuffles(joined) == Seq(Seq("text")))
      } finally spark.conf.set(key, prev)
    }
  }

  test("the audit of ta_boilerplate finds its allowlisted w exchange below the adaptive checkpoint") {
    withAqe(on = false) {
      val flagged = QueryDebug.auditQuery(spark, "ta_boilerplate", sf0001)
      assert(flagged.nonEmpty && flagged.forall(_ == Seq("w")), s"got $flagged")
    }
  }

  test("the audit of q66_outer_explode comes out clean") {
    withAqe(on = false) {
      assert(QueryDebug.auditQuery(spark, "q66_outer_explode", sf0001).isEmpty)
    }
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
