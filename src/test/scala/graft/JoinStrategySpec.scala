package graft

import graft.queries.MiscQueries

/** The hinted queries must actually run the intended physical join —
  * otherwise they'd silently degrade to broadcast and stop covering the
  * at-scale strategies. */
class JoinStrategySpec extends SparkSpec {

  test("q44 executes a SortMergeJoin") {
    val plan = MiscQueries.queries("q44_smj_join")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(800))
  }

  test("q45 executes a ShuffledHashJoin") {
    val plan = MiscQueries.queries("q45_shuffle_hash_join")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), plan.take(800))
  }

  test("AQE splits a skewed SMJ partition at runtime (skew=true in final plan)") {
    import spark.implicits._
    // the runtime counterpart of q65's static salting: one key owns ~all
    // fact rows; with aggressive skew thresholds AQE must mark and split
    // the skewed partition after the join executes
    val keys = Seq.fill(40000)(1L) ++ (2L to 2000L)
    val fact = keys.zipWithIndex
      .map { case (k, i) => (k, i.toLong, ("x" * 200) + i) }
      .toDF("k", "rid", "payload")
    val dim = (1L to 2000L).map(k => (k, s"seg$k")).toDF("k", "seg")
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val joined = fact.join(dim, Seq("k"))
      // materialize through THIS DataFrame's own QueryExecution —
      // count() would plan a separate query and leave this plan
      // unexecuted (isFinalPlan=false, no skew markers)
      assert(joined.collect().length == keys.size)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"), finalPlan.take(1500))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE skew split == static salted join on the same skewed input (the q65 A/B)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // round-9 advice item: the two skew remedies must be interchangeable
    // on results — AQE's runtime partition split (preferred default; see
    // SCALE.md §Skew: AQE runtime split vs static salting for the
    // measured timings) and q65's static salt (the deterministic plan
    // for AQE-less engines/configs). Same skewed input as the
    // mechanism-pinning case above.
    val keys = Seq.fill(40000)(1L) ++ (2L to 2000L)
    val fact = keys.zipWithIndex
      .map { case (k, i) => (k, i.toLong, ("x" * 200) + i) }
      .toDF("k", "rid", "payload")
    val dim = (1L to 2000L).map(k => (k, s"seg$k")).toDF("k", "seg")
    val aqeConfs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = aqeConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
    val viaAqe =
      try {
        aqeConfs.foreach { case (k, v) => spark.conf.set(k, v) }
        // materialize through THIS Dataset's own QueryExecution (a
        // derived select would leave this plan unexecuted /
        // isFinalPlan=false — same trap as the mechanism case above)
        val j = fact.join(dim, Seq("k")).select("k", "rid", "payload", "seg")
          .as[(Long, Long, String, String)]
        val rows = j.collect().toSet
        assert(j.queryExecution.executedPlan.toString.contains("skew=true"))
        rows
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    val aqeOff = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev2 = aqeOff.map { case (k, _) => k -> spark.conf.getOption(k) }
    val viaSalt =
      try {
        aqeOff.foreach { case (k, v) => spark.conf.set(k, v) }
        graft.operators.Salting.saltedJoin(fact, dim, Seq("k"), col("rid"), 8)
          .select("k", "rid", "payload", "seg")
          .as[(Long, Long, String, String)].collect().toSet
      } finally prev2.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    assert(viaAqe == viaSalt,
      s"sizes: aqe=${viaAqe.size} salted=${viaSalt.size} " +
        s"onlyAqe=${viaAqe.diff(viaSalt).take(2)} " +
        s"onlySalt=${viaSalt.diff(viaAqe).take(2)}")
  }
}
