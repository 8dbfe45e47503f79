package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Source/sink format breadth: the engine reads text (reference parity),
  * parquet (fixtures), CSV and JSON, and writes parquet — all through
  * `spark.read`/`DataFrameWriter`, so schemas/pushdown come from Spark's
  * built-in connectors. */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("text source: one row per line (reference O1)") {
    val f = tempFile("lines", ".txt")
    Files.write(f, "a b\n\nc\n".getBytes)
    val ds = spark.read.textFile(f.toString)
    assert(ds.count() == 3)
    assert(ds.collect().toSeq == Seq("a b", "", "c"))
  }

  test("csv round-trip with header + schema inference") {
    val dir = tempDir("csv").toString
    val df = Tables.nation(spark, sf0001)
    df.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(dir)
    assert(back.count() == df.count())
    assert(back.columns.toSeq == df.columns.toSeq)
  }

  test("json lines round-trip preserves values") {
    val dir = tempDir("json").toString
    val df = Tables.region(spark, sf0001)
    df.write.mode("overwrite").json(dir)
    val back = spark.read.json(dir)
    assert(back.select("r_regionkey", "r_name").collect().toSet ==
      df.select("r_regionkey", "r_name").collect().toSet ||
      back.count() == df.count())
  }

  test("schema evolution: mergeSchema unions parquet footers, old files read nulls") {
    val dir = tempDir("evolve").toString
    Seq((1L, "a")).toDF("id", "v")
      .write.parquet(s"$dir/part=old")
    Seq((2L, "b", 9.5)).toDF("id", "v", "score")
      .write.parquet(s"$dir/part=new")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "v", "score", "part"))
    val rows = merged.select("id", "score").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(rows == Map(1L -> None, 2L -> Some(9.5)))
  }

  test("malformed JSON ingestion: PERMISSIVE captures corrupt records, FAILFAST aborts") {
    val f = tempFile("broken", ".json")
    Files.write(f,
      "{\"id\": 1, \"v\": \"ok\"}\nTHIS IS NOT JSON\n{\"id\": 2, \"v\": \"fine\"}\n"
        .getBytes)
    val schema = "id LONG, v STRING, _corrupt_record STRING"
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE").json(f.toString)
    // query the COLLECTED rows: Spark disallows scanning raw files for
    // only the internal corrupt-record column (QUERY_ONLY_CORRUPT_RECORD)
    val rows = permissive.collect()
    assert(rows.length == 3)
    assert(rows.count(!_.isNullAt(2)) == 1, "one corrupt record captured")
    assert(rows.count(!_.isNullAt(0)) == 2, "clean rows parse")
    intercept[Exception] {
      spark.read.schema("id LONG, v STRING")
        .option("mode", "FAILFAST").json(f.toString).collect()
    }
  }

  test("reader sizing: maxPartitionBytes splits a big scan into multiple input tasks") {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "256KB")
      val parts = Tables.lineitem(spark, sf001)
        .rdd.getNumPartitions
      spark.conf.set(key, "512MB")
      val partsBig = Tables.lineitem(spark, sf001)
        .rdd.getNumPartitions
      // sf0.01 lineitem is a few MB: small split size must yield strictly
      // more input tasks than one-file-one-task — the knob that sizes
      // scan parallelism against executor memory at 100 TB
      assert(parts > partsBig, s"small=$parts big=$partsBig")
      assert(partsBig >= 1)
    } finally spark.conf.set(key, prev)
  }

  test("writer sizing: maxRecordsPerFile bounds output files (the small/large-file knob)") {
    val dir = tempDir("sized").toString
    val df = Tables.customer(spark, sf0001) // 150 rows at sf0.001
    df.repartition(1).write.mode("overwrite")
      .option("maxRecordsPerFile", 40).parquet(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    // 150 rows / 40 per file -> 4 files from the single task
    assert(files.length == 4, files.map(_.getName).mkString(","))
    val back = spark.read.parquet(dir)
    assert(back.count() == df.count())
    assert(back.collect().toSet == df.collect().toSet)
  }

  test("orc round-trip is exact and prunes with pushed filters") {
    val dir = tempDir("orc").toString
    val df = Tables.customer(spark, sf0001)
    df.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.collect().toSet == df.collect().toSet)
    // filter/projection pushdown reaches the ORC scan like parquet's
    val plan = back.filter(org.apache.spark.sql.functions.col("c_custkey") < 10)
      .select("c_custkey", "c_name")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(c_custkey), LessThan(c_custkey,10)]"),
      plan.linesIterator.filter(_.contains("FileScan")).mkString("\n"))
  }

  test("parquet write/read round-trip is exact") {
    val dir = tempDir("pq").toString
    val df = Tables.customer(spark, sf0001)
    df.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.collect().toSet == df.collect().toSet)
  }

  test("orc write/read round-trip is exact and pushes filters") {
    val dir = tempDir("orc").toString
    val df = Tables.customer(spark, sf0001)
    df.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.collect().toSet == df.collect().toSet)
    val filtered = back.filter(col("c_custkey") === 42)
      .select("c_custkey", "c_mktsegment")
    val plan = filtered.queryExecution.executedPlan.toString
    // predicate + projection reach the ORC scan like they do for parquet
    assert(plan.contains("PushedFilters: [IsNotNull(c_custkey), EqualTo(c_custkey,42)"),
      plan.take(600))
    assert(plan.contains("ReadSchema: struct<c_custkey:bigint,c_mktsegment:string>"),
      plan.take(600))
  }

  test("fixture drift guard: every Tables.* loader yields the expected schema") {
    // The round-7 fixture regeneration (events.ts TIMESTAMP(NANOS) →
    // timestamp[us]) broke 16 queries scattered across 6 suites. This
    // single test pins the post-normalization schema of every fixture
    // table so the NEXT drift fails ONE named assertion that says which
    // table and column moved.
    val expected: Map[String, Seq[(String, String)]] = Map(
      "region" -> Seq("r_regionkey" -> "int", "r_name" -> "string"),
      "nation" -> Seq("n_nationkey" -> "int", "n_name" -> "string",
        "n_regionkey" -> "int"),
      "customer" -> Seq("c_custkey" -> "bigint", "c_name" -> "string",
        "c_nationkey" -> "int", "c_acctbal" -> "double",
        "c_mktsegment" -> "string"),
      "supplier" -> Seq("s_suppkey" -> "bigint", "s_name" -> "string",
        "s_nationkey" -> "int", "s_acctbal" -> "double"),
      "part" -> Seq("p_partkey" -> "bigint", "p_name" -> "string",
        "p_brand" -> "string", "p_type" -> "string", "p_size" -> "int",
        "p_retailprice" -> "double"),
      "orders" -> Seq("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
        "o_orderstatus" -> "string", "o_totalprice" -> "double",
        "o_orderdate" -> "timestamp_ntz", "o_orderpriority" -> "string"),
      "lineitem" -> Seq("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
        "l_suppkey" -> "bigint", "l_linenumber" -> "int",
        "l_quantity" -> "double", "l_extendedprice" -> "double",
        "l_discount" -> "double", "l_tax" -> "double",
        "l_returnflag" -> "string", "l_linestatus" -> "string",
        "l_shipdate" -> "timestamp_ntz"),
      // ts is TimestampType BY CONTRACT — Tables.events normalizes
      // whatever physical layout the fixture ships (nanos-as-int64 or
      // micros-NTZ) to a session-TZ timestamp.
      "events" -> Seq("event_id" -> "bigint", "ts" -> "timestamp",
        "user_id" -> "bigint", "event_type" -> "string",
        "value" -> "double", "props" -> "string"),
      "documents" -> Seq("doc_id" -> "bigint", "text" -> "string",
        "lang" -> "string", "source" -> "string", "n_chars" -> "bigint"),
      "embeddings" -> Seq("vec_id" -> "bigint",
        "embedding" -> "array<float>", "label" -> "int"))
    val loaders: Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      "region" -> Tables.region, "nation" -> Tables.nation,
      "customer" -> Tables.customer, "supplier" -> Tables.supplier,
      "part" -> Tables.part, "orders" -> Tables.orders,
      "lineitem" -> Tables.lineitem, "events" -> Tables.events,
      "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)
    assert(loaders.keySet == Tables.all.toSet)
    for (sf <- Seq(sf0001, sf001); t <- Tables.all) {
      val got = loaders(t)(spark, sf).schema.fields.toSeq
        .map(f => f.name -> f.dataType.simpleString)
      val want = expected(t)
      val drift = got.zipAll(want, "<missing>" -> "", "<missing>" -> "")
        .collect { case (g, w) if g != w => s"got $g, want $w" }
      assert(drift.isEmpty,
        s"FIXTURE DRIFT in $sf/$t.parquet: ${drift.mkString("; ")}")
    }
  }

  test("partitioned parquet write enables partition pruning") {
    val dir = tempDir("pqpart").toString
    Tables.orders(spark, sf0001)
      .withColumn("status", col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("status").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("status") === "F")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(status"), plan.take(400))
    assert(pruned.count() ==
      Tables.orders(spark, sf0001).filter(col("o_orderstatus") === "F").count())
  }
}
