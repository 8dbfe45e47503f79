package graft

import graft.operators.Salting
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

class SaltingSpec extends SparkSpec {

  test("salted aggregation equals direct aggregation (incl. a hot key)") {
    import spark.implicits._
    // skewed input: key 1 holds 90% of rows
    val rows = (1 to 9000).map(i => (1L, i.toDouble)) ++
      (1 to 1000).map(i => ((i % 50 + 2).toLong, i.toDouble))
    val df = rows.toDF("k", "v").withColumn("rid",
      monotonically_increasing_id())
    val dec = col("v").cast(DecimalType(18, 2))
    val salted = Salting.saltedCountSum(df, col("k"), dec, col("rid"), 16)
      .select(col("k"), col("cnt"), col("sum_v").cast("double").as("s"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    val direct = df.groupBy("k")
      .agg(count(lit(1)).as("cnt"), sum(dec).cast("double").as("s"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(salted == direct)
    assert(salted(1L)._1 == 9000L)
  }

  test("salting actually spreads the hot key across buckets") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (1L, i)).toDF("k", "rid")
    val spread = df
      .withColumn("salt", pmod(xxhash64(col("rid")), lit(16)))
      .groupBy("salt").count().collect()
    assert(spread.length == 16) // all buckets hit
    assert(spread.map(_.getLong(1)).max < 200) // no bucket dominates
  }

  test("salted join equals plain join row-for-row; dim replicated buckets×") {
    import spark.implicits._
    val fact = ((1 to 900).map(i => (1L, i.toLong)) ++
      (1 to 100).map(i => ((i % 9 + 2).toLong, (1000 + i).toLong)))
      .toDF("k", "rid")
    val dim = (1L to 10L).map(k => (k, s"seg$k")).toDF("k", "seg")
    // a second key joins alongside the salt; rid % 3 == 2 has no dim row
    val fact2 = fact.withColumn("k2", col("rid") % 3)
    val dim2 = dim.crossJoin((0L to 1L).toDF("k2"))
      .withColumn("seg", concat_ws("/", col("seg"), col("k2")))
    for ((f, d, keys) <- Seq((fact, dim, Seq("k")),
        (fact2, dim2, Seq("k", "k2")))) {
      val out = (keys :+ "rid" :+ "seg").map(col)
      val joined = Salting.saltedJoin(f, d, keys, col("rid"), 8)
      val plain = f.join(d, keys)
      assert(joined.count() == plain.count(), keys)
      assert(joined.select(out: _*).collect().map(_.toSeq).toSet ==
        plain.select(out: _*).collect().map(_.toSeq).toSet, keys)
    }
    // the replicated dim side really carries buckets copies per key
    val rep = dim.withColumn("__salt",
      explode(sequence(lit(0L), lit(7L)))).count()
    assert(rep == dim.count() * 8)
  }

  test("flagship entry query returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
