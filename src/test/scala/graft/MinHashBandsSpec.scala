package graft

import graft.functions.{MinHashAggregator, MinHashBands, TextFunctions}
import graft.queries.DedupQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The native MinHashBands expression against the aggregate formulation
  * it replaced in dedup_minhash_lsh (MinHashAggregator over exploded
  * xxhash64 shingles, then bandHashes), and the work one
  * dedup_minhash_lsh execution does. */
class MinHashBandsSpec extends SparkSpec {
  import spark.implicits._

  private def docs: DataFrame =
    Tables.documents(spark, sf001).select("doc_id", "text")
      .union(Seq(
        // a shingle repeated within one document
        (-1L, "to be or not to be or not to be"),
        (-2L, "naïve café über straße 東京 タワー ünïcödé façade"),
        (-3L, "exactly three tokens"), // a single shingle
        (-4L, null.asInstanceOf[String]),
        (-5L, "two tokens"),
        (-6L, ""))
        .toDF("doc_id", "text"))

  test("MinHashBands == MinHashAggregator + bandHashes over exploded shingles") {
    val minhash64 = udaf(MinHashAggregator)
    val aggregated = docs
      .select(col("doc_id"),
        explode(TextFunctions.shingles(col("text"), 3)).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
      .groupBy("doc_id").agg(minhash64(col("h")).as("sig"))
      .select(col("doc_id"), TextFunctions.bandHashes(col("sig"), 8, 8))
      .as[(Long, Seq[Long])].collect().toMap
    val native = docs
      .select(col("doc_id"),
        MinHashBands(TextFunctions.shingles(col("text"), 3), 8, 8).as("b"))
      .filter(col("b").isNotNull)
      .as[(Long, Seq[Long])].collect().toMap
    assert(native.size > 100)
    Seq(-1L, -2L, -3L).foreach(id => assert(native.contains(id), id))
    Seq(-4L, -5L, -6L).foreach(id => assert(!native.contains(id), id))
    assert(native.values.forall(_.size == 8))
    assert(native == aggregated)
  }

  test("MinHashBands: duplicates are idempotent, empty and null arrays give null") {
    val r = spark.range(1).select(
      MinHashBands(array(lit("a b c"), lit("a b c"), lit("b c d")), 8, 8),
      MinHashBands(array(lit("b c d"), lit("a b c")), 8, 8),
      MinHashBands(array().cast("array<string>"), 8, 8),
      MinHashBands(lit(null).cast("array<string>"), 8, 8))
      .as[(Seq[Long], Seq[Long], Option[Seq[Long]], Option[Seq[Long]])]
      .head()
    assert(r._1 == r._2)
    assert(r._3.isEmpty)
    assert(r._4.isEmpty)
  }

  test("dedup_minhash_lsh work: 7 jobs per execution, only the candidate pairs persisted") {
    val (rows, rec) = graft.metrics.Recording.of(spark)(
      DedupQueries.queries("dedup_minhash_lsh")(spark, sf001)
        .as[(Long, Long, Double)].collect())
    assert(rows.nonEmpty)
    assert(rec.work.jobs == 7, s"jobs=${rec.work.jobs}")
    assert(rec.persisted.size == 1, rec.persisted.map(_.toString))
    // the candidate pairs: a superset of the verified pairs
    assert(rec.persisted.head.count() >= rows.length)
    rec.persisted.foreach(_.unpersist(blocking = false))
  }
}
