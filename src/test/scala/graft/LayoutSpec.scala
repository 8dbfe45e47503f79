package graft

import graft.operators.Layout
import graft.queries.ExtraRelationalQueries
import org.apache.spark.sql.functions._

/** The write side of the physical-layout story (Layout.scala): what each
  * write-time shuffle buys every later read. The bucketed co-located
  * join is pinned in BucketingSpec; here: partition pruning and z-order
  * file clustering. */
class LayoutSpec extends SparkSpec {

  test("partitioned write: a partition-column filter prunes directories at listing time") {
    val dir = tempDir("graft-layout-part").toString
    Layout.writePartitioned(
      Tables.orders(spark, sf0001)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus")),
      dir, Seq("o_orderstatus"))
    val statuses = Tables.orders(spark, sf0001)
      .select("o_orderstatus").distinct().as[String](
        org.apache.spark.sql.Encoders.STRING).collect()
    assert(statuses.length >= 2) // pruning needs something to prune
    val filtered = spark.read.parquet(dir)
      .filter(col("o_orderstatus") === "F")
    // the files ACTUALLY READ must all come from the matching directory
    // (DataFrame.inputFiles reports the pre-pruning index, so observe
    // the scan itself)
    val readFiles = filtered.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(readFiles.nonEmpty)
    assert(readFiles.forall(_.contains("o_orderstatus=F")),
      readFiles.take(3).mkString(","))
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      plan.take(800))
    // and the data survives the round trip
    val expected = Tables.orders(spark, sf0001)
      .filter(col("o_orderstatus") === "F").count()
    assert(filtered.count() == expected)
  }

  test("z-ordered write: per-file zkey ranges are disjoint and both dims are clustered") {
    import spark.implicits._
    val dir = tempDir("graft-layout-z").toString
    // a full 256×256 grid: both dimensions use comparable bit widths, so
    // the interleave actually alternates — the regime z-ordering is FOR.
    // (With wildly unequal ranges, e.g. 8-bit custkey vs 14-bit dates,
    // the wider dimension owns the high bits and clustering degenerates
    // to single-dimension range layout; a real table would rescale.)
    val grid = (0 until 65536).map(i => (i.toLong % 256, i.toLong / 256))
      .toDF("x", "y")
    def zkey = ExtraRelationalQueries.zOrderKey(col("x"), col("y"))
    Layout.writeZOrdered(grid, dir, files = 16, zkey)
    // recompute the key per row on read-back, grouped by physical file:
    // range partitioning + in-file sort must yield disjoint per-file
    // zkey ranges — exactly the property that makes parquet min/max
    // stats skip files for range predicates
    val perFile = spark.read.parquet(dir)
      .select(input_file_name().as("f"), zkey.as("z"))
      .groupBy("f").agg(min("z").as("lo"), max("z").as("hi"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._2)
    assert(perFile.length > 1)
    perFile.sliding(2).foreach {
      case Array((fa, _, hiA), (fb, loB, _)) =>
        assert(hiA <= loB, s"overlapping zkey ranges: $fa hi=$hiA vs $fb lo=$loB")
      case _ =>
    }
    // clustering pays on BOTH underlying dimensions: z-contiguous blocks
    // have bounded x and y extents, so the average per-file span on each
    // axis sits well under the global span (a single-dimension sort
    // would leave the other axis at full span in every file)
    val spans = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
      .collect()
    def avg(c: String) =
      spans.map(_.getAs[Long](c)).sum.toDouble / spans.length
    assert(avg("sx") < 255 * 0.6, s"avg x span ${avg("sx")}")
    assert(avg("sy") < 255 * 0.6, s"avg y span ${avg("sy")}")
  }

  test("z-ordered layout SKIPS: either-axis range predicates decode a fraction of rows; single-axis sort decodes everything on the other axis") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val grid = (0 until 65536).map(i => (i.toLong % 256, i.toLong / 256))
      .toDF("x", "y")
    def zkey = ExtraRelationalQueries.zOrderKey(col("x"), col("y"))
    val zdir = tempDir("graft-zskip").toString
    val xdir = tempDir("graft-xskip").toString
    Layout.writeZOrdered(grid, zdir, files = 16, zkey)
    // the SAME writer clustering on one dimension only — the layout
    // z-ordering competes against
    Layout.writeZOrdered(grid, xdir, files = 16, col("x"))
    // The skipping observable: rows the parquet reader MATERIALIZES
    // under the pushed predicate (scan-leaf numOutputRows, read after
    // execution) — i.e. rows in row groups that survived min/max
    // pruning. Listing and footer reads always happen; row-group decode
    // is what layout saves at scale.
    def rowsRead(dir: String, pred: org.apache.spark.sql.Column): Long = {
      val df = spark.read.parquet(dir).filter(pred)
      df.collect()
      def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
        case other => other.collectLeaves().flatMap {
          case aa: AdaptiveSparkPlanExec => leaves(aa.executedPlan)
          case l => Seq(l)
        }
      }
      val scan = leaves(df.queryExecution.executedPlan)
        .collectFirst { case f: FileSourceScanExec => f }.get
      scan.metrics("numOutputRows").value
    }
    val total = 65536L
    // 16 z-range files tile the 256×256 grid into ~4×4 blocks: a
    // 16-wide slab on EITHER axis intersects one row/column of tiles —
    // a quarter of the files. repartitionByRange boundaries are sampled,
    // so straddling files can add their row groups; 40% is the bound
    // that holds whatever the sampling does (expected ~25%).
    assert(rowsRead(zdir, col("x") < 16) <= (total * 2) / 5)
    assert(rowsRead(zdir, col("y") < 16) <= (total * 2) / 5)
    // single-dimension clustering: near-perfect on its own axis...
    assert(rowsRead(xdir, col("x") < 16) <= total / 8)
    // ...and NO pruning on the other — every file spans all of y, so
    // every row group is decoded. This asymmetry is what z-ordering
    // buys: bounded read amplification on BOTH filter axes.
    assert(rowsRead(xdir, col("y") < 16) == total)
    // and the layouts agree on the answer
    assert(spark.read.parquet(zdir).filter(col("y") < 16).count() ==
      spark.read.parquet(xdir).filter(col("y") < 16).count())
  }
}
