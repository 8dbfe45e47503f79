package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive fingerprint of a whole result: row count plus the sums
  * of the low and high halves of a 64-bit hash of every row.
  *
  * Every output column feeds the hash, so the timed action evaluates every
  * column (a `.count()` would let the optimizer prune them). Values are
  * canonicalised the way the DuckDB comparison does it (columns in name
  * order, every number as a double, timestamps as microseconds), so a
  * Spark result and the DuckDB oracle's result fingerprint identically
  * exactly when they hold the same rows.
  */
object Fingerprint {
  def of(df: DataFrame): (Long, Long, Long) = {
    val r = frame(df).collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def frame(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.sortBy(_.name).map(f => canon(col(s"`${f.name}`"), f.dataType))
    val h = xxhash64(cols.toIndexedSeq: _*)
    df.select(h.as("h")).agg(
      count(lit(1)),
      coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case _: NumericType =>
      val d = c.cast(DoubleType)
      when(d === 0.0, lit(0.0)).otherwise(d) // -0.0 and 0.0 compare equal
    case TimestampType | TimestampNTZType => unix_micros(c.cast(TimestampType))
    case DateType => unix_date(c)
    case ArrayType(et, _) => transform(c, e => canon(e, et))
    case StructType(fs) =>
      struct(fs.sortBy(_.name).toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }
}
