package graft.tools

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

/** The codegen working set of a body of work: how many generated
  * classes it needs from Spark's codegen cache.
  *
  * Spark compiles each generated class (Janino) once per (class loader,
  * source) and keeps it in a JVM-wide cache of
  * `spark.sql.codegen.cache.maxEntries` entries (default 100, a static
  * conf). The cache is a Guava cache with 4 segments of a quarter of
  * that each, LRU per segment, and a key's segment follows its class
  * loader's identity hash, which changes with every JVM. A repeated
  * workload whose working set approaches the bound therefore overflows
  * some segment in some JVMs and recompiles on every pass. In local mode
  * a whole-stage-codegen stage is two entries: it is compiled once on the
  * driver thread and once on a task thread, whose context class loader
  * differs.
  *
  * [[measure]] empties the cache, runs a body and counts what it
  * compiled, so a warm body reads its whole working set regardless of
  * what ran before it in the JVM. The compilation counter is JVM-wide:
  * run nothing else meanwhile.
  */
object CodegenWorkingSet {

  /** Classes Spark has compiled from generated code in this JVM. */
  private def compilations: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount

  /** `body`'s result and the classes Spark compiled while it ran. */
  def counting[T](body: => T): (T, Long) = {
    val before = compilations
    val r = body
    (r, compilations - before)
  }

  /** Classes a body compiled into an empty cache, split by kind: a
    * whole-stage class (one `GeneratedIteratorForCodegenStage`) or an
    * expression class (a projection, predicate, ordering or other
    * per-operator class). `compiled` exceeds `wholeStage + expression`
    * (the entries left in the cache) only when the body's working set
    * overflowed a cache segment and compiled an evicted class again. */
  final case class Entries(compiled: Long, wholeStage: Int, expression: Int)

  /** Empty Spark's codegen cache, run `body`, and count what it compiled. */
  def measure[T](body: => T): (T, Entries) = {
    GraftBridge.invalidateCodegenCache()
    val (r, compiled) = counting(body)
    val (ws, expr) = GraftBridge.codegenCacheSources()
      .partition(_.contains("GeneratedIteratorForCodegenStage"))
    (r, Entries(compiled, ws.size, expr.size))
  }

  /** Run `df` evaluating every output column: a hash of each row,
    * folded into one row with the row count (the shape of a result
    * fingerprint). Unlike `count()`, the optimizer cannot prune any
    * column away. */
  def touchAll(df: DataFrame): Unit = {
    val h = xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
    df.select(h.as("h")).agg(count(lit(1)), bit_xor(col("h"))).collect()
    ()
  }
}
