package graft

import graft.functions.{MinHashBands, NearestCells, OrderedPairs, WordShingles}
import graft.metrics.Recording
import graft.tools.CodegenWorkingSet
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The generated classes one warm pass of the analytics mix (the
  * benchmark's three queries) needs from Spark's codegen cache. The
  * cache holds 100 classes in 4 LRU segments of 25, and a class's
  * segment follows its class loader's identity hash, so a working set
  * near 100 overflows some segment in most JVMs and recompiles on every
  * pass. 70 leaves room for an uneven spread. Whether a given pass
  * compiles 0 depends on that per-JVM hash, so it is not asserted here. */
class CodegenBudgetSpec extends SparkSpec {

  private val mix = Seq("dedup_minhash_lsh", "sim_ann_batch", "q41_asof_custom")

  private def pass(): Unit = mix.foreach(q =>
    CodegenWorkingSet.touchAll(SparkEntry.queries(q)(spark, sf01)))

  test("a warm pass of the analytics mix compiles at most 70 classes into an empty cache") {
    val (e, rec) = Recording.of(spark) {
      pass(); pass() // cold, then warm: memoized models and indexes built
      CodegenWorkingSet.measure(pass())._2
    }
    rec.persisted.foreach(_.unpersist(blocking = false))
    assert(e.compiled <= 70, e)
    assert(e.wholeStage > 0 && e.expression > 0, e)
  }

  /** Compile `e` (reading its one input from ordinal 0), evaluate it
    * on each input both generated and interpreted, and assert the two
    * agree. Returns the values as Scala collections. */
  private def bothWays(e: Expression, inputs: Seq[Any]): Seq[Any] = {
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    inputs.map { in =>
      val row = InternalRow(in)
      val generated = scalaOf(proj(row).get(0, e.dataType), e.dataType)
      assert(generated == scalaOf(e.eval(row), e.dataType), s"input $in")
      generated
    }
  }

  private def scalaOf(v: Any, t: DataType): Any = (v, t) match {
    case (null, _) => null
    case (a: ArrayData, ArrayType(et, _)) =>
      (0 until a.numElements()).map(i => scalaOf(a.get(i, et), et))
    case (r: InternalRow, s: StructType) =>
      s.fields.indices.map(i => scalaOf(r.get(i, s(i).dataType), s(i).dataType))
    case (u: UTF8String, _) => u.toString
    case (x, _) => x
  }

  test("the mix's native expressions compile, and generated equals interpreted") {
    val text = BoundReference(0, StringType, nullable = true)
    val shingles = bothWays(WordShingles(text, 3), Seq(
      UTF8String.fromString("a b c d a b c"),
      UTF8String.fromString("two words"), null))
    assert(shingles == Seq(Seq("a b c", "b c d", "c d a", "d a b"), Seq(), Seq()))
    val sh = BoundReference(0, ArrayType(StringType), nullable = true)
    val bands = bothWays(MinHashBands(sh, 8, 8), Seq(
      new GenericArrayData(Seq("a b c", "b c d").map(UTF8String.fromString)),
      new GenericArrayData(Array.empty[Any]), null))
    assert(bands.head.asInstanceOf[Seq[_]].size == 8)
    assert(bands.tail == Seq(null, null))
    val ids = BoundReference(0, ArrayType(LongType), nullable = true)
    val pairs = bothWays(OrderedPairs(ids, "doc_a", "doc_b"), Seq(
      new GenericArrayData(Array[Any](3L, 1L, null, 2L)),
      new GenericArrayData(Array[Any](5L)), null))
    assert(pairs == Seq(Seq(Seq(1L, 3L), Seq(1L, 2L), Seq(2L, 3L)), Seq(), null))
    val v = BoundReference(0, ArrayType(DoubleType), nullable = true)
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 0.0), Seq(-1.0, 0.0))
    val cells = bothWays(NearestCells(v, cents, 3), Seq(
      new GenericArrayData(Array[Any](2.0, 0.5)),
      new GenericArrayData(Array[Any](1.0)), null))
    // cells 0 and 2 tie: the smaller index ranks first; a vector of the
    // wrong dimension has no cells
    assert(cells == Seq(Seq(0, 2, 1), null, null))
  }
}
