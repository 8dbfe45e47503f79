package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native expression: the LSH band hashes of one document's shingle
  * array in ONE JVM pass — no explode, no aggregate, no shuffle.
  *
  * Per shingle: Spark's `xxhash64(shingle)` (seed 42 over the UTF-8
  * bytes), folded into the `bands * rowsPerBand` running minima exactly
  * as [[MinHashAggregator]] folds one exploded row ([[MinHash.fold]]).
  * Per band b: `xxhash64` of minima [b*rowsPerBand, (b+1)*rowsPerBand)
  * written as decimal strings joined with commas — what
  * `TextFunctions.bandHashes(sig, bands, rowsPerBand)` computes from the
  * aggregator's signature. MinHashBandsSpec pins the two equal.
  *
  * An empty array (null text, fewer than n tokens) yields NULL, as does
  * NULL input: the MinHash of an empty set is undefined. Its minima would
  * be the all-`Long.MaxValue` signature every empty document shares, so
  * all of them would collide in every band and verify as jaccard 0/0:
  * DIVIDE_BY_ZERO under ANSI mode, and without it NaN, which passes
  * `>= t` under Spark's NaN ordering. Exploding the bands drops these
  * rows. The generated code calls that loop ([[bandsOf]]), as
  * [[WordShingles]] does: the per-row work is one long JVM loop, and the
  * operator holding the expression stays inside whole-stage codegen.
  */
case class MinHashBands(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  require(bands >= 1 && rowsPerBand >= 1 && bands * rowsPerBand <= MinHash.K,
    s"need 1 <= bands * rowsPerBand <= ${MinHash.K}, got $bands x $rowsPerBand")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_bands"

  private val HashSeed = 42L // Spark's xxhash64 default seed

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null else bandsOf(v.asInstanceOf[ArrayData])
  }

  /** The band hashes of one non-null shingle array; NULL when empty. */
  def bandsOf(arr: ArrayData): ArrayData = {
    if (arr.numElements() == 0) return null
    val sig = Array.fill(MinHash.K)(Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      // xxhash64 of a null is its seed
      MinHash.fold(sig, if (arr.isNullAt(i)) HashSeed
        else XXH64.hashUTF8String(arr.getUTF8String(i), HashSeed))
      i += 1
    }
    val out = new Array[Long](bands)
    val sb = new java.lang.StringBuilder(20 * rowsPerBand)
    var b = 0
    while (b < bands) {
      sb.setLength(0)
      var r = 0
      while (r < rowsPerBand) {
        if (r > 0) sb.append(',')
        sb.append(sig(b * rowsPerBand + r))
        r += 1
      }
      val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
      out(b) = XXH64.hashUnsafeBytes(bytes,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, HashSeed)
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("minHashBands", this)
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |${ev.value} = $self.bandsOf($a);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): MinHashBands = copy(child = newChild)
}

object MinHashBands {
  def apply(shingles: Column, bands: Int, rowsPerBand: Int): Column =
    GraftBridge.column(
      MinHashBands(GraftBridge.expression(shingles), bands, rowsPerBand))
}
