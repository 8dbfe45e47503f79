package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native expression: distinct word n-gram shingles of a text column in
  * ONE JVM pass (split on spaces, skip empty tokens, join each n-window
  * with a single space, first-occurrence dedup).
  *
  * Replaces the pure-HOF formulation (slice/zip_with/concat_ws/
  * array_distinct): interpreted lambda evaluation there cost ~0.25 ms per
  * document (≈5 µs per shingle) — this loop is ~20× cheaper and feeds
  * every shingle consumer (n-gram jaccard, MinHash-LSH, decontamination).
  * The generated code calls that loop ([[shingle]]) on the child's
  * value: the per-row work is a long JVM loop, so the call boundary is
  * noise, and unlike a CodegenFallback the operator holding the
  * expression stays inside whole-stage codegen.
  *
  * Semantics pinned equal to the HOF form by TextFunctionsSpec, including
  * the edge the HOF form has: NULL text yields an EMPTY array (its
  * `when(size >= 1, ...)` collapses null through the otherwise branch),
  * not null — so this expression is a drop-in.
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_shingles"

  private val empty = new GenericArrayData(Array.empty[Any])

  override def eval(input: InternalRow): Any =
    shingle(child.eval(input).asInstanceOf[UTF8String])

  /** The shingles of one text; empty for NULL. */
  def shingle(v: UTF8String): ArrayData = {
    if (v == null) return empty
    val text = v.toString
    // tokenize: split on single spaces, drop empties (runs of spaces)
    val toks = new java.util.ArrayList[String]()
    var i = 0
    val len = text.length
    while (i < len) {
      var j = text.indexOf(' ', i)
      if (j < 0) j = len
      if (j > i) toks.add(text.substring(i, j))
      i = j + 1
    }
    val m = toks.size - n + 1
    if (m <= 0) return empty
    val seen = new java.util.LinkedHashSet[UTF8String](m * 2)
    val sb = new java.lang.StringBuilder(64)
    var s = 0
    while (s < m) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks.get(s + k))
        k += 1
      }
      seen.add(UTF8String.fromString(sb.toString))
      s += 1
    }
    new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("shingles", this)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |ArrayData ${ev.value} = $self.shingle(${c.isNull} ? null : ${c.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): WordShingles = copy(child = newChild)
}

object WordShingles {
  def apply(text: Column, n: Int): Column =
    GraftBridge.column(WordShingles(GraftBridge.expression(text), n))
}
