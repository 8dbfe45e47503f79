package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

/** Native expression: every ordered pair (a, b) with a < b of the ids in
  * an array<bigint>, as array<struct<left, right>> — the pairs of one
  * LSH bucket. Null elements pair with nothing; an array with a repeated
  * id yields that pair once per occurrence (the caller's distinct
  * removes repeats). Fewer than two ids give an empty array; NULL gives
  * NULL.
  *
  * Replaces `flatten(transform(ids, a -> transform(filter(ids, x -> x >
  * a), x -> struct(a, x))))`: those higher-order functions are
  * interpreted, and the operators holding them fall out of whole-stage
  * codegen; the generated code here is one call to [[pairs]].
  */
case class OrderedPairs(child: Expression, left: String, right: String)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField(left, LongType, nullable = false),
    StructField(right, LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_ordered_pairs"

  def pairs(ids: ArrayData): ArrayData = {
    val n = ids.numElements()
    val out = new java.util.ArrayList[InternalRow]()
    var i = 0
    while (i < n) {
      if (!ids.isNullAt(i)) {
        val a = ids.getLong(i)
        var j = 0
        while (j < n) {
          if (!ids.isNullAt(j) && ids.getLong(j) > a)
            out.add(InternalRow(a, ids.getLong(j)))
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def nullSafeEval(a: Any): Any =
    pairs(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("orderedPairs", this)
    defineCodeGen(ctx, ev, a => s"$self.pairs($a)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): OrderedPairs = copy(child = newChild)
}

object OrderedPairs {
  /** Column API: the a < b pairs of an id array, as structs with fields
    * `left` and `right`. */
  def apply(ids: Column, left: String, right: String): Column =
    GraftBridge.column(OrderedPairs(GraftBridge.expression(ids), left, right))
}
