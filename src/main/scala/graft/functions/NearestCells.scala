package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native Catalyst expression: the `n` nearest centroid cells of an
  * array<double> vector against a FIXED centroid matrix, nearest first
  * (the IVF probe set). The n-best sibling of [[NearestCell]]: the same
  * distance `|c|² − 2·v·c` with the same left-to-right IEEE dot, ranked
  * like the composed `slice(array_sort(array(struct(d, cell)...)), 1, n)`
  * it replaces — ascending distance under Spark's double ordering, ties
  * to the smaller cell index. Pinned equal in DedupSimilaritySpec.
  *
  * Why native: the composed form is a chain of interpreted higher-order
  * functions (`array_sort`, `transform`), which keeps every operator
  * holding it out of whole-stage codegen; this expression compiles to
  * one call inside the stage. Null input, null element, or a vector
  * whose length differs from the centroid dimension → NULL, as in
  * [[NearestCell]] (the composed form ranked a null-poisoned ordering
  * instead). `n` above the centroid count returns every cell, like
  * `slice`.
  */
case class NearestCells(child: Expression, centroids: Seq[Seq[Double]], n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(n > 0, s"graft_nearest_cells: n must be positive, got $n")
  require(centroids.nonEmpty,
    "graft_nearest_cells: centroid matrix must be non-empty")
  require(centroids.forall(_.length == centroids.head.length),
    "graft_nearest_cells: centroid matrix must be rectangular " +
      s"(row lengths ${centroids.map(_.length).distinct.mkString(",")})")

  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_nearest_cells"
  override def nullable: Boolean = true

  @transient private lazy val cents: Array[Array[Double]] =
    centroids.map(_.toArray).toArray
  @transient private lazy val cSq: Array[Double] =
    cents.map(c => c.map(x => x * x).sum)

  /** The ranked cells of one non-null vector, or null when it is
    * degenerate. Insertion into an `m`-slot buffer: cells arrive in
    * index order, so a cell goes after every kept cell at an equal
    * distance. */
  def rank(x: ArrayData): ArrayData = {
    val len = x.numElements()
    if (len != cents(0).length) return null
    var i = 0
    while (i < len) {
      if (x.isNullAt(i)) return null
      i += 1
    }
    val m = math.min(n, cents.length)
    val best = new Array[Int](m)
    val bestD = new Array[Double](m)
    var kept = 0
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var dot = 0.0
      var j = 0
      while (j < len) { dot += x.getDouble(j) * cent(j); j += 1 }
      val d = cSq(c) - dot * 2
      var p = kept
      while (p > 0 && SQLOrderingUtil.compareDoubles(d, bestD(p - 1)) < 0) p -= 1
      if (p < m) {
        val last = math.min(kept, m - 1)
        System.arraycopy(best, p, best, p + 1, last - p)
        System.arraycopy(bestD, p, bestD, p + 1, last - p)
        best(p) = c
        bestD(p) = d
        kept = last + 1
      }
      c += 1
    }
    UnsafeArrayData.fromPrimitiveArray(best)
  }

  override protected def nullSafeEval(a: Any): Any =
    rank(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("nearestCells", this)
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |${ev.value} = $self.rank($a);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): NearestCells = copy(child = newChild)
}

object NearestCells {
  /** Column API: the `n` nearest cells against a fixed centroid matrix,
    * nearest first (input cast to array<double>). */
  def nearest(v: Column, centroids: Seq[Seq[Double]], n: Int): Column =
    GraftBridge.column(NearestCells(
      GraftBridge.expression(v.cast("array<double>")), centroids, n))
}
