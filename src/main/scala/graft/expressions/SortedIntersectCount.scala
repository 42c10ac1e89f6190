package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Intersection size of two SORTED long arrays by two-pointer merge —
  * the verification kernel of the set-overlap dedup family
  * (`Dedup.setJaccardPairs`). `F.array_intersect` + `F.array_union`
  * build two hash sets and two result arrays PER PAIR; with millions of
  * candidate pairs carrying ~50-element shingle sets that allocation is
  * the dominant verify cost. A merge over pre-sorted arrays (sorted once
  * per DOCUMENT, not per pair) is allocation-free, and
  * |A ∪ B| = |A| + |B| − |A ∩ B| makes the union size arithmetic.
  *
  * Inputs MUST be duplicate-free and ascending (the dedup pipeline's
  * `sort_array` over distinct shingle hashes guarantees it); the result
  * is undefined otherwise. [[SortedIntersectCount.count]] is also the
  * driver-side pair path's verification. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_count needs two array<bigint>, got " +
          s"${l.catalogString} and ${r.catalogString}")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCount.count(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.SortedIntersectCount.count($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  def count(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}
