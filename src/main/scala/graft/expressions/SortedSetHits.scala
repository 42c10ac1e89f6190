package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native probe of a long array against a fixed set riding in the plan:
  * `sorted_set_hits(arr) → bigint`, the number of elements of `arr` that
  * occur in `set`, each found by binary search. The set is a constructor
  * parameter (built once on the driver from a small relation, the way
  * [[BloomMightContain]] carries its filter bytes), so a probe of every
  * corpus row against it is a NARROW codegen'd projection with no
  * explode, no join and no shuffle.
  *
  * `set` MUST be ascending and duplicate-free. Elements of `arr` are
  * counted once per occurrence, so a duplicate-free `arr` (what
  * `ShingleHashes` emits) gets the size of its intersection with the
  * set. A NULL array gives NULL.
  *
  * Scale note: the set ships with the task binary once per stage, 8
  * bytes per element — what a broadcast of it would move, without the
  * broadcast's job. */
case class SortedSetHits(child: Expression, set: Array[Long])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sorted_set_hits needs array<bigint>, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_set_hits"

  override def nullSafeEval(input: Any): Any =
    SortedSetHits.count(input.asInstanceOf[ArrayData], set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("set", set, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.expressions.SortedSetHits.count($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): SortedSetHits =
    copy(child = newChild)
}

object SortedSetHits {
  def count(arr: ArrayData, set: Array[Long]): Long = {
    val n = arr.numElements()
    var c = 0L
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) &&
          java.util.Arrays.binarySearch(set, arr.getLong(i)) >= 0) c += 1
      i += 1
    }
    c
  }
}
