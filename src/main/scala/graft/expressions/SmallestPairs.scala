package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Ordered candidate PAIRS of the `cap` smallest ids of a group, as one
  * bounded aggregate: the capped posting list ([[SmallestLongs]], the
  * buffer [[CollectSmallest]] uses too) expanded to its pairs in the
  * aggregate's eval, once, directly from the O(cap) buffer. Every
  * long-id pair site of `pipeline.Dedup` takes this path; sort+slice
  * remains only for other id types. For the expanded (ascending,
  * multiplicity-kept) id list e_0..e_{n-1} it emits exactly the
  * (e_i, e_j) with i < j, including (x, x) for a duplicated id (unique-
  * rid inputs, such as LSH banding rows, never produce those). Output:
  * array<struct<id1: bigint, id2: bigint>>. */
case class SmallestPairs(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends SmallestLongs {
  require(cap >= 1, s"cap must be >= 1, got $cap")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id1", LongType, nullable = false),
    StructField("id2", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "smallest_pairs"

  override def eval(b: java.util.TreeMap[Long, Int]): Any = {
    val ids = smallest(b)
    val out = new Array[Any](ids.length * (ids.length - 1) / 2)
    var k = 0
    SmallestPairs.foreachPair(ids, ids.length) { (a, c) =>
      out(k) = InternalRow(a, c)
      k += 1
    }
    new GenericArrayData(out)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SmallestPairs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SmallestPairs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SmallestPairs =
    copy(child = newChildren.head)
}

object SmallestPairs {

  /** The ordered pairs (e_i, e_j), i < j < n, of the ascending ids
    * e_0..e_{n-1}: the expansion of one capped posting list, shared by the
    * aggregate and the driver-side pair path of `pipeline.Dedup`. */
  def foreachPair(ids: Array[Long], n: Int)(f: (Long, Long) => Unit): Unit = {
    var a = 0
    while (a < n) {
      var c = a + 1
      while (c < n) {
        f(ids(a), ids(c))
        c += 1
      }
      a += 1
    }
  }
}
