package graft.expressions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** The bounded "smallest `cap` longs of a group" buffer shared by
  * [[CollectSmallest]] and [[SmallestPairs]]: the posting-list cap for
  * LSH bucket / inverted-index blocking with an O(cap) aggregation
  * buffer.
  *
  * `slice(array_sort(collect_list(id)), 1, cap)` computes the same
  * multiset but its buffer holds the ENTIRE group before the slice — a
  * degenerate bucket (millions of identical documents) materializes
  * millions of ids in one in-memory buffer that cannot spill per-group.
  * This buffer never holds more than `cap` values no matter the skew,
  * and merges are capped too (partial aggregation stays effective).
  * Multiset semantics: duplicates are kept (like collect_list) and the
  * largest end is evicted first. Subclasses choose only what `eval`
  * makes of the capped ascending id list ([[smallest]]). */
private[graft] abstract class SmallestLongs
    extends TypedImperativeAggregate[java.util.TreeMap[Long, Int]] {
  def child: Expression
  def cap: Int

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs bigint, got ${other.catalogString}")
  }

  /** value → multiplicity; total size kept ≤ cap. */
  override def createAggregationBuffer(): java.util.TreeMap[Long, Int] =
    new java.util.TreeMap[Long, Int]()

  private def size(b: java.util.TreeMap[Long, Int]): Int = {
    var s = 0
    val it = b.values().iterator()
    while (it.hasNext) s += it.next()
    s
  }

  private def add(b: java.util.TreeMap[Long, Int], v: Long, n: Int): Unit = {
    val room = cap - size(b)
    if (room <= 0) {
      if (b.isEmpty || v >= b.lastKey()) return
      // evict from the largest end to make room
      var need = math.min(n, cap)
      while (need > 0 && !b.isEmpty && b.lastKey() > v) {
        val last = b.lastEntry()
        val drop = math.min(last.getValue, need)
        if (drop == last.getValue) b.remove(last.getKey)
        else b.put(last.getKey, last.getValue - drop)
        need -= drop
        b.merge(v, drop, (a, x) => a + x)
      }
    } else {
      val take = math.min(n, room)
      b.merge(v, take, (a, x) => a + x)
      if (n > take) add(b, v, n - take) // may still evict larger keys
    }
  }

  override def update(b: java.util.TreeMap[Long, Int],
      input: InternalRow): java.util.TreeMap[Long, Int] = {
    val v = child.eval(input)
    if (v != null) add(b, v.asInstanceOf[Long], 1)
    b
  }

  override def merge(b: java.util.TreeMap[Long, Int],
      other: java.util.TreeMap[Long, Int]): java.util.TreeMap[Long, Int] = {
    val it = other.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      add(b, e.getKey, e.getValue)
    }
    b
  }

  /** The buffer expanded to its ascending id list (multiplicities
    * repeated), at most `cap` long. */
  protected def smallest(b: java.util.TreeMap[Long, Int]): Array[Long] = {
    val out = new Array[Long](math.min(size(b), cap))
    var i = 0
    val it = b.entrySet().iterator()
    while (it.hasNext && i < out.length) {
      val e = it.next()
      var n = e.getValue
      while (n > 0 && i < out.length) { out(i) = e.getKey; i += 1; n -= 1 }
    }
    out
  }

  override def serialize(b: java.util.TreeMap[Long, Int]): Array[Byte] = {
    val buf = ByteBuffer.allocate(4 + b.size() * 12)
    buf.putInt(b.size())
    val it = b.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next(); buf.putLong(e.getKey); buf.putInt(e.getValue)
    }
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeMap[Long, Int] = {
    val buf = ByteBuffer.wrap(bytes)
    val b = new java.util.TreeMap[Long, Int]()
    var n = buf.getInt
    while (n > 0) { b.put(buf.getLong, buf.getInt); n -= 1 }
    b
  }
}

/** The `cap` smallest ids of a group as an ascending array<long>
  * (duplicates kept), for k-NN candidate lists (`Similarity.knnJoin`).
  * The long-id pair sites of `pipeline.Dedup` take [[SmallestPairs]]
  * instead. */
case class CollectSmallest(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends SmallestLongs {
  require(cap >= 1, s"cap must be >= 1, got $cap")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "collect_smallest"

  override def eval(b: java.util.TreeMap[Long, Int]): Any =
    new GenericArrayData(smallest(b))

  override def withNewMutableAggBufferOffset(newOffset: Int): CollectSmallest =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CollectSmallest =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CollectSmallest =
    copy(child = newChildren.head)
}
