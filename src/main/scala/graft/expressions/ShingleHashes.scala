package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression for the k-token shingle hash set (the
  * MinHash pipeline's per-document hot loop): token xxhash64s combined
  * over sliding windows, first-occurrence-deduplicated.
  *
  * Bit-identical to the `functions._`-composed recipe (PipelineSpec
  * pins it on random texts):
  * per-token `F.xxhash64(tok)`, window combination `F.xxhash64(a, b)`
  * (= hashLong(b, hashLong(a, 42))), `< k` fallback `F.xxhash64(th)`
  * over the token-hash array, and `array_distinct` order semantics.
  *
  * Why native: the composed form chains k-1 zip_with passes plus an
  * array_distinct, each a CodegenFallback lambda allocating per-row
  * arrays; this loop hashes each token once and emits one long array,
  * and the bare-split child keeps the projection in whole-stage
  * codegen. */
case class ShingleHashes(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"shingle size must be >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes needs array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.hash(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.ShingleHashes.hash($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  private val Seed = 42L

  /** F.xxhash64(a, b) over two longs: seed 42, fold both. */
  private def pair(a: Long, b: Long): Long =
    XXH64.hashLong(b, XXH64.hashLong(a, Seed))

  def hash(tokens: ArrayData, k: Int): ArrayData = {
    // per-token hashes, empty slots skipped (replaces the filter HOF)
    val n0 = tokens.numElements()
    val th = new Array[Long](n0)
    var n = 0
    var i = 0
    while (i < n0) {
      if (!tokens.isNullAt(i)) {
        val s = tokens.getUTF8String(i)
        if (s.numBytes > 0) {
          th(n) = XXH64.hashUnsafeBytes(
            s.getBaseObject, s.getBaseOffset, s.numBytes, Seed)
          n += 1
        }
      }
      i += 1
    }
    if (n >= k) {
      // sliding-window combination, then first-occurrence dedup
      val seen = new java.util.LinkedHashSet[java.lang.Long]()
      i = 0
      while (i <= n - k) {
        var acc = th(i)
        var j = 1
        while (j < k) { acc = pair(acc, th(i + j)); j += 1 }
        seen.add(acc)
        i += 1
      }
      val out = new Array[Long](seen.size)
      val it = seen.iterator()
      i = 0
      while (it.hasNext) { out(i) = it.next(); i += 1 }
      new GenericArrayData(out)
    } else {
      // < k tokens: one shingle = xxhash64 of the token-hash ARRAY
      // (Spark hashes an array by folding elements into the seed)
      var acc = Seed
      i = 0
      while (i < n) { acc = XXH64.hashLong(th(i), acc); i += 1 }
      new GenericArrayData(Array(acc))
    }
  }
}
