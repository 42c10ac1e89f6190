package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression applying a trained BPE merge list to a
  * word array: each word splits to symbols and adjacent pairs merge in
  * rank order (lowest-rank pair first — the standard greedy BPE apply),
  * subwords flattened in document order.
  *
  * The merge table rides along as a plain constructor parameter and
  * reaches generated code via a codegen object reference — no join, no
  * UDF; encoding stays a narrow whole-stage-codegen projection whatever
  * the vocabulary size. Symbols are UTF-16 code units (identical to the
  * trainer's `word.map(_.toString)` split), so train and apply agree on
  * every input including astral-plane text.
  *
  * Null words are skipped; an empty array encodes to an empty array; a
  * null array stays null. */
case class BpeEncode(child: Expression, merges: Seq[Seq[String]])
    extends UnaryExpression {
  require(merges.forall(_.length == 2), "each merge must be [left, right]")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_encode needs array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_encode"

  @transient private lazy val ranks: java.util.HashMap[(String, String), Integer] = {
    val m = new java.util.HashMap[(String, String), Integer]()
    merges.zipWithIndex.foreach { case (p, i) =>
      m.putIfAbsent((p(0), p(1)), Integer.valueOf(i))
    }
    m
  }

  /** Greedy rank-order BPE of one word. */
  def bpeWord(word: String, out: java.util.ArrayList[UTF8String]): Unit = {
    if (word.isEmpty) return
    val syms = new java.util.ArrayList[String](word.length)
    var i = 0
    while (i < word.length) { syms.add(String.valueOf(word.charAt(i))); i += 1 }
    var done = syms.size < 2
    while (!done) {
      var bestRank = Int.MaxValue
      var bestAt = -1
      i = 0
      while (i < syms.size - 1) {
        val r = ranks.get((syms.get(i), syms.get(i + 1)))
        if (r != null && r < bestRank) { bestRank = r; bestAt = i }
        i += 1
      }
      if (bestAt < 0) done = true
      else {
        syms.set(bestAt, syms.get(bestAt) + syms.get(bestAt + 1))
        syms.remove(bestAt + 1)
        if (syms.size < 2) done = true
      }
    }
    i = 0
    while (i < syms.size) { out.add(UTF8String.fromString(syms.get(i))); i += 1 }
  }

  def apply(toks: ArrayData): ArrayData = {
    val out = new java.util.ArrayList[UTF8String]()
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) bpeWord(toks.getUTF8String(i).toString, out)
      i += 1
    }
    new GenericArrayData(out.toArray(new Array[UTF8String](out.size())))
  }

  override def nullSafeEval(input: Any): Any =
    apply(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpe", this, classOf[BpeEncode].getName)
    defineCodeGen(ctx, ev, c => s"$ref.apply($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)
}
