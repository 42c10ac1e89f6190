package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the text signals behind the curation
  * gates, in ONE pass over the UTF-8 bytes: `n_chars` (code points),
  * `n_tokens`/`token_chars` (count and code points of the non-empty
  * single-space-separated tokens), `stopword_hits` (tokens in
  * `stopwords`), `punct_chars` (code points outside `[A-Za-z0-9 ]`) and
  * `lang` (the profile listing the most lower-cased tokens, ties to the
  * first, `"und"` when none hits). Tokens lower-case by `F.lower`'s own
  * `CollationSupport.Lower` call and flag (ASCII maps `A-Z` in place, as
  * both its paths do), so on valid UTF-8 each field equals its
  * `functions._` composition — whose higher-order functions Spark
  * interprets per row, and which a quality-and-language gate inlined 42
  * times. The word lists are parameters, not children. NULL → NULL. */
case class TextSignals(child: Expression, stopwords: Seq[String],
    profiles: Seq[(String, Seq[String])]) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"text_signals needs string, got ${other.catalogString}")
  }
  override def dataType: DataType = TextSignals.schema
  override def prettyName: String = "text_signals"
  override protected def stringArgs: Iterator[Any] = Iterator(child) // not the word lists

  // read where the plan is built, like `Lower`'s; the codegen'd copy carries it
  private lazy val useICU: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  @transient private lazy val stopSet = stopwords.map(UTF8String.fromString).toSet
  @transient private lazy val profileSets =
    profiles.map(_._2.map(UTF8String.fromString).toSet).toArray
  @transient private lazy val langs = profiles.map(p => UTF8String.fromString(p._1)).toArray
  // a token longer (in bytes) than every word matches none; lower-casing
  // keeps the length of an ASCII token only
  @transient private lazy val maxWord =
    (stopwords ++ profiles.flatMap(_._2)).map(_.getBytes("UTF-8").length).maxOption.getOrElse(0)

  override def nullSafeEval(input: Any): Any = apply(input.asInstanceOf[UTF8String])

  def apply(u: UTF8String): InternalRow = {
    val base = u.getBaseObject
    val off = u.getBaseOffset
    val n = u.numBytes
    val hits = new Array[Int](langs.length)
    var chars, punct, nTokens, swHits = 0
    var tokenChars = 0L
    var start = -1 // first byte of the open token, -1 between tokens
    var cps = 0
    var ascii = true
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      chars += 1
      if (b != ' ') {
        if (!TextSignals.isAlnum(b)) punct += 1
        if (start < 0) { start = i; cps = 0; ascii = true }
        cps += 1
        ascii &&= b >= 0
      } else if (start >= 0) {
        nTokens += 1
        tokenChars += cps
        swHits += token(UTF8String.fromAddress(base, off + start, i - start), ascii, hits)
        start = -1
      }
      // UTF8String's own stepping (a stray or invalid byte counts as
      // one), so `n_chars` is numChars()
      val x = b & 0xff
      i += (if (x < 0xc2 || x >= 0xf5) 1 else if (x < 0xe0) 2 else if (x < 0xf0) 3 else 4)
    }
    if (start >= 0) {
      nTokens += 1
      tokenChars += cps
      swHits += token(UTF8String.fromAddress(base, off + start, n - start), ascii, hits)
    }
    var best = -1
    for (p <- hits.indices) if (hits(p) > (if (best < 0) 0 else hits(best))) best = p
    new GenericInternalRow(Array[Any](chars, nTokens, tokenChars, swHits,
      punct, if (best < 0) TextSignals.Undetermined else langs(best)))
  }

  /** Counts one token into `hits` (per profile, lower-cased); 1 when it
    * is a stopword, else 0. */
  private def token(tok: UTF8String, ascii: Boolean, hits: Array[Int]): Int =
    if (ascii && tok.numBytes > maxWord) 0
    else {
      val lower = if (ascii) TextSignals.lowerAscii(tok)
        else CollationSupport.Lower.exec(tok, CollationFactory.UTF8_BINARY_COLLATION_ID, useICU)
      var p = 0
      while (p < hits.length) {
        if (profileSets(p).contains(lower)) hits(p) += 1
        p += 1
      }
      if (stopSet.contains(tok)) 1 else 0
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    useICU // fixed before the plan ships
    val ref = ctx.addReferenceObj("textSignals", this, classOf[TextSignals].getName)
    defineCodeGen(ctx, ev, c => s"$ref.apply($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): TextSignals =
    copy(child = newChild)
}

object TextSignals {
  val schema: StructType = StructType(
    Seq("n_chars" -> IntegerType, "n_tokens" -> IntegerType, "token_chars" -> LongType,
      "stopword_hits" -> IntegerType, "punct_chars" -> IntegerType, "lang" -> StringType)
      .map { case (name, t) => StructField(name, t, nullable = false) })

  private val Undetermined = UTF8String.fromString("und")

  private def isAlnum(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9')

  private def isUpper(b: Byte): Boolean = b >= 'A' && b <= 'Z'

  /** `A-Z` → `a-z` in a fresh buffer (never the input's); the token
    * itself when it has no upper case. */
  private def lowerAscii(tok: UTF8String): UTF8String = {
    val n = tok.numBytes
    var i = 0
    while (i < n && !isUpper(tok.getByte(i))) i += 1
    if (i == n) tok
    else UTF8String.fromBytes(Array.tabulate(n) { j =>
      val b = tok.getByte(j)
      if (isUpper(b)) (b + 32).toByte else b
    })
  }
}
