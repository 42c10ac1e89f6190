package graft

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate}

import graft.expressions.{ColumnBridge, TextSignals}
import graft.pipeline.{Curation, TextAnalysis}

/** The native text-signals pass ([[graft.expressions.TextSignals]]):
  * every signal built on it equals its `functions._` composition
  * ([[ComposedForms]]) on edge inputs, random text and the sf0.01
  * documents, in ANSI and legacy mode; and the curation gate's
  * optimized plan re-splits nothing. */
class TextSignalsSpec extends SparkSpec {
  import spark.implicits._

  private val signals: Seq[(String, Column => Column, Column => Column)] = Seq(
    ("tokenCount", TextAnalysis.tokenCount, ComposedForms.tokenCount),
    ("avgWordLen", TextAnalysis.avgWordLen, ComposedForms.avgWordLen),
    ("stopwordRatio", TextAnalysis.stopwordRatio(_), ComposedForms.stopwordRatio(_)),
    ("stopwordRatio(de)",
      TextAnalysis.stopwordRatio(_, Seq("der", "die", "das", "FÜR")),
      ComposedForms.stopwordRatio(_, Seq("der", "die", "das", "FÜR"))),
    ("punctRatio", TextAnalysis.punctRatio, ComposedForms.punctRatio),
    ("qualityScore", TextAnalysis.qualityScore, ComposedForms.qualityScore),
    ("langId", TextAnalysis.langId, ComposedForms.langId(_)))

  /** Each (signal, text) whose native and composed values differ. */
  private def mismatches(docs: DataFrame): Seq[String] = {
    val t = F.col("text")
    val cols = signals.flatMap { case (_, native, composed) =>
      Seq(native(t), composed(t)) }
    docs.select(t +: cols: _*).collect().toSeq.flatMap { r =>
      signals.indices.collect {
        case i if r.get(1 + 2 * i) != r.get(2 + 2 * i) =>
          s"${signals(i)._1}(${Option(r.getString(0)).map(_.take(60))}): " +
            s"native ${r.get(1 + 2 * i)}, composed ${r.get(2 + 2 * i)}"
      }
    }
  }

  private def withAnsi[T](ansi: Boolean)(body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, ansi.toString)
    try body finally spark.conf.set(key, before)
  }

  private val edgeCases: Seq[String] = Seq(
    "",
    " ",
    "      ",
    null,
    "one",
    "  leading, trailing and  double  spaces  ",
    "tabs\tinside tokens\tand\nnewlines\nin them, the\tend",
    "Der Hund und DER Baum FÜR die Katze ist nicht für das Haus",
    "İstanbul İ the İ and ıi",
    "LE chat et LA souris pour une maison avec Le jardin dans LES arbres",
    "El perro y LA casa para una con los árboles POR el río",
    "emoji 😀 and the surrogate 𝔘𝔫𝔦 pairs 🎉🎉 in it",
    "!!! ... ??? ,,, ;;; --- ***",
    "....",
    "the der le el",                   // four-way profile tie → en
    "der le",                          // de/fr tie → de
    "le el",                           // fr/es tie → fr
    "la",                              // fr and es both list "la" → fr
    "THE AND OF TO In Is",
    "ÀÉÎÕÜ ÆØÅ ß ẞ ǅ ǈ Ω ω Σ ς",
    "a" * 300,
    ("the quick brown fox jumps over the lazy dog " * 12).trim,
    "mixed nbsp em-space the　ideographic and")

  test("every signal equals its composition on the edge cases, ANSI and legacy") {
    for (ansi <- Seq(false, true)) withAnsi(ansi) {
      val docs = edgeCases.toDF("text")
      val bad = mismatches(docs)
      assert(bad.isEmpty, s"ansi=$ansi:\n" + bad.mkString("\n"))
    }
  }

  test("a NULL text gives NULL tokens in both modes, 0.75, und") {
    for (ansi <- Seq(false, true)) withAnsi(ansi) {
      val r = Seq(null: String).toDF("text").select(
        TextAnalysis.tokenCount(F.col("text")),
        TextAnalysis.qualityScore(F.col("text")),
        TextAnalysis.langId(F.col("text"))).head()
      assert(r.isNullAt(0), s"ansi=$ansi: $r")
      assert(r.getDouble(1) == 0.75 && r.getString(2) == "und", s"ansi=$ansi: $r")
    }
  }

  test("every signal equals its composition on random text") {
    val pool = (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')).map(_.toString) ++
      Seq(" ", " ", " ", " ", "\t", "\n", ".", ",", "!", "-", "'", "Ü", "ß",
        "İ", "é", "Σ", "😀", "𝔘", " ", "the ", " and ", "DER ", " für ",
        " La ", " el ", " ES ", " pour ")
    val rnd = new scala.util.Random(8)
    val docs = Seq.fill(400)(
      Seq.fill(rnd.nextInt(80))(pool(rnd.nextInt(pool.size))).mkString)
    val bad = mismatches(docs.toDF("text"))
    assert(bad.isEmpty, bad.take(20).mkString("\n"))
  }

  /** The sf0.01 documents, next to the sf0.001 tables (TESTDATA.md). */
  private def sf001Docs: DataFrame = spark.read.parquet(new java.io.File(
    new java.io.File(TestSpark.sf0001).getParentFile, "sf0.01/documents.parquet").getPath)

  test("every signal equals its composition on the sf0.01 documents") {
    val docs = sf001Docs
    assert(docs.count() > 0)
    val bad = mismatches(docs.select("text"))
    assert(bad.isEmpty, bad.take(20).mkString("\n"))
  }

  test("language profiles tie to the first listed; no hit is und") {
    val profiles = Seq("x" -> Seq("aa", "bb"), "y" -> Seq("bb", "cc"),
      "z" -> Seq("cc", "AA"))
    val lang = ColumnBridge.column(TextSignals(ColumnBridge.expression(F.col("text")),
      TextAnalysis.stopwordsEn, profiles)).getField("lang")
    val texts = Seq("aa cc", "cc aa", "bb", "cc", "CC dd", "AA", "dd ee", "", "   ")
    val got = texts.toDF("text")
      .select(F.col("text"), lang, ComposedForms.langId(F.col("text"), profiles))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    got.foreach { case (t, native, composed) =>
      assert(native == composed, s"'$t': native $native, composed $composed") }
    // "aa cc": x 1, y 1, z 1 → x; "bb": x and y → x; "CC dd" lowers to y;
    // "AA" lowers to "aa", which only x lists; z's "AA" never matches
    assert(got.map(_._2).toSeq ==
      Seq("x", "x", "x", "y", "y", "x", "und", "und", "und"))
  }

  private def count(e: Expression, node: Class[_]): Int = {
    var n = 0
    e.foreach(x => if (node.isInstance(x)) n += 1)
    n
  }
  private def splits(f: Filter): Int = count(f.condition, classOf[StringSplit])
  private def lambdas(f: Filter): Int = count(f.condition, classOf[LambdaFunction])

  test("the curate gate binds one signals pass; its Filter holds no split and no lambda") {
    val docs = spark.range(4).select(F.col("id").as("doc_id"),
      F.concat(F.lit("the cat is on the mat number "), F.col("id").cast("string")).as("text"))
    val plan = Curation.curate(docs, "doc_id", "text").queryExecution.optimizedPlan
    val passes = plan.collect { case p =>
      p.expressions.map(count(_, classOf[TextSignals])).sum }.sum
    assert(passes == 1, plan.treeString)
    val bound = plan.collect { case g: Generate => g }
      .filter(_.generator.exists(_.isInstanceOf[TextSignals]))
    assert(bound.size == 1, plan.treeString)
    val gates = plan.collect {
      case f: Filter if f.references.exists(bound.head.generatorOutput.contains) => f
    }
    assert(gates.size == 1, plan.treeString)
    assert(splits(gates.head) == 0 && lambdas(gates.head) == 0, gates.head.condition.sql)
    // the same gate over the composed forms re-splits the text per reference
    val t = F.col("text")
    val composed = docs.where(ComposedForms.qualityScore(t) >= 0.5 &&
        ComposedForms.langId(t).isin("en"))
      .queryExecution.optimizedPlan.collect { case f: Filter => f }
    assert(composed.map(splits).sum == 42 && composed.map(lambdas).sum > 0)
  }

  test("curate keeps the documents the composed gate keeps, after exact dedup") {
    val docs = sf001Docs
    val t = F.col("text")
    val want = docs.where(ComposedForms.qualityScore(t) >= 0.5 &&
        ComposedForms.langId(t).isin("en", "de") && ComposedForms.tokenCount(t) > 0)
      .groupBy(t).agg(F.min("doc_id")).as[(String, Long)].collect().map(_._2).toSet
    val got = Curation.curate(docs, "doc_id", "text", langs = Seq("en", "de"))
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(want.nonEmpty && got == want, s"${got.size} kept, composed ${want.size}")
  }
}
