package graft

import scala.util.Random
import org.apache.spark.sql.{DataFrame, functions => F}
import graft.pipeline.Dedup

/** `Dedup.contamination` probes each corpus row against the benchmark's
  * shingle set in place; its (rid, hits) rows must equal the relational
  * reference form (explode, broadcast semi-join, per-document count) on
  * every input: seeded corpora, several shingle widths and hit floors,
  * NULL, empty and shorter-than-k texts on both sides, repeated
  * benchmark documents and an empty benchmark. */
class ContaminationSpec extends SparkSpec {
  import spark.implicits._

  /** A seeded corpus over a small vocabulary (so short shingles collide
    * often) plus NULL, empty, shorter-than-k and doubly spaced texts, and
    * a benchmark of spans copied out of it — three of them twice — with
    * its own NULL, empty and short texts. */
  private def fixture(seed: Int): (DataFrame, DataFrame) = {
    val rnd = new Random(seed)
    def words(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(40)}").mkString(" ")
    val texts = Seq.fill(150)(Some(words(4 + rnd.nextInt(40)))) ++
      Seq(None, Some(""), Some("w1"), Some("w1 w2"), Some("w1  w2   w3"), Some(" "))
    // checkpointed, so the probe runs in generated code, not folded into
    // a local relation by the optimizer
    val corpus = texts.zipWithIndex.map { case (t, i) => (i.toLong * 3 + 7, t) }
      .toDF("doc_id", "text").localCheckpoint()
    val spans = texts.take(40).flatten.map { t =>
      val toks = t.split(" ")
      val from = rnd.nextInt(toks.length)
      toks.slice(from, from + 5 + rnd.nextInt(20)).mkString(" ")
    }
    val bench = (spans ++ spans.take(3) ++ Seq.fill(5)(words(15)))
      .map(Option(_)) ++ Seq(None, Some(""), Some("w1 w2"), Some("w1"))
    (corpus, bench.toDF("text"))
  }

  private def rows(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def same(corpus: DataFrame, bench: DataFrame, k: Int, minHits: Int,
      what: String): Set[(Long, Long)] = {
    val got = Dedup.contamination(corpus, "doc_id", "text", bench, "text",
      k = k, minHits = minHits)
    val want = ComposedForms.contamination(corpus, "doc_id", "text", bench,
      "text", k = k, minHits = minHits)
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      want.schema.map(f => (f.name, f.dataType)), what)
    val w = rows(want)
    assert(rows(got) == w, what)
    w
  }

  test("equals the relational form on seeded corpora, k in {3, 5, 13}, minHits in {1, 2, 3}") {
    for (seed <- Seq(5, 29); k <- Seq(3, 5, 13); minHits <- Seq(1, 2, 3)) {
      val (corpus, bench) = fixture(seed)
      val flagged = same(corpus, bench, k, minHits, s"seed $seed, k $k, minHits $minHits")
      if (minHits == 1) assert(flagged.size >= 10, s"seed $seed, k $k: the planted spans")
    }
  }

  test("NULL, empty and shorter-than-k texts hash as the relational form") {
    val (corpus, bench) = fixture(11)
    val edge = corpus.where(F.col("doc_id") >= 150 * 3 + 7)
    // the same rows as a local relation: the optimizer evaluates the
    // probe there, through the interpreted path
    val local = edge.collect().map(r => (r.getLong(0), Option(r.getString(1))))
      .toSeq.toDF("doc_id", "text")
    for (k <- Seq(3, 5, 13); df <- Seq(edge, local)) {
      val flagged = same(df, bench, k, 1, s"k $k").map(_._1)
      // the empty and all-space texts (docs 460, 472) match the
      // benchmark's empty text, "w1" and "w1 w2" (463, 466) their twins;
      // the NULL text (457) is never flagged
      assert(Set(460L, 463L, 466L, 472L).subsetOf(flagged), s"k $k: $flagged")
      assert(!flagged.contains(457L), s"k $k: $flagged")
    }
  }

  test("an empty benchmark, or one of NULL texts only, flags nothing") {
    val (corpus, bench) = fixture(3)
    for (b <- Seq(bench.limit(0), Seq(Option.empty[String]).toDF("text")))
      assert(same(corpus, b, 3, 1, "empty benchmark").isEmpty)
  }

  test("the sf0.001 documents against every 20th of them") {
    val docs = Tables.read(spark, TestSpark.sf0001, "documents")
    val bench = docs.where(F.col("doc_id") % 20 === 0)
    for (k <- Seq(5, 13); minHits <- Seq(1, 3))
      assert(same(docs, bench, k, minHits, s"k $k, minHits $minHits").nonEmpty)
  }

  test("the probe is one narrow projection: no join, no exchange") {
    val (corpus, bench) = fixture(5)
    val plan = Dedup.contamination(corpus, "doc_id", "text", bench, "text", k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("sorted_set_hits"), plan)
    assert(!plan.contains("Exchange") && !plan.contains("Join") &&
      !plan.contains("Generate"), plan)
  }
}
