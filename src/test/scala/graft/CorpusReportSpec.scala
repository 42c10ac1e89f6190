package graft

import org.apache.spark.sql.{functions => F}

import graft.pipeline.TextAnalysis

/** Corpus analytics report ([[TextAnalysis.corpusReport]]): exact
  * hand-computed values on a tiny corpus, metric completeness, and
  * partitioning invariance (the aggregation is order-independent by
  * construction). */
class CorpusReportSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the cat sat on the mat"),     // 6 tokens, 22 chars
    (2L, "the cat sat on the mat"),     // exact dup of 1
    (3L, "a completely different doc"), // 4 tokens, 26 chars
    (4L, ""),                           // empty
    (5L, "one two three four five six seven eight") // 8 tokens
  ).toDF("doc_id", "text")

  private def report(df: org.apache.spark.sql.DataFrame): Map[String, Double] =
    TextAnalysis.corpusReport(df, "text")
      .as[(String, Double)].collect().toMap

  test("hand-computed values on a tiny corpus") {
    val r = report(docs)
    assert(r("n_docs") == 5.0)
    assert(r("n_empty") == 1.0)
    assert(r("total_tokens") == 6 + 6 + 4 + 0 + 8)
    assert(r("total_chars") == 22 + 22 + 26 + 0 + 39)
    assert(r("avg_doc_tokens") == 4.8)
    // sorted token counts: 0 4 6 6 8 -> median 6, p90 = 6 + 0.6*(8-6)
    assert(r("median_doc_tokens") == 6.0)
    assert(math.abs(r("p90_doc_tokens") - 7.2) < 1e-9)
    assert(r("distinct_docs") == 4.0)
    assert(r("dup_rate") == 0.2)
    // mean of the per-doc qualityScore values, recomputed directly
    val expectedQ = docs.select(F.round(
        TextAnalysis.qualityScore(F.col("text")) * 1000000).cast("long"))
      .as[Long].collect().sum / (5 * 1000000.0)
    assert(math.abs(r("avg_quality") -
      BigDecimal(expectedQ).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("all ten metrics appear exactly once") {
    val ms = TextAnalysis.corpusReport(docs, "text")
      .select("metric").as[String].collect().toSeq
    assert(ms.size == 10 && ms.distinct.size == 10)
    assert(ms.toSet == Set("n_docs", "n_empty", "total_tokens",
      "total_chars", "avg_doc_tokens", "median_doc_tokens",
      "p90_doc_tokens", "distinct_docs", "dup_rate", "avg_quality"))
  }

  test("plan shape: one aggregation, no join, one corpus hash exchange") {
    val plan = TextAnalysis.corpusReport(docs, "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    // the only hash exchange is count-distinct's digest regroup; the
    // rest of the fold rides partial aggregates to a single partition
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 1, plan)
  }

  test("a NULL text adds no tokens, in legacy and ANSI mode") {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.get(key)
    for (ansi <- Seq(false, true)) {
      spark.conf.set(key, ansi.toString)
      try {
        val df = Seq((1L, "one two three"), (2L, null: String))
          .toDF("doc_id", "text")
        val r = report(df)
        assert(r("total_tokens") == 3.0, s"ansi=$ansi: $r")
        assert(r("median_doc_tokens") == 3.0, s"ansi=$ansi: $r")
        assert(r("p90_doc_tokens") == 3.0, s"ansi=$ansi: $r")
        assert(r("n_docs") == 2.0, s"ansi=$ansi: $r")
        val bpe = df.select(TextAnalysis.bpeTokenCount(F.col("text")))
          .collect().map(row => Option(row.get(0)))
        assert(bpe.toSeq == Seq(Some(3), None), s"ansi=$ansi")
      } finally spark.conf.set(key, before)
    }
  }

  test("identical report under any input partitioning") {
    val a = report(docs)
    val b = report(docs.repartition(7))
    val c = report(docs.orderBy(F.col("doc_id").desc))
    assert(a == b)
    assert(a == c)
  }
}
