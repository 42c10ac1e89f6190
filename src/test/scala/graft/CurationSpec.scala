package graft

import org.apache.spark.sql.{functions => F}
import graft.pipeline.{Curation, TextAnalysis}

/** The composed curation flow: each stage drops exactly the rows its
  * contract says, in the documented order (gate → exact dedup →
  * decontamination → chunking). */
class CurationSpec extends SparkSpec {

  // quality ≥ 0.7 and lang 'en' need enough length + stopword ratio;
  // build texts whose gate outcome is unambiguous
  private val good =
    "the cat sat on the mat and it was happy with that state of affairs " +
      "for the rest of the day in the sun by the window with a warm blanket"
  private val short_ = "tiny"                      // len_score kills quality
  private val german =
    "der hund ist nicht mit der katze und das haus ist auf dem berg " +
      "und die sonne ist mit den wolken auf dem himmel für den tag"

  private def fixture = {
    import spark.implicits._
    Seq(
      (1L, good),            // survives
      (2L, good),            // exact dup of 1 → dropped (keep min id)
      (3L, short_),          // quality gate drops
      (4L, german),          // lang gate drops when langs = en only
      (5L, good + " extra distinct tail words here for unique content")
    ).toDF("doc_id", "text")
  }

  test("gate, dedup, and chunk compose in order") {
    val out = Curation.curate(fixture, "doc_id", "text",
      minQuality = 0.7, langs = Seq("en"), benchmark = None,
      chunkSize = 8, chunkStride = 4)
    val byDoc = out.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1 survives (not 2 — min id wins), 3 and 4 gated out, 5 survives
    assert(byDoc.keySet == Set(1L, 5L))
    // chunk arithmetic: ceil((n-8)/4)+1 windows over the token count
    val n1 = good.trim.split("\\s+").length
    assert(byDoc(1L) == ((n1 - 8 + 3) / 4) + 1)
  }

  test("widening the language set admits the German doc") {
    val out = Curation.curate(fixture, "doc_id", "text",
      minQuality = 0.7, langs = Seq("en", "de"), benchmark = None,
      chunkSize = 8, chunkStride = 4)
    assert(out.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(1L, 4L, 5L))
  }

  test("classifier gate and incremental seen-corpus stage compose in order") {
    import spark.implicits._
    import org.apache.spark.sql.{functions => F}
    // a hand-built model: margin = 4·[text contains "cat"] − 2, so the
    // score clears 0.5 only for cat documents — the German doc passes
    // the widened language gate but dies at the classifier
    val model = graft.pipeline.Classifier.LogisticModel(
      Seq("has_cat"), Seq(4000000L), -2000000L)
    val gatedOut = Curation.curate(fixture, "doc_id", "text",
      minQuality = 0.7, langs = Seq("en", "de"),
      chunkSize = 8, chunkStride = 4,
      classifierGate = Some((model,
        Map("has_cat" -> F.when(F.col("text").contains("cat"), 1.0)
          .otherwise(0.0)), 0.5)))
    assert(gatedOut.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(1L, 5L))
    // incremental: the stored corpus already holds doc 5's text → only
    // doc 1 survives; the gate feature columns never leak to the output
    val seen = Seq(Tuple1(good +
      " extra distinct tail words here for unique content")).toDF("text")
    val incOut = Curation.curate(fixture, "doc_id", "text",
      minQuality = 0.7, langs = Seq("en"),
      chunkSize = 8, chunkStride = 4,
      seenCorpus = Some((seen, "text")))
    assert(incOut.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(1L))
    assert(incOut.columns.toSet ==
      Set("doc_id", "chunk_id", "chunk_text", "n_chunk_tokens"))
  }

  test("decontamination drops docs overlapping the benchmark") {
    import spark.implicits._
    // benchmark shares a 13-gram with doc 5's tail but not doc 1
    val bench = Seq(good + " extra distinct tail words here for unique content")
      .toDF("text")
    val out = Curation.curate(fixture, "doc_id", "text",
      minQuality = 0.7, langs = Seq("en"),
      benchmark = Some((bench, "text")), contaminationK = 13,
      chunkSize = 8, chunkStride = 4)
    // doc 5 is contaminated; doc 1 is a PREFIX of the benchmark doc, so
    // its 13-grams all appear there too → both dropped... unless doc 1's
    // grams differ. They don't (prefix ⊂ benchmark grams): empty result.
    assert(out.select("doc_id").distinct().collect().isEmpty)
    // a benchmark with no overlap keeps both
    val far = Seq("completely unrelated benchmark content with none of " +
      "those words appearing anywhere in the corpus documents at all " +
      "zebra quartz fjord").toDF("text")
    val out2 = Curation.curate(fixture, "doc_id", "text",
      minQuality = 0.7, langs = Seq("en"),
      benchmark = Some((far, "text")), contaminationK = 13,
      chunkSize = 8, chunkStride = 4)
    assert(out2.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(1L, 5L))
  }

  test("the composed plan keeps the gate in the scan stage") {
    val out = Curation.curate(fixture, "doc_id", "text",
      minQuality = 0.7, langs = Seq("en"), benchmark = None)
    val plan = out.queryExecution.executedPlan.toString
    // exactly one exchange from the dedup window — the narrow stages
    // (gate, chunk) must not add shuffles of their own
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
  }

  test("decontamination adds no exchange: the corpus is gated and deduped once") {
    import spark.implicits._
    val bench = Seq(good + " extra distinct tail words here for unique content")
      .toDF("text")
    val out = Curation.curate(fixture, "doc_id", "text",
      minQuality = 0.7, langs = Seq("en"),
      benchmark = Some((bench, "text")), contaminationK = 13)
    val plan = out.queryExecution.executedPlan.toString
    // the dedup window's exchange only: the benchmark's shingle set rides
    // in the plan, so no distinct, no broadcast and no per-document count
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
    assert(!plan.contains("Broadcast") && !plan.contains("Join"), plan)
  }

  test("the encoding gate drops mojibake-damaged docs, in the same scan") {
    import spark.implicits._
    val damaged = good.replace("the cat", "donâ€™t â€œcatâ€")
    val df = fixture.union(Seq((6L, damaged)).toDF("doc_id", "text"))
    val out = Curation.curate(df, "doc_id", "text",
      minQuality = 0.7, langs = Seq("en"), benchmark = None,
      chunkSize = 8, chunkStride = 4, maxMojibake = Some(0.01))
    val plan = out.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
    assert(out.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(1L, 5L)) // 6 gated by encoding
  }

  test("fuzzy stage removes near-dups after exact dedup, keeping min id") {
    import spark.implicits._
    // doc 7 is a NEAR-dup of doc 1 (one token changed → 3-gram Jaccard
    // far above 0.8 on this length); exact dedup cannot catch it
    val near = good.replace("warm blanket", "cozy blanket")
    val df = fixture.union(Seq((7L, near)).toDF("doc_id", "text"))
    val without = Curation.curate(df, "doc_id", "text",
      minQuality = 0.7, langs = Seq("en"), benchmark = None,
      chunkSize = 8, chunkStride = 4)
    assert(without.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(1L, 5L, 7L))
    val out = Curation.curate(df, "doc_id", "text",
      minQuality = 0.7, langs = Seq("en"), benchmark = None,
      chunkSize = 8, chunkStride = 4, nearDupJaccard = Some(0.8))
    // 7 collapses into 1's group; 1 (min id) survives, 5 is unrelated
    assert(out.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(1L, 5L))
    // the stage runs AFTER exact dedup: pairs are computed among
    // dedup survivors, so the exact-dup doc 2 never feeds the LSH
    // (order contract); and the base one-exchange shape only grows by
    // the documented posting/verify/group machinery, not a full-corpus
    // self-join — pinned by the bounded candidate design in RecallSpec
  }

  test("url blocklist gate runs before any text gate") {
    import spark.implicits._
    val df = fixture.withColumn("url",
      F.when(F.col("doc_id") === 5L, F.lit("https://spam.bad.example/x"))
        .otherwise(F.concat(F.lit("https://ok.example/"), F.col("doc_id"))))
    val out = Curation.curate(df, "doc_id", "text",
      minQuality = 0.7, langs = Seq("en"), benchmark = None,
      chunkSize = 8, chunkStride = 4,
      urlBlocklist = Some(("url", Seq("bad.example"))))
    // doc 5 (good text, blocked host) is gone; the rest unchanged
    assert(out.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(1L))
    // and the URL filter stays in the one-exchange scan-stage plan
    val plan = out.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
  }

  test("compression-ratio gate drops long-period boilerplate") {
    import spark.implicits._
    // a doc whose every 12-token line repeats: quality/lang/repetition
    // at the token level can pass, deflate crushes it
    val boiler = (("the cat sat on the mat and it was happy with that " +
      "state of affairs in the day ") * 40).trim
    val df = fixture.union(Seq((9L, boiler)).toDF("doc_id", "text"))
    val without = Curation.curate(df, "doc_id", "text",
      minQuality = 0.7, langs = Seq("en"), benchmark = None,
      chunkSize = 8, chunkStride = 4)
    assert(without.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet.contains(9L))
    val out = Curation.curate(df, "doc_id", "text",
      minQuality = 0.7, langs = Seq("en"), benchmark = None,
      chunkSize = 8, chunkStride = 4, minCompressionRatio = Some(0.15))
    assert(!out.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet.contains(9L))
    assert(out.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(1L, 5L))
  }

  test("perplexity gate drops word salad the unigram mix would pass") {
    import spark.implicits._
    // salad = the good doc's words shuffled: same unigrams, wrecked
    // transitions; fit happens on the corpus so the many good copies
    // define 'normal'
    val rnd = new scala.util.Random(3)
    val salad = rnd.shuffle(good.split(" ").toSeq).mkString(" ")
    val df = (Seq((1L, good), (5L, good + " extra distinct tail words")) ++
      (20L to 40L).map(i => (i, good))).toDF("doc_id", "text")
      .union(Seq((9L, salad)).toDF("doc_id", "text"))
    // threshold from the scored gap: good docs score low, salad high
    val scored = graft.pipeline.Relevance.bigramNll(df, "doc_id", "text")
      .select("doc_id", "nll").as[(Long, Double)].collect().toMap
    assert(scored(1L) < scored(9L))
    val mid = (scored(1L) + scored(9L)) / 2
    val out = Curation.curate(df, "doc_id", "text",
      minQuality = 0.7, langs = Seq("en"), benchmark = None,
      chunkSize = 8, chunkStride = 4, maxBigramNll = Some(mid))
    val ids = out.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet
    assert(!ids.contains(9L) && ids.contains(1L))
  }

  test("semantic stage equals the manual tfidf+semanticDedup composition") {
    import spark.implicits._
    // doc 11 paraphrases doc 1 with zero shared 3-grams beyond stopword
    // runs; TF-IDF cosine still pairs them when they share vocabulary
    val para = good.split(" ").grouped(2).map(_.reverse.mkString(" "))
      .mkString(" ") // pairwise-swapped words: same bag, new shingles
    val df = fixture.union(Seq((11L, para)).toDF("doc_id", "text"))
    val manual = {
      val base = Curation.curate(df, "doc_id", "text",
        minQuality = 0.7, langs = Seq("en"), benchmark = None,
        chunkSize = 8, chunkStride = 4)
        .select("doc_id").distinct().as[Long].collect().toSet
      val survivors = df.where(F.col("doc_id").isInCollection(base.toSeq))
      val emb = graft.pipeline.Relevance.tfidfEmbedding(
        survivors, "doc_id", "text", 64)
      graft.pipeline.Dedup.semanticDedup(emb, "doc_id", "tfidf",
        k = 2, threshold = 0.9).select("doc_id").as[Long].collect().toSet
    }
    val out = Curation.curate(df, "doc_id", "text",
      minQuality = 0.7, langs = Seq("en"), benchmark = None,
      chunkSize = 8, chunkStride = 4,
      semanticCosine = Some(0.9), semanticK = 2)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(out == manual)
    assert(!out.contains(11L) && out.contains(1L)) // paraphrase collapsed
  }

  test("htmlInput extracts raw crawl pages to the same curated chunks") {
    import spark.implicits._
    // wrap every fixture text in markup (plus script noise a quality
    // gate must never see); curation over the HTML must equal curation
    // over the plain text — and stay a one-exchange plan
    val pages = fixture.select(F.col("doc_id"), F.concat(
      F.lit("<html><head><script>junk() < gate;</script></head><body><p>"),
      F.col("text"), F.lit("</p></body></html>")).as("text"))
    val fromHtml = Curation.curate(pages, "doc_id", "text",
      minQuality = 0.7, langs = Seq("en"), benchmark = None,
      chunkSize = 8, chunkStride = 4, htmlInput = true)
    val fromText = Curation.curate(fixture, "doc_id", "text",
      minQuality = 0.7, langs = Seq("en"), benchmark = None,
      chunkSize = 8, chunkStride = 4)
    // plan shape first (pre-execution — a collected AQE plan prints its
    // initial plan too, double-counting the exchange)
    val plan = fromHtml.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
    assert(fromHtml.collect().toSet == fromText.collect().toSet)
  }

  test("multimodal curation gates and dedups across both modalities") {
    import spark.implicits._
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    def img(seed: Int): Array[Byte] = {
      val cr = new scala.util.Random(seed)
      val pix = Array.fill(16 * 18 * 3)(cr.nextInt(256).toByte)
      "BM".getBytes("US-ASCII") ++ le32(54 + pix.length) ++ le32(0) ++
        le32(54) ++ le32(40) ++ le32(16) ++ le32(18) ++ le16(1) ++
        le16(24) ++ le32(0) ++ le32(pix.length) ++ le32(0) ++ le32(0) ++
        le32(0) ++ le32(0) ++ pix
    }
    val goodA = "the cat sat on the mat and it was happy with that state " +
      "of affairs for the rest of the day in the sun by the window"
    val goodB = "another long and perfectly reasonable english document " +
      "with the usual words that sail through the quality and language gates"
    val goodC = "a third long and perfectly reasonable english document " +
      "with the usual words that sail through the quality and language gates yet"
    val docs = Seq(
      (1L, goodA, img(1)),          // survives
      (2L, goodA, img(2)),          // exact text dup of 1 -> dropped
      (3L, goodB, img(1)),          // image dup of 1 -> dropped
      (4L, goodC, "junk".getBytes), // undecodable image -> triage drop
      (5L, "tiny", img(3)),         // text quality gate -> dropped
      (6L, goodC, img(4))           // survives
    ).toDF("doc_id", "text", "media")
    val kept = Curation.curateMultimodal(docs, "doc_id", "text", "media",
        minQuality = 0.7, langs = Seq("en"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 6L))
  }
}
