package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, functions => F}

/** End-to-end training-corpus curation: the canonical composition of the
  * pipeline stages a pretraining data run applies before tokenization —
  *
  *   0. (optional) URL domain-blocklist gate
  *      ([[TextAnalysis.filterByDomainBlocklist]]) — the cheapest
  *      filter runs first, before any text is even inspected;
  *   1. (optional) HTML main-content extraction
  *      ([[TextAnalysis.htmlText]]) — narrow, shuffle-free, so raw
  *      crawl pages feed the same pipeline as plain text;
  *   2. quality + language (+ optional mojibake, compression-ratio,
  *      bigram-perplexity) gate ([[TextAnalysis.qualityScore]],
  *      [[TextAnalysis.langId]], [[TextAnalysis.mojibakeRatio]],
  *      [[TextAnalysis.compressionRatio]], [[Relevance.bigramNllCol]])
  *      — narrow, shuffle-free, one scan stage, quality and language on
  *      one native signals pass (the perplexity model fit runs two
  *      aggregate jobs at plan-build time, over the rows that survive
  *      the gates BEFORE it);
  *   2½. (optional) trained-classifier gate ([[Classifier.score]] over
  *      caller-supplied feature columns — narrow, same scan stage) and
  *      (optional) INCREMENTAL dedup against a stored corpus
  *      ([[Dedup.dedupAgainstSeen]] — bloom-prefiltered, bit-exact), so
  *      a daily run keeps only what the corpus doesn't have;
  *   3. exact dedup keeping the smallest id ([[Dedup.exactDedup]] over an
  *      md5 digest, so the one shuffle keys on 32 hex chars, never the
  *      document body);
  *   4. (optional) FUZZY near-dup removal ([[Dedup.minhashDedupPairs]]
  *      at a Jaccard threshold → [[Dedup.dedupGroups]] connected
  *      components → keep each group's min id) — what a real
  *      pretraining run does after exact dedup;
  *   5. (optional) SEMANTIC near-dup removal: hashing-trick TF-IDF
  *      embeddings ([[Relevance.tfidfEmbedding]]) →
  *      [[Dedup.semanticDedup]] (integer k-means clusters, capped
  *      within-cluster cosine, keep-min-id) — the SemDeDup stage that
  *      catches paraphrases sharing no shingles;
  *   6. benchmark decontamination ([[Dedup.contamination]] 13-gram
  *      overlap: the benchmark's shingle set is fetched once and each
  *      row probes it in place — a filter, not a join);
  *   7. context-window chunking ([[TextAnalysis.chunk]]) — narrow.
  *
  * One composed plan: Catalyst sees the whole flow, so the URL/quality/
  * lang filters are evaluated in the first scan stage and only survivors
  * reach the dedup shuffle. Total cost at any scale = one digest-keyed
  * shuffle + one job that fetches the benchmark's shingle hashes, while
  * the plan is built (+ with the fuzzy stage: one capped
  * posting-list shuffle, the verify join, and the O(log n)
  * pointer-doubling rounds over just the PAIRS; + with the semantic
  * stage: the k-means iterations over TF-IDF vectors of the survivors —
  * each a narrow assignment plus one (cluster, pos) aggregate — and the
  * capped within-cluster verify join); everything else stays in the
  * scan's whole-stage-codegen span.
  *
  * Stage ORDER is part of the contract (and of the `q_curate` /
  * `q_curate_fuzzy` oracles): dedup sees only gate survivors, the fuzzy
  * stage only exact-dedup survivors, the semantic stage only fuzzy
  * survivors, contamination only semantic survivors, and the benchmark
  * side is the caller's frame, unfiltered. Every stage is
  * deterministic, so the composition is too (the fuzzy and semantic
  * stages' verification components are each oracle-checked standalone:
  * q_dedup_minhash/q_dedup_groups, q_tfidf/q_kmeans/q_semantic_dedup).
  */
object Curation {

  /** The text gate of every curation path: mojibake ceiling, `extra`,
    * [[TextAnalysis.qualityScore]] floor, [[TextAnalysis.langId]] set.
    * A one-element explode binds the signals pass once per row: Spark's
    * codegen'd Filter shares no common subexpressions and would re-run
    * it for each of the gate's 17 field reads (3–4× the gate's time),
    * and it can be pushed through a Project but not below a Generate it
    * reads from. */
  private def textGate(df: DataFrame, text: String, minQuality: Double, langs: Seq[String],
      maxMojibake: Option[Double], extra: Column = F.lit(true)): DataFrame = {
    val encodingOk = maxMojibake match {
      case Some(m) => TextAnalysis.mojibakeRatio(F.col(text)) <= m
      case None => F.lit(true)
    }
    val s = F.col("__sig")
    df.withColumn("__sig", F.explode(F.array(TextAnalysis.signals(F.col(text)))))
      .where(encodingOk && extra && TextAnalysis.qualityOf(s) >= minQuality &&
        TextAnalysis.langOf(s).isInCollection(langs))
      .drop("__sig")
  }

  /** Curate `docs` into training chunks. Returns
    * (id, chunk_id, chunk_text, n_chunk_tokens) for the surviving corpus.
    *
    * @param minQuality  keep docs with [[TextAnalysis.qualityScore]] ≥ this
    *                    (the score is rounded to 6 decimals on both the
    *                    engine and oracle side, so the comparison is exact)
    * @param langs       keep docs whose [[TextAnalysis.langId]] is in this set
    * @param benchmark   optional (frame, textCol) to decontaminate against;
    *                    docs sharing ≥1 `contaminationK`-gram are dropped
    * @param htmlInput   when true, the text column holds raw HTML and is
    *                    run through [[TextAnalysis.htmlText]] first — every
    *                    later stage (gate, digest, shingles, chunking)
    *                    sees the extracted text
    * @param maxMojibake when set, drop docs whose
    *                    [[TextAnalysis.mojibakeRatio]] exceeds it (the
    *                    standard crawl encoding filter; stays in the
    *                    same narrow scan stage as the quality gate)
    * @param nearDupJaccard when set, remove FUZZY near-duplicates after
    *                    exact dedup: MinHash-LSH candidate pairs at this
    *                    Jaccard threshold (`nearDupK`-token shingles)
    *                    collapse into connected components and only each
    *                    group's smallest id survives
    * @param nearDupK    shingle width for the fuzzy stage
    * @param urlBlocklist optional (urlColumn, blockedDomains): drop rows
    *                    whose URL host is a blocked domain or a
    *                    subdomain of one, before any text gate runs
    * @param minCompressionRatio when set, drop docs whose
    *                    [[TextAnalysis.compressionRatio]] is below it —
    *                    the Gopher-family long-period-boilerplate gate
    *                    (empty docs have a null ratio and are dropped)
    * @param maxBigramNll when set, drop docs whose
    *                    [[Relevance.bigramNllCol]] exceeds it (word-salad
    *                    gate); the count tables fit on the rows surviving
    *                    the gates above, mirroring CCNet's fit-on-clean
    * @param semanticCosine when set, remove SEMANTIC near-duplicates
    *                    after the fuzzy stage: TF-IDF embeddings at
    *                    `semanticDim` → integer k-means (`semanticK`
    *                    clusters) → capped within-cluster cosine at this
    *                    threshold → keep each component's min id
    * @param classifierGate when set, (model, features, minScore): gate
    *                    on a trained [[Classifier]] score — features
    *                    are named columns computed from the row (narrow,
    *                    evaluated in the same scan stage as the other
    *                    gates, then dropped); rows scoring below
    *                    minScore are dropped. Runs after the heuristic
    *                    gates, before the perplexity fit.
    * @param normalize   when true, run [[TextAnalysis.normalizeText]]
    *                    (NFC + whitespace canonicalization) over the
    *                    text before any gate or digest, so byte-level
    *                    variants of one document share a dedup digest;
    *                    applies after HTML extraction, in the same
    *                    narrow scan stage
    * @param seenCorpus  when set, (frame, textColumn): INCREMENTAL
    *                    curation — rows whose text already occurs in
    *                    this stored corpus are dropped via
    *                    [[Dedup.dedupAgainstSeen]] (bloom-prefiltered,
    *                    bit-exact) before the within-batch exact dedup,
    *                    so a daily crawl run only keeps what the corpus
    *                    doesn't have yet
    */
  def curate(docs: DataFrame, id: String, text: String,
      minQuality: Double = 0.5,
      langs: Seq[String] = Seq("en"),
      benchmark: Option[(DataFrame, String)] = None,
      contaminationK: Int = 13,
      chunkSize: Int = 64, chunkStride: Int = 48,
      htmlInput: Boolean = false,
      maxMojibake: Option[Double] = None,
      nearDupJaccard: Option[Double] = None,
      nearDupK: Int = 3,
      urlBlocklist: Option[(String, Seq[String])] = None,
      minCompressionRatio: Option[Double] = None,
      maxBigramNll: Option[Double] = None,
      semanticCosine: Option[Double] = None,
      semanticDim: Int = 64, semanticK: Int = 16,
      classifierGate: Option[(Classifier.LogisticModel, Map[String, Column], Double)] = None,
      seenCorpus: Option[(DataFrame, String)] = None,
      normalize: Boolean = false): DataFrame = {
    require(!docs.columns.contains("__digest") && !docs.columns.contains("__sig"),
      "docs must not contain the internal marker columns __digest/__sig")
    val urlGated = urlBlocklist match {
      case Some((urlCol, blocked)) =>
        TextAnalysis.filterByDomainBlocklist(docs, urlCol, blocked)
      case None => docs
    }
    val extracted =
      if (htmlInput)
        urlGated.withColumn(text, TextAnalysis.htmlText(F.col(text)))
      else urlGated
    val input =
      if (normalize)
        extracted.withColumn(text, TextAnalysis.normalizeText(F.col(text)))
      else extracted
    val compressionOk = minCompressionRatio match {
      case Some(t) => TextAnalysis.compressionRatio(F.col(text)) >= t
      case None => F.lit(true)
    }
    val gated = textGate(input, text, minQuality, langs, maxMojibake, compressionOk)
    val classified = classifierGate match {
      case Some((model, feats, minScore)) =>
        val withF = feats.foldLeft(gated) {
          case (df, (n, c)) => df.withColumn(n, c)
        }
        withF.where(Classifier.score(model) >= minScore)
          .drop(feats.keys.toSeq: _*)
      case None => gated
    }
    val perplexityGated = maxBigramNll match {
      case Some(t) =>
        classified.where(Relevance.bigramNllCol(classified, text) <= t)
      case None => classified
    }
    val incremental = seenCorpus match {
      case Some((seen, seenText)) =>
        Dedup.dedupAgainstSeen(perplexityGated,
          seen.select(F.col(seenText).as(text)), text)
      case None => perplexityGated
    }
    val deduped = Dedup
      .exactDedup(incremental.withColumn("__digest", F.md5(F.col(text))),
        id, "__digest")
      .drop("__digest")
    val fuzzy = nearDupJaccard match {
      case Some(t) =>
        // near-dup groups among the exact-dedup survivors; each group's
        // min id is the keeper
        Dedup.dropGroupNonMins(deduped, id,
          Dedup.minhashDedupPairs(deduped, id, text, threshold = t, k = nearDupK))
      case None => deduped
    }
    val semantic = semanticCosine match {
      case Some(t) =>
        val emb = Relevance.tfidfEmbedding(fuzzy, id, text, semanticDim)
        val keepers = Dedup.semanticDedup(emb, id, "tfidf",
          k = semanticK, threshold = t)
          .select(F.col(id))
        fuzzy.join(keepers, Seq(id), "left_semi")
      case None => fuzzy
    }
    val clean = benchmark match {
      case Some((bench, btext)) =>
        // the rows Dedup.contamination would not flag, probed in place
        semantic.where(F.coalesce(
          Dedup.contaminationHits(F.col(text), bench, btext, contaminationK),
          F.lit(0L)) < 1)
      case None => semantic
    }
    TextAnalysis.chunk(clean, id, text, chunkSize, chunkStride)
  }

  /** Multimodal curation: rows carrying BOTH a text and an image
    * column (the LAION/web-crawl pair shape) gated and deduplicated
    * across both modalities —
    *
    *   text gates (quality, language, optional mojibake)
    *   → image triage ([[Multimodal.imageHash]] non-null = decodable
    *     and at least hash-grid sized; tracking pixels and corrupt
    *     blobs drop here)
    *   → exact TEXT dedup (md5 digest, keep min id)
    *   → perceptual IMAGE dedup ([[Dedup.imageDedup]] — re-encoded or
    *     lightly edited copies of a kept image collapse too).
    *
    * Returns the surviving rows with their original columns. Stage
    * order matters and mirrors a real pair-corpus run: cheap narrow
    * gates first, then the digest shuffle, then the banded image pass
    * over the (smaller) survivors. */
  def curateMultimodal(docs: DataFrame, id: String, text: String,
      media: String, minQuality: Double = 0.5,
      langs: Seq[String] = Seq("en"),
      maxMojibake: Option[Double] = None,
      imageHashKind: String = "dhash",
      imageMaxBits: Int = 3, maxBucket: Int = 256): DataFrame = {
    require(Seq("__digest", "__sh", "__sig").forall(c => !docs.columns.contains(c)),
      "docs must not contain the internal marker columns __digest/__sh/__sig")
    // decode+hash each image ONCE: the triage gate filters on the hash
    // and the banded dedup pass reuses the same column — the decode is
    // the dominant per-row cost on a pair corpus
    val hashed = docs.withColumn("__sh",
      Multimodal.imageHash(F.col(media), imageHashKind))
    val gated = textGate(hashed, text, minQuality, langs, maxMojibake)
      .where(F.col("__sh").isNotNull)
    // the survivor set feeds BOTH the pair pass and the final
    // anti-join; checkpoint it so the decode+gate stages run once, not
    // once per consumer
    val textDeduped = Dedup
      .exactDedup(gated.withColumn("__digest", F.md5(F.col(text))),
        id, "__digest")
      .drop("__digest")
      .localCheckpoint(false)
    val pairs = Dedup.hammingNearDupPairs(
      textDeduped.select(F.col(id).as("rid"), F.col("__sh").as("sh")),
      imageMaxBits, maxBucket)
    Dedup.dropGroupNonMins(textDeduped, id, pairs).drop("__sh")
  }

  /** Streaming twin of [[curate]] for continuous ingestion (a crawl
    * feed curated as it lands instead of in nightly batches): the same
    * NARROW gate stages — optional HTML extraction, mojibake, quality,
    * language — run unchanged on an unbounded stream (they're
    * projections/filters, valid in append mode), exact dedup becomes
    * `dropDuplicatesWithinWatermark` on the md5 digest (state bounded
    * to digests newer than the horizon — the streaming twin of the
    * digest-keyed shuffle), and chunking stays a narrow generate.
    *
    * Contract differences vs batch, both inherent to streaming:
    * duplicates keep the FIRST ARRIVAL (not the min id — a stream
    * can't see the future), and a duplicate arriving after the
    * watermark horizon passes is kept (the standard bounded-state
    * tradeoff; size `watermark` to the feed's reordering window).
    * Stages that need the whole corpus at once (fuzzy/semantic dedup,
    * the perplexity fit) stay batch-side — run them on the stored
    * output as a compaction pass.
    *
    * `docs` must be a streaming frame with an event-time column
    * `tsCol`. Returns streaming (id, chunk_id, chunk_text,
    * n_chunk_tokens), append-mode ready. */
  def curateStream(docs: DataFrame, id: String, text: String,
      tsCol: String = "ts", watermark: String = "1 hour",
      minQuality: Double = 0.5,
      langs: Seq[String] = Seq("en"),
      chunkSize: Int = 64, chunkStride: Int = 48,
      htmlInput: Boolean = false,
      maxMojibake: Option[Double] = None,
      normalize: Boolean = false): DataFrame = {
    require(docs.isStreaming, "curateStream needs a streaming frame; " +
      "use curate for batch input")
    require(!docs.columns.contains("__digest") && !docs.columns.contains("__sig"),
      "docs must not contain the internal marker columns __digest/__sig")
    val extracted =
      if (htmlInput) docs.withColumn(text, TextAnalysis.htmlText(F.col(text)))
      else docs
    // same batch-side stage order: extract → normalize → gates → digest,
    // all narrow projections, valid in append mode
    val input =
      if (normalize)
        extracted.withColumn(text, TextAnalysis.normalizeText(F.col(text)))
      else extracted
    val gated = textGate(input, text, minQuality, langs, maxMojibake)
    val deduped = gated.withColumn("__digest", F.md5(F.col(text)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__digest")
      .drop("__digest")
    TextAnalysis.chunk(deduped, id, text, chunkSize, chunkStride)
  }
}
