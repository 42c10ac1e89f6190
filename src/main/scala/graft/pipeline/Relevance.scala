package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.types._
import graft.sources.Sidecar
import graft.sources.Sidecar.Json

/** Corpus-statistics relevance / quality scoring for training-data
  * pipelines: Okapi BM25 keyword relevance and a smoothed unigram
  * language-model negative-log-likelihood — the standard "does this
  * document look like language / match this topic" signals a curation
  * pipeline runs between the cheap heuristics ([[TextAnalysis]]) and
  * expensive model-based scoring.
  *
  * Both operators follow the same 100-TB shape: ONE corpus-level
  * aggregate produces the (tiny) global statistics — document count,
  * average length, per-term document frequencies, top-V token counts —
  * which then broadcast back into a NARROW, codegen'd scoring pass over
  * the corpus. The scoring stage never shuffles; scoring cost is linear
  * in corpus bytes regardless of cluster size.
  *
  * Determinism: every per-document score folds over the document's
  * tokens in document order (sequential left fold), so the same input
  * always produces the bit-identical double, and a SQL oracle can
  * restate the arithmetic exactly.
  */
object Relevance {

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the standard
    * hybrid-search combiner: given several rankings of the same id
    * space (e.g. [[bm25]]/[[TextIndex.search]] lexical top-N and a
    * `Similarity` ANN top-N), each list contributes
    * `1 / (kConst + rank)` for the ids it contains and the fused score
    * is the sum. Rank is `row_number` over (score desc, id) within each
    * list, so fusion is deterministic for any input score ties; ids
    * missing from a list contribute nothing from it (the paper's
    * definition).
    *
    * Inputs are top-N lists — list-sized frames, so the per-list global
    * rank window and the id-keyed sum are small; don't feed whole-corpus
    * scores (rank the corpus first, fuse the lists). Returns (id,
    * rrf) top-`topK` by (rrf desc, id). */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, scoreCol: String,
      topK: Int, kConst: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(kConst >= 1 && topK >= 1, s"bad kConst=$kConst topK=$topK")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(F.col(scoreCol).desc, F.col(idCol))
    val contribs = rankings.zipWithIndex.map { case (r, i) =>
      r.select(F.col(idCol).as("id"), F.lit(i).as("src"),
        (F.lit(1.0) / (F.lit(kConst.toDouble) +
          F.row_number().over(w).cast("double"))).as("c"))
    }.reduce(_ unionByName _)
    // fold contributions in list order (sorted by source index), so the
    // double sum is bit-identical under any partitioning — the engine's
    // determinism bar
    contribs.groupBy("id")
      .agg(F.aggregate(
        F.array_sort(F.collect_list(F.struct(F.col("src"), F.col("c")))),
        F.lit(0.0), (acc, x) => acc + x.getField("c")).as("rrf"))
      .orderBy(F.col("rrf").desc, F.col("id"))
      .limit(topK)
  }

  /** Okapi BM25 score of each document against a fixed bag of query
    * terms (Robertson & Walker; the Lucene `(1 + (N - df + 0.5)/(df + 0.5))`
    * log-idf variant, which keeps idf positive for terms in more than
    * half the corpus).
    *
    * Plan shape: one aggregate over the corpus computes `N`, total token
    * count, and one document-frequency counter per query term — a single
    * row, map-side combined — which cross-joins back as a broadcast.
    * Scoring is then a narrow column recipe: per-term tf via
    * `size(filter(tokens, = term))`, summed in query-term order.
    *
    * Returns df's columns plus `bm25` (rounded to 6 decimals). */
  def bm25(df: DataFrame, textCol: String, query: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "bm25 needs at least one query term")
    val toks = TextAnalysis.tokens(F.col(textCol))
    val withToks = df.withColumn("__toks", toks)
      .withColumn("__dl", F.size(F.col("__toks")))
    val aggs =
      F.count(F.lit(1)).as("__n") +:
      F.sum(F.col("__dl").cast(LongType)).as("__tot") +:
      query.zipWithIndex.map { case (t, i) =>
        F.sum(F.when(F.array_contains(F.col("__toks"), t), 1L)
          .otherwise(0L)).as(s"__df_$i")
      }
    val stats = withToks.agg(aggs.head, aggs.tail: _*)
    val scored = withToks.crossJoin(F.broadcast(stats))
    val avgdl = F.col("__tot").cast(DoubleType) / F.col("__n").cast(DoubleType)
    // per-term contributions added in query order: deterministic doubles
    val score = query.zipWithIndex.map { case (t, i) =>
      val dfT = F.col(s"__df_$i").cast(DoubleType)
      val idf = F.log(F.lit(1.0) +
        (F.col("__n").cast(DoubleType) - dfT + 0.5) / (dfT + 0.5))
      val tf = F.size(F.filter(F.col("__toks"), x => x === t)).cast(DoubleType)
      val norm = tf + F.lit(k1) * (F.lit(1.0 - b) +
        F.lit(b) * F.col("__dl").cast(DoubleType) / avgdl)
      idf * (tf * (k1 + 1.0)) / norm
    }.reduceLeft(_ + _)
    scored.withColumn("bm25", F.round(score, 6))
      .select(df.columns.map(F.col) :+ F.col("bm25"): _*)
  }

  /** Per-document negative log-likelihood under an add-one-smoothed
    * unigram language model trained on the corpus itself — the classic
    * CCNet/KenLM-style "perplexity" quality gate, unigram order.
    * High `nll` marks gibberish / non-language documents; low marks
    * degenerate repetition of corpus-common tokens.
    *
    * Training is one explode + count shuffle (map-side combined), from
    * which the top-`vocabSize` tokens (count desc, token asc — fully
    * deterministic, ties included by token order) and the corpus token
    * total are taken; everything else is out-of-vocabulary with count 0.
    * `p(t) = (count(t) + 1) / (total + vocabSize + 1)`.
    *
    * The trained model is `vocabSize` (token, count) pairs — small by
    * construction — and ships to the scoring stage as a broadcast map
    * literal, so scoring is a NARROW fold over each document's tokens in
    * document order: no join, no shuffle, whole-stage codegen. This is
    * the same collect-the-tiny-model pattern as
    * [[Similarity.IvfIndex]]'s centroids.
    *
    * Returns (idCol, n_tokens, nll) with `nll` = -(1/n)·Σ ln p(tᵢ)
    * rounded to 6 decimals (0.0 for empty documents). */
  def unigramNll(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 1024): DataFrame = {
    require(vocabSize > 0)
    val counts = df
      .select(F.explode(TextAnalysis.tokens(F.col(textCol))).as("token"))
      .groupBy("token").agg(F.count(F.lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val total = counts.agg(F.sum(F.col("n")).cast(LongType)).collect()(0) match {
        case r if r.isNullAt(0) => 0L
        case r                  => r.getLong(0)
      }
      val top = counts
        .orderBy(F.col("n").desc, F.col("token"))
        .limit(vocabSize)
        .collect()
        .map(r => r.getString(0) -> r.getLong(1))
        .toMap
      val denom = (total + vocabSize + 1).toDouble
      // empty corpus → every token OOV (count 0); typedlit rejects Map()
      val cnt: Column => Column =
        if (top.isEmpty) _ => F.lit(0L)
        else { val m = F.typedlit(top); x => F.coalesce(F.element_at(m, x), F.lit(0L)) }
      val toks = TextAnalysis.tokens(F.col(textCol))
      val lpSum = F.aggregate(toks, F.lit(0.0), (acc, x) =>
        acc + F.log((cnt(x).cast(DoubleType) + 1.0) / denom))
      val n = F.size(toks)
      df.select(F.col(idCol), n.cast(LongType).as("n_tokens"),
        F.round(F.when(n > 0, -lpSum / n.cast(DoubleType)).otherwise(0.0), 6)
          .as("nll"))
    } finally counts.unpersist(blocking = false)
  }

  /** Bigram language-model NLL — the transition-aware upgrade of
    * [[unigramNll]] (a CCNet-style perplexity gate that also catches
    * word-salad documents whose unigram mix looks fine): each adjacent
    * transition (w₁ → w₂) scores
    * `ln((c₂ + 1) / (max(c₁, c₂) + vocabSize + 1))` where c₂ is the
    * bigram's corpus count (top-`bigramTop` table, else 0) and c₁ the
    * first word's unigram count (top-`vocabSize` table, else 0); the
    * `max` keeps every probability ≤ 1 when a bigram survives its
    * context's vocabulary cut. NLL = -(mean over the n-1 transitions),
    * 0.0 for docs with fewer than 2 tokens.
    *
    * Same 100-TB shape as the unigram gate: TWO corpus aggregates fit
    * the capped count tables (map-side combined; deterministic
    * (count desc, key asc) cut), collected once into map literals, and
    * scoring is a narrow in-order fold per document — no join, no
    * shuffle. Returns (idCol, n_tokens, nll rounded to 6). */
  def bigramNll(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 1024, bigramTop: Int = 4096): DataFrame = {
    val nll = bigramNllCol(df, textCol, vocabSize, bigramTop)
    df.select(F.col(idCol),
      F.size(TextAnalysis.tokens(F.col(textCol))).cast(LongType)
        .as("n_tokens"),
      nll.as("nll"))
  }

  /** The [[bigramNll]] scoring COLUMN: fits the two capped count tables
    * on `fitDf` (two aggregate jobs run here, at plan-build time) and
    * returns a narrow expression attachable to any frame sharing the
    * text column — how [[Curation.curate]] gates on perplexity without
    * a join. */
  def bigramNllCol(fitDf: DataFrame, textCol: String,
      vocabSize: Int = 1024, bigramTop: Int = 4096): Column = {
    require(vocabSize > 0 && bigramTop > 0)
    val toksOf = TextAnalysis.tokens(F.col(textCol))
    def pairsOfCol(toks: Column): Column = F.when(F.size(toks) >= 2,
      F.zip_with(
        F.slice(toks, F.lit(1), F.size(toks) - 1),
        F.slice(toks, F.lit(2), F.size(toks) - 1),
        (a, b) => F.concat(a, F.lit(" "), b)))
      .otherwise(F.array().cast(ArrayType(StringType)))
    val uniTop = fitDf
      .select(F.explode(toksOf).as("token"))
      .groupBy("token").agg(F.count(F.lit(1)).as("n"))
      .orderBy(F.col("n").desc, F.col("token"))
      .limit(vocabSize)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val biTop = fitDf
      .select(F.explode(pairsOfCol(toksOf)).as("bg"))
      .groupBy("bg").agg(F.count(F.lit(1)).as("n"))
      .orderBy(F.col("n").desc, F.col("bg"))
      .limit(bigramTop)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def lookup(top: Map[String, Long]): Column => Column =
      if (top.isEmpty) _ => F.lit(0L)
      else { val m = F.typedlit(top); x => F.coalesce(F.element_at(m, x), F.lit(0L)) }
    val uni = lookup(uniTop)
    val bi = lookup(biTop)
    val pairsOf = pairsOfCol(toksOf)
    val lpSum = F.aggregate(pairsOf, F.lit(0.0), (acc, p) => {
      val w1 = F.substring_index(p, " ", 1)
      val c2 = bi(p).cast(DoubleType)
      val c1 = F.greatest(uni(w1), bi(p)).cast(DoubleType)
      acc + F.log((c2 + 1.0) / (c1 + (vocabSize + 1).toDouble))
    })
    val n = F.size(toksOf)
    F.round(F.when(n >= 2, -lpSum / (n - 1).cast(DoubleType))
      .otherwise(0.0), 6)
  }

  /** Engine-reproducible hashed-n-gram feature bucket in [0, buckets):
    * 60-bit md5 prefix of the token — the md5-bucket recipe of
    * `TextAnalysis.deterministicSplit`, applied to tokens, so sibling
    * engines (and SQL oracles) regenerate identical features. */
  private def tokenBucket(tok: Column, buckets: Int): Column =
    F.conv(F.substring(F.md5(tok), 1, 15), 16, 10)
      .cast(LongType) % buckets

  /** DSIR importance weight (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score each corpus
    * document by the log-likelihood ratio of two hashed-unigram bucket
    * models — one fit on a small TARGET corpus (the distribution you
    * want more of), one on the source corpus itself:
    * `log w(x) = Σᵢ ln(p_target(bucket(tᵢ)) / p_source(bucket(tᵢ)))`,
    * add-half smoothed. High `dsir_logw` = looks like the target.
    *
    * Both models are `buckets` counters — two explode+count aggregates
    * (map-side combined), collected once into a per-bucket log-ratio
    * array literal — so scoring is a NARROW in-order fold over each
    * document's tokens: per token one md5 bucket + one array lookup, no
    * join, no shuffle, whole-stage codegen. Returns (idCol, n_tokens,
    * dsir_logw rounded to 6). Resample with [[dsirSample]] or feed the
    * weight to `TextAnalysis.resampleToMixture`-style gating. */
  def dsirLogWeight(corpus: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String,
      buckets: Int = 1024): DataFrame = {
    require(buckets >= 2)
    def model(df: DataFrame, col: String): (Array[Long], Long) = {
      val rows = df.select(F.explode(TextAnalysis.tokens(F.col(col))).as("tok"))
        .groupBy(tokenBucket(F.col("tok"), buckets).as("b"))
        .agg(F.count(F.lit(1)).as("n")).collect()
      val cs = new Array[Long](buckets)
      var tot = 0L
      rows.foreach { r =>
        cs(r.getLong(0).toInt) = r.getLong(1); tot += r.getLong(1) }
      (cs, tot)
    }
    val (srcCnt, srcTot) = model(corpus, textCol)
    val (tgtCnt, tgtTot) = model(target, targetTextCol)
    val half = buckets * 0.5
    val ratio: Seq[Double] = (0 until buckets).map { b =>
      math.log(((tgtCnt(b) + 0.5) / (tgtTot + half)) /
        ((srcCnt(b) + 0.5) / (srcTot + half)))
    }
    val rLit = F.typedlit(ratio)
    val toks = TextAnalysis.tokens(F.col(textCol))
    val logw = F.aggregate(toks, F.lit(0.0), (acc, x) =>
      acc + F.element_at(rLit, (tokenBucket(x, buckets) + 1).cast(IntegerType)))
    corpus.select(F.col(idCol),
      F.size(toks).cast(LongType).as("n_tokens"),
      F.round(logw, 6).as("dsir_logw"))
  }

  /** Deterministic DSIR selection: Gumbel-top-k over the importance
    * weights (sampling without replacement ∝ w, Xie et al. §2), with the
    * Gumbel noise derived from the SAME md5 bucket recipe as the
    * deterministic split — `g = -ln(-ln((h + 0.5)/10⁶))` — so the
    * selected subset is stable across runs, cluster sizes, and engines.
    * One TakeOrdered top-k, no full sort. */
  def dsirSample(corpus: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String, k: Int,
      buckets: Int = 1024, seed: Long = 0L): DataFrame = {
    val scored = dsirLogWeight(corpus, idCol, textCol, target, targetTextCol,
      buckets)
    val h = F.conv(F.substring(F.md5(F.concat(F.lit(seed.toString + ":"),
      F.col(idCol).cast(org.apache.spark.sql.types.StringType))), 1, 15), 16, 10)
      .cast(LongType) % 1000000L
    val gumbel = -F.log(-F.log((h.cast(DoubleType) + 0.5) / 1000000.0))
    scored
      .withColumn("__key", F.col("dsir_logw") + gumbel)
      .orderBy(F.col("__key").desc, F.col(idCol))
      .limit(k)
      .select(F.col(idCol), F.col("dsir_logw"))
  }

  // ------------------------------------------------ hashed TF-IDF vectors

  /** Hashing-trick TF-IDF document vector (full double precision):
    * tokens hash into `dim` md5 buckets (the pipeline's
    * engine-reproducible bucket recipe, [[graft.expressions.HashedTf]]),
    * weighted `tf · (ln((N + 1)/(df_b + 1)) + 1)` (the sklearn
    * smooth-idf variant, never zero), then L2-normalized per document —
    * the classic sparse-text twin of the dense embeddings the ANN stack
    * consumes.
    *
    * Plan shape (the 100-TB posture): document frequencies are ONE
    * explode+count aggregate over per-document DISTINCT buckets — at
    * most `dim` counters, map-side combined — collected once into an
    * idf array literal. Scoring is then a NARROW pass: one native
    * O(tokens + dim) counting loop per document plus three O(dim) HOFs
    * (idf scale, L2 fold in index order, divide); no join, no shuffle,
    * whole-stage codegen. A SQL oracle restates every weight exactly
    * (md5 buckets, integer tf, in-order L2 fold).
    *
    * Returns (idCol, `tfidf` array<double> of length dim); documents
    * with no tokens get the zero vector. [[tfidfEmbedding]] is the
    * float32 cast that feeds cosine/LSH. */
  def tfidfVector(df: DataFrame, idCol: String, textCol: String,
      dim: Int = 64): DataFrame = {
    require(dim >= 2, s"dim must be >= 2, got $dim")
    val toks = TextAnalysis.tokens(F.col(textCol))
    val n = df.count()
    val dfRows = df
      .select(F.explode(F.array_distinct(
        F.transform(toks, t => tokenBucket(t, dim)))).as("b"))
      .groupBy("b").agg(F.count(F.lit(1)).as("c")).collect()
    val dfCnt = new Array[Long](dim)
    dfRows.foreach(r => dfCnt(r.getLong(0).toInt) = r.getLong(1))
    val idf: Seq[Double] =
      (0 until dim).map(b => math.log((n + 1.0) / (dfCnt(b) + 1.0)) + 1.0)
    val idfLit = F.typedlit(idf)
    val tf = graft.expressions.ColumnBridge.column(
      graft.expressions.HashedTf(
        graft.expressions.ColumnBridge.expression(toks), dim))
    val w = F.zip_with(tf, idfLit, (t, i) => t * i)
    // L2 fold runs in bucket-index order → deterministic doubles the
    // oracle reproduces with list_sum(list(x*x ORDER BY b))
    val l2 = F.sqrt(F.aggregate(w, F.lit(0.0), (acc, x) => acc + x * x))
    // divide via zip_with against array_repeat(l2): zip_with evaluates
    // its ARRAY OPERANDS once per row and only the lambda per element.
    // `transform(w, x => x / l2)` would inline the whole l2 chain —
    // hashed_tf included — into the element lambda, re-tokenizing the
    // document dim times per row (measured 30x slower end-to-end).
    val unit = F.when(l2 > 0.0,
        F.zip_with(w, F.array_repeat(l2, dim), (x, l) => x / l))
      .otherwise(F.array_repeat(F.lit(0.0), dim))
    df.select(F.col(idCol), unit.as("tfidf"))
  }

  /** [[tfidfVector]] cast to the `array<float>` shape the ANN machinery
    * (cosine pairs, LSH/IVF top-k, kNN join) consumes. */
  def tfidfEmbedding(df: DataFrame, idCol: String, textCol: String,
      dim: Int = 64): DataFrame =
    tfidfVector(df, idCol, textCol, dim)
      .withColumn("tfidf", F.col("tfidf").cast(ArrayType(FloatType)))

  /** Persisted inverted text index — [[bm25]]'s corpus scan replaced by
    * a partition-pruned posting-list read, the text twin of the
    * `IvfIndex`/`LshIndex` save/load discipline. Build once: one
    * explode + (term, doc) aggregate into postings `(term, rid, tf,
    * dl)`, bucketed by `hash(term) mod buckets` and persisted
    * `partitionBy(__bucket)`; corpus stats (N, total tokens) ride a
    * sidecar. A query then touches ONLY its terms' buckets
    * (PartitionFilters — TextIndexSpec pins it) instead of scanning
    * and tokenizing the whole corpus per query.
    *
    * [[TextIndex.search]] reproduces [[bm25]] BIT-EXACTLY for every
    * document containing ≥ 1 query term: document frequencies come
    * from the pruned read (each term's postings are complete in its
    * bucket), idf/avgdl are computed with the same double arithmetic,
    * and per-term contributions fold in query order. Documents with no
    * query term score 0 in [[bm25]] and are absent here — top-k ranks
    * identically while k ≤ the number of matching documents. */
  final class TextIndex private[pipeline] (
      private[graft] val postings: DataFrame,
      val nDocs: Long, val totalTokens: Long, val buckets: Int) {

    /** Top-k (rid, bm25) for a bag of query terms: pruned read →
      * driver-side df/idf literals → narrow per-doc score → one
      * TakeOrderedAndProject. */
    def search(query: Seq[String], k: Int,
        k1: Double = 1.2, b: Double = 0.75): DataFrame = {
      require(query.nonEmpty, "search needs at least one query term")
      require(k >= 1, s"k must be >= 1, got $k")
      val qBuckets = query.map(TextIndex.bucketOf(_, buckets)).distinct
      // two consumers: the df collect reads ONLY the `term` column of
      // the pruned buckets (partition + column pruning make it a sliver
      // of the store), then the scoring aggregate reads the full
      // posting rows once — not a double full read
      val hits = postings
        .where(F.col("__bucket").isInCollection(qBuckets) &&
          F.col("term").isInCollection(query))
      // per-term document frequency: postings are one row per
      // (term, doc), complete inside the pruned buckets
      val dfs: Map[String, Long] = hits.groupBy("term")
        .agg(F.count(F.lit(1)).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val nD = nDocs.toDouble
      val avgdl = totalTokens.toDouble / nD
      // one row per matching doc, tf looked up per term from a map so
      // contributions can fold in QUERY order — the exact summation
      // order [[bm25]] uses
      val perDoc = hits.groupBy("rid").agg(
        F.first(F.col("dl")).as("dl"),
        F.map_from_entries(F.collect_list(
          F.struct(F.col("term"), F.col("tf")))).as("tfs"))
      val dl = F.col("dl").cast(DoubleType)
      val score = query.map { t =>
        val dfT = dfs.getOrElse(t, 0L).toDouble
        val idf = math.log(1.0 + (nD - dfT + 0.5) / (dfT + 0.5))
        val tf = F.coalesce(F.col("tfs").getItem(t), F.lit(0L))
          .cast(DoubleType)
        val norm = tf + F.lit(k1) * (F.lit(1.0 - b) +
          F.lit(b) * dl / F.lit(avgdl))
        F.lit(idf) * (tf * (k1 + 1.0)) / norm
      }.reduceLeft(_ + _)
      perDoc.select(F.col("rid"), F.round(score, 6).as("bm25"))
        .orderBy(F.col("bm25").desc, F.col("rid").asc)
        .limit(k)
    }

    /** Persist postings partitioned by term bucket + a stats sidecar. */
    def save(path: String): Unit = {
      postings.write.mode("overwrite").partitionBy("__bucket").parquet(path)
      Sidecar.save(postings.sparkSession, path, TextIndex.SIDECAR,
        "n" -> nDocs, "tot" -> totalTokens, "buckets" -> buckets)
    }
  }

  object TextIndex {
    private[pipeline] val SIDECAR = "_text_index_meta.json"

    /** The ONE term→bucket recipe build and query share. */
    private[graft] def bucketOf(term: String, buckets: Int): Long =
      Math.floorMod(
        org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          term.getBytes("UTF-8"),
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          term.getBytes("UTF-8").length, 42L),
        buckets.toLong)

    /** Build postings from a corpus: one explode + one (term, doc)
      * aggregate (map-side combined), one tiny stats aggregate. */
    def fit(df: DataFrame, id: String, text: String,
        buckets: Int = 64): TextIndex = {
      require(buckets >= 1, s"buckets must be >= 1, got $buckets")
      val toks = TextAnalysis.tokens(F.col(text))
      val withToks = df.select(F.col(id).as("rid"), toks.as("__toks"),
        F.size(toks).cast(LongType).as("dl"))
      val statsRow = withToks
        .agg(F.count(F.lit(1)), F.coalesce(F.sum("dl"), F.lit(0L))).head()
      val (n, tot) = (statsRow.getLong(0), statsRow.getLong(1))
      val postings = withToks
        .select(F.col("rid"), F.col("dl"),
          F.explode(F.col("__toks")).as("term"))
        .groupBy("term", "rid", "dl")
        .agg(F.count(F.lit(1)).cast(LongType).as("tf"))
        .withColumn("__bucket",
          F.pmod(F.xxhash64(F.col("term")), F.lit(buckets.toLong)))
      new TextIndex(postings, n, tot, buckets)
    }

    /** Reload an index persisted by [[TextIndex.save]]. */
    def load(spark: org.apache.spark.sql.SparkSession,
        path: String): TextIndex = {
      val (n, tot, buckets) =
        Sidecar.load(spark, path, SIDECAR, "a text index") { j =>
          (j.long("n"), j.long("tot"), j.int("buckets"))
        }
      new TextIndex(spark.read.parquet(path), n, tot, buckets)
    }
  }
}
