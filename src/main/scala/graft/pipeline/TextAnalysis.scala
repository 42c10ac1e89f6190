package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * No UDFs: `functions._` composition over a string column or a native
  * `graft.expressions` Catalyst expression; the per-row ones are linear
  * scans with no shuffle, so each scales to 100 TB as a narrow map stage.
  * Higher-order functions (as over [[tokens]]) run interpreted per row,
  * outside whole-stage codegen, so the hot curation signals are native.
  */
object TextAnalysis {

  /** Main-content text extraction from HTML — the stage a crawl corpus
    * runs before any of the operators below: drops script/style/
    * comments, strips tags (block tags break lines, cells space-
    * separate, inline tags join), decodes entities, collapses
    * whitespace ([[graft.expressions.HtmlText]] — narrow, codegen'd,
    * one pass, no parse tree). Non-HTML text passes through. */
  def htmlText(html: Column): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.HtmlText(
        graft.expressions.ColumnBridge.expression(html)))

  /** Outlink hrefs of an HTML page, in document order, raw as written
    * (entities decoded, fragment-only / `javascript:` / `mailto:` refs
    * dropped) — the extraction stage of link-graph construction
    * ([[graft.expressions.HtmlLinks]] — narrow, codegen'd, one pass).
    * Resolve against the page URL with [[resolveUrl]]. */
  def htmlLinks(html: Column, skipNofollow: Boolean = false): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.HtmlLinks(
        graft.expressions.ColumnBridge.expression(html), skipNofollow))

  /** The page's `<base href>` (first one wins, as browsers do), or
    * NULL — the resolution base override [[resolveUrl]] callers honor:
    * `coalesce(resolveUrl(pageUrl, htmlBase(html)), pageUrl)`. Goes
    * through the same comment/script-aware scan as [[htmlLinks]], so a
    * commented-out `<base>` can't hijack resolution
    * ([[graft.expressions.HtmlBase]] — narrow, codegen'd). */
  def htmlBase(html: Column): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.HtmlBase(
        graft.expressions.ColumnBridge.expression(html)))

  /** Anchors WITH their link text: array of (href, text) structs —
    * the target-page retrieval/labeling signal (a page is described by
    * the words others link to it with); href semantics match
    * [[htmlLinks]], text renders like [[htmlText]]
    * ([[graft.expressions.HtmlAnchors]] — narrow, codegen'd). */
  def htmlAnchors(html: Column): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.HtmlAnchors(
        graft.expressions.ColumnBridge.expression(html)))

  /** RFC 3986 resolution of an href against its page URL: absolute
    * target URL, fragment dropped; NULL when the base itself is not an
    * absolute hierarchical URL ([[graft.expressions.ResolveUrl]]). */
  def resolveUrl(base: Column, ref: Column): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.ResolveUrl(
        graft.expressions.ColumnBridge.expression(base),
        graft.expressions.ColumnBridge.expression(ref)))

  /** Unicode normalization for corpus prep: NFC composition, control
    * chars and non-ASCII spaces → ' ', space runs collapsed, ends
    * trimmed — so byte-level variants of the same document share one
    * dedup digest ([[graft.expressions.NormalizeText]] — narrow,
    * codegen'd, one pass after the NFC fold; exact step order mirrored
    * by the q_normalize oracle). */
  def normalizeText(text: Column): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.NormalizeText(
        graft.expressions.ColumnBridge.expression(text)))

  /** DEFLATE-compressed size of a string/binary column
    * ([[graft.expressions.DeflateSize]] — narrow, codegen'd, one
    * per-thread zlib handle). */
  def deflateSize(x: Column): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.DeflateSize(
        graft.expressions.ColumnBridge.expression(x)))

  /** Compression-ratio quality signal: deflated bytes / UTF-8 bytes
    * (level-6 zlib). Repetitive/templated text lands well below natural
    * language (~0.3-0.6); near-random bytes exceed 1. The Gopher-family
    * gate that catches what token-level repetition stats miss (long-
    * period boilerplate). Null for empty text; narrow, no shuffle. */
  def compressionRatio(text: Column): Column =
    F.when(F.octet_length(text) > 0,
      F.round(deflateSize(text).cast(DoubleType) /
        F.octet_length(text).cast(DoubleType), 6))

  /** Non-empty whitespace tokens. */
  def tokens(text: Column): Column =
    F.filter(F.split(text, " "), t => F.length(t) > 0)

  /** The counts behind [[tokenCount]], the quality signals and [[langId]]
    * in one native pass ([[graft.expressions.TextSignals]]). */
  private[pipeline] def signals(text: Column, stopwords: Seq[String] = stopwordsEn): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.TextSignals(
        graft.expressions.ColumnBridge.expression(text), stopwords, langProfiles))

  /** Number of [[tokens]]; NULL for a NULL text. */
  def tokenCount(text: Column): Column = signals(text).getField("n_tokens")

  /** BPE-ish subword count: word pieces + punctuation marks, the usual
    * pre-tokenizer regex (≈ GPT-2's splitter simplified). NULL for a
    * NULL text, which `size` would count as -1 outside ANSI mode. */
  def bpeTokenCount(text: Column): Column =
    F.when(text.isNotNull, F.size(F.regexp_extract_all(text,
      F.lit("""[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"""), F.lit(0))))

  def charCount(text: Column): Column = F.length(text)

  /** `num / den` over two [[signals]] fields; 0.0 when `den` is 0. */
  private def ratio(s: Column, num: String, den: String): Column =
    F.when(s.getField(den) > 0,
      s.getField(num).cast(DoubleType) / s.getField(den).cast(DoubleType))
      .otherwise(F.lit(0.0))

  /** Mean code-point length of the [[tokens]]; 0.0 without any. */
  def avgWordLen(text: Column): Column =
    ratio(signals(text), "token_chars", "n_tokens")

  val stopwordsEn: Seq[String] = Seq("the", "a", "an", "of", "and", "or",
    "to", "in", "is", "it", "that", "this", "for", "on", "with", "as")

  /** Fraction of tokens that are (English) stopwords. */
  def stopwordRatio(text: Column, stopwords: Seq[String] = stopwordsEn): Column =
    ratio(signals(text, stopwords), "stopword_hits", "n_tokens")

  /** Fraction of non-alphanumeric, non-space characters. */
  def punctRatio(text: Column): Column =
    ratio(signals(text), "punct_chars", "n_chars")

  /** Heuristic quality score in [0,1]: length sweet-spot, moderate word
    * length, some-but-not-too-many stopwords, low punctuation noise.
    * Deterministic (single divisions, no float accumulation ordering). */
  def qualityScore(text: Column): Column = qualityOf(signals(text))

  /** [[qualityScore]] over a [[signals]] struct. */
  private[pipeline] def qualityOf(s: Column): Column = {
    val lenScore = F.least(s.getField("n_chars").cast(DoubleType) / 200.0, F.lit(1.0))
    val wordScore = {
      val a = ratio(s, "token_chars", "n_tokens")
      F.when(a >= 3.0 && a <= 8.0, 1.0).otherwise(0.5)
    }
    val swScore = {
      val r = ratio(s, "stopword_hits", "n_tokens")
      F.when(r >= 0.05 && r <= 0.5, 1.0).otherwise(0.5)
    }
    val punctScore = F.lit(1.0) - F.least(ratio(s, "punct_chars", "n_chars") * 4.0, F.lit(1.0))
    F.round((lenScore * 0.3 + wordScore * 0.2 + swScore * 0.3 + punctScore * 0.2), 6)
  }

  /** Encoding-damage ratio — the fraction of characters caught up in
    * the classic decode failures a crawl corpus is full of:
    * U+FFFD replacement characters (decoder gave up) and mojibake
    * (UTF-8 bytes re-decoded as Latin-1: `Ã` followed by a C1/Latin-1
    * supplement char, the `â€`/`Â ` punctuation wrecks). Pure
    * codegen'd builtins (`regexp_count`), no UDF; filter rows where
    * this exceeds ~0.01 before training. */
  def mojibakeRatio(text: Column): Column = {
    val bad = F.regexp_count(text, F.lit(
      "\uFFFD|\u00C3[\u0080-\u00BF]|\u00E2\u20AC|\u00C2[\u00A0-\u00BF]"))
    bad.cast(DoubleType) / F.greatest(F.length(text), F.lit(1)).cast(DoubleType)
  }

  /** Stopword profiles for the n-gram/stopword language-ID heuristic. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "une", "pour", "avec", "dans"),
    "es" -> Seq("el", "la", "los", "las", "es", "no", "una", "para", "con", "por"))

  /** Language-ID: argmax of stopword hits per language profile over the
    * lower-cased [[tokens]]; "und" (undetermined) when no profile scores,
    * NULL text included. Ties break by profile order (deterministic). */
  def langId(text: Column): Column = langOf(signals(text))

  /** [[langId]] over a [[signals]] struct. */
  private[pipeline] def langOf(s: Column): Column =
    F.coalesce(s.getField("lang"), F.lit("und"))

  /** Order-sensitive document fingerprint: polynomial rolling hash over
    * whitespace tokens, `acc = acc*1000003 + h(tok)` with 64-bit wrap.
    * The token hash is md5-derived (top 60 bits of the hex digest) —
    * the same oracle-restatable seed recipe as the CMS bucket matrix
    * (`Sketches.cmsSketch`), so DuckDB regenerates fingerprints
    * bit-exactly with HUGEINT mod-2^64 arithmetic (q_fingerprint's
    * hash oracle). Narrow fold, no shuffle. */
  def fingerprint(text: Column): Column =
    F.aggregate(tokens(text), F.lit(0L),
      (acc, x) => acc * F.lit(1000003L) +
        F.conv(F.substring(F.md5(x.cast(BinaryType)), 1, 15), 16, 10)
          .cast(LongType))

  /** PII pattern → replacement tag, applied in order. Regexes stay in the
    * RE2-compatible subset (no backrefs/lookaround) so the same patterns
    * run identically in Java regex (Spark) and RE2 engines (oracles,
    * sibling pipelines). */
  val piiPatterns: Seq[(String, String)] = Seq(
    """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""" -> "<EMAIL>",
    """(?:\+?[0-9]{1,3}[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}""" -> "<PHONE>",
    """\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b""" -> "<IP>")

  /** Redact PII spans (emails, phone-shaped numbers, IPv4) with typed
    * tags — the standard scrubbing pass before training. Narrow map,
    * codegen'd regexp_replace chain, no shuffle. */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (pat, tag)) =>
      F.regexp_replace(c, pat, tag)
    }

  /** Corpus vocabulary: the `k` most frequent tokens with counts
    * (count desc, token asc — fully deterministic). One explode + one
    * count shuffle with map-side partial aggregation; top-k via
    * TakeOrderedAndProject, no full sort. */
  def vocabulary(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(F.explode(tokens(F.col(textCol))).as("token"))
      .groupBy("token").agg(F.count(F.lit(1)).as("n"))
      .orderBy(F.col("n").desc, F.col("token"))
      .limit(k)

  /** Boilerplate removal: drop lines whose DOCUMENT frequency exceeds
    * `maxDocFrac` of the corpus (and at least `minDocs` documents) —
    * navigation/footer/cookie-banner text in crawled corpora. Documents
    * are rebuilt from their surviving lines in original order.
    *
    * Shape: one line explode, one doc-frequency aggregate (map-side
    * combined on the line hash), a broadcast anti-join against the small
    * hot-line set, and one per-doc regroup — no O(n²), no driver
    * materialization (the corpus size joins in as a 1-row broadcast). */
  def stripBoilerplate(df: DataFrame, idCol: String, textCol: String,
      maxDocFrac: Double = 0.5, minDocs: Int = 2): DataFrame = {
    val lines = df.select(F.col(idCol).as("__id"),
      F.posexplode(F.split(F.col(textCol), "\n")).as(Seq("__idx", "__line")))
    val total = df.agg(F.count(F.lit(1)).as("__n"))
    val hot = lines.groupBy("__line")
      .agg(F.count_distinct(F.col("__id")).as("__df"))
      .crossJoin(F.broadcast(total))
      .where(F.col("__df") >= F.greatest(F.lit(minDocs),
        F.ceil(F.col("__n") * maxDocFrac)))
      .select("__line")
    val kept = lines.join(F.broadcast(hot), Seq("__line"), "left_anti")
    val rebuilt = kept.groupBy("__id")
      .agg(F.array_join(F.transform(F.array_sort(
        F.collect_list(F.struct(F.col("__idx"), F.col("__line")))),
        s => s.getField("__line")), "\n").as("__clean"))
    df.join(rebuilt, df(idCol) === rebuilt("__id"), "left_outer")
      .select(df.columns.map(df(_)) :+
        F.coalesce(F.col("__clean"), F.lit("")).as("clean_text"): _*)
  }

  /** CCNet-style cross-document line deduplication: every distinct line
    * is kept exactly ONCE corpus-wide — at its first occurrence in
    * (id, line-position) order — and every later occurrence is dropped.
    * This is the shard-level dedup CCNet (Wenzek et al. 2020) runs on
    * Common Crawl, where boilerplate lines repeat across millions of
    * pages; unlike [[stripBoilerplate]] (which drops hot lines from ALL
    * documents) the first document keeps its copy. Documents are rebuilt
    * from their surviving lines in original order (empty string when
    * nothing survives).
    *
    * Shape: one line posexplode → per-line min-occurrence aggregate
    * (map-side combined: the hottest line still reduces to one (id, idx)
    * pair per map task) → self-equi-join on the line back to the
    * exploded rows (sort-merge on the same key the aggregate shuffled
    * on, so AQE reuses the partitioning) → one per-doc regroup. No
    * O(n²), no driver state; the heaviest key (the corpus's most common
    * line) costs one shuffle record per map task, not per occurrence. */
  def dedupLines(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = df.select(F.col(idCol).as("__id"),
      F.posexplode(F.split(F.col(textCol), "\n")).as(Seq("__idx", "__line")))
    val first = lines.groupBy(F.col("__line").as("__l"))
      .agg(F.min(F.struct(F.col("__id"), F.col("__idx"))).as("__first"))
    val kept = lines.join(first,
      F.col("__line") === F.col("__l") &&
        F.struct(F.col("__id"), F.col("__idx")) === F.col("__first"))
      .select(F.col("__id"), F.col("__idx"), F.col("__line"))
    val rebuilt = kept.groupBy("__id")
      .agg(F.array_join(F.transform(F.array_sort(
        F.collect_list(F.struct(F.col("__idx"), F.col("__line")))),
        s => s.getField("__line")), "\n").as("__clean"))
    df.join(rebuilt, df(idCol) === rebuilt("__id"), "left_outer")
      .select(df.columns.map(df(_)) :+
        F.coalesce(F.col("__clean"), F.lit("")).as("clean_text"): _*)
  }

  /** URL canonicalization for crawl dedup — the normalizations that make
    * two spellings of the same resource compare equal: scheme+authority
    * lowercased (path/query case preserved — they are case-sensitive),
    * fragment dropped, `www.` and default ports (`:80` http, `:443`
    * https) stripped, tracking parameters (`utm_*`, `gclid`, `fbclid`,
    * `ref`) removed with separator repair, and the trailing slash before
    * end/query dropped. Pure codegen'd `regexp_replace` chain in the
    * RE2-compatible subset (no lookaround/backrefs in patterns), so the
    * identical regexes run in sibling engines and oracles. Narrow map,
    * no shuffle. */
  def canonicalizeUrl(url: Column): Column = {
    // drop fragment first so later [^&#] classes need not re-guard it
    val noFrag = F.regexp_replace(url, "#.*", "")
    // lowercase scheme://authority, preserve the rest byte-for-byte
    val head = F.regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", 0)
    val lowered = F.concat(F.lower(head),
      noFrag.substr(F.length(head) + 1, F.length(noFrag)))
    val noWww = F.regexp_replace(lowered, "://www\\.", "://")
    val noPort = F.regexp_replace(
      F.regexp_replace(noWww, "^(http://[^/:?#]+):80([/?#]|$)", "$1$2"),
      "^(https://[^/:?#]+):443([/?#]|$)", "$1$2")
    val trackers = "utm_[A-Za-z0-9_]*|gclid|fbclid|ref"
    // non-first params (&k=v), then a first param promoting its successor,
    // then a sole/last first param
    val noTrack = F.regexp_replace(F.regexp_replace(F.regexp_replace(noPort,
      s"&($trackers)=[^&#]*", ""),
      s"\\?($trackers)=[^&#]*&", "?"),
      s"\\?($trackers)=[^&#]*$$", "")
    F.regexp_replace(noTrack, "/(\\?|$)", "$1")
  }

  /** Registrable host of a URL, lowercased, `www.` and port stripped —
    * the join/filter key for domain-level curation. Null when no
    * `scheme://host` shape is present. Codegen'd regex chain, narrow. */
  def urlHost(url: Column): Column = {
    val host = F.lower(F.regexp_extract(url,
      "^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)", 1))
    val noWww = F.regexp_replace(host, "^www\\.", "")
    F.when(noWww =!= "", noWww)
  }

  /** Domain-blocklist gate (the RefinedWeb/CCNet URL filtering stage):
    * drop rows whose host IS a blocked domain or any subdomain of one.
    * The blocklist (adult/spam/SEO domains — vocabulary-sized in
    * practice) folds into ONE codegen'd predicate over the extracted
    * host: exact match via an `isInCollection` hash probe plus one
    * alternation-anchored suffix regex — no join, no shuffle, and rows
    * with no parseable host are kept (conservative: URL-less docs pass
    * to the text gates). Regex metacharacters in domains are escaped
    * per-char (RE2-compatible, no `\Q`), so `so.me` never matches
    * `soxme`. */
  def filterByDomainBlocklist(df: DataFrame, urlCol: String,
      blocked: Seq[String]): DataFrame = {
    require(blocked.nonEmpty, "blocklist must not be empty")
    val norm = blocked.map(_.toLowerCase)
    val host = urlHost(F.col(urlCol))
    val suffix = norm.map(_.replaceAll("([^A-Za-z0-9])", "\\\\$1"))
      .mkString("\\.(", "|", ")$")
    val hit = host.isInCollection(norm) || host.rlike(suffix)
    df.where(host.isNull || !hit)
  }

  /** URL-keyed crawl dedup: canonicalize, then group — each row gains
    * `url_canon` and `keep_id` (the minimum id sharing its canonical
    * URL; a row is the keeper iff `keep_id == id`). One aggregate
    * shuffle on the canonical string + a join back on the same key
    * (partitioning reused). */
  def urlDedup(df: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val canon = df.withColumn("url_canon", canonicalizeUrl(F.col(urlCol)))
    val keepers = canon.groupBy(F.col("url_canon").as("__k"))
      .agg(F.min(F.col(idCol)).as("keep_id"))
    canon.join(keepers, canon("url_canon") === keepers("__k"))
      .select(df.columns.map(df(_)) :+ F.col("url_canon") :+ F.col("keep_id"): _*)
  }

  /** Resample a corpus to a target source mixture — the "data recipe"
    * step of a pretraining pipeline (e.g. 50% curated, 30% crawl,
    * 20% code). Strata absent from `targets` are dropped; no stratum is
    * upsampled: the achievable total is maxed subject to every kept
    * stratum hitting its normalized share, i.e. T = min_s(n_s / w_s),
    * then stratum s keeps floor(w_s·T/n_s·1e6) of the 1e6 md5 buckets —
    * the same engine-reproducible bucket as [[deterministicSplit]], so
    * the resample is stable across runs, cluster sizes, and engines.
    *
    * Fully declarative: one tiny per-stratum count aggregate → a 1-row
    * min reduce → broadcast back; the corpus-side pass is a narrow
    * filter. No driver-side state. */
  def resampleToMixture(df: DataFrame, idCol: String, stratumCol: String,
      targets: Map[String, Double], seed: Long = 0L): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ > 0))
    val wTot = targets.values.sum
    val inTargets = df.where(F.col(stratumCol).isInCollection(targets.keys.toSeq))
    val counts = inTargets.groupBy(F.col(stratumCol).as("__s"))
      .agg(F.count(F.lit(1)).as("__ns"))
      .withColumn("__w", targets.toSeq.sortBy(_._1)
        .foldLeft(F.lit(0.0)) { case (acc, (s, w)) =>
          F.when(F.col("__s") === s, F.lit(w / wTot)).otherwise(acc) })
    val t = counts.agg(F.min(F.col("__ns").cast(DoubleType) / F.col("__w"))
      .as("__T"))
    val cuts = counts.crossJoin(F.broadcast(t))
      .select(F.col("__s"),
        F.floor(F.col("__w") * F.col("__T") / F.col("__ns").cast(DoubleType)
          * 1000000.0).as("__cut"))
    inTargets.join(F.broadcast(cuts), F.col(stratumCol) === F.col("__s"))
      .where(md5Bucket(idCol, seed) < F.col("__cut"))
      .select(df.columns.map(df(_)): _*)
  }

  /** Repetition quality signals (the Gopher/MassiveText repetition-filter
    * family, Rae et al. 2021 §A1.1): fraction of duplicated lines,
    * fraction of characters in duplicated lines, and the share of word
    * bigrams taken by the single most frequent bigram. High values mark
    * boilerplate-heavy or degenerately repetitive documents that the
    * pipeline filters before training.
    *
    * All three are NARROW per-row column recipes (sort + neighbor
    * comparison over the line / bigram arrays) — no explode, no shuffle;
    * at 100 TB the filter runs entirely inside the scan stage. Single
    * integer-ratio divisions, so a SQL oracle reproduces the doubles
    * bit-exactly. */
  def duplicateLineStats(text: Column): Column = {
    val lines = F.filter(F.split(text, "\n"), l => F.length(l) > 0)
    val sorted = F.array_sort(lines)
    val n = F.size(sorted)
    // same(i) = sorted(i+1) == sorted(i), length n-1
    val same = F.zip_with(
      F.slice(sorted, F.lit(2), F.greatest(n - 1, F.lit(0))),
      F.slice(sorted, F.lit(1), F.greatest(n - 1, F.lit(0))),
      (a, b) => a === b)
    val fFalse = F.array(F.lit(false))
    // an occurrence is duplicated iff it equals its sorted predecessor OR
    // successor
    val inDup = F.zip_with(F.concat(fFalse, same), F.concat(same, fFalse),
      (a, b) => a || b)
    val dupLines = F.aggregate(inDup, F.lit(0L),
      (acc, x) => acc + F.when(x, 1L).otherwise(0L))
    val dupChars = F.aggregate(
      F.zip_with(inDup, sorted, (f, l) => F.when(f, F.length(l).cast(LongType))
        .otherwise(F.lit(0L))),
      F.lit(0L), (acc, x) => acc + x)
    val totChars = F.aggregate(sorted, F.lit(0L),
      (acc, l) => acc + F.length(l).cast(LongType))
    F.struct(
      n.cast(LongType).as("n_lines"),
      F.round(F.when(n > 0, dupLines.cast(DoubleType) / n.cast(DoubleType))
        .otherwise(0.0), 6).as("dup_line_frac"),
      F.round(F.when(totChars > 0,
        dupChars.cast(DoubleType) / totChars.cast(DoubleType))
        .otherwise(0.0), 6).as("dup_line_char_frac"))
  }

  /** Share of word-bigram occurrences taken by the most frequent bigram
    * (1.0 = the document is one phrase repeated). Narrow: sort the bigram
    * array, longest equal-run via one fold. */
  def topBigramFrac(text: Column): Column = {
    val t = tokens(text)
    // zip_with pads the shorter side with null (and concat_ws would turn
    // the padded tail into a bogus 1-gram) → slice to the n-1 true bigrams
    val pairs = F.zip_with(t, F.slice(t, F.lit(2), F.greatest(F.size(t) - 1, F.lit(0))),
      (a, b) => F.concat_ws(" ", a, b))
    val sorted = F.array_sort(
      F.slice(pairs, F.lit(1), F.greatest(F.size(t) - 1, F.lit(0))))
    val n = F.size(sorted)
    val best = F.aggregate(sorted,
      F.struct(F.lit("").as("prev"), F.lit(0L).as("run"), F.lit(0L).as("best")),
      (st, g) => {
        val run = F.when(g === st.getField("prev"), st.getField("run") + 1L)
          .otherwise(F.lit(1L))
        F.struct(g.as("prev"), run.as("run"),
          F.greatest(st.getField("best"), run).as("best"))
      }).getField("best")
    F.round(F.when(n > 0, best.cast(DoubleType) / n.cast(DoubleType))
      .otherwise(0.0), 6)
  }

  /** C4-style line cleaning (Raffel et al. 2020 §2.2 — the rules behind
    * the public C4 corpus): a line survives iff, after trimming, it
    * ends in a terminal punctuation mark (`.` `!` `?` `"`), has at
    * least five whitespace words, and does not mention "javascript"
    * (case-insensitive — the cookie/JS-warning boilerplate rule).
    * Returns the surviving lines in document order. Narrow column
    * recipe — one split + one filter lambda, no explode, no shuffle. */
  def c4KeptLines(text: Column): Column =
    F.filter(F.split(text, "\n"), l => {
      val t = F.trim(l)
      t.rlike("[.!?\"]$") &&
        F.size(F.filter(F.split(t, " "), w => F.length(w) > 0)) >= 5 &&
        !F.lower(t).contains("javascript")
    })

  /** C4 page filter over [[c4KeptLines]]: a document survives iff it
    * keeps at least `minLines` lines (the paper's three-sentence floor,
    * with surviving lines as the sentence proxy — C4's kept lines are
    * sentence-terminated by construction of the line rule), does not
    * contain "lorem ipsum" (case-insensitive), and contains no curly
    * brace (the code-page rule). The paper's dirty-word page rule is
    * out of scope by choice — no wordlist ships with this library;
    * compose a blocklist join upstream if one is needed. Returns
    * (id, clean_text, n_kept_lines) for survivors only.
    *
    * Scale: a pure narrow filter+projection inside the scan stage — at
    * 100 TB this is the first pass a crawl corpus runs, and it never
    * shuffles; Parquet row-group pruning and whole-stage codegen both
    * apply. */
  def c4Filter(df: DataFrame, idCol: String, textCol: String,
      minLines: Int = 3): DataFrame = {
    val t = F.col(textCol)
    val kept = c4KeptLines(t)
    df.where(!F.lower(t).contains("lorem ipsum") &&
        !t.contains("{") && F.size(kept) >= minLines)
      .select(F.col(idCol),
        F.array_join(kept, "\n").as("clean_text"),
        F.size(kept).cast(LongType).as("n_kept_lines"))
  }

  /** Gopher stop words (Rae et al. 2021 Table A1): a quality document
    * contains at least two of them. */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher/MassiveText document-quality rules (Rae et al. 2021,
    * Table A1): every per-document statistic the paper thresholds, the
    * per-rule verdicts folded into one overall gate. Word = non-empty
    * whitespace token; line = non-blank `\n` segment. The rules:
    * 50 ≤ words ≤ 100,000; 3 ≤ mean word length ≤ 10; symbol-to-word
    * ratio (`#`, `…`, `...`) ≤ 0.1; ≤ 90% of lines start with a bullet
    * (`•`, `*`, `-`); ≤ 30% of lines end with an ellipsis; ≥ 80% of
    * words contain an alphabetic character; ≥ 2 distinct
    * [[gopherStopwords]] appear. Fractions are single integer-ratio
    * divisions rounded to 6 dp BEFORE thresholding, so a SQL oracle
    * reproduces both the statistics and the verdict bit-exactly.
    * Returns a struct (n_words, mean_word_len, symbol_word_ratio,
    * bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
    * stopword_hits, passes).
    *
    * Scale: narrow, codegen'd builtins only (array folds + eight
    * array_contains probes over the token array) — the gate runs
    * inside the scan stage with no shuffle at any corpus size. */
  def gopherQuality(text: Column): Column = {
    val words = tokens(text)
    val nWords = F.size(words).cast(LongType)
    val meanWordLen = F.when(nWords > 0,
      F.round(F.aggregate(words, F.lit(0L), (a, w) => a + F.length(w))
        .cast(DoubleType) / nWords.cast(DoubleType), 6)).otherwise(0.0)
    val symbols = F.size(
      F.regexp_extract_all(text, F.lit("#|\\.\\.\\.|…"), F.lit(0)))
    val symbolRatio = F.when(nWords > 0,
      F.round(symbols.cast(DoubleType) / nWords.cast(DoubleType), 6))
      .otherwise(0.0)
    val lines = F.filter(F.split(text, "\n"), l => F.length(F.trim(l)) > 0)
    val nLines = F.size(lines)
    val bulletFrac = F.when(nLines > 0, F.round(
      F.size(F.filter(lines, l => F.ltrim(l).rlike("^[•*-]")))
        .cast(DoubleType) / nLines.cast(DoubleType), 6)).otherwise(0.0)
    val ellipsisFrac = F.when(nLines > 0, F.round(
      F.size(F.filter(lines, l => F.rtrim(l).rlike("(\\.\\.\\.|…)$")))
        .cast(DoubleType) / nLines.cast(DoubleType), 6)).otherwise(0.0)
    val alphaFrac = F.when(nWords > 0, F.round(
      F.size(F.filter(words, w => w.rlike("[A-Za-z]")))
        .cast(DoubleType) / nWords.cast(DoubleType), 6)).otherwise(0.0)
    val lowered = F.transform(words, w => F.lower(w))
    val stopHits = gopherStopwords
      .map(sw => F.when(F.array_contains(lowered, sw), 1L).otherwise(0L))
      .reduce(_ + _)
    val passes = nWords >= 50L && nWords <= 100000L &&
      meanWordLen >= 3.0 && meanWordLen <= 10.0 &&
      symbolRatio <= 0.1 && bulletFrac <= 0.9 && ellipsisFrac <= 0.3 &&
      alphaFrac >= 0.8 && stopHits >= 2L
    F.struct(nWords.as("n_words"), meanWordLen.as("mean_word_len"),
      symbolRatio.as("symbol_word_ratio"), bulletFrac.as("bullet_line_frac"),
      ellipsisFrac.as("ellipsis_line_frac"), alphaFrac.as("alpha_word_frac"),
      stopHits.as("stopword_hits"), passes.as("passes"))
  }

  /** Word n-grams as single-space-joined strings, in document order
    * (empty array when the document has fewer than n words). */
  // gram i = words[i..i+n-1] joined with " ", built as n-1 zip_withs
  // over SHIFTED SLICES of the word array. The obvious recipe —
  // transform(sequence(1, G), i => array_join(slice(words, i, n))) —
  // closes over `words` inside the lambda, and per the PERF SHAPE rule
  // below that re-evaluates the whole tokenize per element: O(W·len)
  // per document, the straggler CorpusOpsSpec's 50k-word case pins.
  // Here every slice is a HOF *argument* (evaluated once) and the
  // lambdas touch only their own elements: O(n·W).
  private def wordNgrams(words: Column, n: Int): Column =
    F.when(F.size(words) >= n, {
      val g = F.size(words) - (n - 1)
      (1 until n).foldLeft(F.slice(words, F.lit(1), g)) { (acc, j) =>
        F.zip_with(acc, F.slice(words, F.lit(1 + j), g),
          (a, b) => F.concat(a, F.lit(" "), b))
      }
    }).otherwise(F.array().cast(ArrayType(StringType)))

  /** Gopher "top n-gram" statistic (Rae et al. 2021 Table A1): the
    * share of the document's characters taken by occurrences of its
    * single most frequent word n-gram — `count · length(gram) /
    * length(text)`, ties broken toward the lexicographically smallest
    * gram, 0.0 for documents shorter than n words. Overlapping
    * occurrences each count, so a degenerate doc ("data data data …")
    * can score above 1.0 — harmless for the ≤ 0.2-style gates this
    * feeds. One sort + one fold over the gram array; narrow, no
    * shuffle. */
  def topNgramCharFrac(text: Column, n: Int): Column = {
    require(n >= 1, s"n must be positive, got $n")
    val grams = wordNgrams(tokens(text), n)
    val sorted = F.array_sort(grams)
    // ascending scan: a strictly-longer run replaces (prev, run, best,
    // bestStr); ties keep the earlier = lexicographically smaller gram
    val best = F.aggregate(sorted,
      F.struct(F.lit("").as("prev"), F.lit(0L).as("run"),
        F.lit(0L).as("best"), F.lit("").as("bestStr")),
      (st, g) => {
        val run = F.when(g === st.getField("prev"), st.getField("run") + 1L)
          .otherwise(F.lit(1L))
        val better = run > st.getField("best")
        F.struct(g.as("prev"), run.as("run"),
          F.when(better, run).otherwise(st.getField("best")).as("best"),
          F.when(better, g).otherwise(st.getField("bestStr")).as("bestStr"))
      })
    F.round(F.when(F.size(grams) > 0 && F.length(text) > 0,
      (best.getField("best") *
        F.length(best.getField("bestStr")).cast(LongType)).cast(DoubleType) /
        F.length(text).cast(DoubleType)).otherwise(0.0), 6)
  }

  /** Gopher "duplicate n-gram" statistic (Rae et al. 2021 Table A1):
    * the fraction of word characters covered by n-grams that occur
    * more than once in the document. A word position is covered when
    * ANY duplicated n-gram spans it (overlaps counted once — coverage,
    * not occurrence-sum), the paper's intent made exact; denominator =
    * total word characters (whitespace excluded so the statistic is
    * layout-independent). Narrow array recipe, no shuffle. */
  def dupNgramCharFrac(text: Column, n: Int): Column = {
    require(n >= 1, s"n must be positive, got $n")
    val words = tokens(text)
    val grams = wordNgrams(words, n)
    // PERF SHAPE: lambda-internal references re-evaluate per element in
    // Spark HOFs (only HOF *arguments* evaluate once), so everything
    // heavy — the sort, the neighbor compare, the interval union — is
    // built argument-to-argument; no lambda closes over a sort.
    // Pair each gram with its 1-based start and sort by (gram, pos):
    // equal grams become neighbors, one slice-compare marks duplicates.
    val pairs = F.array_sort(F.zip_with(grams,
      F.when(F.size(grams) > 0, F.sequence(F.lit(1), F.size(grams)))
        .otherwise(F.array().cast(ArrayType(IntegerType))),
      (g, i) => F.struct(g.as("g"), i.as("i"))))
    val m = F.size(pairs)
    val same = F.zip_with(
      F.slice(pairs, F.lit(2), F.greatest(m - 1, F.lit(0))),
      F.slice(pairs, F.lit(1), F.greatest(m - 1, F.lit(0))),
      (a, b) => a.getField("g") === b.getField("g"))
    val fFalse = F.array(F.lit(false))
    val inDup = F.zip_with(F.concat(fFalse, same), F.concat(same, fFalse),
      (a, b) => a || b)
    // scatter the duplicate flags back to START-POSITION order: every
    // gram position 1..m appears exactly once in `pairs`, so sorting
    // (i, flag) structs by i puts the flag for start k at index k
    val startFlags = F.transform(
      F.array_sort(F.zip_with(pairs, inDup,
        (p, f) => F.struct(p.getField("i").as("i"), f.as("f")))),
      x => x.getField("f"))
    // word position k is covered iff a duplicated gram STARTS in
    // [k-n+1, k]: OR of n right-shifts of the start flags. n ≤ 10 in
    // the Gopher family, so coverage is n linear zip_withs — NOT a
    // per-position lookup inside a fold, which (per the PERF SHAPE rule
    // above) would re-evaluate a whole-document transform per element
    // and turn one pathological 100k-word document into an O(W²)
    // single-thread straggler
    val w = F.size(words)
    val padded = F.concat(startFlags,
      F.array_repeat(F.lit(false), n - 1)) // length W once grams exist
    val coveredFlags = (1 until n).foldLeft(padded) { (acc, j) =>
      F.zip_with(acc,
        F.slice(F.concat(F.array_repeat(F.lit(false), j), padded),
          F.lit(1), w),
        (a, b) => a || b)
    }
    // one zipped pass charges each covered position its word length;
    // both arrays are HOF *arguments*, so each evaluates exactly once
    val wordLens = F.transform(words, wd => F.length(wd).cast(LongType))
    val dupChars = F.aggregate(
      F.zip_with(coveredFlags, wordLens,
        (f, l) => F.when(f, l).otherwise(F.lit(0L))),
      F.lit(0L), (a, x) => a + x)
    val totChars = F.aggregate(words, F.lit(0L),
      (a, wd) => a + F.length(wd).cast(LongType))
    F.round(F.when(m > 0 && totChars > 0,
      dupChars.cast(DoubleType) / totChars.cast(DoubleType))
      .otherwise(0.0), 6)
  }

  /** The complete Gopher repetition ruleset (Rae et al. 2021 Table A1),
    * complementing [[gopherQuality]]'s document-statistic rules: a
    * document passes iff its duplicate line / paragraph fractions are
    * ≤ 0.30, duplicate line / paragraph CHARACTER fractions ≤ 0.20
    * (line = non-empty `\n` segment, paragraph = non-empty `\n\n`
    * segment, duplication by exact string equality), its top 2/3/4-gram
    * character fractions are ≤ 0.20/0.18/0.16 ([[topNgramCharFrac]]),
    * and its duplicate 5..10-gram character fractions are ≤
    * 0.15/0.14/0.13/0.12/0.11/0.10 ([[dupNgramCharFrac]]). Every
    * fraction is one integer-ratio division rounded to 6 dp BEFORE
    * thresholding, so a SQL oracle reproduces statistics and verdict
    * bit-exactly. Returns a struct of all 13 statistics plus `passes`.
    *
    * Scale: a native Catalyst expression
    * ([[graft.expressions.GopherRepetition]]) — one imperative
    * O(words · n) pass per document inside the scan stage, no shuffle
    * at any corpus size. The column-DSL recipe this replaced needed
    * every heavy intermediate (gram sort, neighbor compare, coverage
    * mask) many times, and Catalyst inlines each reference with HOFs
    * evaluating interpreted — minutes on one 50k-word pathological
    * document (the r14 straggler finding; CorpusOpsSpec pins the
    * bound). [[topNgramCharFrac]] / [[dupNgramCharFrac]] remain the
    * per-statistic column recipes. */
  def gopherRepetition(text: Column): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.GopherRepetition(
        graft.expressions.ColumnBridge.expression(text)))

  /** Deterministic rule-based sentence segmentation: sentences are
    * maximal runs ending at `[.!?]+` plus any closing quotes/brackets,
    * with an unterminated tail kept as a final sentence; each sentence
    * is trimmed and empties are dropped. The rule is deliberately in
    * the RE2-compatible regex subset (no lookaround), so SQL oracles
    * and sibling engines reproduce the segmentation byte-exactly —
    * this is a curation-pipeline unit boundary (span dedup, chunking,
    * per-sentence quality), not a linguistics segmenter: abbreviations
    * like "Dr." split, and a chunk must BEGIN with a non-terminator
    * (a leading run of bare terminators is dropped) — both by design
    * of the deterministic contract. Narrow, codegen'd, no shuffle. */
  def sentences(text: Column): Column =
    F.filter(
      F.transform(
        F.regexp_extract_all(text,
          F.lit("""[^.!?]+[.!?]+["')\]]*|[^.!?]+"""), F.lit(0)),
        s => F.trim(s)),
      s => F.length(s) > 0)

  /** The FineWeb custom filters (Penedo et al. 2024 §3.6 — the three
    * rules the dataset added beyond C4's and Gopher's): a document
    * passes iff the fraction of its lines ending in terminal
    * punctuation (`.` `'` `"` `!` `?` after trimming) is ≥ 0.12, the
    * fraction of lines shorter than 30 characters is ≤ 0.67, and the
    * fraction of line characters sitting in duplicated lines (same
    * definition as [[gopherRepetition]]'s `dup_line_char_frac`) is
    * ≤ 0.1. Line = non-empty `\n` segment; each fraction is one
    * integer-ratio division rounded to 6 dp BEFORE thresholding, so a
    * SQL oracle reproduces statistics and verdict bit-exactly. Returns
    * a struct (line_punct_frac, short_line_frac, dup_line_char_frac,
    * passes). Empty documents (no lines) score 0.0 everywhere and fail
    * the punctuation floor.
    *
    * Scale: a narrow all-builtin column recipe over the per-document
    * line array — runs inside the scan stage, no shuffle. */
  def finewebQuality(text: Column): Column = {
    val lines = F.filter(F.split(text, "\n"), l => F.length(l) > 0)
    val n = F.size(lines)
    val punct = F.size(F.filter(lines,
      l => F.rtrim(l).rlike("[.'\"!?]$")))
    val short = F.size(F.filter(lines, l => F.length(l) < 30))
    val punctFrac = F.round(F.when(n > 0,
      punct.cast(DoubleType) / n.cast(DoubleType)).otherwise(0.0), 6)
    val shortFrac = F.round(F.when(n > 0,
      short.cast(DoubleType) / n.cast(DoubleType)).otherwise(0.0), 6)
    // duplicated-line char fraction: sorted-neighbor marking, args-only
    val sorted = F.array_sort(lines)
    val same = F.zip_with(
      F.slice(sorted, F.lit(2), F.greatest(n - 1, F.lit(0))),
      F.slice(sorted, F.lit(1), F.greatest(n - 1, F.lit(0))),
      (a, b) => a === b)
    val fFalse = F.array(F.lit(false))
    val inDup = F.zip_with(F.concat(fFalse, same), F.concat(same, fFalse),
      (a, b) => a || b)
    val dupChars = F.aggregate(
      F.zip_with(inDup, sorted,
        (f, l) => F.when(f, F.length(l).cast(LongType)).otherwise(F.lit(0L))),
      F.lit(0L), (acc, x) => acc + x)
    val totChars = F.aggregate(sorted, F.lit(0L),
      (acc, l) => acc + F.length(l).cast(LongType))
    val dupFrac = F.round(F.when(totChars > 0,
      dupChars.cast(DoubleType) / totChars.cast(DoubleType))
      .otherwise(0.0), 6)
    val passes = punctFrac >= 0.12 && shortFrac <= 0.67 && dupFrac <= 0.1
    F.struct(punctFrac.as("line_punct_frac"),
      shortFrac.as("short_line_frac"),
      dupFrac.as("dup_line_char_frac"),
      passes.as("passes"))
  }

  /** C4 three-sentence-span deduplication (Raffel et al. 2020 §2.2:
    * "we discarded all but one of any three-sentence span occurring
    * more than once in the data set"), generalized to n consecutive
    * LINES as the sentence proxy (C4's kept lines are
    * sentence-terminated by construction — run [[c4Filter]] first).
    * For every window of n consecutive lines, the corpus-wide first
    * occurrence — ordered by (id, start index) — keeps its lines;
    * every other occurrence has its n lines deleted. A line survives
    * iff NO losing span covers it. Documents are rebuilt from their
    * surviving lines in original order; returns
    * (id, clean_text, n_dropped_units) for every input document
    * (units = lines here, sentences in [[c4SpanDedupSentences]]).
    * (The token-window exact-substring variant of Lee et al. 2022 —
    * cutting at token rather than line granularity — is
    * [[Dedup.dedupSpans]].)
    *
    * Scale shape: spans explode narrowly from the scan; the
    * first-occurrence aggregate groups on `md5(span)` — a fixed 32-byte
    * shuffle key instead of the span text, with map-side combine, so
    * the hottest span costs one record per map task — and the
    * winners-join reuses that key's partitioning (sort-merge under
    * AQE). Dropped line indexes explode from losers only. No O(n²)
    * pair join, no driver state. */
  def c4SpanDedup(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    spanDedupBy(df, idCol, n, F.split(F.col(textCol), "\n"), "\n")

  /** [[c4SpanDedup]] at SENTENCE granularity — the paper's actual unit
    * ("any three-sentence span"): units come from [[sentences]] and
    * surviving sentences rejoin with single spaces (like the public C4
    * pipeline, rebuilt text is whitespace-normalized at the sentence
    * seams). Same corpus-wide first-occurrence-wins semantics and the
    * same scale shape. */
  def c4SpanDedupSentences(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    spanDedupBy(df, idCol, n, sentences(F.col(textCol)), " ")

  private def spanDedupBy(df: DataFrame, idCol: String, n: Int,
      arr: Column, sep: String): DataFrame = {
    require(n >= 1, s"span length must be positive, got $n")
    // PERF SHAPE: bind the unit array to an ATTRIBUTE below the
    // Generate before any lambda slices it — slicing `arr` (a split /
    // sentence-segmentation expression) inside the per-span lambda
    // re-evaluates it per span, O(units · text) on one pathological
    // document (the r15 straggler-audit class). A Project under
    // Generate is not collapsed, so `__arr` stays a row-field access.
    val bound = df.select(F.col(idCol).as("__id"), arr.as("__arr"))
    val barr = F.col("__arr")
    val spans = bound.select(F.col("__id"),
        F.posexplode(F.when(F.size(barr) >= n,
          F.transform(F.sequence(F.lit(1), F.size(barr) - (n - 1)),
            i => F.array_join(F.slice(barr, i, F.lit(n)), sep)))
          .otherwise(F.array().cast(ArrayType(StringType))))
          .as(Seq("__sidx", "__span")))
      .select(F.col("__id"), F.col("__sidx"), F.md5(F.col("__span")).as("__key"))
    val firsts = spans.groupBy(F.col("__key").as("__k"))
      .agg(F.min(F.struct(F.col("__id"), F.col("__sidx"))).as("__first"),
        F.count(F.lit(1)).as("__occ"))
      .where(F.col("__occ") > 1)
    val losers = spans.join(firsts, F.col("__key") === F.col("__k"))
      .where(F.struct(F.col("__id"), F.col("__sidx")) =!= F.col("__first"))
    // the probe side renames __id so the anti-join against the (now
    // shared-lineage) line exploder needs no self-join disambiguation
    val dropped = losers.select(F.col("__id").as("__did"),
        F.explode(F.sequence(F.col("__sidx"), F.col("__sidx") + (n - 1)))
          .as("__didx"))
      .distinct()
    val lines = bound.select(F.col("__id"),
      F.posexplode(barr).as(Seq("__idx", "__line")))
    val kept = lines.join(dropped,
      F.col("__id") === F.col("__did") && F.col("__idx") === F.col("__didx"),
      "left_anti")
    val rebuilt = kept.groupBy("__id")
      .agg(F.array_join(F.transform(F.array_sort(
          F.collect_list(F.struct(F.col("__idx"), F.col("__line")))),
          s => s.getField("__line")), sep).as("__clean"),
        F.count(F.lit(1)).as("__nkept"))
    df.join(rebuilt, df(idCol) === rebuilt("__id"), "left_outer")
      .select(df(idCol),
        F.coalesce(F.col("__clean"), F.lit("")).as("clean_text"),
        (F.size(arr).cast(LongType) -
          F.coalesce(F.col("__nkept"), F.lit(0L))).as("n_dropped_units"))
  }

  /** One-shot corpus analytics report: the summary a curation run
    * prints before and after — doc counts, token/char mass, length
    * distribution (exact interpolated percentiles), exact-duplicate
    * rate (md5 digests), and mean quality — as (metric, value) rows so
    * the whole report is one SQL-restatable result (the q_corpus_report
    * oracle recomputes every number in DuckDB).
    *
    * All arithmetic is made ORDER-INDEPENDENT so distributed and
    * single-node runs agree bitwise: sums fold exact longs (quality is
    * summed as its round(q·10⁶) integer), averages divide once at the
    * end, and the percentiles are Spark's sort-based exact
    * `percentile`, matching DuckDB's `quantile_cont` definition.
    *
    * Plan shape: ONE aggregation job over a narrow projection of the
    * scan (count-distinct adds Spark's standard two-stage expand), then
    * a constant-size unpivot — nothing per-row leaves the executors. */
  def corpusReport(df: DataFrame, textCol: String): DataFrame = {
    val t = F.col(textCol)
    val n = tokenCount(t).cast(LongType)
    val q6 = F.round(qualityScore(t) * 1000000).cast(LongType)
    val agg = df.agg(
      F.count(F.lit(1)).cast(LongType).as("n_docs"),
      F.sum(F.when(F.length(F.trim(t)) === 0, 1L).otherwise(0L))
        .as("n_empty"),
      F.sum(n).as("total_tokens"),
      F.sum(F.length(t).cast(LongType)).as("total_chars"),
      F.percentile(n, F.lit(0.5)).as("median_doc_tokens"),
      F.percentile(n, F.lit(0.9)).as("p90_doc_tokens"),
      F.countDistinct(F.md5(t)).as("distinct_docs"),
      F.sum(q6).as("q6_sum"))
    val d = (c: Column) => c.cast(DoubleType)
    agg.select(F.explode(F.map(
      F.lit("n_docs"), d(F.col("n_docs")),
      F.lit("n_empty"), d(F.col("n_empty")),
      F.lit("total_tokens"), d(F.col("total_tokens")),
      F.lit("total_chars"), d(F.col("total_chars")),
      F.lit("avg_doc_tokens"),
      F.round(d(F.col("total_tokens")) / d(F.col("n_docs")), 6),
      F.lit("median_doc_tokens"), F.round(d(F.col("median_doc_tokens")), 6),
      F.lit("p90_doc_tokens"), F.round(d(F.col("p90_doc_tokens")), 6),
      F.lit("distinct_docs"), d(F.col("distinct_docs")),
      F.lit("dup_rate"),
      F.round(F.lit(1.0) - d(F.col("distinct_docs")) / d(F.col("n_docs")), 6),
      F.lit("avg_quality"),
      F.round(d(F.col("q6_sum")) / (d(F.col("n_docs")) * 1000000.0), 6)
    )).as(Seq("metric", "value")))
  }

  /** Split each document into overlapping token-window chunks (training
    * context-window prep): chunk i covers tokens
    * [i*stride, i*stride + size). Every token is covered; the final
    * chunk may be short. Narrow transform + explode — no shuffle, the
    * standard pre-tokenization pass before packing. Returns
    * (id, chunk_id, chunk_text, n_chunk_tokens). */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    // PERF SHAPE: tokenize ONCE into an attribute below the Generate —
    // slicing the tokenize expression inside the per-chunk lambda
    // re-splits the whole document per chunk, O(chunks · text) on one
    // pathological long document (the r15 straggler-audit class)
    val bound = df.select(F.col(idCol), tokens(F.col(textCol)).as("__toks"))
    val t = F.col("__toks")
    val n = F.size(t)
    // Column `/` is double division; operands are positive here, so the
    // int cast truncates = floor → ceil((n-size)/stride) + 1 chunks
    val nChunks = F.when(n <= size, F.lit(1))
      .otherwise(((n - size + (stride - 1)) / stride).cast(IntegerType) + 1)
    bound.select(F.col(idCol),
        F.posexplode(F.transform(F.sequence(F.lit(0), nChunks - 1),
          i => F.slice(t, i * stride + 1, F.lit(size)))).as(Seq("chunk_id", "toks")))
      .select(F.col(idCol), F.col("chunk_id"),
        F.array_join(F.col("toks"), " ").as("chunk_text"),
        F.size(F.col("toks")).cast(LongType).as("n_chunk_tokens"))
  }

  /** Engine-reproducible bucket in [0, 1e6): 60-bit md5 prefix of
    * "seed:id" — the ONE hashing recipe shared by the split and the
    * stratified sample (and mirrored by their SQL oracles); change it in
    * lockstep everywhere or sampled/split corpora silently diverge. */
  private val Md5Buckets = 1000000L
  private def md5Bucket(idCol: String, seed: Long): Column =
    F.conv(F.substring(F.md5(F.concat(F.lit(seed.toString + ":"),
      F.col(idCol).cast(StringType))), 1, 15), 16, 10)
      .cast(LongType) % Md5Buckets

  /** Deterministic stratified sample: keep each row with probability
    * `fractions(stratum)` (default `defaultFraction`), decided by the
    * same engine-reproducible md5 bucket as [[deterministicSplit]] —
    * never `rand()`, so retries, re-partitioning, and sibling pipelines
    * keep the identical sample. The per-stratum fractions are how a
    * pipeline rebalances sources (e.g. downsample crawl, keep all
    * curated text). Narrow map, no shuffle. */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
      fractions: Map[String, Double], defaultFraction: Double = 1.0,
      seed: Long = 0L): DataFrame = {
    require((fractions.values ++ Seq(defaultFraction)).forall(f =>
      f >= 0.0 && f <= 1.0))
    val h = md5Bucket(idCol, seed)
    val cut = fractions.toSeq.sortBy(_._1)
      .foldLeft(F.lit((defaultFraction * Md5Buckets).toLong)) {
        case (acc, (name, frac)) =>
          F.when(F.col(stratumCol) === name, (frac * Md5Buckets).toLong)
            .otherwise(acc)
      }
    df.where(h < cut)
  }

  /** Deterministic train/val/test-style split assignment: bucket by a
    * 60-bit md5 prefix of `seed:id` — stable across runs, cluster sizes,
    * re-partitioning (never `rand()`, which re-deals on retry and breaks
    * exactly-once semantics), AND across engines: md5 of the decimal id
    * string is reproducible in any SQL dialect, so a sibling pipeline can
    * regenerate the identical split (and the DuckDB oracle checks it).
    * `weights` need not sum to 1; they are normalized. Returns df +
    * `split` column with the name of the assigned slice. */
  def deterministicSplit(df: DataFrame, idCol: String,
      weights: Seq[(String, Double)], seed: Long = 0L): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0))
    val total = weights.map(_._2).sum
    val cuts = weights.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }
      .tail.map(f => (f * Md5Buckets).toLong)
    val h = md5Bucket(idCol, seed)
    val expr = weights.map(_._1).zip(cuts).reverse
      .foldLeft(F.lit(weights.last._1)) { case (acc, (name, cut)) =>
        F.when(h < cut, name).otherwise(acc)
      }
    df.withColumn("split", expr)
  }

  /** Deterministic global shuffle + sharding — the last step before a
    * training run reads a corpus: rows get a pseudo-random but
    * REPRODUCIBLE order (the 60-bit md5 prefix of `seed:id`, the same
    * engine-agnostic recipe as [[deterministicSplit]] — never `rand()`,
    * which re-deals on retry) and land in `numShards` shards with a
    * dense 0-based position within each. Returns the input columns plus
    * (`shard` int, `pos` long).
    *
    * Scale shape: ONE shuffle — the window partitions by shard (pick
    * numShards ≥ cluster cores; a training export wants hundreds to
    * thousands of shards anyway, so the per-shard sort is bounded by
    * |corpus|/numShards, never a global sort. Interleaving quality is
    * the hash's: consecutive positions in a shard are unrelated
    * documents, and every engine/run/cluster-size produces the
    * identical (shard, pos) assignment, so an interrupted export resumes
    * instead of re-dealing. */
  def shuffleShards(df: DataFrame, idCol: String, numShards: Int,
      seed: Long = 0L): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    // full 60-bit order key (md5Bucket's 1e6 quotient would collide)
    val h = F.conv(F.substring(F.md5(F.concat(F.lit(seed.toString + ":"),
      F.col(idCol).cast(StringType))), 1, 15), 16, 10).cast(LongType)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(F.col("shard")).orderBy(F.col("__h"), F.col(idCol))
    df.withColumn("__h", h)
      .withColumn("shard", (F.col("__h") % numShards).cast(IntegerType))
      .withColumn("pos", F.row_number().over(w).cast(LongType) - 1)
      .drop("__h")
  }

  /** [[shuffleShards]] + a sharded parquet export: one directory per
    * shard (`shard=N/`), rows within each file in `pos` order — the
    * layout a data loader streams sequentially while the global order
    * stays shuffled. */
  def writeShuffledShards(df: DataFrame, idCol: String, path: String,
      numShards: Int, seed: Long = 0L): Unit =
    shuffleShards(df, idCol, numShards, seed)
      .repartition(numShards, F.col("shard"))
      .sortWithinPartitions(F.col("shard"), F.col("pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** Heuristic text-format triage — the stage that routes a mixed
    * corpus's documents to the right pipeline (code and structured
    * data get different cleaning/weighting than prose):
    * `json` (trimmed object/array delimiters), `csv` (≥2 non-empty
    * lines, every line the same ≥2 comma-separated fields),
    * `markdown` (≥2 heading/list/quote/fence markers and at least one
    * per 4 lines), `code` (≥5% structural-symbol density), else
    * `prose` — checked in that order, so symbol-dense JSON stays
    * `json`. Entirely composable codegen'd column arithmetic
    * (`regexp_count`, HOF line folds), deterministic, NULL → NULL.
    * Heuristic by design: the contract is the recipe, not a perfect
    * classifier. */
  def textFormat(text: Column): Column = {
    val t = F.trim(text)
    val isJson = (t.startsWith("{") && t.endsWith("}")) ||
      (t.startsWith("[") && t.endsWith("]"))
    val lines = F.filter(F.split(text, "\n"), l => F.trim(l) =!= "")
    val nLines = F.size(lines)
    val commas0 = F.size(F.split(F.element_at(lines, 1), ","))
    val isCsv = nLines >= 2 && commas0 >= 2 &&
      F.forall(lines, l => F.size(F.split(l, ",")) === commas0)
    val mdMarkers =
      F.regexp_count(text, F.lit("(?m)^(#{1,6} |[-*] |\\d+\\. |> )")) +
        F.regexp_count(text, F.lit("```"))
    val isMd = mdMarkers >= 2 && mdMarkers * 4 >= nLines
    val sym = F.regexp_count(text, F.lit("[{}();=\\[\\]<>]"))
    val isCode = F.length(text) > 0 && sym * 20 >= F.length(text)
    F.when(isJson, "json")
      .when(isCsv, "csv")
      .when(isMd, "markdown")
      .when(isCode, "code")
      .when(text.isNotNull, "prose")
  }

  /** Percentile bins over a numeric column — the quality-curriculum
    * stage (train on high-quality bins first, or mix bins with target
    * weights): `nBins` equal-population buckets whose boundaries come
    * from ONE exact sort-based `percentile` aggregate (the same exact
    * interpolated definition DuckDB's `quantile_cont` restates, like
    * [[corpusReport]]); binning itself is then a narrow comparison
    * scan against the broadcast boundary literals — NOT an ntile
    * window, which would globally sort the corpus. `bin` ∈ [0, nBins),
    * monotone in the score; a value equal to a boundary goes to the
    * lower bin, so results are exact and engine-restatable. NULL
    * scores → NULL bin. */
  def percentileBins(df: DataFrame, scoreCol: String, nBins: Int,
      out: String = "bin"): DataFrame = {
    require(nBins >= 2 && nBins <= 1000, s"nBins must be in [2,1000], got $nBins")
    val fracs = (1 until nBins).map(_.toDouble / nBins)
    val boundsRow = df.agg(F.percentile(F.col(scoreCol).cast(DoubleType),
      F.typedlit(fracs)).as("b")).head()
    // empty frame / all-NULL scores: no boundaries exist — every bin is
    // NULL (consistent with the per-row NULL contract), not a crash
    if (boundsRow.isNullAt(0))
      return df.withColumn(out, F.lit(null).cast(IntegerType))
    val bounds = boundsRow.getSeq[Double](0)
    val score = F.col(scoreCol).cast(DoubleType)
    val bin = bounds.map(b => F.when(score > b, 1).otherwise(0))
      .reduce(_ + _)
    df.withColumn(out,
      F.when(score.isNotNull, bin.cast(IntegerType)))
  }
}
