package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

import graft.sources.Warc

/** The end-to-end crawl flagship: one call from raw WARC files to the
  * three artifacts a crawl round produces —
  *
  *  1. a curated text corpus (HTML-extracted, gated, deduped, chunked
  *     — [[Curation.curate]]),
  *  2. the crawl FRONTIER (new URLs to fetch next —
  *     [[Graphs.frontierUrls]]),
  *  3. host PageRank quality priors ([[Graphs.pageRankHosts]]).
  *
  * Composition, not new machinery: every stage is an operator this
  * library already verifies one by one; this object pins the glue —
  * response filtering, content-encoding unwrap, charset decode, the
  * deterministic document id — so a user gets the whole crawl round as
  * one tested call.
  *
  * Scale posture: ingestion is the constant-memory streamed WARC reader
  * (one task per file), page prep is narrow (status/mime gates, per-row
  * gunzip, UTF-8 decode, html_text inside curate), and the only
  * corpus-wide exchanges are the ones the component operators already
  * budget (curation's digest shuffle, the frontier/host-edge
  * distincts, PageRank's host-sized iterations). */
object Crawl {

  /** The three outputs of one crawl round. */
  final case class Round(
      documents: DataFrame,
      frontier: DataFrame,
      hostRanks: DataFrame)

  /** HTML pages of the crawl: `response` records with a 200 status and
    * an HTML content type, bodies gunzipped when Content-Encoding says
    * so and decoded as UTF-8 (the de facto crawl default; invalid
    * byte sequences degrade to U+FFFD replacement characters — never
    * a job failure, regardless of `spark.sql.ansi.enabled` — and the
    * mojibake gating downstream catches mislabeled charsets). Returns
    * (url, html), with a deterministic 64-bit `doc_id` = xxhash64(url)
    * — re-runs and engines agree on ids without coordination. */
  def htmlPages(records: DataFrame): DataFrame = {
    val pages = Warc.pages(records)
    val body = F.when(F.lower(F.col("content_encoding")) === "gzip",
      Multimodal.gunzip(F.col("body"))).otherwise(F.col("body"))
    pages
      .where(F.col("status") === 200 &&
        F.col("url").isNotNull &&
        F.lower(F.col("mime")).startsWith("text/html"))
      .select(F.xxhash64(F.col("url")).as("doc_id"), F.col("url"),
        Multimodal.utf8Lossy(body).as("html"))
      .where(F.col("html").isNotNull)
  }

  /** One crawl round over a WARC directory: read (streamed, constant
    * memory per task) → [[htmlPages]] → curate + frontier + host ranks.
    * `seenUrls` is the already-fetched URL set (one string column named
    * `url`); when absent the frontier is every resolved outlink the
    * batch itself doesn't host. Curation knobs pass through to
    * [[Curation.curate]] with `htmlInput = true`. */
  def round(spark: SparkSession, warcPath: String,
      seenUrls: Option[DataFrame] = None,
      minQuality: Double = 0.5,
      langs: Seq[String] = Seq("en"),
      chunkSize: Int = 64, chunkStride: Int = 48,
      maxMojibake: Option[Double] = Some(0.05),
      pageRankIters: Int = 5,
      robots: Option[(DataFrame, String)] = None,
      maxPerHost: Option[Int] = None): Round = {
    val pages = htmlPages(Warc.readStreamed(spark, warcPath))
    roundFromPages(spark, pages, seenUrls, minQuality, langs, chunkSize,
      chunkStride, maxMojibake, pageRankIters, robots, maxPerHost)
  }

  /** Redirect edges of the crawl: 3xx responses mapped to
    * (url, status, location) with Location resolved against the
    * request URL (it is legally relative). The URL-aliasing table a
    * crawl round folds into its seen set and canonicalization — a
    * redirect chain means several frontier URLs name one resource.
    * Narrow end to end. */
  def redirects(records: DataFrame): DataFrame = {
    // the HTTP parser surfaces status but not arbitrary headers;
    // extract the Location line from the HEADER BLOCK only (before the
    // first CRLFCRLF — body text echoing a "Location:" line must not
    // fabricate a redirect edge)
    val headers = F.substring_index(
      F.decode(F.col("payload"), "UTF-8"), "\r\n\r\n", 1)
    val loc = F.regexp_extract(headers,
      "(?si)\\r\\nLocation:[ \\t]*([^\\r\\n]+)", 1)
    records
      .where(F.col("warc_type") === "response")
      .select(F.col("target_uri").as("url"),
        graft.expressions.ColumnBridge.column(graft.expressions.HttpMessage(
          graft.expressions.ColumnBridge.expression(F.col("payload"))))
          .getField("status").as("status"),
        loc.as("__loc"))
      .where(F.col("status").between(300, 399) && F.col("__loc") =!= "")
      .select(F.col("url"), F.col("status"),
        TextAnalysis.resolveUrl(F.col("url"), F.trim(F.col("__loc")))
          .as("location"))
      .where(F.col("location").isNotNull)
  }

  /** Path-plus-query of a URL as RFC 9309 matches it (`/dir/p?x=1`;
    * fragment dropped; empty → `/`). Codegen'd regex, narrow. */
  def urlPath(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val p = F.regexp_extract(url,
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1)
    F.when(p === "", F.lit("/")).otherwise(p)
  }

  /** RFC 9309 evaluation of a robots.txt column against a path column
    * for one crawler token ([[graft.expressions.RobotsAllowed]]):
    * group selection by most specific user-agent, longest-pattern-wins
    * with `*`/`$` support, Allow on ties, NULL body → allowed. */
  def robotsAllowed(robotsTxt: org.apache.spark.sql.Column,
      path: org.apache.spark.sql.Column, userAgent: String)
      : org.apache.spark.sql.Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.RobotsAllowed(
        graft.expressions.ColumnBridge.expression(robotsTxt),
        graft.expressions.ColumnBridge.expression(path),
        // UA matching is case-insensitive (RFC 9309 §2.2.1) — accept
        // mixed-case product tokens here like the SQL builder does
        userAgent.toLowerCase))

  /** Gate a URL frame (e.g. the [[Graphs.frontierUrls]] output) by each
    * host's robots.txt: join the host-sized robots table (broadcast)
    * and keep URLs whose host has no robots.txt or whose rules allow
    * the crawler. The politeness stage between frontier discovery and
    * fetching. `robots` columns: (host, robots_txt). */
  def filterByRobots(urls: DataFrame, robots: DataFrame, userAgent: String,
      urlCol: String = "url"): DataFrame = {
    val host = TextAnalysis.urlHost(F.col(urlCol))
    urls.join(F.broadcast(robots.select(F.col("host").as("__rh"),
        F.col("robots_txt").as("__rt"))),
        host === F.col("__rh"), "left_outer")
      .where(robotsAllowed(F.col("__rt"), urlPath(F.col(urlCol)), userAgent))
      .drop("__rh", "__rt")
  }

  /** `Sitemap:` URLs declared in a robots.txt body (RFC 9309 §2.4 /
    * sitemaps.org: the line may appear anywhere, outside any group,
    * case-insensitive). Codegen'd regex, narrow. */
  def sitemapsFromRobots(robotsTxt: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    F.regexp_extract_all(robotsTxt, F.lit("(?mi)^\\s*sitemap:\\s*(\\S+)"),
      F.lit(1))

  /** `<loc>` URLs of a sitemaps.org XML document — urlset entries AND
    * sitemap-index entries (callers recurse on the latter). Values are
    * XML-unescaped (`&amp;` et al. — sitemap locs are escaped per the
    * protocol). Composable codegen'd regex + replace chain, narrow. */
  def sitemapUrls(xml: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val locs = F.regexp_extract_all(xml,
      F.lit("(?s)<loc>\\s*(.*?)\\s*</loc>"), F.lit(1))
    F.transform(locs, l =>
      F.replace(F.replace(F.replace(F.replace(F.replace(
        l, F.lit("&lt;"), F.lit("<")), F.lit("&gt;"), F.lit(">")),
        F.lit("&quot;"), F.lit("\"")), F.lit("&apos;"), F.lit("'")),
        F.lit("&amp;"), F.lit("&")))
  }

  /** Per-host fetch budget for a crawl round: keep at most
    * `maxPerHost` URLs per host from a frontier (deterministic — the
    * lexicographically first URLs win), returning (url, host,
    * fetch_order) with `fetch_order` starting at 0 per host, the
    * politeness sequence a fetcher walks. One hash exchange on host;
    * the per-host sort is bounded by the host's frontier share, and
    * skew (one giant host) is bounded by the budget itself. */
  def schedule(frontier: DataFrame, maxPerHost: Int,
      urlCol: String = "url"): DataFrame = {
    require(maxPerHost >= 1, s"maxPerHost must be >= 1, got $maxPerHost")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("host").orderBy(F.col(urlCol))
    frontier
      .select(F.col(urlCol), TextAnalysis.urlHost(F.col(urlCol)).as("host"))
      .where(F.col("host").isNotNull)
      .withColumn("fetch_order", F.row_number().over(w).cast("long") - 1)
      .where(F.col("fetch_order") < maxPerHost)
  }

  /** [[round]] starting from an already-materialized (doc_id, url,
    * html) frame — the entry point when pages come from a non-WARC
    * source or a test fixture. */
  def roundFromPages(spark: SparkSession, pages: DataFrame,
      seenUrls: Option[DataFrame] = None,
      minQuality: Double = 0.5,
      langs: Seq[String] = Seq("en"),
      chunkSize: Int = 64, chunkStride: Int = 48,
      maxMojibake: Option[Double] = Some(0.05),
      pageRankIters: Int = 5,
      robots: Option[(DataFrame, String)] = None,
      maxPerHost: Option[Int] = None): Round = {
    val docs = Curation.curate(
      pages.select(F.col("doc_id"), F.col("html").as("text")),
      "doc_id", "text",
      minQuality = minQuality, langs = langs,
      chunkSize = chunkSize, chunkStride = chunkStride,
      htmlInput = true, maxMojibake = maxMojibake)
    val seen = seenUrls.getOrElse {
      import spark.implicits._
      Seq.empty[String].toDF("url")
    }
    // politeness applies to what we'd FETCH next, in order: robots
    // gate first (never schedule a disallowed URL), then the per-host
    // budget; with a budget the frontier carries (url, host,
    // fetch_order), without one just (url)
    val discovered = Graphs.frontierUrls(pages, seen)
    val polite = robots match {
      case Some((r, ua)) => filterByRobots(discovered, r, ua)
      case None => discovered
    }
    val frontier = maxPerHost match {
      case Some(budget) => schedule(polite, budget)
      case None => polite
    }
    val ranks = Graphs.pageRankHosts(Graphs.hostEdges(pages),
      iters = pageRankIters)
    Round(docs, frontier, ranks)
  }
}
