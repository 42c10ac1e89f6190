package graft.pipeline

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.types._

/** Link-graph operators for corpus curation. The motivating use is
  * host-level quality weighting of a web crawl (the CommonCrawl host
  * ranking that seeds curation pipelines): build the host→host link
  * graph once, PageRank it, and join the per-host rank back onto
  * documents as a quality prior.
  *
  * Determinism contract: ranks are SCALED INTEGERS (a long number of
  * `scale`-ths), every per-edge contribution is integer division, and
  * per-node accumulation is an integer SUM — order-free, so the result
  * is bit-identical across partitionings, cluster sizes, and engines,
  * and a SQL oracle can restate each iteration exactly (floating-point
  * PageRank would hash-mismatch on summation order alone).
  */
object Graphs {

  /** Fixed-iteration PageRank over a directed edge list.
    *
    * Update rule (power iteration, dangling mass dropped — the simple
    * variant; documents with no outlinks leak their mass, which only
    * rescales ranks uniformly in the limit):
    * {{{
    *   r_0(v)     = scale / N
    *   r_{k+1}(v) = (100 - dampingPct) * scale / (100 * N)
    *              + Σ_{u→v} (dampingPct * r_k(u)) div (100 * outdeg(u))
    * }}}
    * all in long arithmetic (`div` = floor division; safe while
    * `dampingPct * scale` < 2^63, true for the default 85 · 10^12).
    *
    * Scale posture: per iteration, ONE join of the rank table (|V| rows
    * — hosts, not documents; broadcastable for any realistic crawl) onto
    * the edge list keyed by source, one map-side-combined integer SUM by
    * destination, one left join back onto the node set. The edge list,
    * node set, and out-degree table are computed once and reused;
    * `localCheckpoint` truncates the growing lineage each round. `iters`
    * is fixed (default 5) — curation wants a stable prior, not
    * convergence-to-epsilon, and a fixed count is what a SQL oracle can
    * unroll.
    *
    * Input edges should be pre-deduplicated (use `.distinct()`;
    * multi-edges would double-count contributions). Self-loops are
    * dropped. Returns (node, rank_scaled, rank) where
    * `rank = rank_scaled / scale` (exact: rank_scaled < scale < 2^53).
    */
  def pageRank(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", iters: Int = 5, dampingPct: Int = 85,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50], got $iters")
    require(dampingPct >= 1 && dampingPct <= 99,
      s"dampingPct must be in [1,99], got $dampingPct")
    require(scale >= 100 && scale <= Long.MaxValue / 100,
      s"scale out of range: $scale")

    val e = edges
      .select(F.col(srcCol).cast(LongType).as("src"),
        F.col(dstCol).cast(LongType).as("dst"))
      .where(F.col("src").isNotNull && F.col("dst").isNotNull &&
        F.col("src") =!= F.col("dst"))
      .localCheckpoint(false)
    val nodes = e.select(F.col("src").as("v"))
      .union(e.select(F.col("dst").as("v")))
      .distinct()
      .localCheckpoint(false)
    val deg = e.groupBy("src").agg(F.count(F.lit(1)).as("d"))
      .localCheckpoint(false)

    val n = nodes.count()
    require(n > 0, "pageRank needs at least one edge")
    val base = (100L - dampingPct) * scale / (100L * n)
    val r0 = scale / n

    var ranks = nodes.select(F.col("v"), F.lit(r0).as("r"))
    var k = 0
    while (k < iters) {
      val contrib = e
        .join(ranks, e("src") === ranks("v"))
        .join(deg, "src")
        .select(F.col("dst").as("v"),
          F.expr(s"($dampingPct * r) div (100 * d)").as("c"))
        .groupBy("v").agg(F.sum(F.col("c")).as("s"))
      ranks = nodes.join(contrib, Seq("v"), "left_outer")
        .select(F.col("v"),
          (F.lit(base) + F.coalesce(F.col("s"), F.lit(0L))).as("r"))
        .localCheckpoint(false)
      k += 1
    }
    ranks.select(F.col("v").as("node"), F.col("r").as("rank_scaled"),
      (F.col("r").cast(DoubleType) / scale.toDouble).as("rank"))
  }

  /** Fixed-iteration HITS (Kleinberg 1999) over a directed edge list —
    * PageRank's sibling for crawl analytics: authorities (pages good
    * sources link TO) and hubs (pages that link to good sources).
    * The same determinism contract as [[pageRank]]: scores are scaled
    * integers, every update is an integer SUM of neighbor scores
    * followed by max-normalization via integer floor division, so the
    * result is bit-identical across partitionings and engines and a
    * SQL oracle unrolls the iterations exactly:
    * {{{
    *   h_0 = a_0 = scale
    *   a'(v) = Σ_{u→v} h(u);  a = a' · scale div max(a')
    *   h'(u) = Σ_{u→v} a(v);  h = h' · scale div max(h')
    * }}}
    * (authorities update first from the current hubs, then hubs from
    * the NEW authorities — the standard ordering). The product
    * `Σ h · scale` is computed in decimal(30,0), so it cannot wrap:
    * the only long-arithmetic bound left is the SUM itself, safe for
    * up to ~2^63/scale ≈ 2^43 edges into one node at the default
    * scale — beyond any real host graph. Per iteration: two
    * broadcastable-rank joins + two map-side combined sums, with the
    * max-normalizer attached as a broadcast 1-row crossJoin so an
    * iteration is a single job (no driver round-trip per round);
    * `localCheckpoint` per round. Self-loops dropped; dedupe
    * multi-edges upstream. Returns
    * (node, hub_scaled, auth_scaled, hub, auth). */
  def hits(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      iters: Int = 3, scale: Long = 1L << 20): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50], got $iters")
    require(scale >= 100 && scale <= (1L << 26), s"scale out of range: $scale")
    val e = edges
      .select(F.col(srcCol).cast(LongType).as("src"),
        F.col(dstCol).cast(LongType).as("dst"))
      .where(F.col("src").isNotNull && F.col("dst").isNotNull &&
        F.col("src") =!= F.col("dst"))
      .localCheckpoint(false)
    val nodes = e.select(F.col("src").as("v"))
      .union(e.select(F.col("dst").as("v")))
      .distinct()
      .localCheckpoint(false)
    require(!nodes.isEmpty, "hits needs at least one edge")

    def normalized(raw: DataFrame): DataFrame = {
      // raw: (v, s) over a SUBSET of nodes; missing nodes score 0.
      // The normalizer max rides along as a broadcast 1-row crossJoin
      // instead of a driver collect, so each HITS round is one job.
      // The product is decimal(20,0)·decimal(9,0) → decimal(30,0) —
      // exact for any long s (a long·scale product would wrap at
      // in-degree ≈ 2^63/scale² ≈ 8M edges with ANSI off). `div`, not
      // `/`: division must stay integral (and `div` returns long).
      val mx = raw.agg(F.greatest(F.max("s"), F.lit(1L)).as("mx"))
      nodes.join(raw, Seq("v"), "left_outer")
        .crossJoin(F.broadcast(mx))
        .select(F.col("v"),
          F.expr(s"(cast(coalesce(s, 0L) as decimal(20,0)) * " +
            s"cast(${scale}L as decimal(9,0))) div mx").as("s"))
        .localCheckpoint(false)
    }

    var hubs = nodes.select(F.col("v"), F.lit(scale).as("s"))
    var auths = nodes.select(F.col("v"), F.lit(scale).as("s"))
    var k = 0
    while (k < iters) {
      auths = normalized(
        e.join(hubs, e("src") === hubs("v"))
          .groupBy(e("dst").as("v")).agg(F.sum("s").as("s")))
      hubs = normalized(
        e.join(auths, e("dst") === auths("v"))
          .groupBy(e("src").as("v")).agg(F.sum("s").as("s")))
      k += 1
    }
    nodes
      .join(hubs.select(F.col("v"), F.col("s").as("hub_scaled")), Seq("v"))
      .join(auths.select(F.col("v"), F.col("s").as("auth_scaled")), Seq("v"))
      .select(F.col("v").as("node"), F.col("hub_scaled"),
        F.col("auth_scaled"),
        (F.col("hub_scaled").cast(DoubleType) / scale.toDouble).as("hub"),
        (F.col("auth_scaled").cast(DoubleType) / scale.toDouble).as("auth"))
  }

  /** Host→host link edges of a crawl: extract every outlink of every
    * page ([[TextAnalysis.htmlLinks]]), resolve it against the page URL
    * (RFC 3986, [[TextAnalysis.resolveUrl]]), reduce both ends to their
    * registrable host ([[TextAnalysis.urlHost]]), and keep the distinct
    * cross-host pairs. Returns (src_host, dst_host), both non-null,
    * self-edges dropped — the input [[pageRankHosts]] wants.
    *
    * Scale posture: extraction/resolution/host-parsing are all NARROW
    * codegen'd passes over the page scan (the explode multiplies rows
    * but never shuffles); the only exchange is the final `distinct`
    * on the (src, dst) pair — unavoidable, and it shrinks the data to
    * host-graph size (≪ page count) before anything iterates. */
  def hostEdges(docs: DataFrame, urlCol: String = "url",
      htmlCol: String = "html"): DataFrame = {
    val src = TextAnalysis.urlHost(F.col(urlCol))
    val dst = TextAnalysis.urlHost(TextAnalysis.resolveUrl(F.col("__base"),
      F.col("__ref")))
    docs
      // rank semantics: rel=nofollow links don't pass rank; a page's
      // <base href> (resolved against the page URL) overrides the
      // resolution base, as browsers do
      .select(F.col(urlCol),
        F.coalesce(TextAnalysis.resolveUrl(F.col(urlCol),
          TextAnalysis.htmlBase(F.col(htmlCol))), F.col(urlCol)).as("__base"),
        F.explode(TextAnalysis.htmlLinks(F.col(htmlCol),
          skipNofollow = true)).as("__ref"))
      .select(src.as("src_host"), dst.as("dst_host"))
      .where(F.col("src_host").isNotNull && F.col("dst_host").isNotNull &&
        F.col("src_host") =!= F.col("dst_host"))
      .distinct()
  }

  /** [[pageRank]] over string-keyed host edges: hosts map to stable
    * 64-bit ids (`xxhash64` — the engine's standard content key; a
    * collision would merge two hosts' ranks, odds ~n²/2⁶⁴), the integer
    * power iteration runs on the ids, and the host strings join back at
    * the end. Returns (host, rank_scaled, rank). The id→host map is
    * host-graph-sized and broadcastable; everything else is
    * [[pageRank]]'s posture. */
  def pageRankHosts(edges: DataFrame, srcCol: String = "src_host",
      dstCol: String = "dst_host", iters: Int = 5, dampingPct: Int = 85,
      scale: Long = 1000000000000L): DataFrame = {
    val e = edges.select(F.xxhash64(F.col(srcCol)).as("src"),
      F.xxhash64(F.col(dstCol)).as("dst"))
    val names = edges.select(F.col(srcCol).as("host"))
      .union(edges.select(F.col(dstCol).as("host")))
      .distinct()
      .select(F.col("host"), F.xxhash64(F.col("host")).as("node"))
    pageRank(e, iters = iters, dampingPct = dampingPct, scale = scale)
      .join(F.broadcast(names), "node")
      .select(F.col("host"), F.col("rank_scaled"), F.col("rank"))
  }

  /** [[hits]] over string-keyed host edges — the host-level
    * hub/authority prior, exactly the [[pageRankHosts]] id mapping:
    * xxhash64 ids, integer iterations, broadcast name join back.
    * Returns (host, hub_scaled, auth_scaled, hub, auth). */
  def hitsHosts(edges: DataFrame, srcCol: String = "src_host",
      dstCol: String = "dst_host", iters: Int = 3,
      scale: Long = 1L << 20): DataFrame = {
    val e = edges.select(F.xxhash64(F.col(srcCol)).as("src"),
      F.xxhash64(F.col(dstCol)).as("dst"))
    val names = edges.select(F.col(srcCol).as("host"))
      .union(edges.select(F.col(dstCol).as("host")))
      .distinct()
      .select(F.col("host"), F.xxhash64(F.col("host")).as("node"))
    hits(e, iters = iters, scale = scale)
      .join(F.broadcast(names), "node")
      .select(F.col("host"), F.col("hub_scaled"), F.col("auth_scaled"),
        F.col("hub"), F.col("auth"))
  }

  /** Crawl-frontier discovery: the distinct absolute outlink targets of
    * a batch that neither the batch's own pages nor the seen corpus
    * already cover — what a crawler fetches next. Extraction and
    * resolution are the narrow [[hostEdges]] stages; the seen-corpus
    * subtraction reuses [[Dedup.dedupAgainstSeen]]'s bloom-prefiltered
    * exact anti-join, so at corpus scale the overwhelmingly-new URLs
    * never join or shuffle against `seen` and the result is still
    * bit-exact (bloom false positives die in the md5 verify).
    * Returns one `url` column. */
  def frontierUrls(docs: DataFrame, seen: DataFrame,
      urlCol: String = "url", htmlCol: String = "html",
      seenUrlCol: String = "url"): DataFrame = {
    val targets = docs
      // discovery keeps rel=nofollow targets (a hint about rank, not
      // about fetching); <base href> overrides the resolution base
      .select(F.col(urlCol),
        F.coalesce(TextAnalysis.resolveUrl(F.col(urlCol),
          TextAnalysis.htmlBase(F.col(htmlCol))), F.col(urlCol)).as("__base"),
        F.explode(TextAnalysis.htmlLinks(F.col(htmlCol))).as("__ref"))
      .select(TextAnalysis.resolveUrl(F.col("__base"), F.col("__ref")).as("url"))
      .where(F.col("url").isNotNull)
      .distinct()
    val notOwn = targets.join(
      docs.select(F.col(urlCol).as("url")).distinct(), Seq("url"), "left_anti")
    Dedup.dedupAgainstSeen(notOwn,
      seen.select(F.col(seenUrlCol).as("url")), "url")
  }

  /** Attach the host-PageRank quality prior to a page batch: builds the
    * host graph from the batch's own markup ([[hostEdges]]), ranks it
    * ([[pageRankHosts]]), and joins `host_rank` back per page (broadcast
    * — the rank table is host-graph-sized). Pages whose host never
    * appears in the link graph get NULL. The CommonCrawl-style
    * curation prior: gate or weight documents by their host's rank. */
  def withHostRank(docs: DataFrame, urlCol: String = "url",
      htmlCol: String = "html", iters: Int = 5): DataFrame = {
    val ranks = pageRankHosts(hostEdges(docs, urlCol, htmlCol), iters = iters)
      .select(F.col("host").as("__host"), F.col("rank").as("host_rank"))
    docs.join(F.broadcast(ranks),
      TextAnalysis.urlHost(F.col(urlCol)) === F.col("__host"), "left_outer")
      .drop("__host")
  }
}
