package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.rdf._
import graft.pipeline.{Dedup, Similarity, TextAnalysis, Multimodal}
import graft.streaming.EventStreams

/** Driver contract: one queries-map entry per implemented operator from
  * SURVEY.md §2, each paired with equivalent DuckDB SQL in oracleSql. The
  * SPARQL entries run over the direct-mapped RDF view of the same parquet
  * the oracle reads (Tables.scala); pipeline entries run the DataFrame API
  * directly. Entries without an oracle (hash-based near-dup, ANN, stubs)
  * get the driver's rows-only check.
  */
object SparkEntry {

  private val P =
    """PREFIX gp: <urn:graft:p/>
      |PREFIX g: <urn:graft:>
      |PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
      |PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
      |""".stripMargin

  // Graph construction (schema reads + plan building) is pure given
  // (session, dir, tables) — memoize it so each query doesn't pay the
  // ~0.4 s setup again. Engines stay per-call: UPDATE queries swap their
  // own Engine.graph var and never touch the shared immutable RdfGraph.
  private val graphCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Seq[String]), RdfGraph]()

  /** Fit-once IVF indexes, keyed by (session, data dir). Bounded LRU:
    * past `IvfCacheMax` entries the least-recently-used index is evicted
    * AND unpersisted, so a long-lived session iterating over many data
    * dirs can't accumulate pinned cache blocks. (Stopping the session
    * frees its blocks regardless — this bounds the within-session case.) */
  private val IvfCacheMax = 4
  private val ivfCache =
    new java.util.LinkedHashMap[(SparkSession, String), Similarity.IvfIndex](
      8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), Similarity.IvfIndex])
          : Boolean =
        if (size > IvfCacheMax) { e.getValue.unpersist(); true } else false
    }

  private def ivfIndex(s: SparkSession, dir: String)(
      fit: => Similarity.IvfIndex): Similarity.IvfIndex =
    ivfCache.synchronized {
      val k = (s, dir)
      val hit = ivfCache.get(k)
      if (hit != null) hit
      else { val idx = fit; ivfCache.put(k, idx); idx }
    }

  private def eng(s: SparkSession, dir: String, tables: String*): Engine =
    Engine.fromGraph(graphCache.computeIfAbsent((s, dir, tables.toSeq),
      _ => Tables.graph(s, dir, tables: _*)))

  /** Pre-build the memoized graphs the bench queries use: schema reads +
    * plan construction only — no query executes, results stay cold. */
  def warmGraphs(s: SparkSession, dir: String): Unit =
    Seq(Seq("lineitem"), Seq("lineitem", "orders", "customer"),
      Seq("customer", "orders"), Seq("customer", "nation"), Seq("orders"))
      .foreach(ts => eng(s, dir, ts: _*))

  private def sel(tables: String*)(sparql: String): (SparkSession, String) => DataFrame =
    (s, dir) => eng(s, dir, tables: _*).select(P + sparql)

  private def read(s: SparkSession, dir: String, t: String): DataFrame =
    Tables.read(s, dir, t)

  /** 24-token paragraph planted by q_span_dedup (shared between the
    * Spark query and its oracle SQL). */
  private val SharedPara: String = (0 until 24).map(i => s"p$i").mkString(" ")

  /** The unrolled integer-k-means CTE chain (k=4, iters=2, smallest-id
    * init) shared by the q_kmeans and q_semantic_dedup oracles: v =
    * quantized vectors, cN = centroids after N updates, aN = assignment
    * against c(N-1), a3 = the final assignment. */
  /** DuckDB restatement of [[graft.pipeline.Clustering.kmeans]] (k
    * clusters, 2 Lloyd iterations, smallest-id init) over the
    * embeddings table restricted to `filter` (empty = all rows). CTE
    * surface: `v` = every row quantized, `vc` = the k-means corpus,
    * `c2` = final integer centroids, `a3` = final assignment. */
  private def kmeansCtesFor(k: Int, filter: String): String = {
    val vcDef =
      if (filter.isEmpty) """,
         vc AS (SELECT * FROM v)"""
      else s""",
         vc AS (SELECT * FROM v WHERE $filter)"""
    s"""WITH v AS (SELECT vec_id, list_transform(embedding,
                  x -> CAST(floor((CAST(x AS DOUBLE) + 2) * 1000000)
                    AS BIGINT)) AS q
                FROM embeddings)$vcDef,
         c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, q AS c
                FROM (SELECT vec_id, q FROM vc ORDER BY vec_id LIMIT $k))""" +
      Seq(("c0", "1"), ("c1", "2"), ("c2", "3")).map { case (ci, o) =>
        s""",
         d$o AS (SELECT vc.vec_id, vc.q, $ci.j,
                   list_sum(list_transform(range(1, len(vc.q) + 1),
                     i -> (vc.q[i] - $ci.c[i]) * (vc.q[i] - $ci.c[i]))) AS dist
                 FROM vc CROSS JOIN $ci),
         a$o AS (SELECT vec_id, q, j FROM (SELECT vec_id, q, j,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY dist, j) AS rn FROM d$o) WHERE rn = 1)""" +
          (if (o == "3") "" else s""",
         s$o AS (SELECT j, i AS pos, SUM(q[i]) AS s, COUNT(*) AS n
                 FROM a$o, unnest(range(1, len(q) + 1)) AS r(i)
                 GROUP BY 1, 2),
         u$o AS (SELECT j, list(CAST(s // n AS BIGINT) ORDER BY pos) AS c
                 FROM s$o GROUP BY 1),
         c$o AS (SELECT $ci.j, COALESCE(u$o.c, $ci.c) AS c
                 FROM $ci LEFT JOIN u$o USING (j))""")
      }.mkString
  }

  private val KmeansCtes: String = kmeansCtesFor(4, "")

  /** Flagship query on sf=0.001: SPARQL join+agg over the direct-mapped
    * graph (driver smoke-checks rows>0). */
  def entry(spark: SparkSession): DataFrame =
    eng(spark, "/root/testdata/sf0.001", "customer", "nation").select(P +
      """SELECT ?nname (COUNT(*) AS ?cnt) {
           ?c gp:c_nation_ref ?n . ?n gp:n_name ?nname
         } GROUP BY ?nname ORDER BY DESC(?cnt) ?nname""")

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- scans / BGP / joins (SURVEY §2B "Projection/filter", "Joins")
    "q_bgp_scan" -> sel("region")(
      "SELECT ?name { ?s gp:r_name ?name }"),
    "q_bgp_join" -> sel("customer", "nation")(
      """SELECT ?cname ?nname {
           ?c gp:c_nation_ref ?n . ?c gp:c_name ?cname . ?n gp:n_name ?nname }"""),
    "q_filter_cmp" -> sel("customer")(
      """SELECT ?name ?bal {
           ?c gp:c_name ?name . ?c gp:c_acctbal ?bal . ?c gp:c_mktsegment ?seg
           FILTER(?bal > 9000.0 && ?seg = "BUILDING") }"""),
    "q_filter_in" -> sel("nation")(
      """SELECT ?name { ?n gp:n_name ?name
           FILTER(?name IN ("NATION_3", "NATION_7", "NATION_11")) }"""),
    "q_filter_not" -> sel("part")(
      """SELECT ?name { ?p gp:p_name ?name . ?p gp:p_type ?t
           FILTER(!STRSTARTS(?t, "ECO")) }"""),
    "q_bind_arith" -> sel("nation")(
      """SELECT ?name ?x { ?n gp:n_name ?name . ?n gp:n_nationkey ?k
           BIND(?k * 2 + 1 AS ?x) }"""),
    "q_values" -> sel("region")(
      """SELECT ?name { VALUES ?k { 0 2 4 }
           ?r gp:r_regionkey ?k . ?r gp:r_name ?name }"""),
    "q_values_undef" -> sel("region")(
      // UNDEF leaves ?name unbound in the VALUES row — the compatible
      // join must fill it from the pattern side (oracle-checked)
      """SELECT ?name { VALUES (?k ?name) { (0 UNDEF) (2 UNDEF) }
           ?r gp:r_regionkey ?k . ?r gp:r_name ?name }"""),

    // --- OPTIONAL / MINUS / EXISTS (SURVEY §2B "Joins")
    "q_optional" -> sel("customer", "orders")(
      """SELECT ?cname ?okey {
           ?c gp:c_name ?cname
           OPTIONAL { ?o gp:o_cust_ref ?c . ?o gp:o_orderkey ?okey .
                      ?o gp:o_totalprice ?tp FILTER(?tp > 400000.0) } }"""),
    "q_minus" -> sel("customer", "orders")(
      """SELECT ?cname { ?c gp:c_name ?cname
           MINUS { ?o gp:o_cust_ref ?c . ?o gp:o_totalprice ?tp
                   FILTER(?tp > 400000.0) } }"""),
    "q_not_exists" -> sel("customer", "orders")(
      """SELECT ?cname { ?c gp:c_name ?cname
           FILTER NOT EXISTS { ?o gp:o_cust_ref ?c .
             ?o gp:o_orderpriority ?pr FILTER(?pr = "1-URGENT") } }"""),
    "q_exists" -> sel("customer", "orders")(
      """SELECT ?cname { ?c gp:c_name ?cname
           FILTER EXISTS { ?o gp:o_cust_ref ?c .
             ?o gp:o_totalprice ?tp FILTER(?tp > 450000.0) } }"""),
    "q_union" -> sel("customer", "supplier")(
      "SELECT ?name { { ?c gp:c_name ?name } UNION { ?s gp:s_name ?name } }"),

    // --- aggregation (SURVEY §2B "Aggregations")
    "q_groupby_count" -> sel("customer", "nation")(
      """SELECT ?nname (COUNT(*) AS ?cnt) {
           ?c gp:c_nation_ref ?n . ?n gp:n_name ?nname } GROUP BY ?nname"""),
    "q_group_expr" -> sel("customer")(
      """SELECT ?pre (COUNT(*) AS ?cnt) { ?c gp:c_mktsegment ?seg }
           GROUP BY (SUBSTR(?seg, 1, 3) AS ?pre)"""),
    "q_count_distinct" -> sel("customer")(
      "SELECT (COUNT(DISTINCT ?seg) AS ?n) { ?c gp:c_mktsegment ?seg }"),
    "q_agg_suite" -> sel("lineitem")(
      """SELECT ?flag (SUM(?q) AS ?sum_qty) (AVG(?q) AS ?avg_qty)
                (MIN(?q) AS ?min_qty) (MAX(?q) AS ?max_qty) (COUNT(*) AS ?n) {
           ?l gp:l_returnflag ?flag . ?l gp:l_quantity ?q } GROUP BY ?flag"""),
    "q_having" -> sel("customer")(
      """SELECT ?seg (COUNT(*) AS ?cnt) { ?c gp:c_mktsegment ?seg }
           GROUP BY ?seg HAVING(COUNT(*) > 250)"""),
    "q_group_concat" -> sel("region")(
      """SELECT (GROUP_CONCAT(?name; separator=",") AS ?names) {
           ?r gp:r_name ?name }"""),
    "q_approx_distinct" -> ((s, dir) =>
      // scale variant of COUNT(DISTINCT): HLL sketch, no exact shuffle.
      // Emits the exact count plus an in-tolerance flag so the DuckDB
      // oracle (exact count, TRUE) hash-checks the estimate to ±5%.
      read(s, dir, "customer").agg(
        F.approx_count_distinct("c_mktsegment").as("approx"),
        F.count_distinct(F.col("c_mktsegment")).as("n"))
        .select(F.col("n"),
          (F.abs(F.col("approx") - F.col("n")) <=
            F.lit(0.05) * F.col("n")).as("ok"))),
    "q_approx_quantile" -> ((s, dir) =>
      // scale variant of exact percentiles: one-pass mergeable sketch
      // (approx_percentile), flagged against the exact interpolated
      // percentile so the oracle hash-checks the estimate to ±2%
      read(s, dir, "lineitem").agg(
        F.expr("approx_percentile(l_extendedprice, array(0.5D, 0.95D), 1000)")
          .as("ap"),
        F.expr("percentile(l_extendedprice, array(0.5D, 0.95D))").as("ex"))
        .select(
          F.round(F.element_at(F.col("ex"), 1), 4).as("p50"),
          F.round(F.element_at(F.col("ex"), 2), 4).as("p95"),
          (F.abs(F.element_at(F.col("ap"), 1) - F.element_at(F.col("ex"), 1))
            <= F.lit(0.02) * F.abs(F.element_at(F.col("ex"), 1))).as("ok50"),
          (F.abs(F.element_at(F.col("ap"), 2) - F.element_at(F.col("ex"), 2))
            <= F.lit(0.02) * F.abs(F.element_at(F.col("ex"), 2))).as("ok95"))),

    // --- sort / limit / distinct (SURVEY §2B "Sorts/limits")
    "q_topk" -> sel("orders")(
      """SELECT ?okey ?price { ?o gp:o_orderkey ?okey . ?o gp:o_totalprice ?price }
           ORDER BY DESC(?price) ?okey LIMIT 10"""),
    "q_offset" -> sel("nation")(
      "SELECT ?name { ?n gp:n_name ?name } ORDER BY ?name OFFSET 5 LIMIT 5"),
    "q_distinct" -> sel("customer")(
      "SELECT DISTINCT ?seg { ?c gp:c_mktsegment ?seg }"),
    "q_orderby_multi" -> sel("customer")(
      """SELECT ?seg ?name { ?c gp:c_mktsegment ?seg . ?c gp:c_name ?name }
           ORDER BY ?seg DESC(?name)"""),

    // --- subqueries (SURVEY §2B "Subqueries")
    "q_subquery_agg" -> sel("customer", "nation")(
      """SELECT ?nname ?cnt { ?n gp:n_name ?nname
           { SELECT ?n (COUNT(*) AS ?cnt) { ?c gp:c_nation_ref ?n } GROUP BY ?n } }"""),
    "q_subquery_filter" -> sel("customer", "nation")(
      """SELECT ?nname ?cnt { ?n gp:n_name ?nname
           { SELECT ?n (COUNT(*) AS ?cnt) { ?c gp:c_nation_ref ?n } GROUP BY ?n }
           FILTER(?cnt > 60) }"""),

    // --- property paths (SURVEY §2B "Property paths")
    "q_path_seq" -> sel("lineitem", "orders", "customer")(
      """SELECT ?cname (COUNT(*) AS ?cnt) {
           ?l gp:l_order_ref/gp:o_cust_ref/gp:c_name ?cname } GROUP BY ?cname"""),
    "q_path_inverse" -> sel("customer", "nation")(
      """SELECT ?nname (COUNT(*) AS ?cnt) {
           ?n gp:n_name ?nname . ?n ^gp:c_nation_ref ?c } GROUP BY ?nname"""),
    "q_path_alt" -> sel("customer", "supplier")(
      "SELECT ?name { ?x gp:c_name|gp:s_name ?name }"),
    "q_path_star" -> sel("nation")(
      "SELECT ?x { <urn:graft:nation/7> gp:n_region_ref* ?x }"),
    "q_path_opt" -> sel("nation")(
      "SELECT ?x { <urn:graft:nation/7> gp:n_region_ref? ?x }"),
    "q_path_plus" -> sel("customer", "nation")(
      "SELECT ?x { <urn:graft:customer/42> (gp:c_nation_ref|gp:n_region_ref)+ ?x }"),
    // the same closure seeded from a variable a sibling pattern binds
    "q_path_plus_bound" -> sel("customer", "nation", "region")(
      """SELECT ?name { ?c gp:c_custkey 42 .
           ?c (gp:c_nation_ref|gp:n_region_ref)+ ?x . ?x gp:n_name|gp:r_name ?name }"""),
    // both endpoints free: the full pair closure by path doubling
    "q_path_plus_free" -> sel("orders", "customer", "nation", "region")(
      "SELECT ?a ?b { ?a (gp:o_cust_ref|gp:c_nation_ref|gp:n_region_ref)+ ?b }"),

    // --- CONSTRUCT / UPDATE (SURVEY §2A construct, §2C)
    "q_construct" -> ((s, dir) => {
      val g = eng(s, dir, "customer", "nation").construct(P +
        """CONSTRUCT { ?c <urn:graft:p/in_nation> ?nname }
           WHERE { ?c gp:c_nation_ref ?n . ?n gp:n_name ?nname }""")
      g.triples.select(F.col("s.value").as("s"), F.col("p.value").as("p"),
        F.col("o.value").as("o"))
    }),
    "q_update_insert" -> ((s, dir) => {
      val e = eng(s, dir, "customer")
      e.update(P +
        """INSERT { ?c a <urn:graft:class/rich> }
           WHERE { ?c gp:c_acctbal ?b FILTER(?b > 9000.0) }""")
      e.select(P + "SELECT (COUNT(*) AS ?n) { ?c a <urn:graft:class/rich> }")
    }),
    "q_describe" -> ((s, dir) => {
      // DESCRIBE = concise bounded description (outbound triples; the
      // direct mapping has no blank nodes so the closure is depth 0) —
      // dumped as raw term values so DuckDB can reconstruct the same
      // triple set from the source row
      val e = eng(s, dir, "nation")
      e.describe("DESCRIBE <urn:graft:nation/3>").triples.select(
        F.col("s.value").as("s"), F.col("p.value").as("p"),
        F.col("o.value").as("o"))
    }),
    "q_rdf_star" -> ((s, dir) => {
      // RDF-star / SPARQL 1.2 quoted triples: each region's name
      // statement is asserted AND annotated with a confidence via the
      // 1.2 annotation sugar `{| … |}`, then queried back with a
      // variable quoted pattern + the TRIPLE/isTRIPLE builtins (the
      // annotation block asserts the base triple and annotates its
      // quoted form — same result set as explicit reification, plus the
      // asserted base triples). region is the fixed 5-row dim, so the
      // driver-side Turtle-star synthesis is O(1) at any SF.
      val rows = read(s, dir, "region")
        .select("r_regionkey", "r_name").collect()
        .map(r => (r.getAs[Number](0).longValue(), r.getString(1)))
      val ttl = new StringBuilder("@prefix : <http://example/> .\n")
      rows.foreach { case (k, n) =>
        ttl.append(s""":r$k :name "$n" {| :confidence ${80 + k} |} .\n""")
      }
      Engine.inline(ttl.toString)(s).select(
        """PREFIX : <http://example/>
           SELECT ?rname ?conf WHERE {
             << ?r :name ?rname >> :confidence ?conf
             FILTER(isTRIPLE(TRIPLE(?r, :name, ?rname)))
           }""")
    }),
    "q_rdfxml" -> ((s, dir) => {
      // RDF/XML round trip as data: the region dim rendered as an
      // RDF/XML document (typed node elements + datatyped literals),
      // parsed back by the reader, queried with SPARQL. region is the
      // fixed 5-row dim, so the driver-side synthesis is O(1) at any SF.
      val rows = read(s, dir, "region").select("r_regionkey", "r_name")
        .collect()
        .map(r => (r.getAs[Number](0).longValue(), r.getString(1)))
      val xml = new StringBuilder(
        """<?xml version="1.0"?>
          |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
          |         xmlns:g="http://graft.example/">""".stripMargin)
      rows.foreach { case (k, n) =>
        xml.append(s"""
          |  <g:Region rdf:about="http://graft.example/region/$k">
          |    <g:name>$n</g:name>
          |    <g:key rdf:datatype="http://www.w3.org/2001/XMLSchema#integer">$k</g:key>
          |  </g:Region>""".stripMargin)
      }
      xml.append("\n</rdf:RDF>")
      Engine.fromGraph(sources.RdfXml.parse(xml.toString, s)).select(
        """PREFIX g: <http://graft.example/>
           SELECT ?rname ?key WHERE {
             ?r a g:Region ; g:name ?rname ; g:key ?key }""")
    }),
    "q_jsonld" -> ((s, dir) => {
      // JSON-LD round trip as data: the region dim rendered as a
      // compacted JSON-LD document (context term definitions, @type,
      // native-typed values), parsed by the reader, queried with
      // SPARQL. region is the fixed 5-row dim, so the driver-side
      // synthesis is O(1) at any SF.
      val rows = read(s, dir, "region").select("r_regionkey", "r_name")
        .collect()
        .map(r => (r.getAs[Number](0).longValue(), r.getString(1)))
      val json = new StringBuilder(
        """{"@context": {"g": "http://graft.example/",
          |  "name": {"@id": "g:name"}, "key": {"@id": "g:key"}},
          | "@graph": [""".stripMargin)
      json.append(rows.map { case (k, n) =>
        s"""{"@id": "http://graft.example/region/$k",
           | "@type": "g:Region", "name": "$n", "key": $k}""".stripMargin
      }.mkString(","))
      json.append("]}")
      Engine.fromGraph(sources.JsonLd.parse(json.toString, s)).select(
        """PREFIX g: <http://graft.example/>
           SELECT ?rname ?key WHERE {
             ?r a g:Region ; g:name ?rname ; g:key ?key }""")
    }),
    "q_graph_diff" -> ((s, dir) => {
      // Distributed set-diff of two graph revisions (anti-joins, no
      // driver materialization): nation triples for regions 0-2 vs
      // regions 2-4 — each side's exclusive triples, labeled.
      import org.apache.spark.sql.{functions => F}
      def gOf(cond: org.apache.spark.sql.Column) = graft.rdf.RdfGraph(
        read(s, dir, "nation").filter(cond).select(
          graft.rdf.Terms.iri(F.concat(F.lit("urn:graft:nation/"),
            F.col("n_nationkey").cast("string"))).as("s"),
          graft.rdf.Terms.iri(F.lit("urn:graft:p/n_name")).as("p"),
          graft.rdf.Terms.plainLit(F.col("n_name")).as("o")), Map.empty)
      val (onlyA, onlyB) = gOf(F.col("n_regionkey") <= 2)
        .diff(gOf(F.col("n_regionkey") >= 2))
      def shape(df: org.apache.spark.sql.DataFrame, side: String) =
        df.select(F.col("s.value").as("s"), F.col("o.value").as("name"),
          F.lit(side).as("side"))
      shape(onlyA, "a").unionByName(shape(onlyB, "b"))
    }),
    "q_canon" -> ((s, dir) => {
      // Distributed RDFC-1.0 canonical N-Quads over a graph synthesized
      // from the region dim: ground rows render columnar (no driver
      // materialization — the scale path for content-addressing a
      // store), restated in DuckDB as string concatenation.
      import org.apache.spark.sql.{functions => F}
      val t = read(s, dir, "region").select(
        graft.rdf.Terms.iri(F.concat(F.lit("urn:graft:region/"),
          F.col("r_regionkey").cast("string"))).as("s"),
        graft.rdf.Terms.iri(F.lit("urn:graft:p/name")).as("p"),
        graft.rdf.Terms.plainLit(F.col("r_name")).as("o"))
      graft.rdf.Canon.canonicalLines(graft.rdf.RdfGraph(t, Map.empty))
        .select(F.col("line"))
    }),
    "q_rdfs_closure" -> ((s, dir) => {
      // ρdf RDFS materialization end-to-end (Reasoner.rdfsClosure):
      // a 5-deep class chain over the region dim, nation subclasses, a
      // property chain with domain/range, and customer instance data.
      // The engine runs the real schema-sized fixpoints + broadcast
      // rule joins; DuckDB restates every derived triple as range
      // joins over the region index set (chain closure ≡ b < a pairs).
      val region = read(s, dir, "region")
      def ir(prefix: String, k: Column) =
        Terms.iri(F.concat(F.lit(prefix), k.cast("string")))
      val subC = Terms.iri(RDFS.subClassOf)
      val subP = Terms.iri(RDFS.subPropertyOf)
      val chainC = region.where(F.col("r_regionkey") > 0).select(
        ir("urn:graft:c/R", F.col("r_regionkey")).as("s"), subC.as("p"),
        ir("urn:graft:c/R", F.col("r_regionkey") - 1).as("o"))
      val natC = read(s, dir, "nation").select(
        ir("urn:graft:c/N", F.col("n_nationkey")).as("s"), subC.as("p"),
        ir("urn:graft:c/R", F.col("n_regionkey")).as("o"))
      val chainP = region.where(F.col("r_regionkey") > 0).select(
        ir("urn:graft:p/P", F.col("r_regionkey")).as("s"), subP.as("p"),
        ir("urn:graft:p/P", F.col("r_regionkey") - 1).as("o"))
      val domRng = region.where(F.col("r_regionkey") === 2).select(
          Terms.iri("urn:graft:p/P2").as("s"),
          Terms.iri(RDFS.domain).as("p"),
          Terms.iri("urn:graft:c/Dom").as("o"))
        .unionByName(region.where(F.col("r_regionkey") === 3).select(
          Terms.iri("urn:graft:p/P3").as("s"),
          Terms.iri(RDFS.range).as("p"),
          Terms.iri("urn:graft:c/Rng").as("o")))
      val customer = read(s, dir, "customer")
      val inst = customer.select(
        ir("urn:graft:e/c", F.col("c_custkey")).as("s"),
        ir("urn:graft:p/P", F.col("c_custkey") % 5).as("p"),
        ir("urn:graft:e/n", F.col("c_nationkey")).as("o"))
      val types = customer.select(
        ir("urn:graft:e/c", F.col("c_custkey")).as("s"),
        Terms.iri(RDF.typ).as("p"),
        ir("urn:graft:c/N", F.col("c_nationkey")).as("o"))
      val g = RdfGraph(chainC.unionByName(natC).unionByName(chainP)
        .unionByName(domRng).unionByName(inst).unionByName(types), Map.empty)
      Reasoner.rdfsClosure(g).triples.select(
        F.col("s.value").as("s"), F.col("p.value").as("p"),
        F.col("o.value").as("o"))
    }),
    "q_sameas_smush" -> ((s, dir) => {
      // owl:sameAs smushing (Reasoner.smushSameAs): customers alias in
      // blocks of four (k → k - k%4), so components close under the
      // engine's min-label doubling and every subject/object rewrites
      // to the component's lexicographically least IRI — including the
      // 'e/10' < 'e/8' string-order corner. DuckDB restates components
      // by block arithmetic and the rewrite as two alias joins.
      val customer = read(s, dir, "customer")
      def e(k: Column) =
        Terms.iri(F.concat(F.lit("urn:graft:e/"), k.cast("string")))
      val sameAs = customer.where(F.col("c_custkey") % 4 =!= 0).select(
        e(F.col("c_custkey")).as("s"), Terms.iri(OWL.sameAs).as("p"),
        e(F.col("c_custkey") - F.col("c_custkey") % 4).as("o"))
      val knows = customer.select(e(F.col("c_custkey")).as("s"),
        Terms.iri("urn:graft:p/knows").as("p"),
        e(F.col("c_custkey") * 7 % 997).as("o"))
      val names = customer.select(e(F.col("c_custkey")).as("s"),
        Terms.iri("urn:graft:p/name").as("p"),
        Terms.plainLit(F.col("c_name")).as("o"))
      val g = RdfGraph(sameAs.unionByName(knows).unionByName(names),
        Map.empty)
      Reasoner.smushSameAs(g).triples.select(
        F.col("s.value").as("s"), F.col("p.value").as("p"),
        F.col("o.value").as("o"))
    }),
    "q_lang_dir" -> ((s, dir) => {
      // SPARQL 1.2 directional language strings as data: region names
      // tagged @en--ltr (even keys) / @ar--rtl (odd), queried through
      // LANG (direction strips), LANGDIR and hasLANGDIR. region is the
      // fixed 5-row dim, so the driver-side synthesis is O(1) at any SF.
      val rows = read(s, dir, "region").select("r_regionkey", "r_name")
        .collect()
        .map(r => (r.getAs[Number](0).longValue(), r.getString(1)))
      val ttl = new StringBuilder("@prefix : <http://example/> .\n")
      rows.foreach { case (k, n) =>
        val tag = if (k % 2 == 0) "en--ltr" else "ar--rtl"
        ttl.append(s""":r$k :name "$n"@$tag .\n""")
      }
      Engine.inline(ttl.toString)(s).select(
        """PREFIX : <http://example/>
           SELECT ?rname ?lang ?dir WHERE {
             ?r :name ?n FILTER(hasLANGDIR(?n))
             BIND(STR(?n) AS ?rname)
             BIND(LANG(?n) AS ?lang)
             BIND(LANGDIR(?n) AS ?dir)
           }""")
    }),
    // --- W3C result serialization (CSV/TSV REC): each solution of a
    //     SELECT rendered as its TSV and CSV data line by the codegen'd
    //     per-row expressions behind writeTsv/writeCsv — IRI brackets,
    //     literal quoting, ^^datatype tags, bare CSV lexical forms
    "q_sparql_results" -> ((s, dir) => {
      val raw = eng(s, dir, "nation").selectRaw(P +
        "SELECT ?n ?name ?k { ?n gp:n_name ?name . ?n gp:n_nationkey ?k }")
      raw.select(
        graft.sources.SparqlResults.tsvLineOf(raw).as("tsv"),
        graft.sources.SparqlResults.csvLineOf(raw).as("csv"))
    }),
    "q_update_delete" -> ((s, dir) => {
      val e = eng(s, dir, "region")
      e.update(P +
        """DELETE { ?r gp:r_name ?n }
           WHERE { ?r gp:r_regionkey ?k . ?r gp:r_name ?n FILTER(?k = 0) }""")
      e.select(P + "SELECT ?name { ?r gp:r_name ?name }")
    }),

    // --- RDF containers: rdf:Seq recipe (SURVEY §2A decollect; the
    //     reference's SUBSTR(STR(?p),45) index extraction)
    "q_container_seq" -> ((s, dir) => {
      val e = Engine.fromGraph(containerGraph(s, dir))
      e.select(P +
        """SELECT ?okey ?idx ?pkey {
             ?o ?p ?item .
             FILTER(STRSTARTS(STR(?p), "http://www.w3.org/1999/02/22-rdf-syntax-ns#_"))
             BIND(xsd:integer(SUBSTR(STR(?p), 45)) AS ?idx)
             BIND(xsd:integer(SUBSTR(STR(?o), 18)) AS ?okey)
             BIND(xsd:integer(SUBSTR(STR(?item), 16)) AS ?pkey) }""")
    }),

    // --- named graphs: GRAPH binding/scoping + FROM / FROM NAMED over
    //     the quad model (VERDICT r7 task 6)
    "q_graph" -> ((s, dir) => {
      val e = Engine.fromGraph(quadGraph(s, dir))
      e.select(P +
        """SELECT ?rname ?nname {
             ?g gp:r_name ?rname .
             GRAPH ?g { ?n gp:n_name ?nname } }""")
    }),
    "q_graph_from" -> ((s, dir) => {
      val e = Engine.fromGraph(quadGraph(s, dir))
      e.select(P +
        """SELECT ?nname
           FROM <urn:graft:g/0> FROM <urn:graft:g/1>
           WHERE { ?n gp:n_name ?nname }""")
    }),
    "q_graph_named" -> ((s, dir) => {
      val e = Engine.fromGraph(quadGraph(s, dir))
      e.select(P +
        """SELECT ?g ?nname
           FROM NAMED <urn:graft:g/2> FROM NAMED <urn:graft:g/3>
           WHERE { GRAPH ?g { ?n gp:n_name ?nname } }""")
    }),
    "q_update_graph" -> ((s, dir) => {
      // named-graph UPDATE end-to-end (Update §3.1.3 + §3.2): a quad
      // template with a VARIABLE graph slot labels every nation with
      // its region name inside the region's named graph, CLEAR empties
      // one graph, MOVE relocates another — then a GRAPH ?g query
      // reads the post-state back
      val e = Engine.fromGraph(quadGraph(s, dir))
      e.update(P +
        """INSERT { GRAPH ?g { ?n <urn:graft:p/region_label> ?rname } }
           WHERE { ?g gp:r_name ?rname . GRAPH ?g { ?n gp:n_name ?nname } } ;
           CLEAR GRAPH <urn:graft:g/0> ;
           MOVE GRAPH <urn:graft:g/1> TO GRAPH <urn:graft:g/9>""")
      e.select(P +
        """SELECT ?gname ?nname ?rlabel {
             GRAPH ?g { ?n gp:n_name ?nname .
                        ?n <urn:graft:p/region_label> ?rlabel }
             BIND(STR(?g) AS ?gname) }""")
    }),

    // --- scalar function library (SURVEY §2B "Scalar functions")
    "q_scalar_strings" -> sel("part")(
      """SELECT ?name ?len ?uname ?pre {
           ?p gp:p_name ?name
           BIND(STRLEN(?name) AS ?len) BIND(UCASE(?name) AS ?uname)
           BIND(SUBSTR(?name, 1, 3) AS ?pre)
           FILTER(CONTAINS(?name, " ") && REGEX(?name, "^[a-z]+ [a-z]+$")) }"""),
    "q_scalar_funcs" -> sel("part")(
      """SELECT ?name ?brandnum ?cat {
           ?p gp:p_name ?name . ?p gp:p_brand ?brand . ?p gp:p_size ?sz
           BIND(xsd:integer(STRAFTER(?brand, "#")) AS ?brandnum)
           BIND(IF(?sz < 25, "small", "large") AS ?cat) }"""),
    "q_dates" -> sel("orders")(
      """SELECT ?okey ?od ?yr ?mo {
           ?o gp:o_orderkey ?okey . ?o gp:o_orderdate ?od
           BIND(YEAR(?od) AS ?yr) BIND(MONTH(?od) AS ?mo)
           FILTER(?mo <= 6) }"""),

    // --- money aggregates, decimal-exact (DataFrame API extension surface)
    "q_money_sum" -> ((s, dir) =>
      read(s, dir, "lineitem")
        .groupBy(F.col("l_returnflag").as("flag"))
        .agg(
          F.sum(F.col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("total"),
          F.count(F.lit(1)).as("n"))),

    // --- window functions (pandas cumsum idiom parity, SURVEY §2B)
    "q_window_cumsum" -> ((s, dir) => {
      val hist = read(s, dir, "orders")
        .groupBy(F.col("o_orderpriority").as("pri"))
        .agg(F.count(F.lit(1)).as("n"))
      val w = Window.orderBy(F.col("n").desc, F.col("pri"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist.withColumn("cum", F.sum("n").over(w))
    }),

    // --- events: windowed agg (batch twin of the streaming pipeline)
    "q_events_window" -> ((s, dir) =>
      EventStreams.windowedAgg(read(s, dir, "events"), "1 hour")),
    "q_events_sliding" -> ((s, dir) =>
      EventStreams.slidingUserActivity(read(s, dir, "events"), "1 hour", "30 minutes")
        .where(F.col("n") > 2)),
    "q_events_sessions" -> ((s, dir) =>
      EventStreams.sessionized(read(s, dir, "events"), "30 minutes")),
    "q_user_totals" -> ((s, dir) =>
      // batch twin of the mapGroupsWithState running-totals operator
      read(s, dir, "events").groupBy("user_id")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum(F.col("value").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("total"))),
    "q_events_props" -> ((s, dir) =>
      read(s, dir, "events").select(
        F.col("event_id"),
        F.regexp_extract(F.col("props"), "\"k\": ([0-9]+)", 1)
          .cast(LongType).as("k"))),
    "q_events_enriched" -> ((s, dir) =>
      // stream-static enrichment, batch twin (user_id keys into customer)
      streaming.EventStreams.enrich(read(s, dir, "events"),
        read(s, dir, "customer").select(F.col("c_custkey"), F.col("c_name")),
        "user_id", "c_custkey")
        .select(F.col("event_id"), F.col("user_id"), F.col("c_name"))),
    "q_events_attributed" -> ((s, dir) => {
      // stream-stream interval join, batch twin
      val ev = read(s, dir, "events")
      streaming.EventStreams.attributed(
        ev.where(F.col("event_type") === "click"),
        ev.where(F.col("event_type") === "purchase"))
    }),
    "q_events_asof" -> ((s, dir) => {
      // point-in-time join: each click sees the latest prior purchase
      val ev = read(s, dir, "events")
      val clicks = ev.where(F.col("event_type") === "click")
        .select(F.col("event_id"), F.col("user_id"), F.col("ts"))
      val purchases = ev.where(F.col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max(F.col("value")).as("purchase_value"))
      pipeline.AsOf.asofJoin(clicks, purchases, "user_id", "ts",
        Seq("purchase_value"))
        .select(F.col("event_id"), F.col("user_id"), F.col("purchase_value"))
    }),

    // --- text analysis (documents)
    "q_text_stats" -> ((s, dir) =>
      read(s, dir, "documents").select(
        F.col("doc_id"),
        TextAnalysis.tokenCount(F.col("text")).cast(LongType).as("n_tokens"),
        TextAnalysis.bpeTokenCount(F.col("text")).cast(LongType).as("n_bpe"),
        TextAnalysis.charCount(F.col("text")).cast(LongType).as("n_chars2"))),
    "q_text_quality" -> ((s, dir) =>
      read(s, dir, "documents").select(
        F.col("doc_id"),
        F.round(TextAnalysis.punctRatio(F.col("text")), 6).as("punct_ratio"),
        F.round(TextAnalysis.stopwordRatio(F.col("text")), 6).as("stopword_ratio"),
        F.round(TextAnalysis.avgWordLen(F.col("text")), 6).as("avg_word_len"))),
    "q_lang_id" -> ((s, dir) =>
      read(s, dir, "documents").select(
        F.col("doc_id"), TextAnalysis.langId(F.col("text")).as("lang_pred"))),
    "q_quality_score" -> ((s, dir) =>
      read(s, dir, "documents").select(
        F.col("doc_id"), TextAnalysis.qualityScore(F.col("text")).as("quality"))),
    "q_fingerprint" -> ((s, dir) =>
      // hash-oracled since r12: the rolling hash's token seed is
      // md5-derived, so DuckDB replays the fold with HUGEINT mod-2^64
      read(s, dir, "documents").select(
        F.col("doc_id"), TextAnalysis.fingerprint(F.col("text")).as("fp"))),
    "q_compress_ratio" -> ((s, dir) =>
      // rows-only by design (DuckDB exposes no deflate); CorpusOpsSpec
      // pins round-trips and the repetitive < natural < random ordering
      read(s, dir, "documents").select(
        F.col("doc_id"),
        TextAnalysis.compressionRatio(F.col("text")).as("ratio"))),
    "q_bpe" -> ((s, dir) => {
      // corpus-trained BPE: fit 100 merges on the documents themselves
      // (one distributed word-count aggregate + vocabulary-sized driver
      // loop), then exact subword counts per doc. PROMOTED from
      // rows-only in r15: the oracle replays the merge-learning loop as
      // a recursive CTE over the vocabulary (symbols as \x01-delimited
      // strings, one merge per round via replace()) and the greedy
      // lowest-rank apply as a second recursion — see oracleSql for the
      // full restatement; BpeSpec still pins the trainer against
      // hand-computed merges and a local reference
      val docs = read(s, dir, "documents")
      val model = graft.pipeline.Bpe.train(docs, "text", numMerges = 100)
      docs.select(F.col("doc_id"),
        graft.pipeline.Bpe.tokenCount(F.col("text"), model)
          .cast(LongType).as("n_bpe_tokens"))
    }),
    "q_redact_pii" -> ((s, dir) =>
      // synthetic PII appended per doc so the scrub regexes actually fire
      read(s, dir, "documents").select(
        F.col("doc_id"),
        TextAnalysis.redactPii(F.concat(F.col("text"),
          F.lit(" contact user"), F.col("doc_id"),
          F.lit("@example.com at 10.0.0.1"))).as("clean"))),
    "q_vocab" -> ((s, dir) =>
      TextAnalysis.vocabulary(read(s, dir, "documents"), "text", 20)),
    "q_zorder" -> ((s, dir) => {
      // oracle-verified Morton (Z-order) keys — the multi-column
      // data-skipping layout key: DuckDB regenerates every key with the
      // same five magic-number spread rounds
      val a = F.col("doc_id") % 1024
      val b = (F.col("doc_id") * 7 + 3) % 1024
      read(s, dir, "documents")
        .select(F.col("doc_id"), a.as("a"), b.as("b"),
          Tables.zorderKey(a, b).as("z"))
    }),
    "q_cms" -> ((s, dir) => {
      // oracle-verified Count-Min sketch: the full 2×64 counter matrix
      // over the corpus's whitespace tokens, unrolled to (pos, cnt)
      // rows; DuckDB regenerates every counter from the md5 bucket
      // recipe and per-(row,bucket) token counts
      val toks = read(s, dir, "documents")
        .select(F.explode(F.split(F.col("text"), " ")).as("tok"))
        .where(F.col("tok") =!= "")
      val sk = graft.pipeline.Sketches.cmsSketch(toks, "tok",
        depth = 2, width = 64)
      toks.sparkSession.range(1)
        .select(F.posexplode(F.typedlit(sk.toSeq)).as(Seq("pos", "cnt")))
    }),
    "q_heavy_hitters" -> ((s, dir) => {
      // EXACT heavy hitters via the Count-Min prefilter (sketch fold →
      // estimate-gated exact count): identical to GROUP BY … HAVING,
      // which is precisely what the oracle states. The result is exact
      // under EITHER bucket recipe (CMS never under-counts), so this
      // uses the codegen'd xxhash64 production path — only q_cms,
      // which dumps the counter matrix itself, pays the
      // DuckDB-reproducible md5 recipe
      val toks = read(s, dir, "documents")
        .select(F.explode(F.split(F.col("text"), " ")).as("tok"))
        .where(F.col("tok") =!= "")
      graft.pipeline.Sketches.heavyHitters(toks, "tok", minCount = 100L,
        md5Buckets = false)
    }),
    "q_boilerplate" -> ((s, dir) => {
      // a synthesized footer on every doc is corpus-hot → stripped; the
      // docs' own (line-unique) text survives byte-identically, which the
      // oracle checks exactly
      val docs = read(s, dir, "documents").select(F.col("doc_id"),
        F.concat(F.col("text"), F.lit("\nVisit our site for more!")).as("text"))
      TextAnalysis.stripBoilerplate(docs, "doc_id", "text")
        .select(F.col("doc_id"), F.col("clean_text"))
    }),
    "q_repetition" -> ((s, dir) => {
      // Gopher-style repetition filters; a duplicated footer on every 3rd
      // doc makes the signals fire on known rows
      val docs = read(s, dir, "documents").select(F.col("doc_id"),
        F.when(F.col("doc_id") % 3 === 0,
          F.concat(F.col("text"), F.lit("\nCLICK HERE\nCLICK HERE")))
          .otherwise(F.col("text")).as("text"))
      docs.select(F.col("doc_id"),
          TextAnalysis.duplicateLineStats(F.col("text")).as("st"),
          TextAnalysis.topBigramFrac(F.col("text")).as("top_bigram_frac"))
        .select(F.col("doc_id"), F.col("st.n_lines").as("n_lines"),
          F.col("st.dup_line_frac").as("dup_line_frac"),
          F.col("st.dup_line_char_frac").as("dup_line_char_frac"),
          F.col("top_bigram_frac"))
    }),
    "q_c4_filter" -> ((s, dir) => {
      // C4 line+page rules; doc_id arithmetic plants every rule's
      // trigger: a javascript line, an unpunctuated line, a short line,
      // lorem-ipsum pages (%7), code pages (%11), and a third kept
      // sentence only on even ids (odd ids fail the 3-line floor)
      val docs = read(s, dir, "documents").select(F.col("doc_id"),
        F.concat(
          F.col("text"), F.lit("."),
          F.lit("\nShort line."),
          F.lit("\nThis line mentions javascript and cookies."),
          F.lit("\nNo terminal punctuation here at all"),
          F.when(F.col("doc_id") % 7 === 0,
            F.lit("\nLorem ipsum dolor sit amet, consectetur."))
            .otherwise(F.lit("")),
          F.when(F.col("doc_id") % 11 === 0,
            F.lit("\nvar f = function() { return 1; };"))
            .otherwise(F.lit("")),
          F.lit("\nThis second valid sentence has enough words."),
          F.when(F.col("doc_id") % 2 === 0,
            F.lit("\nA third fully valid sentence appears here!"))
            .otherwise(F.lit(""))).as("text"))
      TextAnalysis.c4Filter(docs, "doc_id", "text")
    }),
    "q_gopher_quality" -> ((s, dir) => {
      // Gopher Table-A1 gate; the planted tails push different docs over
      // different thresholds (symbol ratio %5, bullet lines %4, ellipsis
      // lines %6) while short base docs fail word-count/alpha on their own
      val docs = read(s, dir, "documents").select(F.col("doc_id"),
        F.concat(
          F.col("text"),
          F.lit(" the data pipeline should be made of filters that have teeth with care."),
          F.when(F.col("doc_id") % 5 === 0,
            F.lit(" ### ### ### ### ### ### ### ###")).otherwise(F.lit("")),
          F.when(F.col("doc_id") % 4 === 0,
            F.lit("\n• bullet one\n• bullet two\n• bullet three\n• bullet four"))
            .otherwise(F.lit("")),
          F.when(F.col("doc_id") % 6 === 0,
            F.lit("\nto be continued...\nand more..."))
            .otherwise(F.lit(""))).as("text"))
      docs.select(F.col("doc_id"),
          TextAnalysis.gopherQuality(F.col("text")).as("g"))
        .select(F.col("doc_id"), F.col("g.n_words").as("n_words"),
          F.col("g.mean_word_len").as("mean_word_len"),
          F.col("g.symbol_word_ratio").as("symbol_word_ratio"),
          F.col("g.bullet_line_frac").as("bullet_line_frac"),
          F.col("g.ellipsis_line_frac").as("ellipsis_line_frac"),
          F.col("g.alpha_word_frac").as("alpha_word_frac"),
          F.col("g.stopword_hits").as("stopword_hits"),
          F.col("g.passes").as("passes"))
    }),
    "q_gopher_repetition" -> ((s, dir) => {
      // Table-A1 repetition gates; plants trip different rules per doc:
      // %3 a duplicated 9-word sentence (dup 5..9-grams), %5 n-gram spam
      // (top 2/3/4), %4 duplicated lines, %6 duplicated paragraphs
      val rep = "the quick brown fox jumps over the lazy dog"
      val docs = read(s, dir, "documents").select(F.col("doc_id"),
        F.concat(
          F.col("text"),
          F.when(F.col("doc_id") % 3 === 0,
            F.lit(s" $rep and then $rep")).otherwise(F.lit("")),
          F.when(F.col("doc_id") % 5 === 0,
            F.lit(" data data data data data data")).otherwise(F.lit("")),
          F.when(F.col("doc_id") % 4 === 0,
            F.lit("\nrepeat me\nrepeat me")).otherwise(F.lit("")),
          F.when(F.col("doc_id") % 6 === 0,
            F.lit("\n\nsecond paragraph text\n\nsecond paragraph text"))
            .otherwise(F.lit(""))).as("text"))
      docs.select(F.col("doc_id"),
          TextAnalysis.gopherRepetition(F.col("text")).as("g"))
        .select("doc_id", "g.*")
    }),
    "q_sentences" -> ((s, dir) => {
      // segmentation variety: terminator runs, quotes after the punct,
      // an unterminated tail, and (on %4) ellipses
      val docs = read(s, dir, "documents").select(F.col("doc_id"),
        F.concat(F.col("text"),
          F.lit(". Second sentence here! \"A quoted end.\" trailing tail"),
          F.when(F.col("doc_id") % 4 === 0,
            F.lit(" More... and more?")).otherwise(F.lit(""))).as("text"))
      docs.select(F.col("doc_id"),
        F.posexplode(TextAnalysis.sentences(F.col("text")))
          .as(Seq("pos", "sentence")))
    }),
    "q_c4_sentence_dedup" -> ((s, dir) => {
      // sentence-granular span dedup, the paper's unit: every doc ends
      // in the same 3-sentence footer (global first keeps it); %6 docs
      // repeat it again after a unique bridge sentence
      val footer = " Shared footer sentence alpha." +
        " Shared footer sentence beta! Shared footer sentence gamma?"
      val docs = read(s, dir, "documents").select(F.col("doc_id"),
        F.concat(
          F.lit("Doc "), F.col("doc_id"), F.lit(" opens with its own line."),
          F.lit(footer),
          F.when(F.col("doc_id") % 6 === 0,
            F.concat(F.lit(" Bridge "), F.col("doc_id"), F.lit("."),
              F.lit(footer))).otherwise(F.lit("")),
          F.lit(" Doc "), F.col("doc_id"), F.lit(" closes.")).as("text"))
      TextAnalysis.c4SpanDedupSentences(docs, "doc_id", "text")
    }),
    "q_fineweb_quality" -> ((s, dir) => {
      // FineWeb §3.6 gates; plants trip one rule each: %2 a burst of
      // short lines, %3 a duplicated boilerplate line, %5 enough
      // unpunctuated filler to sink the punctuation floor
      val docs = read(s, dir, "documents").select(F.col("doc_id"),
        F.concat(
          F.col("text"), F.lit("."),
          F.when(F.col("doc_id") % 2 === 0,
            F.lit("\nA1.\nB2!\nC3?\nD4.")).otherwise(F.lit("")),
          F.when(F.col("doc_id") % 3 === 0,
            F.lit("\nThis duplicated boilerplate line is long enough." +
              "\nThis duplicated boilerplate line is long enough."))
            .otherwise(F.lit("")),
          F.when(F.col("doc_id") % 5 === 0,
            F.lit((1 to 9).map(i =>
              s"\nunpunctuated filler line number $i with some padding")
              .mkString)).otherwise(F.lit(""))).as("text"))
      docs.select(F.col("doc_id"),
          TextAnalysis.finewebQuality(F.col("text")).as("g"))
        .select("doc_id", "g.*")
    }),
    "q_c4_span_dedup" -> ((s, dir) => {
      // every doc carries the same 3-line footer (the global first
      // occurrence keeps it); %7 docs also repeat a 3-line block twice,
      // making overlapping spans (footer|block boundaries) duplicated
      // across exactly the %7 docs — the oracle replays §2.2 verbatim
      val docs = read(s, dir, "documents").select(F.col("doc_id"),
        F.concat(
          F.lit("doc "), F.col("doc_id"), F.lit(" opening line"),
          F.lit("\nshared footer alpha\nshared footer beta" +
            "\nshared footer gamma"),
          F.when(F.col("doc_id") % 7 === 0,
            F.concat(F.lit("\nblock one\nblock two\nblock three\nmid "),
              F.col("doc_id"),
              F.lit("\nblock one\nblock two\nblock three")))
            .otherwise(F.lit("")),
          F.lit("\ndoc "), F.col("doc_id"), F.lit(" closing line"))
          .as("text"))
      TextAnalysis.c4SpanDedup(docs, "doc_id", "text")
    }),
    "q_quantize" -> ((s, dir) => {
      // int8 storage quantization: exact integer checksums + the scale
      val qv = Similarity.quantizeInt8(F.col("embedding"))
      read(s, dir, "embeddings").select(F.col("vec_id"), qv.as("qv"))
        .select(F.col("vec_id"),
          F.round(F.col("qv.scale"), 6).as("scale"),
          F.aggregate(F.col("qv.q"), F.lit(0L),
            (acc, x) => acc + x.cast(LongType)).as("qsum"),
          F.array_max(F.col("qv.q")).cast(IntegerType).as("qmax"),
          F.array_min(F.col("qv.q")).cast(IntegerType).as("qmin"))
    }),
    "q_chunks" -> ((s, dir) =>
      // 64-token windows, stride 48 — md5 keeps the oracle row compact
      TextAnalysis.chunk(read(s, dir, "documents"), "doc_id", "text",
        size = 64, stride = 48)
        .select(F.col("doc_id"), F.col("chunk_id").cast(LongType),
          F.md5(F.col("chunk_text")).as("chunk_md5"),
          F.col("n_chunk_tokens"))),
    "q_sample" -> ((s, dir) =>
      // source rebalancing: halve English, keep German, quarter the rest
      TextAnalysis.stratifiedSample(read(s, dir, "documents"), "doc_id",
        "lang", Map("en" -> 0.5, "de" -> 1.0), defaultFraction = 0.25)
        .groupBy("lang").agg(F.count(F.lit(1)).as("n"))),
    "q_split" -> ((s, dir) =>
      // deterministic hash split: stable across runs/cluster sizes
      TextAnalysis.deterministicSplit(read(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("split").agg(F.count(F.lit(1)).as("n"))),
    "q_shuffle_shard" -> ((s, dir) =>
      // deterministic global shuffle + sharding: the md5-keyed
      // (shard, pos) assignment is engine-reproducible by design, so
      // the oracle restates the whole deal
      TextAnalysis.shuffleShards(read(s, dir, "documents")
          .select("doc_id"), "doc_id", numShards = 7, seed = 5)),
    "q_pack" -> ((s, dir) =>
      // greedy per-partition sequence packing into 512-token bins.
      // Full oracle since r13: partitions pinned to 8 so the Murmur3
      // partition assignment is environment-independent — the oracle
      // replays pmod(murmur3_32(doc_id, seed 42), 8) in mod-2^32
      // arithmetic and the per-partition greedy fold as a recursive CTE
      graft.pipeline.Packing.packSequences(
        read(s, dir, "documents").select(F.col("doc_id"),
          TextAnalysis.tokenCount(F.col("text")).cast(LongType).as("n_tokens")),
        "doc_id", "n_tokens", maxTokens = 512, partitions = 8)
        .select(F.col("seq_id"),
          F.size(F.col("doc_ids")).cast(LongType).as("n_docs"),
          F.col("total_tokens"))),
    "q_line_dedup" -> ((s, dir) => {
      // CCNet-style corpus-wide line dedup: synthesized multi-line docs
      // (unique line + corpus-hot footer + group line + body) so the
      // first doc keeps the shared lines and every later one loses them
      val docs = read(s, dir, "documents").select(F.col("doc_id"),
        F.concat_ws("\n",
          F.concat(F.lit("doc "), F.col("doc_id")),
          F.lit("common footer line"),
          F.concat(F.lit("group "), F.col("doc_id") % 7),
          F.col("text")).as("text"))
      TextAnalysis.dedupLines(docs, "doc_id", "text")
        .select(F.col("doc_id"), F.col("clean_text"))
    }),
    "q_url_dedup" -> ((s, dir) => {
      // crawl URL dedup: messy synthesized URLs (case, www, default port,
      // tracking params, fragment, trailing slash) canonicalize into
      // doc_id%40 groups with arithmetic keepers
      val docs = read(s, dir, "documents").select(F.col("doc_id"),
        F.concat(F.lit("HTTPS://WWW.Example.COM:443/Docs/"),
          F.col("doc_id") % 40,
          F.lit("/?utm_source=feed&id="), F.col("doc_id") % 40,
          F.lit("&utm_campaign=c"), F.col("doc_id") % 3,
          F.lit("#frag")).as("url"))
      TextAnalysis.urlDedup(docs, "doc_id", "url")
        .select(F.col("doc_id"), F.col("url_canon"), F.col("keep_id"))
    }),
    "q_url_filter" -> ((s, dir) => {
      // domain-blocklist gate: hosts synthesized from doc_id cover the
      // exact-match, subdomain, look-alike (spam-site.org ≠ site.org),
      // and no-host cases; survivors are pure doc_id arithmetic
      val docs = read(s, dir, "documents").select(F.col("doc_id"),
        F.when(F.col("doc_id") % 10 === 0, F.lit("not a url"))
          .otherwise(F.concat(F.lit("https://"),
            F.when(F.col("doc_id") % 3 === 0, F.lit("cdn."))
              .otherwise(F.lit("")),
            F.lit("site"), F.col("doc_id") % 7,
            F.when(F.col("doc_id") % 5 === 0, F.lit(".spam-site3"))
              .otherwise(F.lit("")),
            F.lit(".org/page/"), F.col("doc_id"))).as("url"))
      TextAnalysis.filterByDomainBlocklist(docs, "url",
        Seq("site3.org", "blocked.example"))
        .select(F.col("doc_id"), F.col("url"))
    }),
    "q_bm25" -> ((s, dir) =>
      // Okapi BM25 against a fixed keyword query; one corpus-stats
      // aggregate broadcasts back into a narrow scoring pass
      graft.pipeline.Relevance.bm25(
        read(s, dir, "documents").select(F.col("doc_id"), F.col("text")),
        "text", Seq("spark", "join", "window"))
        .select(F.col("doc_id"), F.col("bm25"))),
    "q_text_index" -> ((s, dir) => {
      // persisted inverted-index probe == corpus-scan BM25: fit, save,
      // reload, partition-pruned search; the oracle restates the scan
      // BM25 and takes the same (score desc, id asc) top-10
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-text-index").toString
      graft.pipeline.Relevance.TextIndex.fit(
        read(s, dir, "documents").select(F.col("doc_id"), F.col("text")),
        "doc_id", "text", buckets = 32).save(tmp)
      graft.pipeline.Relevance.TextIndex.load(s, tmp)
        .search(Seq("spark", "join", "window"), 10)
        .select(F.col("rid").as("doc_id"), F.col("bm25"))
    }),
    "q_unigram_nll" -> ((s, dir) =>
      // add-one-smoothed unigram LM trained on the corpus itself
      // (top-16 vocab → some tokens OOV); per-doc NLL quality gate
      graft.pipeline.Relevance.unigramNll(
        read(s, dir, "documents"), "doc_id", "text", vocabSize = 16)),
    "q_mixture" -> ((s, dir) =>
      // resample to a 50/30/20 source recipe; md5 buckets keep it
      // deterministic and engine-reproducible
      TextAnalysis.resampleToMixture(read(s, dir, "documents"), "doc_id",
        "source", Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .groupBy("source").agg(F.count(F.lit(1)).as("n"))),
    "q_span_dedup" -> ((s, dir) => {
      // exact-substring span dedup (Lee et al. 2022): a 24-token
      // paragraph planted on every 5th doc; only its first host keeps
      // it, later hosts get exactly tokens [0,24) cut (window starts
      // 0..4 at minLen=20 cover [0,24); boundary windows stay unique)
      val docs = read(s, dir, "documents").select(F.col("doc_id"),
        F.when(F.col("doc_id") % 5 === 0,
          F.concat(F.lit(SharedPara + " "), F.col("text")))
          .otherwise(F.col("text")).as("text"))
      Dedup.dedupSpans(docs, "doc_id", "text", minLen = 20)
        .select(F.col("doc_id"), F.col("clean_text"))
    }),
    "q_classifier" -> ((s, dir) => {
      // in-engine trained quality classifier: 3 full-batch GD steps
      // (integer-quantized gradients, rational fast-sigmoid link), then
      // the narrow score — the oracle re-trains iteration by iteration
      val t = read(s, dir, "documents").select(F.col("doc_id"),
        (F.length(F.col("text")).cast(DoubleType) / 1000.0).as("x1"),
        (F.size(TextAnalysis.tokens(F.col("text"))).cast(DoubleType) / 100.0)
          .as("x2"),
        F.when(F.col("source") === "src0", 1.0).otherwise(0.0).as("y"))
      val m = graft.pipeline.Classifier.trainLogistic(t, "y",
        Seq("x1", "x2"), iters = 3)
      t.select(F.col("doc_id"),
        graft.pipeline.Classifier.score(m).as("score"))
    }),
    "q_kmeans" -> ((s, dir) =>
      // deterministic integer k-means over the embeddings table: exact
      // quantized distances, 2 Lloyd iterations, smallest-id init —
      // the oracle unrolls every assignment and centroid update
      graft.pipeline.Clustering.kmeans(read(s, dir, "embeddings"),
        "vec_id", "embedding", k = 4, iters = 2)),
    "q_pq" -> ((s, dir) => {
      // product quantization end to end: per-subspace integer Lloyd fit
      // (m=2, k=4, one iteration), narrow native encode, and an ADC
      // top-10 query scan — every stage exact integer arithmetic, so
      // the oracle unrolls fit, encode, AND the query
      val emb = read(s, dir, "embeddings")
      val model = graft.pipeline.Pq.fit(emb, "vec_id", "embedding",
        m = 2, k = 4, iters = 1)
      val query = emb.where(F.col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      emb.select(F.col("vec_id"),
          graft.pipeline.Pq.encode(model, F.col("embedding")).as("code"))
        .select(F.col("vec_id"),
          F.element_at(F.col("code"), 1).as("code0"),
          F.element_at(F.col("code"), 2).as("code1"),
          graft.pipeline.Pq.adc(model, query, F.col("code")).as("dist"))
        .orderBy(F.col("dist"), F.col("vec_id")).limit(10)
    }),
    "q_semantic_dedup" -> ((s, dir) =>
      // SemDeDup composition: integer k-means clusters → capped
      // within-cluster cosine pairs; deterministic end to end, so the
      // oracle restates clustering AND pair verification
      Dedup.semanticDedupPairs(read(s, dir, "embeddings"), "vec_id",
        "embedding", k = 4, iters = 2, threshold = 0.4)
        .select(F.col("id1"), F.col("id2"),
          F.round(F.col("cosine"), 6).as("cosine"))),
    "q_bigram_nll" -> ((s, dir) =>
      // transition-aware perplexity gate; both capped count tables and
      // the per-transition arithmetic restated in SQL
      graft.pipeline.Relevance.bigramNll(read(s, dir, "documents"),
        "doc_id", "text", vocabSize = 256, bigramTop = 1024)),
    "q_hits" -> ((s, dir) => {
      // oracle-verified HITS hubs/authorities: the q_pagerank synthetic
      // host graph, 2 iterations of integer sum + max-normalization —
      // DuckDB unrolls both iterations as CTEs with identical floor
      // divisions
      val docs = read(s, dir, "documents")
      val edges = docs.select((F.col("doc_id") % 29).as("src"),
        ((F.col("doc_id") * 7 + 3) % 31).as("dst")).distinct()
      graft.pipeline.Graphs.hits(edges, iters = 2)
        .select(F.col("node"), F.col("hub_scaled"), F.col("auth_scaled"))
    }),
    "q_pagerank" -> ((s, dir) => {
      // host-graph PageRank prior: a synthetic host link graph derived
      // from doc_id arithmetic (29 vs 31 moduli → varied degrees,
      // dangling hosts), 5 power iterations in scaled-integer
      // arithmetic — every rank is exact and the oracle unrolls the
      // iterations as SQL CTEs
      val docs = read(s, dir, "documents")
      val edges = docs.select((F.col("doc_id") % 29).as("src"),
        ((F.col("doc_id") * 7 + 3) % 31).as("dst")).distinct()
      graft.pipeline.Graphs.pageRank(edges, iters = 5)
        .select(F.col("node"), F.col("rank_scaled"),
          F.round(F.col("rank"), 9).as("rank"))
    }),
    "q_tfidf" -> ((s, dir) => {
      // hashing-trick TF-IDF: the full vector oracle-checked sparsely —
      // every nonzero (doc, bucket) weight restated in SQL (md5 buckets,
      // integer tf, smooth idf, in-order L2 fold)
      graft.pipeline.Relevance
        .tfidfVector(read(s, dir, "documents"), "doc_id", "text", dim = 64)
        .select(F.col("doc_id"), F.posexplode(F.col("tfidf")))
        .where(F.col("col") =!= 0.0)
        .select(F.col("doc_id"), F.col("pos").cast(LongType).as("bucket"),
          F.round(F.col("col"), 6).as("w"))
    }),
    "q_dsir" -> ((s, dir) => {
      // DSIR importance weights: target model = src0 documents, source
      // model = the whole corpus; hashed-unigram buckets, add-half
      val docs = read(s, dir, "documents")
      graft.pipeline.Relevance.dsirLogWeight(
        docs.select(F.col("doc_id"), F.col("text")), "doc_id", "text",
        docs.where(F.col("source") === "src0").select(F.col("text")),
        "text", buckets = 256)
    }),

    // --- dedup family (documents)
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(read(s, dir, "documents"), "doc_id", "text")),
    "q_dedup_incremental" -> ((s, dir) => {
      // snapshot-vs-snapshot dedup: seen = every-third doc keyed to 7
      // texts (covering all residues), incoming = the rest keyed to 11
      // — survivors are exactly the rows whose text never occurs in
      // seen, whatever the bloom's false-positive rate does
      val docs = read(s, dir, "documents")
      val seen = docs.where(F.col("doc_id") % 3 === 0)
        .select(F.concat(F.lit("T"), F.col("doc_id") % 7).as("text"))
      val incoming = docs.where(F.col("doc_id") % 3 =!= 0)
        .select(F.col("doc_id"),
          F.concat(F.lit("T"), F.col("doc_id") % 11).as("text"))
      Dedup.dedupAgainstSeen(incoming, seen, "text", fpp = 0.01)
    }),
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashDedupPairs(read(s, dir, "documents"), "doc_id", "text",
        threshold = 0.8, k = 3, numHashes = 32, bands = 8)),
    "q_minhash_incremental" -> ((s, dir) => {
      // fuzzy incremental dedup: near-dup pairs BETWEEN an incoming
      // batch (odd ids) and the seen corpus (even ids); one tagged
      // banding pass, cross-corpus pairs only, exact-Jaccard verified
      val docs = read(s, dir, "documents")
      Dedup.minhashPairsAgainstSeen(
        docs.where(F.col("doc_id") % 2 === 1),
        docs.where(F.col("doc_id") % 2 === 0),
        "doc_id", "text", threshold = 0.8)
    }),
    "q_dedup_simhash" -> ((s, dir) =>
      // md5 token hashing (promoted from rows-only in r14): each
      // token's 64 bits are its md5 prefix, so DuckDB can replay the
      // whole bit-vote; SimHashSpec pins md5==xxh64 banding behavior
      Dedup.simhashGroups(read(s, dir, "documents"), "doc_id", "text",
        md5Tokens = true)),
    "q_simhash_near" -> ((s, dir) =>
      // the oracle replays the banded join INCLUDING the bucket cap, so
      // it stays exact at any scale (at sf0.1 a band bucket holds 291
      // members — over the 256 cap, where a brute oracle over-counts)
      Dedup.simhashNearDupPairs(read(s, dir, "documents"), "doc_id", "text",
        maxBits = 3, md5Tokens = true)),
    "q_dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(read(s, dir, "documents"), "doc_id", "text",
        threshold = 0.8, k = 3)),
    "q_dedup_embed" -> ((s, dir) =>
      // hash-oracled since r12: md5-seeded hyperplanes let DuckDB replay
      // the multi-table postings, the bucket cap and the pair
      // verification; cosine rounded to 6 on both sides
      Dedup.embeddingCosinePairs(read(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.4, planes = 4)
        .select(F.col("id1"), F.col("id2"),
          F.round(F.col("cosine"), 6).as("cosine"))),
    "q_contamination" -> ((s, dir) => {
      // decontamination against a pseudo-benchmark (every 20th doc):
      // flags at least those docs themselves plus true n-gram overlaps
      val docs = read(s, dir, "documents")
      Dedup.contamination(docs, "doc_id", "text",
        docs.where(F.col("doc_id") % 20 === 0), "text", k = 13)
    }),
    "q_dedup_groups" -> ((s, dir) =>
      // pairs → canonical components (keep-min-id), the pipeline's last
      // dedup stage before filtering the corpus
      Dedup.dedupGroups(Dedup.minhashDedupPairs(read(s, dir, "documents"),
        "doc_id", "text", threshold = 0.8, k = 3, numHashes = 32, bands = 8))),
    "q_curate" -> ((s, dir) => {
      // the composed flagship: quality+lang gate → exact dedup →
      // benchmark decontamination → chunking, one Catalyst plan
      val docs = read(s, dir, "documents")
      graft.pipeline.Curation.curate(docs, "doc_id", "text",
        minQuality = 0.7, langs = Seq("en", "de"),
        benchmark = Some((docs.where(F.col("doc_id") % 20 === 0), "text")),
        contaminationK = 13, chunkSize = 64, chunkStride = 48)
        .select(F.col("doc_id"), F.col("chunk_id").cast(LongType),
          F.md5(F.col("chunk_text")).as("chunk_md5"),
          F.col("n_chunk_tokens"))
    }),
    "q_curate_norm" -> ((s, dir) => {
      // curation with the NORMALIZE stage proved by round trip: the
      // input text is wrapped in whitespace mess (NBSP, tabs, edge
      // runs) that normalization must strip back to the original
      // byte-exact — the oracle curates the ORIGINAL text, so every
      // chunk hash matches only if normalize-then-gate-then-chunk
      // equals gate-then-chunk on clean text
      val docs = read(s, dir, "documents").select(F.col("doc_id"),
        F.concat(F.lit("  \u00A0"), F.col("text"), F.lit("\t \u2003"))
          .as("text"))
      graft.pipeline.Curation.curate(docs, "doc_id", "text",
        minQuality = 0.7, langs = Seq("en", "de"),
        chunkSize = 64, chunkStride = 48, normalize = true)
        .select(F.col("doc_id"), F.col("chunk_id").cast(LongType),
          F.md5(F.col("chunk_text")).as("chunk_md5"),
          F.col("n_chunk_tokens"))
    }),
    "q_curate_multimodal" -> ((s, dir) => {
      // text+image pair curation, FULLY oracle-checked: text gates
      // (quality, language) → image triage (all fixtures decodable) →
      // exact text dedup → perceptual image dedup (dHash pairs →
      // recursive-CTE components in the oracle, distributed label
      // propagation in the engine) — the surviving id set must match
      val docs = read(s, dir, "documents").select(
        F.col("doc_id"), F.col("text"),
        patternedBmp(9, 8, neardupGray).as("media"))
      graft.pipeline.Curation.curateMultimodal(docs, "doc_id", "text",
        "media", minQuality = 0.7, langs = Seq("en", "de"),
        imageMaxBits = 3, maxBucket = 1024)
        .select(F.col("doc_id"))
    }),
    "q_curate_incremental" -> ((s, dir) => {
      // incremental curation: gates → drop rows already in the stored
      // corpus (every-tenth doc verbatim) → exact dedup → chunk
      val docs = read(s, dir, "documents")
      graft.pipeline.Curation.curate(docs, "doc_id", "text",
        minQuality = 0.7, langs = Seq("en", "de"),
        seenCorpus = Some((docs.where(F.col("doc_id") % 10 === 3), "text")),
        chunkSize = 64, chunkStride = 48)
        .select(F.col("doc_id"), F.col("chunk_id").cast(LongType),
          F.md5(F.col("chunk_text")).as("chunk_md5"),
          F.col("n_chunk_tokens"))
    }),
    "q_curate_fuzzy" -> ((s, dir) => {
      // the full curation with the fuzzy near-dup stage wired in:
      // gate → exact dedup → minhash near-dup groups (keep min id) →
      // decontamination → chunking, still one composed plan
      val docs = read(s, dir, "documents")
      graft.pipeline.Curation.curate(docs, "doc_id", "text",
        minQuality = 0.7, langs = Seq("en", "de"),
        benchmark = Some((docs.where(F.col("doc_id") % 20 === 0), "text")),
        contaminationK = 13, chunkSize = 64, chunkStride = 48,
        nearDupJaccard = Some(0.8), nearDupK = 3)
        .select(F.col("doc_id"), F.col("chunk_id").cast(LongType),
          F.md5(F.col("chunk_text")).as("chunk_md5"),
          F.col("n_chunk_tokens"))
    }),

    // --- similarity search (embeddings)
    "q_knn_brute" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      val q = emb.where(F.col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      // rounded so the DuckDB oracle's double arithmetic hash-matches
      Similarity.bruteForceTopK(emb.where(F.col("vec_id") =!= 0),
        "vec_id", "embedding", q, 10)
        .select(F.col("vec_id"), F.round(F.col("cosine"), 6).as("cosine"))
    }),
    "q_rrf" -> ((s, dir) => {
      // oracle-verified reciprocal-rank fusion: two full rankings of
      // the documents (by length, and by a doc_id-derived score with
      // deliberate ties so the (score desc, id) tie-break is exercised);
      // DuckDB restates both row_number rankings and the 1/(60+r) sum
      val docs = read(s, dir, "documents")
      val a = docs.select(F.col("doc_id").as("id"),
        F.col("n_chars").cast(DoubleType).as("score"))
      val b = docs.select(F.col("doc_id").as("id"),
        ((F.col("doc_id") * 37) % 101).cast(DoubleType).as("score"))
      graft.pipeline.Relevance.rrfFuse(Seq(a, b), "id", "score", topK = 20)
        .select(F.col("id"), F.round(F.col("rrf"), 9).as("rrf"))
    }),
    "q_maxsim" -> ((s, dir) => {
      // oracle-verified ColBERT-style late interaction: each doc's
      // "token matrix" is (embedding, -embedding), the query matrix is
      // vecs 0 and 1 — so max over the doc's vectors is |cos| and
      // DuckDB restates every score with list_dot_product arithmetic
      val emb = read(s, dir, "embeddings")
      val q = emb.where(F.col("vec_id") <= 1).orderBy("vec_id")
        .select("embedding").collect().map(_.getSeq[Float](0)).toSeq
      val docs = emb.where(F.col("vec_id") > 1)
        .select(F.col("vec_id"), F.array(F.col("embedding"),
          F.transform(F.col("embedding"), x => -x)).as("vecs"))
      Similarity.maxSimTopK(docs, "vec_id", "vecs", q, 20)
        .select(F.col("vec_id"), F.round(F.col("score"), 6).as("score"))
    }),
    "q_hard_negatives" -> ((s, dir) => {
      // oracle-verified hard-negative mining: queries = vecs 0..2,
      // corpus = the rest, positives = (q, q+100); top-5 non-positive
      // cosines per query restate as a DuckDB window over
      // list_dot_product arithmetic
      val emb = read(s, dir, "embeddings")
      val queries = emb.where(F.col("vec_id") < 3)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      val corpus = emb.where(F.col("vec_id") >= 3)
        .select(F.col("vec_id").as("id"), F.col("embedding").as("vec"))
      val positives = queries.select(F.col("qid"),
        (F.col("qid") + 100).as("id"))
      Similarity.hardNegatives(queries, corpus, positives, k = 5)
        .select(F.col("qid"), F.col("id"),
          F.round(F.col("cosine"), 6).as("cosine"), F.col("rank"))
    }),
    "q_binary_knn" -> ((s, dir) => {
      // oracle-verified binary quantization + Hamming ranking: the d=64
      // corpus packs to ONE code word per vector, so DuckDB regenerates
      // every code (sum of 1<<i over positive components) and the full
      // Hamming top-20 against vec 0's code
      val emb = read(s, dir, "embeddings")
      val q = emb.where(F.col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      val qCode = graft.expressions.BinarySign.packLocal(q)
      emb.where(F.col("vec_id") =!= 0)
        .select(F.col("vec_id"),
          Similarity.hammingDist(
            Similarity.binaryQuantize(F.col("embedding")),
            F.typedlit(qCode.toSeq)).as("hamming"))
        .orderBy(F.col("hamming"), F.col("vec_id"))
        .limit(20)
    }),
    "q_knn_ivf" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      val q = emb.where(F.col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      // fit-once index, memoized: repeated queries run zero fit jobs.
      // The coarse quantizer is integer k-means — the oracle unrolls
      // the fit, the integer probe ranking, and the exact-cosine scan
      // of the probed lists
      val idx = ivfIndex(s, dir)(
        Similarity.IvfIndex.fit(emb.where(F.col("vec_id") =!= 0),
          "vec_id", "embedding", nlist = 8).persist())
      Similarity.ivfTopK(idx, q, 10, nprobe = 3)
        .select(F.col("vec_id"), F.round(F.col("cosine"), 6).as("cosine"))
    }),
    "q_knn_ivfpq" -> ((s, dir) => {
      // IVF-PQ: partition-prunable coarse lists + residual PQ codes +
      // exact-cosine refinement. Fully oracled: the coarse quantizer
      // (integer k-means -> float centers), float residuals, integer
      // PQ fit/encode, the integer ADC shortlist and the refinement all
      // restate in DuckDB.
      // IvfPqSpec still pins brute-force equality at full probe and
      // recall>=0.9 at partial probe
      val emb = read(s, dir, "embeddings")
      val q = emb.where(F.col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      val corpus = emb.where(F.col("vec_id") =!= 0)
      val idx = graft.pipeline.IvfPq.fit(corpus, "vec_id",
        "embedding", nlist = 8, m = 4, k = 8, pqIters = 1)
      graft.pipeline.IvfPq.topKRefined(idx, corpus, "embedding", q,
        k = 10, nprobe = 4, refineFactor = 4)
        .select(F.col("vec_id"), F.round(F.col("cosine"), 6).as("cosine"))
    }),
    "q_knn_lsh" -> ((s, dir) => {
      // hash-oracled since r12: the hyperplanes are md5-seeded, so
      // DuckDB regenerates the plane matrix, the bucket signatures and
      // the probe set, then replays exact cosine + top-k (rounded to 6
      // decimals on both sides, like q_knn_brute)
      val emb = read(s, dir, "embeddings")
      val q = emb.where(F.col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      Similarity.lshTopK(emb.where(F.col("vec_id") =!= 0),
        "vec_id", "embedding", q, 10, planes = 4, probes = 2)
        .select(F.col("vec_id"), F.round(F.col("cosine"), 6).as("cosine"))
    }),

    // --- multimodal: real decode end-to-end
    "q_multimodal_meta" -> ((s, dir) => {
      // batched decode plumbing over REAL bytes: per-doc solid-color BMP
      // synthesized in SQL (dims doc_id-derived), so header parse, resize
      // plan and frame sampling are all checked against arithmetic
      val m = (F.col("doc_id") % 3).cast(IntegerType) + 1
      val k = (F.col("doc_id") % 13).cast(IntegerType) + 4
      val docs = read(s, dir, "documents")
        .withColumn("media", synthBmp(m * 16, m * k,
          F.col("doc_id") % 256, (F.col("doc_id") * 7) % 256,
          (F.col("doc_id") * 13) % 256))
      val withMeta = Multimodal.withDecodedMeta(docs, "media")
      withMeta.select(
        F.col("doc_id"),
        F.col("meta.mime").as("mime"),
        F.col("meta.width").as("width"),
        F.col("meta.height").as("height"),
        Multimodal.resizePlan(F.col("meta"), 256).getField("width").as("rw"),
        F.size(Multimodal.sampleFrameIndexes(F.col("meta"), 4)).as("n_sampled"))
    }),
    "q_audio_meta" -> ((s, dir) => {
      // oracle-verified audio parse: synthesize a VALID per-doc WAV header
      // whose fields derive from doc_id, parse it back with the native
      // expression — the oracle recomputes the fields arithmetically, so
      // the byte-level parser is checked against ground truth per row
      import SqlHex.{le16h, le32h}
      val docs = read(s, dir, "documents")
      val rate = F.lit(8000) + (F.col("doc_id") % 8).cast(IntegerType) * 4000
      val ch = F.lit(1) + (F.col("doc_id") % 2).cast(IntegerType)
      val bits = F.lit(8) * (F.lit(1) + (F.col("doc_id") % 2).cast(IntegerType))
      val byteRate = rate * ch * (bits / 8).cast(IntegerType)
      val dataSize = byteRate * 2 // exactly two seconds of samples
      val media = F.unhex(F.concat(
        F.lit("52494646"), le32h(dataSize + 36), F.lit("57415645"),
        F.lit("666D7420"), F.lit("10000000"), F.lit("0100"), le16h(ch),
        le32h(rate), le32h(byteRate), le16h(ch * (bits / 8).cast(IntegerType)),
        le16h(bits), F.lit("64617461"), le32h(dataSize)))
      docs.select(F.col("doc_id"),
          Multimodal.headerAudioMeta(media).as("m"))
        .select(F.col("doc_id"), F.col("m.mime").as("mime"),
          F.col("m.channels").as("channels"),
          F.col("m.sample_rate").as("sample_rate"),
          F.col("m.bits_per_sample").as("bits_per_sample"),
          F.col("m.duration_ms").as("duration_ms"))
    }),
    "q_audio_features" -> ((s, dir) => {
      // REAL PCM decode, oracle-verified: per-doc 16-bit square wave at
      // amplitude (1+doc_id%127)·256 → every feature is exact dyadic
      // arithmetic (rms = peak = k/128 bit-exactly, zcr = 1), so DuckDB
      // recomputes the decoded features from doc_id directly
      val k = (F.col("doc_id") % 127).cast(IntegerType) + 1
      val media = F.unhex(F.concat(
        F.lit("52494646" + "A4000000" + "57415645"),
        F.lit("666D7420" + "10000000" + "0100" + "0100" +
          "401F0000" + "803E0000" + "0200" + "1000"),
        F.lit("64617461" + "80000000"),
        F.repeat(F.concat(F.lit("00"), SqlHex.hx2(k), F.lit("00"),
          SqlHex.hx2(F.lit(256) - k)), 32)))
      read(s, dir, "documents")
        .select(F.col("doc_id"), Multimodal.audioFeatures(media).as("f"))
        .select(F.col("doc_id"), F.col("f.n_samples").as("n_samples"),
          F.col("f.rms").as("rms"), F.col("f.peak").as("peak"),
          F.col("f.zcr").as("zcr"))
    }),
    "q_audio_g711" -> ((s, dir) => {
      // REAL COMPRESSED-audio decode, oracle-verified: constant-valued
      // ITU-T G.711 µ-law and A-law streams expand to one constant
      // linear sample, so rms = peak = mag/32768 is exact arithmetic
      // that DuckDB recomputes from doc_id via the expansion formulas
      val v = F.col("doc_id") % 256
      def wav(fmtCode: String) = F.unhex(F.concat(
        F.lit("52494646" + "64000000" + "57415645"),
        F.lit("666D7420" + "10000000" + fmtCode + "0100" +
          "401F0000" + "401F0000" + "0100" + "0800"),
        F.lit("64617461" + "40000000"),
        F.repeat(SqlHex.hx2(v), 64)))
      read(s, dir, "documents")
        .select(F.col("doc_id"),
          Multimodal.audioFeatures(wav("0700")).as("u"),
          Multimodal.audioFeatures(wav("0600")).as("a"))
        .select(F.col("doc_id"),
          F.col("u.n_samples").as("n_samples"),
          F.col("u.rms").as("ulaw_rms"), F.col("u.peak").as("ulaw_peak"),
          F.col("u.zcr").as("ulaw_zcr"),
          F.col("a.rms").as("alaw_rms"), F.col("a.peak").as("alaw_peak"))
    }),
    "q_audio_adpcm" -> ((s, dir) => {
      // REAL block-compressed decode, oracle-verified: an IMA ADPCM
      // block whose header predictor is k·256 at step index 0 with all
      // nibbles 0 never moves the predictor (step 7 >> 3 = 0), so all
      // 65 samples equal k·256 exactly — rms = peak = k/128
      val k = (F.col("doc_id") % 127).cast(IntegerType) + 1
      val media = F.unhex(F.concat(
        F.lit("52494646" + "4C000000" + "57415645"),
        F.lit("666D7420" + "14000000" + "1100" + "0100" + "401F0000" +
          "A00F0000" + "2400" + "0400" + "0200" + "4100"),
        F.lit("64617461" + "24000000"),
        F.lit("00"), SqlHex.hx2(k), F.lit("0000"), F.repeat(F.lit("00"), 32)))
      read(s, dir, "documents")
        .select(F.col("doc_id"), Multimodal.audioFeatures(media).as("f"))
        .select(F.col("doc_id"), F.col("f.n_samples").as("n_samples"),
          F.col("f.rms").as("rms"), F.col("f.peak").as("peak"),
          F.col("f.zcr").as("zcr"))
    }),
    "q_video_mp4" -> ((s, dir) => {
      // oracle-verified MP4 triage: a minimal fixed-layout ISO-BMFF
      // stream (ftyp + moov{mvhd, trak{tkhd, mdia/minf/stbl/stts}})
      // whose dims, frame count, and duration are doc_id arithmetic
      import SqlHex.{be16h, be32h}
      val w = ((F.col("doc_id") % 80).cast(IntegerType) + 1) * 16
      val h = ((F.col("doc_id") % 45).cast(IntegerType) + 1) * 16
      val frames = (F.col("doc_id") % 500).cast(IntegerType) + 1
      val secs = (F.col("doc_id") % 60).cast(IntegerType) + 1
      val media = F.unhex(F.concat(
        F.lit("00000010" + "66747970" + "69736F6D" + "00000200"),
        F.lit("00000108" + "6D6F6F76"),                // moov (264)
        F.lit("0000006C" + "6D766864" + "00000000" * 3 +
          "000003E8"), be32h(secs * 1000),             // mvhd: ts 1000
        F.lit("00" * 80),
        F.lit("00000094" + "7472616B"),                // trak (148)
        F.lit("0000005C" + "746B6864" + "00000000" * 3 + "00000001" +
          "00000000" * 2 + "00" * 52),                 // tkhd to matrix
        be16h(w), F.lit("0000"), be16h(h), F.lit("0000"),
        F.lit("00000030" + "6D646961" + "00000028" + "6D696E66" +
          "00000020" + "7374626C" + "00000018" + "73747473" +
          "00000000" + "00000001"), be32h(frames), F.lit("00000064")))
      read(s, dir, "documents")
        .select(F.col("doc_id"), Multimodal.headerVideoMeta(media).as("m"))
        .select(F.col("doc_id"), F.col("m.mime").as("mime"),
          F.col("m.width").as("width"), F.col("m.height").as("height"),
          F.col("m.n_frames").as("n_frames"),
          F.col("m.duration_ms").as("duration_ms"))
    }),
    "q_webp_meta" -> ((s, dir) => {
      // oracle-verified WebP triage: per-doc VP8L chunks whose packed
      // 14-bit dims come straight from doc_id arithmetic
      import SqlHex.le32h
      val w = (F.col("doc_id") % 300).cast(IntegerType) + 1
      val h = ((F.col("doc_id") * 3) % 200).cast(IntegerType) + 1
      val packed = (w - 1) + (h - 1) * F.lit(16384)
      val media = F.unhex(F.concat(
        F.lit("52494646"), le32h(F.lit(18)), F.lit("57454250"),
        F.lit("5650384C"), le32h(F.lit(5)), F.lit("2F"), le32h(packed),
        F.lit("00")))
      read(s, dir, "documents")
        .select(F.col("doc_id"), Multimodal.headerImageMeta(media).as("m"))
        .select(F.col("doc_id"), F.col("m.mime").as("mime"),
          F.col("m.width").as("width"), F.col("m.height").as("height"))
    }),
    "q_mojibake" -> ((s, dir) => {
      // oracle-verified encoding-damage scoring: per-doc text with a
      // known count of mojibake sequences; the ratio is exact
      // arithmetic DuckDB restates (4 chars per wreck, 3 per clean run)
      val text = F.expr(
        "repeat('â€™x', CAST(doc_id % 5 AS INT) + 1) || " +
          "repeat(' ok', CAST(doc_id % 7 AS INT) + 3)")
      read(s, dir, "documents")
        .select(F.col("doc_id"),
          F.round(TextAnalysis.mojibakeRatio(text), 6).as("mojibake_ratio"))
    }),
    "q_gunzip" -> ((s, dir) => {
      // oracle-verified gzip decompression: a stored-DEFLATE gzip
      // member assembled in SQL (header, LEN/~LEN, Spark crc32, ISIZE);
      // the real inflate path runs and DuckDB restates the text
      import SqlHex.{le16h, le32h}
      val payload = F.concat(F.lit("Doc "), F.col("doc_id"),
        F.lit(" gz payload"))
      val data = F.encode(payload, "UTF-8")
      val len = F.length(payload).cast(IntegerType)
      val gz = F.unhex(F.concat(
        F.lit("1F8B0800" + "00000000" + "0003" + "01"),
        le16h(len), le16h(F.lit(65535) - len),
        F.hex(data),
        le32h(F.crc32(data)), le32h(len)))
      read(s, dir, "documents")
        .select(F.col("doc_id"),
          F.decode(Multimodal.gunzip(gz), "UTF-8").as("text"))
    }),
    "q_unzstd" -> ((s, dir) => {
      // oracle-verified zstd decompression: a raw-block RFC 8878 frame
      // assembled in SQL (magic, FHD, window descriptor, raw-block
      // header); the real zstd decoder runs and DuckDB restates the text
      import SqlHex.le24h
      val payload = F.concat(F.lit("Doc "), F.col("doc_id"),
        F.lit(" zst payload"))
      val data = F.encode(payload, "UTF-8")
      val len = F.length(payload).cast(IntegerType)
      val frame = F.unhex(F.concat(
        F.lit("28B52FFD" + "00" + "00"),
        le24h(F.shiftleft(len, 3) + 1),
        F.hex(data)))
      read(s, dir, "documents")
        .select(F.col("doc_id"),
          F.decode(Multimodal.unzstd(frame), "UTF-8").as("text"))
    }),
    "q_unlz4" -> ((s, dir) => {
      // oracle-verified LZ4 frame decompression: a spec-conformant
      // frame assembled in SQL (magic, FLG 60 / BD 40, the pinned HC
      // byte 82, one uncompressed block — high bit of the size word —
      // and the end mark); the real lz4 decoder runs and DuckDB
      // restates the text
      import SqlHex.le32h
      val payload = F.concat(F.lit("Doc "), F.col("doc_id"),
        F.lit(" lz4 payload"))
      val data = F.encode(payload, "UTF-8")
      val len = F.length(payload).cast(LongType)
      val frame = F.unhex(F.concat(
        F.lit("04224D18" + "60" + "40" + "82"),
        le32h(len + 2147483648L),
        F.hex(data),
        F.lit("00000000")))
      read(s, dir, "documents")
        .select(F.col("doc_id"),
          F.decode(Multimodal.unlz4(frame), "UTF-8").as("text"))
    }),
    "q_unsnappy" -> ((s, dir) => {
      // oracle-verified raw-snappy-block decompression: the one-literal
      // block shape (varint length, literal tag (len-1)<<2, raw bytes)
      // assembled in SQL; payloads stay < 61 bytes so the tag is a
      // single byte
      import SqlHex.hx2
      val payload = F.concat(F.lit("Doc "), F.col("doc_id"),
        F.lit(" snappy payload"))
      val data = F.encode(payload, "UTF-8")
      val len = F.length(payload).cast(IntegerType)
      val block = F.unhex(F.concat(
        hx2(len), hx2((len - 1) * 4), F.hex(data)))
      read(s, dir, "documents")
        .select(F.col("doc_id"),
          F.decode(Multimodal.unsnappy(block), "UTF-8").as("text"))
    }),
    "q_warc" -> ((s, dir) => {
      // oracle-verified WARC ingestion: a two-record (request +
      // response) WARC segment assembled per doc in SQL; the real
      // warc_records walk splits it and DuckDB restates every field
      val docId = F.col("doc_id")
      val url = F.concat(F.lit("http://ex.org/doc/"), docId)
      def record(typ: String, ct: String, payload: Column) = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: "), F.lit(typ),
        F.lit("\r\nWARC-Target-URI: "), url,
        F.lit("\r\nWARC-Date: 2024-01-0"), docId % 9 + 1,
        F.lit("T00:00:00Z\r\nWARC-Record-ID: <urn:"), F.lit(typ),
        F.lit(":"), docId,
        F.lit(">\r\nContent-Type: "), F.lit(ct),
        F.lit("\r\nContent-Length: "), F.length(payload),
        F.lit("\r\n\r\n"), payload, F.lit("\r\n\r\n"))
      val reqBody = F.concat(F.lit("GET /doc/"), docId,
        F.lit(" HTTP/1.1\r\n\r\n"))
      val respBody = F.concat(F.lit("Doc "), docId, F.lit(" crawled body"))
      val seg = F.encode(F.concat(
        record("request", "application/http;msgtype=request", reqBody),
        record("response", "application/http;msgtype=response", respBody)),
        "UTF-8")
      read(s, dir, "documents")
        .select(docId, F.posexplode(sources.Warc.records(seg)).as(Seq("rec_no", "r")))
        .select(docId, F.col("rec_no"),
          F.col("r.warc_type").as("warc_type"),
          F.col("r.target_uri").as("target_uri"),
          F.col("r.date").as("date"),
          F.col("r.record_id").as("record_id"),
          F.col("r.content_type").as("content_type"),
          F.decode(F.col("r.payload"), "UTF-8").as("payload_text"))
    }),
    "q_zip" -> ((s, dir) => {
      // oracle-verified ZIP triage + extraction: a one-entry STORED
      // archive assembled field by field in SQL (local header, central
      // directory, EOCD with true offsets); the real central-directory
      // walk lists it and the real extraction returns the payload
      import SqlHex.le32h
      val payload = F.concat(F.lit("Doc "), F.col("doc_id"),
        F.lit(" zipped text"))
      val pLen = F.length(payload).cast(IntegerType)
      val name = "doc.txt"
      val nameHex = name.getBytes("US-ASCII").map("%02X".format(_)).mkString
      val lfh = F.concat(
        F.lit("504B0304" + "1400" + "0000" + "0000" + "0000" + "0000" +
          "00000000"),
        le32h(pLen), le32h(pLen), F.lit("0700" + "0000"), F.lit(nameHex))
      val cd = F.concat(
        F.lit("504B0102" + "1400" + "1400" + "0000" + "0000" + "0000" +
          "0000" + "00000000"),
        le32h(pLen), le32h(pLen),
        F.lit("0700" + "0000" + "0000" + "0000" + "0000" + "00000000" +
          "00000000"),
        F.lit(nameHex))
      val eocd = F.concat(
        F.lit("504B0506" + "0000" + "0000" + "0100" + "0100"),
        le32h(F.lit(46 + name.length)),
        le32h(F.lit(30 + name.length) + pLen),
        F.lit("0000"))
      val zip = F.unhex(F.concat(lfh, F.hex(F.encode(payload, "UTF-8")),
        cd, eocd))
      read(s, dir, "documents")
        .select(F.col("doc_id"),
          F.element_at(Multimodal.zipEntries(zip), 1).as("e"),
          F.decode(Multimodal.zipEntry(zip, F.lit(name)), "UTF-8").as("text"))
        .select(F.col("doc_id"), F.col("e.name").as("name"),
          F.col("e.method").as("method"), F.col("e.size").as("size"),
          F.col("text"))
    }),
    "q_pdf_meta" -> ((s, dir) => {
      // oracle-verified PDF triage: per-doc minimal PDFs with a
      // doc_id-derived version, page count (plus a /Pages tree node
      // that must NOT count), and /Encrypt on every 3rd doc
      val docId = F.col("doc_id")
      val pages = F.call_function("repeat",
        F.lit("<</Type /Page>> endobj\n"),
        (docId % 5 + 1).cast(IntegerType))
      val enc = F.when(docId % 3 === 0,
        F.lit("trailer <</Encrypt 9 0 R>>\n")).otherwise(F.lit(""))
      val bytes = F.encode(F.concat(
        F.lit("%PDF-1."), docId % 8,
        F.lit("\n<</Type /Pages /Count 9>>\n"), pages, enc,
        F.lit("%%EOF")), "UTF-8")
      read(s, dir, "documents")
        .select(docId, Multimodal.pdfMeta(bytes).as("m"))
        .select(docId, F.col("m.version").as("version"),
          F.col("m.n_pages").as("n_pages"),
          F.col("m.encrypted").as("encrypted"))
    }),
    "q_crawl_pages" -> ((s, dir) => {
      // oracle-verified crawl page prep (the Crawl.htmlPages glue): a
      // three-response WARC segment per doc — a 200 text/html page, a
      // 404, and a 200 image — flows through the real record split,
      // HTTP parse, and status/mime gates; only the HTML page's
      // (url, html) survives, which DuckDB restates directly
      val docId = F.col("doc_id")
      val url = F.concat(F.lit("http://ex.org/doc/"), docId)
      def record(payload: Column) = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "), url,
        F.lit("\r\nWARC-Date: 2024-01-02T00:00:00Z\r\nWARC-Record-ID: <u:"),
        docId, F.lit(">\r\nContent-Type: application/http;msgtype=response" +
          "\r\nContent-Length: "), F.length(payload),
        F.lit("\r\n\r\n"), payload, F.lit("\r\n\r\n"))
      def http(status: Int, mime: String, body: Column) = F.concat(
        F.lit(s"HTTP/1.1 $status X\r\nContent-Type: $mime\r\nContent-Length: "),
        F.length(body), F.lit("\r\n\r\n"), body)
      val html = F.concat(F.lit("<html><body><p>Doc "), docId,
        F.lit(" crawl body</p><a href=\"/n"), docId,
        F.lit("\">n</a></body></html>"))
      val seg = F.encode(F.concat(
        record(http(200, "text/html; charset=utf-8", html)),
        record(http(404, "text/html", F.lit("<html>gone</html>"))),
        record(http(200, "image/png", F.lit("PNGBYTES")))), "UTF-8")
      val records = read(s, dir, "documents")
        .select(F.lit("mem").as("file"),
          F.explode(sources.Warc.records(seg)).as("r"))
        .select(F.col("file"), F.col("r.warc_type").as("warc_type"),
          F.col("r.target_uri").as("target_uri"), F.col("r.date").as("date"),
          F.col("r.record_id").as("record_id"),
          F.col("r.content_type").as("content_type"),
          F.col("r.payload").as("payload"))
      graft.pipeline.Crawl.htmlPages(records).select("url", "html")
    }),
    "q_redirects" -> ((s, dir) => {
      // oracle-verified redirect extraction: per-doc 301 responses with
      // a RELATIVE Location that must resolve against the request URL
      val docId = F.col("doc_id")
      val url = F.concat(F.lit("http://h"), docId % 7,
        F.lit(".example/old/"), docId)
      val payload = F.concat(
        F.lit("HTTP/1.1 301 Moved\r\nLocation: /new/"), docId,
        F.lit("\r\nContent-Length: 0\r\n\r\n"))
      val seg = F.encode(F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "), url,
        F.lit("\r\nWARC-Date: 2024-01-02T00:00:00Z\r\nWARC-Record-ID: <r:"),
        docId, F.lit(">\r\nContent-Type: application/http;msgtype=response" +
          "\r\nContent-Length: "), F.length(payload),
        F.lit("\r\n\r\n"), payload, F.lit("\r\n\r\n")), "UTF-8")
      val records = read(s, dir, "documents")
        .select(F.lit("mem").as("file"),
          F.explode(sources.Warc.records(seg)).as("r"))
        .select(F.col("file"), F.col("r.warc_type").as("warc_type"),
          F.col("r.target_uri").as("target_uri"), F.col("r.date").as("date"),
          F.col("r.record_id").as("record_id"),
          F.col("r.content_type").as("content_type"),
          F.col("r.payload").as("payload"))
      graft.pipeline.Crawl.redirects(records)
    }),
    "q_http" -> ((s, dir) => {
      // oracle-verified HTTP unwrap: a chunked (RFC 9112 §7.1) response
      // assembled per doc in SQL — hex size lines, chunk extension,
      // dropped trailer; the real de-chunk runs and DuckDB restates the
      // reassembled body and status line directly
      val docId = F.col("doc_id")
      val status = docId % 100 + 200
      val c1 = F.concat(F.lit("Doc "), docId, F.lit(" part one"))
      val c2 = F.lit(" and part two.")
      val msg = F.encode(F.concat(
        F.lit("HTTP/1.1 "), status,
        F.lit(" OK\r\nContent-Type: text/plain; charset=utf-8\r\n"),
        F.lit("Transfer-Encoding: chunked\r\n\r\n"),
        F.hex(F.length(c1)), F.lit(";ext=0\r\n"), c1, F.lit("\r\n"),
        F.hex(F.length(c2)), F.lit("\r\n"), c2, F.lit("\r\n"),
        F.lit("0\r\nX-Trailer: dropped\r\n\r\n")), "UTF-8")
      val m = sources.Warc.httpMessage(msg)
      read(s, dir, "documents")
        .select(docId, m.as("m"))
        .select(docId, F.col("m.status").as("status"),
          F.col("m.content_type").as("content_type"),
          F.decode(F.col("m.body"), "UTF-8").as("body"))
    }),
    "q_html_text" -> ((s, dir) => {
      // oracle-verified HTML main-content extraction: per-doc HTML
      // assembled from doc_id-derived strings (title, heading, body,
      // entity, comment, script/style noise, table cells); DuckDB
      // restates the extracted text by direct concatenation
      val t = F.concat(F.lit("Doc "), F.col("doc_id"))
      val p1 = F.concat(F.lit("Body "), F.col("doc_id") * 7)
      val html = F.concat(
        F.lit("<!DOCTYPE html><html><head><title>"), t,
        F.lit("</title><script>var x = 1 < 2;</script>" +
          "<style>p{color:red}</style></head><body  class=\"m\"><h1>"), t,
        F.lit("</h1>\n  <p>"), p1,
        F.lit(" &amp; more.</p><!-- hidden --><table><tr><td>"),
        F.col("doc_id") % 10, F.lit("</td><td>"),
        (F.col("doc_id") + 1) % 10,
        F.lit("</td></tr></table></body></html>"))
      read(s, dir, "documents")
        .select(F.col("doc_id"), TextAnalysis.htmlText(html).as("text"))
    }),
    "q_html_links" -> ((s, dir) => {
      // oracle-verified outlink extraction + RFC 3986 resolution: per-doc
      // pages with a query-string href (entity-encoded &amp;), a ../
      // relative href, a fragment-only and a javascript: href (both
      // dropped), and an absolute href; DuckDB restates the three
      // surviving links and their resolutions as direct concatenation
      val url = F.concat(F.lit("http://h"), F.col("doc_id") % 7,
        F.lit(".example/a/b"), F.col("doc_id"))
      val html = F.concat(
        F.lit("<p>intro</p><a href=\"/p?x=1&amp;y="), F.col("doc_id"),
        F.lit("\">q</a> <a href='../r"), F.col("doc_id"),
        F.lit("'>rel</a><a href=\"#frag\">no</a>" +
          "<a href=\"javascript:void(0)\">no</a><a href=\"http://abs"),
        F.col("doc_id") % 5,
        F.lit(".example/z\">abs</a>"))
      read(s, dir, "documents")
        .select(F.col("doc_id"), url.as("__u"),
          F.posexplode(TextAnalysis.htmlLinks(html)).as(Seq("pos", "link")))
        .select(F.col("doc_id"), F.col("pos"), F.col("link"),
          TextAnalysis.resolveUrl(F.col("__u"), F.col("link")).as("resolved"))
    }),
    "q_anchor_text" -> ((s, dir) => {
      // oracle-verified anchor-text extraction: per-doc pages with a
      // marked-up anchor (inner tags stripped, entity decoded), an
      // image link (empty text), and a dropped fragment anchor; DuckDB
      // restates (pos, href, text) by concatenation
      val html = F.concat(
        F.lit("<p>intro</p><a href=\"/r"), F.col("doc_id"),
        F.lit("\">Report <b>no.</b> "), F.col("doc_id"),
        F.lit(" &amp; notes</a><a href=\"/img"), F.col("doc_id") % 9,
        F.lit("\"><img src=x.png></a><a href=\"#top\">skip</a>"))
      read(s, dir, "documents")
        .select(F.col("doc_id"),
          F.posexplode(TextAnalysis.htmlAnchors(html)).as(Seq("pos", "a")))
        .select(F.col("doc_id"), F.col("pos"),
          F.col("a.href").as("href"), F.col("a.text").as("text"))
    }),
    "q_host_edges" -> ((s, dir) => {
      // oracle-verified host link-graph construction: pages on host
      // h{id%7} (www-prefixed, so the strip is exercised) linking to
      // h{(id+1)%7} (always cross-host), to themselves via a relative
      // href (self-edge, dropped), and to a shared sink host; DuckDB
      // restates the distinct cross-host pairs directly
      val url = F.concat(F.lit("http://www.h"), F.col("doc_id") % 7,
        F.lit(".example/p/"), F.col("doc_id"))
      val html = F.concat(
        F.lit("<a href=\"http://h"), (F.col("doc_id") + 1) % 7,
        F.lit(".example/x\">next</a><a href=\"/q\">self</a>" +
          "<a href=\"http://sink.example/s"), F.col("doc_id") % 3,
        F.lit("\">sink</a>"))
      graft.pipeline.Graphs.hostEdges(
        read(s, dir, "documents").select(F.col("doc_id"), url.as("url"),
          html.as("html")))
    }),
    "q_cdc_dedup" -> ((s, dir) => {
      // rows-only (gear/FNV hashing is not DuckDB-restatable, like the
      // other LSH/xxhash families — CdcSpec pins the boundary-shift
      // property and determinism): per-doc binaries sharing a long
      // doc_id%50 body with distinct tails near-dup within their group
      val body = F.repeat(F.concat(F.lit("blob "), F.col("doc_id") % 50,
        F.lit(" shared content that chunks into several pieces. ")), 15)
      val blobs = read(s, dir, "documents")
        .select(F.col("doc_id"),
          F.encode(F.concat(body, F.lit("tail "), F.col("doc_id")), "UTF-8")
            .as("data"))
      graft.pipeline.Dedup.binaryNearDupPairs(blobs, "doc_id", "data",
        threshold = 0.4, avgBits = 7)
    }),
    "q_text_format" -> ((s, dir) => {
      // oracle-verified format triage: per doc_id%5 one synthesized
      // document of each category (json object, csv table, markdown
      // list, symbol-dense code, plain prose); the REAL classifier
      // runs and DuckDB restates the expected label as a CASE
      val id = F.col("doc_id")
      val sample = F.when(id % 5 === 0,
          F.concat(F.lit("{\"k\": "), id, F.lit(", \"v\": \"x\"}")))
        .when(id % 5 === 1,
          F.concat(F.lit("a,b,c\n1,2,"), id, F.lit("\n4,5,6")))
        .when(id % 5 === 2,
          F.concat(F.lit("# Title "), id,
            F.lit("\n- item one\n- item two\nclosing text")))
        .when(id % 5 === 3,
          F.concat(F.lit("int f(int x) { return (x + "), id,
            F.lit("); }\nint g() { return f(2); }")))
        .otherwise(F.concat(F.lit("This is plain sentence number "), id,
          F.lit(" with ordinary words only.")))
      read(s, dir, "documents")
        .select(F.col("doc_id"),
          graft.pipeline.TextAnalysis.textFormat(sample).as("fmt"))
    }),
    "q_quality_bins" -> ((s, dir) => {
      // oracle-verified percentile binning (the quality-curriculum
      // stage): 4 equal-population bins over n_chars; boundaries are
      // Spark's exact interpolated percentile == DuckDB quantile_cont
      graft.pipeline.TextAnalysis.percentileBins(
        read(s, dir, "documents").select(F.col("doc_id"), F.col("n_chars")),
        "n_chars", nBins = 4)
    }),
    "q_corpus_diff" -> ((s, dir) => {
      // oracle-verified corpus version diff: old = docs not divisible
      // by 9, new = docs not divisible by 7 with every 5th text
      // rewritten — added/removed/changed/unchanged restate as doc_id
      // arithmetic
      val docs = read(s, dir, "documents")
      val oldV = docs.where(F.col("doc_id") % 9 =!= 0)
        .select(F.col("doc_id"), F.col("text"))
      val newV = docs.where(F.col("doc_id") % 7 =!= 0)
        .select(F.col("doc_id"),
          F.when(F.col("doc_id") % 5 === 0,
            F.concat(F.lit("rev2 "), F.col("text")))
            .otherwise(F.col("text")).as("text"))
      graft.pipeline.Dedup.corpusDiff(oldV, newV)
    }),
    "q_sitemap" -> ((s, dir) => {
      // oracle-verified sitemap discovery: per-doc robots bodies with
      // two Sitemap lines and a urlset XML with an entity-escaped loc;
      // DuckDB restates every extracted URL by concatenation
      val robots = F.concat(
        F.lit("User-agent: *\nDisallow: /x\nSitemap: http://h"),
        F.col("doc_id") % 7, F.lit(".example/s"), F.col("doc_id"),
        F.lit(".xml\nsitemap: http://h"), F.col("doc_id") % 7,
        F.lit(".example/extra.xml\n"))
      val xml = F.concat(
        F.lit("<urlset><url><loc> http://h"), F.col("doc_id") % 7,
        F.lit(".example/p?a=1&amp;b="), F.col("doc_id"),
        F.lit(" </loc></url></urlset>"))
      read(s, dir, "documents")
        .select(F.col("doc_id"),
          graft.pipeline.Crawl.sitemapsFromRobots(robots).as("sitemaps"),
          graft.pipeline.Crawl.sitemapUrls(xml).as("locs"))
        .select(F.col("doc_id"),
          F.col("sitemaps").getItem(0).as("sm0"),
          F.col("sitemaps").getItem(1).as("sm1"),
          F.col("locs").getItem(0).as("loc0"))
    }),
    "q_schedule" -> ((s, dir) => {
      // oracle-verified per-host fetch budget: 500 frontier URLs over 5
      // hosts, budget 3 per host — the lexicographically first URLs win
      // with dense per-host order, restated by a DuckDB window
      val frontier = read(s, dir, "documents")
        .select(F.concat(F.lit("http://h"), F.col("doc_id") % 5,
          F.lit(".example/p"), F.col("doc_id")).as("url"))
      graft.pipeline.Crawl.schedule(frontier, maxPerHost = 3)
    }),
    "q_robots" -> ((s, dir) => {
      // oracle-verified RFC 9309 evaluation: one robots.txt with a *
      // group (Disallow /p1/ overridden by a longer Allow /p1/page1)
      // and a graftbot group (Disallow /p2/); per doc the path is
      // /p{id%3}/page{id}, so both group selection and
      // longest-pattern-wins restate as doc_id CASE arithmetic
      val body =
        "User-agent: *\nDisallow: /p1/\nAllow: /p1/page1\n" +
          "User-agent: graftbot\nDisallow: /p2/\n"
      val path = F.concat(F.lit("/p"), F.col("doc_id") % 3,
        F.lit("/page"), F.col("doc_id"))
      read(s, dir, "documents")
        .select(F.col("doc_id"),
          graft.pipeline.Crawl.robotsAllowed(F.lit(body), path, "otherbot")
            .as("allowed_star"),
          graft.pipeline.Crawl.robotsAllowed(F.lit(body), path, "graftbot")
            .as("allowed_graft"))
    }),
    "q_frontier" -> ((s, dir) => {
      // oracle-verified crawl-frontier discovery: each page links itself
      // (resolved self-link → excluded as an own URL) and one external
      // URL; the seen corpus covers the first half of the external set,
      // so the frontier is exactly the other half — the bloom-prefiltered
      // seen subtraction is bit-exact, which is what the oracle states
      val url = F.concat(F.lit("http://h"), F.col("doc_id") % 7,
        F.lit(".example/p/"), F.col("doc_id"))
      val html = F.concat(
        F.lit("<a href=\"/p/"), F.col("doc_id"),
        F.lit("\">self</a><a href=\"http://ext.example/x"),
        F.col("doc_id") % 10, F.lit("\">e</a>"))
      val docs = read(s, dir, "documents")
        .select(F.col("doc_id"), url.as("url"), html.as("html"))
      val seen = read(s, dir, "documents")
        .where(F.col("doc_id") % 10 < 5)
        .select(F.concat(F.lit("http://ext.example/x"),
          F.col("doc_id") % 10).as("url"))
      graft.pipeline.Graphs.frontierUrls(docs, seen)
    }),
    "q_audio_triage" -> ((s, dir) => {
      // oracle-verified MP3 + Ogg Vorbis header triage: per-doc MPEG1
      // Layer III headers (bitrate index from doc_id; CBR duration =
      // payloadBytes·8/kbps) and Ogg BOS+EOS pages (channels/rate/
      // granule from doc_id; duration = granule·1000/rate) — all
      // recomputed as direct arithmetic in DuckDB
      import SqlHex.{hx2, le32h}
      val brIdx = (F.col("doc_id") % 14).cast(IntegerType) + 1
      // one short frame fragment (100 bytes < any MPEG1-L3 frame
      // length, so the decoder's second-sync validation is vacuous,
      // like any truncated-but-valid head)
      val mp3 = F.unhex(F.concat(F.lit("FFFB"), hx2(brIdx * 16),
        F.lit("00"), F.repeat(F.lit("00"), 96)))
      val ch = (F.col("doc_id") % 7).cast(IntegerType) + 1
      val rate = (F.col("doc_id") % 5).cast(IntegerType) * 1000 + 8000
      val granule = rate * ((F.col("doc_id") % 10).cast(IntegerType) + 1)
      val ogg = F.unhex(F.concat(
        F.lit("4F676753" + "00" + "02" + "0000000000000000" +
          "07000000" + "00000000" + "00000000" + "01" + "1E"),
        F.lit("01" + "766F72626973" + "00000000"), hx2(ch), le32h(rate),
        F.lit("00" * 12 + "B8" + "01"),
        F.lit("4F676753" + "00" + "04"), le32h(granule), F.lit("00000000"),
        F.lit("07000000" + "01000000" + "00000000" + "00")))
      read(s, dir, "documents")
        .select(F.col("doc_id"),
          Multimodal.headerAudioMeta(mp3).as("m"),
          Multimodal.headerAudioMeta(ogg).as("o"))
        .select(F.col("doc_id"),
          F.col("m.mime").as("mp3_mime"),
          F.col("m.channels").as("mp3_channels"),
          F.col("m.sample_rate").as("mp3_rate"),
          F.col("m.duration_ms").as("mp3_dur_ms"),
          F.col("o.mime").as("ogg_mime"),
          F.col("o.channels").as("ogg_channels"),
          F.col("o.sample_rate").as("ogg_rate"),
          F.col("o.duration_ms").as("ogg_dur_ms"))
    }),
    "q_audio_aac" -> ((s, dir) => {
      // oracle-verified AAC (ADTS) + Ogg Opus header triage: two ADTS
      // frames (srIdx/channel-config from doc_id; 23-byte frames, one
      // 1024-sample raw block each → duration = 2048·1000/rate) and an
      // OggS BOS page carrying OpusHead (channels/input-rate from
      // doc_id; 48 kHz granule minus the 312-sample pre-skip) — all
      // recomputed as direct arithmetic in DuckDB
      import SqlHex.{hx2, le32h}
      val srIdx = (F.col("doc_id") % 13).cast(IntegerType)
      val chanCfg = (F.col("doc_id") % 6).cast(IntegerType) + 1
      // one 23-byte frame: FF F1 | profile 01 + srIdx + chanCfg(3b) |
      // frame length 23 packed over b3..b5 | fullness/rdb 0 | 16B payload
      val adtsFrame = F.concat(
        F.lit("FFF1"), hx2(F.lit(0x40) + srIdx * 4 + chanCfg.divide(4).cast(IntegerType)),
        hx2((chanCfg % 4) * 64), F.lit("02" + "E0" + "00"),
        F.repeat(F.lit("00"), 16))
      val aac = F.unhex(F.concat(adtsFrame, adtsFrame))
      val ch = (F.col("doc_id") % 2).cast(IntegerType) + 1
      val inRate = ((F.col("doc_id") % 4).cast(IntegerType) + 1) * 12000
      val granule = (F.col("doc_id") % 100).cast(IntegerType) * 48 + 480
      val opus = F.unhex(F.concat(
        F.lit("4F676753" + "00" + "02" + "0000000000000000" +
          "07000000" + "00000000" + "00000000" + "01" + "13"),
        F.lit("4F70757348656164" + "01"), hx2(ch), F.lit("3801"), // pre-skip 312
        le32h(inRate), F.lit("0000" + "00"),
        F.lit("4F676753" + "00" + "04"), le32h(granule), F.lit("00000000"),
        F.lit("07000000" + "01000000" + "00000000" + "00")))
      read(s, dir, "documents")
        .select(F.col("doc_id"),
          Multimodal.headerAudioMeta(aac).as("a"),
          Multimodal.headerAudioMeta(opus).as("o"))
        .select(F.col("doc_id"),
          F.col("a.mime").as("aac_mime"),
          F.col("a.channels").as("aac_channels"),
          F.col("a.sample_rate").as("aac_rate"),
          F.col("a.duration_ms").as("aac_dur_ms"),
          F.col("o.mime").as("opus_mime"),
          F.col("o.channels").as("opus_channels"),
          F.col("o.sample_rate").as("opus_rate"),
          F.col("o.duration_ms").as("opus_dur_ms"))
    }),
    "q_audio_flac" -> ((s, dir) => {
      // REAL lossless-FLAC decode, oracle-verified: a one-frame stream
      // whose CONSTANT subframe holds k·256 decodes to 192 identical
      // samples — rms = peak = k/128 is exact dyadic arithmetic DuckDB
      // recomputes from doc_id (frame CRCs are parsed but unverified by
      // design, so the synthesized stream needs no CRC arithmetic)
      val k = (F.col("doc_id") % 127).cast(IntegerType) + 1
      val media = F.unhex(F.concat(
        F.lit("664C6143"),                            // fLaC magic
        F.lit("80" + "000022"),                       // last block, STREAMINFO, 34
        F.lit("00C0" + "00C0" + "000000" + "000000"), // block/frame size bounds
        F.lit("01F400F0" + "000000C0"),               // 8 kHz mono 16-bit, 192 samples
        F.lit("00000000000000000000000000000000"),    // md5 (unchecked)
        F.lit("FFF8" + "10" + "08" + "00" + "00"),    // frame hdr: 192, mono, 16-bit
        F.lit("00"), SqlHex.hx2(k), F.lit("00"),      // CONSTANT subframe, k·256
        F.lit("0000")))                               // frame crc16 (unchecked)
      read(s, dir, "documents")
        .select(F.col("doc_id"), Multimodal.audioFeatures(media).as("f"))
        .select(F.col("doc_id"), F.col("f.n_samples").as("n_samples"),
          F.col("f.rms").as("rms"), F.col("f.peak").as("peak"),
          F.col("f.zcr").as("zcr"))
    }),
    "q_audio_embed" -> ((s, dir) => {
      // REAL audio embedding, oracle-verified: a pure DC stream puts all
      // band energy at band 0 and a pure Nyquist (alternating) stream at
      // the last band; normalized shares are amplitude-invariant, so the
      // rounded shares are constants DuckDB states directly
      val k = (F.col("doc_id") % 127).cast(IntegerType) + 1
      def wav(dataHex: Column) = F.unhex(F.concat(
        F.lit("52494646" + "A4000000" + "57415645"),
        F.lit("666D7420" + "10000000" + "0100" + "0100" +
          "401F0000" + "803E0000" + "0200" + "1000"),
        F.lit("64617461" + "80000000"), dataHex))
      // 64 16-bit samples: constant +k·256 (DC) / alternating ±k·256
      val dc = wav(F.repeat(F.concat(F.lit("00"), SqlHex.hx2(k)), 64))
      val nyq = wav(F.repeat(F.concat(F.lit("00"), SqlHex.hx2(k),
        F.lit("00"), SqlHex.hx2(F.lit(256) - k)), 32))
      val d = Multimodal.audioEmbedding(dc, 16)
      val q = Multimodal.audioEmbedding(nyq, 16)
      read(s, dir, "documents")
        .select(F.col("doc_id"), d.as("d"), q.as("q"))
        .select(F.col("doc_id"),
          F.size(F.col("d")).as("dim"),
          F.round(F.element_at(F.col("d"), 1).cast(DoubleType), 1).as("dc_share"),
          F.round(F.element_at(F.col("q"), 16).cast(DoubleType), 1).as("nyq_share"),
          F.round(F.element_at(F.col("q"), 1).cast(DoubleType), 1).as("dc_in_nyq"))
    }),
    "q_video_meta" -> ((s, dir) => {
      // oracle-verified AVI parse: synthesize a valid per-doc avih header
      // (25 fps, doc_id-derived frame count and dims), parse it back —
      // ground truth is direct arithmetic
      import SqlHex.le32h
      val frames = (F.col("doc_id") % 1000).cast(IntegerType) + 1
      val w = (F.lit(160) + (F.col("doc_id") % 16).cast(IntegerType) * 16)
      val h = (F.lit(120) + (F.col("doc_id") % 9).cast(IntegerType) * 16)
      val media = F.unhex(F.concat(
        F.lit("52494646" + "50000000" + "41564920"), // RIFF size 80
        F.lit("4C495354" + "44000000" + "6864726C"), // LIST 68 hdrl
        F.lit("61766968" + "38000000"),              // avih 56
        F.lit("409C0000"), F.lit("00000000"), F.lit("00000000"),
        F.lit("00000000"), le32h(frames), F.lit("00000000"),
        F.lit("01000000"), F.lit("00000000"), le32h(w), le32h(h),
        F.repeat(F.lit("00"), 16)))
      read(s, dir, "documents")
        .select(F.col("doc_id"), Multimodal.headerVideoMeta(media).as("m"))
        .select(F.col("doc_id"), F.col("m.mime").as("mime"),
          F.col("m.width").as("width"), F.col("m.height").as("height"),
          F.col("m.n_frames").as("n_frames"),
          F.col("m.duration_ms").as("duration_ms"))
    }),
    "q_video_features" -> ((s, dir) => {
      // REAL uncompressed-video decode, oracle-verified: a 4-frame AVI
      // whose solid 4×2 frames step +1 per channel per frame — decoded
      // means are c0 + 1.5 and the per-frame mean deltas make motion
      // exactly 1.0, all doc_id arithmetic
      import SqlHex.hx2
      val r = F.col("doc_id") % 200
      val g = (F.col("doc_id") * 7) % 200
      val b = (F.col("doc_id") * 13) % 200
      val frames = (0 until 4).map { f =>
        F.concat(F.lit("30306462" + "18000000"), // 00db, 24 bytes
          F.repeat(F.concat(hx2(b + f), hx2(g + f), hx2(r + f)), 8))
      }
      val media = F.unhex(F.concat(Seq(
        F.lit("52494646" + "DC000000" + "41564920"),
        F.lit("4C495354" + "44000000" + "6864726C"),
        F.lit("61766968" + "38000000" + "409C0000"),
        F.lit("00000000" + "00000000" + "00000000" + "04000000"),
        F.lit("00000000" + "01000000" + "00000000"),
        F.lit("04000000" + "02000000"), F.repeat(F.lit("00"), 16),
        F.lit("4C495354" + "84000000" + "6D6F7669")) ++ frames: _*))
      read(s, dir, "documents")
        .select(F.col("doc_id"), Multimodal.videoFeatures(media).as("f"))
        .select(F.col("doc_id"), F.col("f.n_frames").as("n_frames"),
          F.col("f.width").as("width"), F.col("f.height").as("height"),
          F.col("f.mean_r").as("mean_r"), F.col("f.mean_g").as("mean_g"),
          F.col("f.mean_b").as("mean_b"), F.col("f.motion").as("motion"))
    }),
    "q_image_features" -> ((s, dir) => {
      // REAL BMP pixel decode, oracle-verified: per-doc solid-color 2×2
      // 24bpp bitmap (channel values derived from doc_id) → per-channel
      // means equal the source colors exactly
      import SqlHex.hx2
      val r = F.col("doc_id") % 256
      val g = (F.col("doc_id") * 7) % 256
      val b = (F.col("doc_id") * 13) % 256
      val row = F.concat(hx2(b), hx2(g), hx2(r), hx2(b), hx2(g), hx2(r),
        F.lit("0000")) // 2 px BGR + stride padding to 8 bytes
      val media = F.unhex(F.concat(
        F.lit("424D" + "46000000" + "00000000" + "36000000"),
        F.lit("28000000" + "02000000" + "02000000" + "0100" + "1800" +
          "00000000" + "10000000" + "00000000" + "00000000" +
          "00000000" + "00000000"),
        F.repeat(row, 2)))
      read(s, dir, "documents")
        .select(F.col("doc_id"), Multimodal.imageFeatures(media).as("f"))
        .select(F.col("doc_id"), F.col("f.width").as("width"),
          F.col("f.height").as("height"), F.col("f.mean_r").as("mean_r"),
          F.col("f.mean_g").as("mean_g"), F.col("f.mean_b").as("mean_b"))
    }),
    "q_image_decode" -> ((s, dir) => {
      // REAL COMPRESSED decode, oracle-verified: a valid per-doc 1×1 PNG
      // synthesized in SQL — stored-DEFLATE zlib blocks need no
      // compressor, crc32 is a Spark builtin, and adler32 over the
      // 4-byte scanline is closed-form — then inflated/decoded by the
      // JDK reader; ground truth is doc_id arithmetic
      import SqlHex.{hx2, be32h}
      val r = F.col("doc_id") % 256
      val g = (F.col("doc_id") * 7) % 256
      val b = (F.col("doc_id") * 13) % 256
      // IHDR: 1×1, bit depth 8, color type 2 (truecolor)
      val ihdrBody = F.lit("49484452" + "00000001" + "00000001" + "0802000000")
      // zlib: header 78 01, stored block (01, LEN=4, NLEN), raw scanline
      // (filter 0 + RGB), adler32 with A = 1+r+g+b, B = 4+3r+2g+b
      val idatBody = F.concat(
        F.lit("49444154" + "7801" + "01" + "0400" + "FBFF"),
        F.lit("00"), hx2(r), hx2(g), hx2(b),
        be32h((F.lit(4L) + r * 3 + g * 2 + b) * 65536 + r + g + b + 1))
      val media = F.unhex(F.concat(
        F.lit("89504E470D0A1A0A"), F.lit("0000000D"), ihdrBody,
        be32h(F.crc32(F.unhex(ihdrBody))),
        F.lit("0000000F"), idatBody, be32h(F.crc32(F.unhex(idatBody))),
        F.lit("00000000" + "49454E44" + "AE426082")))
      read(s, dir, "documents")
        .select(F.col("doc_id"), Multimodal.decodeImage(media).as("d"))
        .select(F.col("doc_id"), F.col("d.mime").as("mime"),
          F.col("d.width").as("width"), F.col("d.height").as("height"),
          F.col("d.mean_r").as("mean_r"), F.col("d.mean_g").as("mean_g"),
          F.col("d.mean_b").as("mean_b"))
    }),
    "q_thumbnail" -> ((s, dir) => {
      // REAL resize chain, oracle-verified: BMP decode → bilinear scale →
      // PNG encode → PNG decode. Source dims (16m × km) are built so the
      // target collapses to (16, k) under the documented integer
      // rounding, and solid color survives every stage exactly
      val m = (F.col("doc_id") % 3).cast(IntegerType) + 1
      val k = (F.col("doc_id") % 13).cast(IntegerType) + 4
      val media = synthBmp(m * 16, m * k, F.col("doc_id") % 256,
        (F.col("doc_id") * 7) % 256, (F.col("doc_id") * 13) % 256)
      val thumb = Multimodal.resizeImage(media, 16)
      read(s, dir, "documents")
        .select(F.col("doc_id"), Multimodal.decodeImage(thumb).as("d"))
        .select(F.col("doc_id"), F.col("d.mime").as("mime"),
          F.col("d.width").as("width"), F.col("d.height").as("height"),
          F.col("d.mean_r").as("mean_r"), F.col("d.mean_g").as("mean_g"),
          F.col("d.mean_b").as("mean_b"))
    }),
    "q_image_embed" -> ((s, dir) => {
      // REAL image embedding, oracle-verified: a solid-color image's
      // per-channel histogram is one-hot per block, so the embedding is
      // pinned exactly by three scalars — dimension, L1 mass (3.0), and
      // the index-weighted sum (recovers all three hot bin positions)
      val media = synthBmp(F.lit(4), F.lit(2), F.col("doc_id") % 256,
        (F.col("doc_id") * 7) % 256, (F.col("doc_id") * 13) % 256)
      read(s, dir, "documents")
        .select(F.col("doc_id"), Multimodal.imageEmbedding(media, 8).as("v"))
        .select(F.col("doc_id"),
          F.size(F.col("v")).as("dim"),
          F.aggregate(F.col("v"), F.lit(0.0),
            (a, x) => a + x.cast(DoubleType)).as("l1"),
          F.aggregate(F.zip_with(F.col("v"),
              F.sequence(F.lit(0), F.lit(23)),
              (x, i) => x.cast(DoubleType) * i.cast(DoubleType)),
            F.lit(0.0), (a, x) => a + x).as("hot_bins"))
    }),
    "q_image_phash" -> ((s, dir) => {
      // REAL perceptual hashes, oracle-verified END TO END: patterned
      // grayscale BMPs synthesized per-pixel in SQL, decoded by the
      // native 24bpp walk, box-folded to the 8×8/9×8 hash grids — and
      // the oracle recomputes aHash/dHash from the same pixel formula
      // in pure DuckDB (exact integer arithmetic throughout; grid =
      // image dims makes the box filter the identity)
      val img8 = patternedBmp(8, 8,
        (x, y) => (F.col("doc_id") + (x * 37 + y * 101)) % 256)
      val img9 = patternedBmp(9, 8,
        (x, y) => (F.col("doc_id") * 3 + (x * 29 + y * 67)) % 256)
      read(s, dir, "documents").select(F.col("doc_id"),
        Multimodal.imageHash(img8, "ahash").as("ahash"),
        Multimodal.imageHash(img9, "dhash").as("dhash"))
    }),
    "q_video_phash" -> ((s, dir) => {
      // REAL perceptual video hash, oracle-verified end to end: per-doc
      // two-identical-frame 9×8 DIB AVIs synthesized per-pixel in SQL,
      // really decoded by the shared frame walk — the temporal average
      // of identical frames is the frame, so DuckDB recomputes the
      // dHash from the same pixel formula as q_image_phash
      val clip = patternedAvi(9, 8, 2,
        (x, y) => (F.col("doc_id") * 5 + F.lit(31 * x + 73 * y)) % 256)
      read(s, dir, "documents").select(F.col("doc_id"),
        Multimodal.videoHash(clip).as("vhash"))
    }),
    "q_image_neardup" -> ((s, dir) => {
      // perceptual near-dup IMAGE pairs: 50 base patterns, ~n/50 docs
      // each, with up to three perturbed pixels per doc -> within-group
      // dHash Hamming spreads across the maxBits=3 cut, so both keeping
      // and cutting are exercised; the oracle recomputes every dHash in
      // SQL and takes exhaustive all-pairs bit_count(xor) <= 3 as the
      // ground truth the banding must reproduce exactly (pigeonhole
      // recall; buckets ≈ group size, far under the 1024 cap)
      val imgs = read(s, dir, "documents").select(F.col("doc_id"),
        patternedBmp(9, 8, neardupGray).as("media"))
      Dedup.imageNearDupPairs(imgs, "doc_id", "media", "dhash",
        maxBits = 3, maxBucket = 1024)
    }),
    "q_image_incremental" -> ((s, dir) => {
      // cross-corpus image near-dup: incoming = perturbed variants of
      // 40 base patterns, seen = the unperturbed bases (doc_id < 200);
      // the oracle recomputes BOTH dHash sets from the pixel formulas
      // and takes the exhaustive cross-corpus popcount truth
      def gray(pert: Boolean)(x: Column, y: Column): Column = {
        val b = F.col("doc_id") % 40
        val base = b * 97 + (x * 37 + y * 101) + (b * (y * 2 + 3)) % 251
        val p = if (pert) F.when(x === 0 && y === 0, F.expr("doc_id div 40") * 59)
          .otherwise(F.lit(0)) else F.lit(0)
        (base + p) % 256
      }
      val docs = read(s, dir, "documents")
      val incoming = docs.select(F.col("doc_id"),
        patternedBmp(9, 8, gray(pert = true)).as("media"))
      val seen = docs.where(F.col("doc_id") < 200).select(F.col("doc_id"),
        patternedBmp(9, 8, gray(pert = false)).as("media"))
      def hasher(df: DataFrame): DataFrame =
        df.select(F.col("doc_id").as("rid"),
            Multimodal.imageHash(F.col("media"), "dhash").as("sh"))
          .where(F.col("sh").isNotNull)
      Dedup.hammingPairsAgainstSeen(incoming, seen, hasher,
        maxBits = 3, maxBucket = 1024)
    }),
    "q_audio_phash" -> ((s, dir) => {
      // REAL audio perceptual hash, oracle-verified end to end: a
      // 130-sample PCM WAV whose amplitudes are doc_id arithmetic —
      // each of the 65 envelope windows covers exactly two samples, so
      // DuckDB recomputes every loudness comparison in pure integers
      val samples = F.concat((0 until 130).map { j =>
        F.concat(F.lit("00"),
          SqlHex.hx2((F.col("doc_id") * 3 + F.lit(j * 5)) % 127 + 1))
      }: _*)
      val media = F.unhex(F.concat(
        F.lit("52494646" + "28010000" + "57415645"),
        F.lit("666D7420" + "10000000" + "0100" + "0100" +
          "401F0000" + "803E0000" + "0200" + "1000"),
        F.lit("64617461" + "04010000"),
        samples))
      read(s, dir, "documents").select(F.col("doc_id"),
        Multimodal.audioHash(media).as("ahash"))
    }),
    "q_corpus_report" -> ((s, dir) =>
      // ONE aggregation pass -> (metric, value) rows; every number
      // recomputed independently by the DuckDB oracle (percentiles,
      // md5-digest dup rate, integer-summed mean quality)
      pipeline.TextAnalysis.corpusReport(read(s, dir, "documents"), "text")),
    "q_interval_join" -> ((s, dir) => {
      // bucketed range join: points (orders) against validity windows
      // (part-derived intervals) on a shared key — the oracle is the
      // plain inequality join DuckDB can afford at this scale, which
      // the bucketed equi-join plan must reproduce exactly
      val left = read(s, dir, "orders").select(
        F.col("o_orderkey"),
        (F.col("o_custkey") % 20).as("k"),
        (F.col("o_orderkey") % 1000).as("t"))
      val right = read(s, dir, "part").select(
        F.col("p_partkey").as("iv_id"),
        (F.col("p_partkey") % 20).as("k"),
        ((F.col("p_partkey") * 7) % 990).as("ivs"),
        ((F.col("p_partkey") * 7) % 990 + F.col("p_partkey") % 50 + 5)
          .as("ive"))
      pipeline.AsOf.intervalJoin(left, right, "k", "t",
        "ivs", "ive", Seq("iv_id"), bucket = 64L)
    }),
    "q_training_prep" -> ((s, dir) => {
      // the END-TO-END flagship: curate → corpus-BPE tokenizer →
      // exact subword counts → fixed-budget packing → deterministic
      // shard deal. packPartitions is explicit so the packing layout
      // is part of the query's contract (the conf-default layout
      // changes with the session's parallelism — not oracle-safe);
      // TrainingDataSpec pins token conservation, determinism, the
      // budget contract, and the shard-deal shape
      val p = graft.pipeline.TrainingData.prepare(
        read(s, dir, "documents"), "doc_id", "text",
        minQuality = 0.0, langs = Seq("en", "de"),
        chunkSize = 64, chunkStride = 64, numMerges = 32,
        bpeSampleFraction = 1.0, maxTokens = 256, numShards = 8,
        seed = 7L, packPartitions = 8)
      p.shards.select(F.col("shard"), F.col("pos"), F.col("seq_id"),
        F.size(F.col("chunk_keys")).as("n_chunks"), F.col("total_tokens"))
    }),
    "q_normalize" -> ((s, dir) => {
      // Unicode normalization, hash-checked against an independent
      // implementation: a messy fixture (decomposed e+ ́, NBSP, em
      // space, tabs, BEL, zero-width space, edge junk) wrapped around
      // every document, normalized by the engine's one-pass fold vs
      // DuckDB's nfc_normalize + regexp passes
      val messy = F.concat(F.lit("  \u00A0"), F.col("text"),
        F.lit("\t\te\u0301\u2003caf\u00E9 \u0007x\u200B "))
      read(s, dir, "documents").select(F.col("doc_id"),
        TextAnalysis.normalizeText(messy).as("norm"))
    })
  )

  /** The per-pixel gray formula behind `q_image_neardup`: 50 shared base
    * patterns (doc_id % 50) with per-doc perturbations at three fixed
    * pixels — mirrored verbatim in the oracle SQL. */
  private def neardupGray(x: Column, y: Column): Column = {
    val b = F.col("doc_id") % 50
    val e = F.expr("doc_id div 50")
    val base = b * 97 + (x * 37 + y * 101) + (b * (y * 2 + 3)) % 251
    val pert = F.when(x === 0 && y === 0, e * 59)
      .when(x === 5 && y === 3, e * 83)
      .when(x === 2 && y === 6, (e % 3) * 113)
      .otherwise(F.lit(0))
    (base + pert) % 256
  }

  /** Patterned GRAYSCALE 24bpp BMP synthesized in SQL: pixel (x, y)
    * carries `gray(x, y)` in all three channels (so the decoded Rec.601
    * luma equals it exactly), rows stored bottom-up with 4-byte stride
    * padding — the fixture the perceptual-hash oracles decode for real. */
  /** Patterned uncompressed-DIB AVI synthesized in SQL: `nFrames`
    * identical grayscale frames of per-pixel `gray(x, y)` (logical
    * top-down coordinates; rows stored bottom-up like the real
    * format), the container layout `VideoFeatures` walks. */
  private def patternedAvi(w: Int, h: Int, nFrames: Int,
      gray: (Int, Int) => Column): Column = {
    import SqlHex.{hx2, le32h}
    val stride = (w * 3 + 3) & ~3
    val raster = F.concat((0 until h).flatMap { r =>
      val y = h - 1 - r // disk row r is logical row h-1-r (bottom-up)
      (0 until w).map { x =>
        F.call_function("repeat", hx2(gray(x, y)), F.lit(3)) } ++
        (if (stride > w * 3) Seq(F.lit("00" * (stride - w * 3))) else Nil)
    }: _*)
    val frame = F.concat(F.lit("30306462"), le32h(F.lit(stride * h)), raster)
    val movi = F.concat(Seq.fill(nFrames)(frame): _*)
    val avih = F.concat(F.lit("61766968" + "38000000"),
      le32h(F.lit(40000)), F.lit("00000000" * 3), le32h(F.lit(nFrames)),
      F.lit("00000000"), le32h(F.lit(1)), F.lit("00000000"),
      le32h(F.lit(w)), le32h(F.lit(h)), F.lit("00" * 16))
    val avihLen = 8 + 56
    val hdrl = F.concat(F.lit("4C495354"), le32h(F.lit(4 + avihLen)),
      F.lit("6864726C"), avih)
    val moviPayloadLen = nFrames * (8 + stride * h)
    val moviL = F.concat(F.lit("4C495354"), le32h(F.lit(4 + moviPayloadLen)),
      F.lit("6D6F7669"), movi)
    val bodyLen = 4 + (8 + 4 + avihLen) + (8 + 4 + moviPayloadLen)
    F.unhex(F.concat(F.lit("52494646"), le32h(F.lit(bodyLen)),
      F.lit("41564920"), hdrl, moviL))
  }

  private def patternedBmp(w: Int, h: Int,
      gray: (Column, Column) => Column): Column = {
    import SqlHex.{hx2, le32h}
    val stride = (w * 3 + 3) & ~3
    // one lambda over the rows and columns: the plan holds `gray` once,
    // not once per pixel (72 copies made a 1.2 MB task binary)
    def over(n: Int)(f: Column => Column): Column =
      F.array_join(F.transform(F.sequence(F.lit(0), F.lit(n - 1)), f), "")
    val pix = over(h) { r =>
      val y = F.lit(h - 1) - r // disk row r is logical row h-1-r (bottom-up)
      F.concat(over(w)(x => F.call_function("repeat", hx2(gray(x, y)), F.lit(3))),
        F.lit("00" * (stride - w * 3)))
    }
    F.unhex(F.concat(
      F.lit("424D"), le32h(F.lit(stride * h + 54)),
      F.lit("00000000" + "36000000"),
      F.lit("28000000"), le32h(F.lit(w)), le32h(F.lit(h)),
      F.lit("0100" + "1800" + "00000000"), le32h(F.lit(stride * h)),
      F.lit("00000000" + "00000000" + "00000000" + "00000000"), pix))
  }

  /** Solid-color 24bpp BMP synthesized in SQL ([[Multimodal.syntheticBmp]]). */
  private def synthBmp(w: Column, h: Column,
      r: Column, g: Column, b: Column): Column =
    Multimodal.syntheticBmp(w, h, r, g, b)

  /** rdf:Seq container fixture: each order is a Seq whose rdf:_N members
    * (N = linenumber) are part IRIs — the RDFContainers notebook shape over
    * TESTDATA. */
  private def containerGraph(s: SparkSession, dir: String): RdfGraph = {
    import Terms._
    val li = read(s, dir, "lineitem")
    val t = li.select(
      iri(F.concat(F.lit("urn:graft:orders/"), F.col("l_orderkey"))).as("s"),
      iri(F.concat(F.lit(RDF.memberPrefix), F.col("l_linenumber"))).as("p"),
      iri(F.concat(F.lit("urn:graft:part/"), F.col("l_partkey"))).as("o"))
    // schema metadata: every term is an IRI by construction (container
    // membership properties rdf:_1..rdf:_7 — l_linenumber ∈ 1..7 —
    // pointing at part IRIs), so the display boundary types the query
    // statically instead of paying the sniffing execution
    RdfGraph(t, RdfGraph.defaultPrefixes,
      predObjTypes = (1 to 7).map(i =>
        s"${RDF.memberPrefix}$i" -> Set[PredObjType](IriObj)).toMap)
  }

  /** Quad-store fixture: nation names live in ONE NAMED GRAPH PER REGION
    * (<urn:graft:g/REGIONKEY>), while the region's display name sits in
    * the default graph as a triple ABOUT the graph IRI — the standard
    * graph-metadata shape (VERDICT r7 task 6). Reads the same parquet
    * tables as every other fixture; the `g` term column makes it a quad
    * store for GRAPH / FROM / FROM NAMED. */
  private def quadGraph(s: SparkSession, dir: String): RdfGraph = {
    import Terms._
    val nation = read(s, dir, "nation")
    val region = read(s, dir, "region")
    val named = nation.select(
      iri(F.concat(F.lit("urn:graft:nation/"), F.col("n_nationkey"))).as("s"),
      iri("urn:graft:p/n_name").as("p"),
      plainLit(F.col("n_name")).as("o"),
      iri(F.concat(F.lit("urn:graft:g/"), F.col("n_regionkey"))).as("g"))
    val dflt = region.select(
      iri(F.concat(F.lit("urn:graft:g/"), F.col("r_regionkey"))).as("s"),
      iri("urn:graft:p/r_name").as("p"),
      plainLit(F.col("r_name")).as("o"),
      F.lit(null).cast(Terms.termType).as("g"))
    // schema metadata: both predicates carry plain-string literal
    // objects and every other term is an IRI — the quad fixture is
    // quoted-free by construction, so GRAPH/FROM queries over it keep
    // the zero-pass static display typing
    RdfGraph.fromQuadFrame(named.unionByName(dflt),
      RdfGraph.defaultPrefixes + ("gp" -> "urn:graft:p/"))
      .copy(predObjTypes = Map(
        "urn:graft:p/n_name" -> Set[PredObjType](LitObj(XSD.string)),
        "urn:graft:p/r_name" -> Set[PredObjType](LitObj(XSD.string))))
  }

  /** Headline benchmark subset (Bench.scala): mixed SPARQL + pipeline. */
  val benchQueries: Seq[String] = Seq(
    "q_agg_suite", "q_bgp_join", "q_groupby_count", "q_path_seq", "q_topk",
    "q_minus", "q_money_sum", "q_events_window", "q_text_stats",
    "q_dedup_exact", "q_dedup_minhash", "q_knn_brute")

  // ------------------------------------------------------------- oracles

  def oracleSql: Map[String, String] = Map(
    "q_bgp_scan" -> "SELECT r_name AS name FROM region",
    "q_bgp_join" ->
      """SELECT c_name AS cname, n_name AS nname
         FROM customer JOIN nation ON c_nationkey = n_nationkey""",
    "q_filter_cmp" ->
      """SELECT c_name AS name, c_acctbal AS bal FROM customer
         WHERE c_acctbal > 9000.0 AND c_mktsegment = 'BUILDING'""",
    "q_filter_in" ->
      """SELECT n_name AS name FROM nation
         WHERE n_name IN ('NATION_3','NATION_7','NATION_11')""",
    "q_filter_not" ->
      "SELECT p_name AS name FROM part WHERE p_type NOT LIKE 'ECO%'",
    "q_bind_arith" ->
      """SELECT n_name AS name, CAST(n_nationkey * 2 + 1 AS BIGINT) AS x
         FROM nation""",
    "q_values" ->
      "SELECT r_name AS name FROM region WHERE r_regionkey IN (0, 2, 4)",
    "q_optional" ->
      """SELECT c_name AS cname, o.o_orderkey AS okey
         FROM customer c LEFT JOIN
           (SELECT * FROM orders WHERE o_totalprice > 400000.0) o
           ON o.o_custkey = c.c_custkey""",
    "q_minus" ->
      """SELECT c_name AS cname FROM customer WHERE c_custkey NOT IN
         (SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)""",
    "q_not_exists" ->
      """SELECT c_name AS cname FROM customer c WHERE NOT EXISTS
         (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
          AND o.o_orderpriority = '1-URGENT')""",
    "q_exists" ->
      """SELECT c_name AS cname FROM customer c WHERE EXISTS
         (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
          AND o.o_totalprice > 450000.0)""",
    "q_union" ->
      """SELECT c_name AS name FROM customer
         UNION ALL SELECT s_name AS name FROM supplier""",
    "q_groupby_count" ->
      """SELECT n_name AS nname, COUNT(*) AS cnt FROM customer
         JOIN nation ON c_nationkey = n_nationkey GROUP BY 1""",
    "q_group_expr" ->
      """SELECT substr(c_mktsegment, 1, 3) AS pre, COUNT(*) AS cnt
         FROM customer GROUP BY 1""",
    "q_count_distinct" ->
      "SELECT COUNT(DISTINCT c_mktsegment) AS n FROM customer",
    "q_approx_distinct" ->
      "SELECT COUNT(DISTINCT c_mktsegment) AS n, TRUE AS ok FROM customer",
    "q_approx_quantile" ->
      """SELECT round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
                round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
                TRUE AS ok50, TRUE AS ok95
         FROM lineitem""",
    "q_agg_suite" ->
      """SELECT l_returnflag AS flag, SUM(l_quantity) AS sum_qty,
                AVG(l_quantity) AS avg_qty, MIN(l_quantity) AS min_qty,
                MAX(l_quantity) AS max_qty, COUNT(*) AS n
         FROM lineitem GROUP BY 1""",
    "q_having" ->
      """SELECT c_mktsegment AS seg, COUNT(*) AS cnt FROM customer
         GROUP BY 1 HAVING COUNT(*) > 250""",
    "q_group_concat" ->
      "SELECT string_agg(r_name, ',' ORDER BY r_name) AS names FROM region",
    "q_topk" ->
      """SELECT o_orderkey AS okey, o_totalprice AS price FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q_offset" ->
      "SELECT n_name AS name FROM nation ORDER BY 1 LIMIT 5 OFFSET 5",
    "q_distinct" ->
      "SELECT DISTINCT c_mktsegment AS seg FROM customer",
    "q_orderby_multi" ->
      """SELECT c_mktsegment AS seg, c_name AS name FROM customer
         ORDER BY 1 ASC, 2 DESC""",
    "q_subquery_agg" ->
      """SELECT n_name AS nname, cnt FROM nation JOIN
         (SELECT c_nationkey AS k, COUNT(*) AS cnt FROM customer GROUP BY 1) t
         ON t.k = n_nationkey""",
    "q_subquery_filter" ->
      """SELECT n_name AS nname, cnt FROM nation JOIN
         (SELECT c_nationkey AS k, COUNT(*) AS cnt FROM customer GROUP BY 1) t
         ON t.k = n_nationkey WHERE cnt > 60""",
    "q_path_seq" ->
      """SELECT c_name AS cname, COUNT(*) AS cnt FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey GROUP BY 1""",
    "q_path_inverse" ->
      """SELECT n_name AS nname, COUNT(*) AS cnt FROM nation
         JOIN customer ON c_nationkey = n_nationkey GROUP BY 1""",
    "q_path_alt" ->
      """SELECT c_name AS name FROM customer
         UNION ALL SELECT s_name AS name FROM supplier""",
    "q_path_star" ->
      """SELECT 'urn:graft:nation/7' AS x
         UNION SELECT 'urn:graft:region/' || CAST(n_regionkey AS VARCHAR)
         FROM nation WHERE n_nationkey = 7""",
    "q_path_opt" ->
      """SELECT 'urn:graft:nation/7' AS x
         UNION SELECT 'urn:graft:region/' || CAST(n_regionkey AS VARCHAR)
         FROM nation WHERE n_nationkey = 7""",
    "q_values_undef" ->
      "SELECT r_name AS name FROM region WHERE r_regionkey IN (0, 2)",
    "q_path_plus" ->
      """SELECT 'urn:graft:nation/' || CAST(c_nationkey AS VARCHAR) AS x
           FROM customer WHERE c_custkey = 42
         UNION
         SELECT 'urn:graft:region/' || CAST(n_regionkey AS VARCHAR)
           FROM nation JOIN customer ON c_nationkey = n_nationkey
           WHERE c_custkey = 42""",
    "q_path_plus_bound" ->
      """SELECT n_name AS name FROM customer
           JOIN nation ON c_nationkey = n_nationkey WHERE c_custkey = 42
         UNION ALL
         SELECT r_name FROM customer JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey WHERE c_custkey = 42""",
    "q_path_plus_free" ->
      """SELECT 'urn:graft:orders/' || CAST(o_orderkey AS VARCHAR) AS a,
                'urn:graft:customer/' || CAST(o_custkey AS VARCHAR) AS b
           FROM orders
         UNION
         SELECT 'urn:graft:orders/' || CAST(o_orderkey AS VARCHAR),
                'urn:graft:nation/' || CAST(c_nationkey AS VARCHAR)
           FROM orders JOIN customer ON o_custkey = c_custkey
         UNION
         SELECT 'urn:graft:orders/' || CAST(o_orderkey AS VARCHAR),
                'urn:graft:region/' || CAST(n_regionkey AS VARCHAR)
           FROM orders JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
         UNION
         SELECT 'urn:graft:customer/' || CAST(c_custkey AS VARCHAR),
                'urn:graft:nation/' || CAST(c_nationkey AS VARCHAR)
           FROM customer
         UNION
         SELECT 'urn:graft:customer/' || CAST(c_custkey AS VARCHAR),
                'urn:graft:region/' || CAST(n_regionkey AS VARCHAR)
           FROM customer JOIN nation ON c_nationkey = n_nationkey
         UNION
         SELECT 'urn:graft:nation/' || CAST(n_nationkey AS VARCHAR),
                'urn:graft:region/' || CAST(n_regionkey AS VARCHAR)
           FROM nation""",
    "q_construct" ->
      """SELECT 'urn:graft:customer/' || CAST(c_custkey AS VARCHAR) AS s,
                'urn:graft:p/in_nation' AS p, n_name AS o
         FROM customer JOIN nation ON c_nationkey = n_nationkey""",
    "q_graph" ->
      """SELECT r_name AS rname, n_name AS nname
         FROM nation JOIN region ON n_regionkey = r_regionkey""",
    "q_graph_from" ->
      "SELECT n_name AS nname FROM nation WHERE n_regionkey IN (0, 1)",
    "q_graph_named" ->
      """SELECT 'urn:graft:g/' || CAST(n_regionkey AS VARCHAR) AS g,
                n_name AS nname
         FROM nation WHERE n_regionkey IN (2, 3)""",
    "q_update_graph" ->
      """SELECT 'urn:graft:g/' || CAST(CASE WHEN n_regionkey = 1 THEN 9
                  ELSE n_regionkey END AS VARCHAR) AS gname,
                n_name AS nname, r_name AS rlabel
         FROM nation JOIN region ON n_regionkey = r_regionkey
         WHERE n_regionkey <> 0""",
    "q_rdf_star" ->
      "SELECT r_name AS rname, CAST(80 + r_regionkey AS BIGINT) AS conf FROM region",
    "q_rdfxml" ->
      "SELECT r_name AS rname, CAST(r_regionkey AS BIGINT) AS key FROM region",
    "q_jsonld" ->
      "SELECT r_name AS rname, CAST(r_regionkey AS BIGINT) AS key FROM region",
    "q_graph_diff" ->
      """SELECT 'urn:graft:nation/' || CAST(n_nationkey AS VARCHAR) AS s,
                n_name AS name, 'a' AS side
         FROM nation WHERE n_regionkey < 2
         UNION ALL
         SELECT 'urn:graft:nation/' || CAST(n_nationkey AS VARCHAR),
                n_name, 'b'
         FROM nation WHERE n_regionkey > 2""",
    "q_canon" ->
      """SELECT '<urn:graft:region/' || CAST(r_regionkey AS VARCHAR)
                || '> <urn:graft:p/name> "' || r_name || '" .' AS line
         FROM region""",
    "q_rdfs_closure" ->
      // the ρdf closure restated in closed form: transitive chains over
      // the region index set are exactly the b < a pairs, rule 7 is a
      // range join on j <= ck%5, rules 2/3/9 are the arithmetic their
      // schema implies
      """WITH rk AS (SELECT CAST(r_regionkey AS BIGINT) AS k FROM region),
         cu AS (SELECT CAST(c_custkey AS BIGINT) AS ck,
                       CAST(c_nationkey AS BIGINT) AS nk FROM customer),
         na AS (SELECT CAST(n_nationkey AS BIGINT) AS nk,
                       CAST(n_regionkey AS BIGINT) AS rg FROM nation),
         all_t AS (
           SELECT 'urn:graft:c/R' || CAST(a.k AS VARCHAR) AS s,
                  'http://www.w3.org/2000/01/rdf-schema#subClassOf' AS p,
                  'urn:graft:c/R' || CAST(b.k AS VARCHAR) AS o
           FROM rk a JOIN rk b ON b.k < a.k
           UNION ALL
           SELECT 'urn:graft:c/N' || CAST(n.nk AS VARCHAR),
                  'http://www.w3.org/2000/01/rdf-schema#subClassOf',
                  'urn:graft:c/R' || CAST(j.k AS VARCHAR)
           FROM na n JOIN rk j ON j.k <= n.rg
           UNION ALL
           SELECT 'urn:graft:p/P' || CAST(a.k AS VARCHAR),
                  'http://www.w3.org/2000/01/rdf-schema#subPropertyOf',
                  'urn:graft:p/P' || CAST(b.k AS VARCHAR)
           FROM rk a JOIN rk b ON b.k < a.k
           UNION ALL
           SELECT 'urn:graft:p/P2',
                  'http://www.w3.org/2000/01/rdf-schema#domain',
                  'urn:graft:c/Dom'
           UNION ALL
           SELECT 'urn:graft:p/P3',
                  'http://www.w3.org/2000/01/rdf-schema#range',
                  'urn:graft:c/Rng'
           UNION ALL
           SELECT 'urn:graft:e/c' || CAST(c.ck AS VARCHAR),
                  'urn:graft:p/P' || CAST(j.k AS VARCHAR),
                  'urn:graft:e/n' || CAST(c.nk AS VARCHAR)
           FROM cu c JOIN rk j ON j.k <= c.ck % 5
           UNION ALL
           SELECT 'urn:graft:e/c' || CAST(ck AS VARCHAR),
                  'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                  'urn:graft:c/N' || CAST(nk AS VARCHAR) FROM cu
           UNION ALL
           SELECT 'urn:graft:e/c' || CAST(ck AS VARCHAR),
                  'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                  'urn:graft:c/Dom' FROM cu WHERE ck % 5 >= 2
           UNION ALL
           SELECT DISTINCT 'urn:graft:e/n' || CAST(nk AS VARCHAR),
                  'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                  'urn:graft:c/Rng' FROM cu WHERE ck % 5 >= 3
           UNION ALL
           SELECT 'urn:graft:e/c' || CAST(c.ck AS VARCHAR),
                  'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                  'urn:graft:c/R' || CAST(j.k AS VARCHAR)
           FROM cu c JOIN na n ON c.nk = n.nk JOIN rk j ON j.k <= n.rg)
         SELECT DISTINCT s, p, o FROM all_t""",
    "q_sameas_smush" ->
      // components are the blocks {4m..4m+3} the edge construction
      // implies (k aliases k - k%4); the canonical member is the MIN
      // IRI STRING of the block — the 'e/10' < 'e/8' lexicographic
      // order, exactly the engine's term-struct least
      """WITH nodes AS (
           SELECT DISTINCT key FROM (
             SELECT CAST(c_custkey AS BIGINT) AS key FROM customer
             WHERE c_custkey % 4 <> 0
             UNION ALL
             SELECT CAST(c_custkey - c_custkey % 4 AS BIGINT) FROM customer
             WHERE c_custkey % 4 <> 0)),
         canon AS (
           SELECT key // 4 AS blk,
                  min('urn:graft:e/' || CAST(key AS VARCHAR)) AS c
           FROM nodes GROUP BY 1),
         alias AS (
           SELECT 'urn:graft:e/' || CAST(n.key AS VARCHAR) AS node, c.c AS cn
           FROM nodes n JOIN canon c ON n.key // 4 = c.blk
           WHERE 'urn:graft:e/' || CAST(n.key AS VARCHAR) <> c.c),
         data AS (
           SELECT 'urn:graft:e/' || CAST(c_custkey AS VARCHAR) AS s,
                  'urn:graft:p/knows' AS p,
                  'urn:graft:e/' || CAST((c_custkey * 7) % 997 AS VARCHAR) AS o
           FROM customer
           UNION ALL
           SELECT 'urn:graft:e/' || CAST(c_custkey AS VARCHAR),
                  'urn:graft:p/name', c_name FROM customer)
         SELECT DISTINCT coalesce(a1.cn, d.s) AS s, d.p AS p,
                coalesce(a2.cn, d.o) AS o
         FROM data d LEFT JOIN alias a1 ON d.s = a1.node
                     LEFT JOIN alias a2 ON d.o = a2.node""",
    "q_lang_dir" ->
      """SELECT r_name AS rname,
                CASE WHEN r_regionkey % 2 = 0 THEN 'en' ELSE 'ar' END AS lang,
                CASE WHEN r_regionkey % 2 = 0 THEN 'ltr' ELSE 'rtl' END AS dir
         FROM region""",
    "q_sparql_results" ->
      """SELECT '<urn:graft:nation/' || CAST(n_nationkey AS VARCHAR) || '>'
                || chr(9) || '"' || n_name || '"' || chr(9) || '"'
                || CAST(n_nationkey AS VARCHAR)
                || '"^^<http://www.w3.org/2001/XMLSchema#integer>' AS tsv,
                'urn:graft:nation/' || CAST(n_nationkey AS VARCHAR) || ','
                || n_name || ',' || CAST(n_nationkey AS VARCHAR) AS csv
         FROM nation""",
    "q_describe" ->
      """WITH t AS (SELECT * FROM nation WHERE n_nationkey = 3)
         SELECT 'urn:graft:nation/3' AS s, 'urn:graft:p/n_nationkey' AS p,
                CAST(n_nationkey AS VARCHAR) AS o FROM t
         UNION ALL SELECT 'urn:graft:nation/3', 'urn:graft:p/n_name', n_name FROM t
         UNION ALL SELECT 'urn:graft:nation/3', 'urn:graft:p/n_regionkey',
                CAST(n_regionkey AS VARCHAR) FROM t
         UNION ALL SELECT 'urn:graft:nation/3', 'urn:graft:p/n_region_ref',
                'urn:graft:region/' || CAST(n_regionkey AS VARCHAR) FROM t
         UNION ALL SELECT 'urn:graft:nation/3',
                'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                'urn:graft:class/nation' FROM t""",
    "q_update_insert" ->
      "SELECT COUNT(*) AS n FROM customer WHERE c_acctbal > 9000.0",
    "q_update_delete" ->
      "SELECT r_name AS name FROM region WHERE r_regionkey <> 0",
    "q_container_seq" ->
      """SELECT CAST(l_orderkey AS BIGINT) AS okey,
                CAST(l_linenumber AS BIGINT) AS idx,
                CAST(l_partkey AS BIGINT) AS pkey FROM lineitem""",
    "q_scalar_strings" ->
      """SELECT p_name AS name, CAST(length(p_name) AS BIGINT) AS len,
                upper(p_name) AS uname, substr(p_name, 1, 3) AS pre
         FROM part WHERE contains(p_name, ' ')
           AND regexp_matches(p_name, '^[a-z]+ [a-z]+$')""",
    "q_scalar_funcs" ->
      """SELECT p_name AS name,
                CAST(split_part(p_brand, '#', 2) AS BIGINT) AS brandnum,
                CASE WHEN p_size < 25 THEN 'small' ELSE 'large' END AS cat
         FROM part""",
    "q_dates" ->
      """SELECT o_orderkey AS okey, o_orderdate AS od,
                CAST(year(o_orderdate) AS BIGINT) AS yr,
                CAST(month(o_orderdate) AS BIGINT) AS mo
         FROM orders WHERE month(o_orderdate) <= 6""",
    "q_money_sum" ->
      """SELECT l_returnflag AS flag,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
                COUNT(*) AS n
         FROM lineitem GROUP BY 1""",
    "q_window_cumsum" ->
      """SELECT pri, n, CAST(SUM(n) OVER (ORDER BY n DESC, pri
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         FROM (SELECT o_orderpriority AS pri, COUNT(*) AS n
               FROM orders GROUP BY 1) h""",
    "q_events_window" ->
      """SELECT date_trunc('hour', ts) AS wstart, event_type, COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM events GROUP BY 1, 2""",
    "q_events_sliding" ->
      """WITH base AS (SELECT user_id, date_trunc('hour', ts) +
             to_minutes(CASE WHEN extract(minute FROM ts) >= 30 THEN 30 ELSE 0 END)
             AS t30 FROM events),
         win AS (SELECT user_id, t30 AS wstart FROM base
                 UNION ALL
                 SELECT user_id, t30 - to_minutes(30) FROM base)
         SELECT wstart, user_id, COUNT(*) AS n FROM win
         GROUP BY 1, 2 HAVING COUNT(*) > 2""",
    "q_events_sessions" ->
      // gaps-and-islands twin of Spark's session_window: a session breaks
      // when the gap to the previous event is >= 30 min; session_end is
      // last event + gap (Spark's [start, end) convention)
      """WITH o AS (
           SELECT user_id, ts, value,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS brk
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         g AS (
           SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS grp
           FROM o)
         SELECT MIN(ts) AS session_start,
                MAX(ts) + INTERVAL 30 MINUTE AS session_end,
                user_id, COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM g GROUP BY user_id, grp""",
    "q_user_totals" ->
      """SELECT user_id, COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM events GROUP BY 1""",
    "q_events_props" ->
      """SELECT event_id,
                CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
         FROM events""",
    "q_events_enriched" ->
      """SELECT e.event_id, e.user_id, c.c_name
         FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey""",
    "q_events_attributed" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
                c.user_id, p.value
         FROM events c JOIN events p
           ON c.event_type = 'click' AND p.event_type = 'purchase'
          AND c.user_id = p.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR""",
    "q_events_asof" ->
      // DuckDB's native ASOF JOIN is the oracle for the windowed encoding
      """WITH c AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'click'),
         p AS (SELECT user_id, ts, MAX(value) AS purchase_value
               FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
         SELECT c.event_id, c.user_id, p.purchase_value
         FROM c ASOF LEFT JOIN p
           ON c.user_id = p.user_id AND c.ts >= p.ts""",
    "q_pack" ->
      // promoted from rows-only in r13: Spark's repartition(8, id) is
      // pmod(murmur3_x86_32(doc_id, seed 42), 8) — restated here in
      // mod-2^32 arithmetic (HUGEINT products, xor/shift via // ) —
      // and the per-partition id-ordered greedy next-fit fold is a
      // recursive CTE over row positions; seq_id = part*2^32 + bin
      """WITH RECURSIVE toks AS (SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS BIGINT) AS n
           FROM documents),
         mm0 AS (SELECT doc_id, n, doc_id % 4294967296 AS lo,
                   doc_id // 4294967296 AS hi FROM toks),
         mm1 AS (SELECT *, CAST((CAST(lo AS HUGEINT) * 3432918353)
                   % 4294967296 AS BIGINT) AS a1 FROM mm0),
         mm2 AS (SELECT *, ((a1 * 32768) % 4294967296) + (a1 // 131072)
                   AS r1 FROM mm1),
         mm3 AS (SELECT *, CAST((CAST(r1 AS HUGEINT) * 461845907)
                   % 4294967296 AS BIGINT) AS k1 FROM mm2),
         mm4 AS (SELECT *, xor(CAST(42 AS BIGINT), k1) AS x1 FROM mm3),
         mm5 AS (SELECT *, ((x1 * 8192) % 4294967296) + (x1 // 524288)
                   AS rr1 FROM mm4),
         mm6 AS (SELECT *, CAST((CAST(rr1 AS HUGEINT) * 5 + 3864292196)
                   % 4294967296 AS BIGINT) AS h1 FROM mm5),
         mm7 AS (SELECT *, CAST((CAST(hi AS HUGEINT) * 3432918353)
                   % 4294967296 AS BIGINT) AS a2 FROM mm6),
         mm8 AS (SELECT *, ((a2 * 32768) % 4294967296) + (a2 // 131072)
                   AS r2 FROM mm7),
         mm9 AS (SELECT *, CAST((CAST(r2 AS HUGEINT) * 461845907)
                   % 4294967296 AS BIGINT) AS k2 FROM mm8),
         mma AS (SELECT *, xor(h1, k2) AS x2 FROM mm9),
         mmb AS (SELECT *, ((x2 * 8192) % 4294967296) + (x2 // 524288)
                   AS rr2 FROM mma),
         mmc AS (SELECT *, CAST((CAST(rr2 AS HUGEINT) * 5 + 3864292196)
                   % 4294967296 AS BIGINT) AS h2 FROM mmb),
         mmd AS (SELECT *, xor(h2, CAST(8 AS BIGINT)) AS f1 FROM mmc),
         mme AS (SELECT *, xor(f1, f1 // 65536) AS f2 FROM mmd),
         mmf AS (SELECT *, CAST((CAST(f2 AS HUGEINT) * 2246822507)
                   % 4294967296 AS BIGINT) AS f3 FROM mme),
         mmg AS (SELECT *, xor(f3, f3 // 8192) AS f4 FROM mmf),
         mmh AS (SELECT *, CAST((CAST(f4 AS HUGEINT) * 3266489909)
                   % 4294967296 AS BIGINT) AS f5 FROM mmg),
         mmi AS (SELECT *, xor(f5, f5 // 65536) AS f6 FROM mmh),
         parts AS (SELECT doc_id, n,
                     ((CASE WHEN f6 >= 2147483648 THEN f6 - 4294967296
                        ELSE f6 END % 8) + 8) % 8 AS part
                   FROM mmi),
         docs AS MATERIALIZED (SELECT doc_id, n, part, row_number() OVER
                    (PARTITION BY part ORDER BY doc_id) AS i FROM parts),
         walk(part, i, open_bin, t, c, doc_id, n, doc_bin) AS (
           SELECT DISTINCT part, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
             CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
           FROM docs
           UNION ALL
           SELECT d.part, d.i,
             (w.open_bin + CASE WHEN w.t + d.n > 512 AND w.c > 0
                THEN 1 ELSE 0 END)
               + CASE WHEN (CASE WHEN w.t + d.n > 512 AND w.c > 0
                   THEN d.n ELSE w.t + d.n END) >= 512
                 THEN 1 ELSE 0 END,
             CASE WHEN (CASE WHEN w.t + d.n > 512 AND w.c > 0
                 THEN d.n ELSE w.t + d.n END) >= 512 THEN 0
               ELSE (CASE WHEN w.t + d.n > 512 AND w.c > 0
                 THEN d.n ELSE w.t + d.n END) END,
             CASE WHEN (CASE WHEN w.t + d.n > 512 AND w.c > 0
                 THEN d.n ELSE w.t + d.n END) >= 512 THEN 0
               ELSE (CASE WHEN w.t + d.n > 512 AND w.c > 0
                 THEN 1 ELSE w.c + 1 END) END,
             d.doc_id, d.n,
             w.open_bin + CASE WHEN w.t + d.n > 512 AND w.c > 0
               THEN 1 ELSE 0 END
           FROM walk w JOIN docs d ON d.part = w.part AND d.i = w.i + 1)
         SELECT part * 4294967296 + doc_bin AS seq_id,
                COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS total_tokens
         FROM walk WHERE i > 0
         GROUP BY 1""",
    "q_training_prep" ->
      // FULL replay of the end-to-end flagship (promoted from rows-only
      // in r15): curate (lang gate en/de; the 0.0 quality gate is
      // vacuous; md5 keep-min-id dedup) -> stride-64 chunking ->
      // 32-merge BPE trained on the curated corpus (the q_bpe
      // recursion) -> greedy lowest-rank apply summed per chunk ->
      // murmur3(chunk_key) mod 8 packing partitions with the 256-token
      // greedy next-fit walk (the q_pack recursion) -> md5 shard deal,
      // seed 7. MATERIALIZED pins fin/rows_ so the walk recursion does
      // not re-evaluate the whole upstream pipeline per iteration
      // (75 s -> 1 s at sf0.01). normalize=true is an identity on this
      // single-space ASCII corpus, so the oracle omits it; the hash
      // compare would catch any drift.
      """WITH RECURSIVE
         t AS (SELECT doc_id, text,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         s AS (SELECT doc_id,
             len(list_filter(toks, x -> lower(x) IN ('the','and','of','to','in','is','that','it','for','with'))) AS s_en,
             len(list_filter(toks, x -> lower(x) IN ('der','die','das','und','ist','nicht','ein','mit','für','auf'))) AS s_de,
             len(list_filter(toks, x -> lower(x) IN ('le','la','les','et','est','pas','une','pour','avec','dans'))) AS s_fr,
             len(list_filter(toks, x -> lower(x) IN ('el','la','los','las','es','no','una','para','con','por'))) AS s_es
           FROM t),
         l AS (SELECT doc_id, CASE
             WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
             WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
             WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
             WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS lang_pred
           FROM s),
         gated AS (SELECT t.doc_id, t.text, t.toks
           FROM t JOIN l USING (doc_id)
           WHERE l.lang_pred IN ('en', 'de')),
         dd AS (SELECT doc_id, toks FROM (
             SELECT g.*, row_number() OVER
               (PARTITION BY md5(text) ORDER BY doc_id) AS rn
             FROM gated g) WHERE rn = 1),
         chunks AS (SELECT doc_id,
             CAST(i - 1 AS BIGINT) AS chunk_id,
             toks[(i-1)*64+1 : (i-1)*64+64] AS ctoks
           FROM (SELECT doc_id, toks,
                   CASE WHEN len(toks) <= 64 THEN 1
                        ELSE ((len(toks) - 64 + 63) // 64) + 1 END AS n_chunks
                 FROM dd),
                UNNEST(range(1, n_chunks + 1)) AS u(i)),
         vocab AS (SELECT w, COUNT(*)::BIGINT AS c
           FROM (SELECT unnest(toks) AS w FROM dd) GROUP BY w
           ORDER BY c DESC, w LIMIT 65536),
         seed_ AS (SELECT w, c, chr(1) || array_to_string(
             list_transform(range(1, len(w) + 1), i -> w[i:i]),
             chr(1) || chr(1)) || chr(1) AS sym
           FROM vocab),
         train(round, w, c, sym, ml, mr) AS (
           SELECT 0, w, c, sym, NULL::VARCHAR, NULL::VARCHAR FROM seed_
           UNION ALL
           SELECT tr.round + 1, tr.w, tr.c,
             replace(tr.sym, chr(1)||b.pl||chr(1)||chr(1)||b.pr||chr(1),
                          chr(1)||b.pl||b.pr||chr(1)),
             b.pl, b.pr
           FROM train tr, (
             SELECT syms[i] AS pl, syms[i+1] AS pr, SUM(c2) AS cnt
             FROM (SELECT c AS c2,
                     string_split(sym[2:len(sym)-1], chr(1)||chr(1)) AS syms
                   FROM train),
                  UNNEST(range(1, len(syms))) AS u(i)
             GROUP BY 1, 2 ORDER BY cnt DESC, pl, pr LIMIT 1) b
           WHERE tr.round < 32),
         merges AS (SELECT DISTINCT round - 1 AS rank, ml AS ml, mr AS mr
           FROM train WHERE ml IS NOT NULL),
         apply_(step, w, sym) AS (
           SELECT 0, w, sym FROM seed_
           UNION ALL
           SELECT a.step + 1, a.w,
             replace(a.sym, chr(1)||b.ml||chr(1)||chr(1)||b.mr||chr(1),
                          chr(1)||b.ml||b.mr||chr(1))
           FROM apply_ a JOIN LATERAL (
             SELECT m.ml, m.mr FROM merges m
             WHERE contains(a.sym, chr(1)||m.ml||chr(1)||chr(1)||m.mr||chr(1))
             ORDER BY m.rank LIMIT 1) b ON true
           WHERE a.step < 32),
         fin AS MATERIALIZED (SELECT w,
             len(string_split(sym[2:len(sym)-1], chr(1)||chr(1)))::BIGINT AS n
           FROM (SELECT w, sym, row_number() OVER (
                   PARTITION BY w ORDER BY step DESC) AS rn FROM apply_)
           WHERE rn = 1),
         cw AS (SELECT doc_id * 1048576 + chunk_id AS ck, unnest(ctoks) AS w
           FROM chunks),
         csum AS (SELECT ck, SUM(f.n) AS n FROM cw JOIN fin f USING (w) GROUP BY ck),
         counted AS (SELECT c.doc_id * 1048576 + c.chunk_id AS ck,
             COALESCE(m.n, 0)::BIGINT AS n
           FROM chunks c LEFT JOIN csum m ON m.ck = c.doc_id * 1048576 + c.chunk_id),
         mm0 AS (SELECT ck, n, ck % 4294967296 AS lo, ck // 4294967296 AS hi FROM counted),
         mm1 AS (SELECT *, CAST((CAST(lo AS HUGEINT) * 3432918353) % 4294967296 AS BIGINT) AS a1 FROM mm0),
         mm2 AS (SELECT *, ((a1 * 32768) % 4294967296) + (a1 // 131072) AS r1 FROM mm1),
         mm3 AS (SELECT *, CAST((CAST(r1 AS HUGEINT) * 461845907) % 4294967296 AS BIGINT) AS k1 FROM mm2),
         mm4 AS (SELECT *, xor(CAST(42 AS BIGINT), k1) AS x1 FROM mm3),
         mm5 AS (SELECT *, ((x1 * 8192) % 4294967296) + (x1 // 524288) AS rr1 FROM mm4),
         mm6 AS (SELECT *, CAST((CAST(rr1 AS HUGEINT) * 5 + 3864292196) % 4294967296 AS BIGINT) AS h1 FROM mm5),
         mm7 AS (SELECT *, CAST((CAST(hi AS HUGEINT) * 3432918353) % 4294967296 AS BIGINT) AS a2 FROM mm6),
         mm8 AS (SELECT *, ((a2 * 32768) % 4294967296) + (a2 // 131072) AS r2 FROM mm7),
         mm9 AS (SELECT *, CAST((CAST(r2 AS HUGEINT) * 461845907) % 4294967296 AS BIGINT) AS k2 FROM mm8),
         mma AS (SELECT *, xor(h1, k2) AS x2 FROM mm9),
         mmb AS (SELECT *, ((x2 * 8192) % 4294967296) + (x2 // 524288) AS rr2 FROM mma),
         mmc AS (SELECT *, CAST((CAST(rr2 AS HUGEINT) * 5 + 3864292196) % 4294967296 AS BIGINT) AS h2 FROM mmb),
         mmd AS (SELECT *, xor(h2, CAST(8 AS BIGINT)) AS f1 FROM mmc),
         mme AS (SELECT *, xor(f1, f1 // 65536) AS f2 FROM mmd),
         mmf AS (SELECT *, CAST((CAST(f2 AS HUGEINT) * 2246822507) % 4294967296 AS BIGINT) AS f3 FROM mme),
         mmg AS (SELECT *, xor(f3, f3 // 8192) AS f4 FROM mmf),
         mmh AS (SELECT *, CAST((CAST(f4 AS HUGEINT) * 3266489909) % 4294967296 AS BIGINT) AS f5 FROM mmg),
         mmi AS (SELECT *, xor(f5, f5 // 65536) AS f6 FROM mmh),
         parts AS (SELECT ck, n,
             ((CASE WHEN f6 >= 2147483648 THEN f6 - 4294967296 ELSE f6 END % 8) + 8) % 8 AS part
           FROM mmi),
         rows_ AS MATERIALIZED (SELECT ck, n, part, row_number() OVER
             (PARTITION BY part ORDER BY ck) AS i FROM parts),
         walk(part, i, open_bin, t, c, ck, n, bin) AS (
           SELECT DISTINCT part, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
             CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
           FROM rows_
           UNION ALL
           SELECT d.part, d.i,
             (w.open_bin + CASE WHEN w.t + d.n > 256 AND w.c > 0 THEN 1 ELSE 0 END)
               + CASE WHEN (CASE WHEN w.t + d.n > 256 AND w.c > 0
                   THEN d.n ELSE w.t + d.n END) >= 256 THEN 1 ELSE 0 END,
             CASE WHEN (CASE WHEN w.t + d.n > 256 AND w.c > 0
                 THEN d.n ELSE w.t + d.n END) >= 256 THEN 0
               ELSE (CASE WHEN w.t + d.n > 256 AND w.c > 0
                 THEN d.n ELSE w.t + d.n END) END,
             CASE WHEN (CASE WHEN w.t + d.n > 256 AND w.c > 0
                 THEN d.n ELSE w.t + d.n END) >= 256 THEN 0
               ELSE (CASE WHEN w.t + d.n > 256 AND w.c > 0
                 THEN 1 ELSE w.c + 1 END) END,
             d.ck, d.n,
             w.open_bin + CASE WHEN w.t + d.n > 256 AND w.c > 0 THEN 1 ELSE 0 END
           FROM walk w JOIN rows_ d ON d.part = w.part AND d.i = w.i + 1),
         seqs AS (SELECT part * 4294967296 + bin AS seq_id,
             COUNT(*)::INTEGER AS n_chunks, CAST(SUM(n) AS BIGINT) AS total_tokens
           FROM walk WHERE i > 0 GROUP BY 1),
         dealt AS (SELECT seq_id, n_chunks, total_tokens,
             CAST(('0x' || substr(md5('7:' || CAST(seq_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
           FROM seqs)
         SELECT CAST(h % 8 AS INTEGER) AS shard,
           CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, seq_id) - 1 AS BIGINT) AS pos,
           seq_id, n_chunks, total_tokens
         FROM dealt""",
    "q_text_stats" ->
      """SELECT doc_id,
                CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
                CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe,
                CAST(length(text) AS BIGINT) AS n_chars2
         FROM documents""",
    "q_text_quality" ->
      """WITH t AS (SELECT doc_id, text,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents)
         SELECT doc_id,
           round(CASE WHEN length(text) > 0 THEN
             (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))
             / CAST(length(text) AS DOUBLE) ELSE 0.0 END, 6) AS punct_ratio,
           round(CASE WHEN len(toks) > 0 THEN
             len(list_filter(toks, x -> x IN ('the','a','an','of','and','or','to','in','is','it','that','this','for','on','with','as')))
             / CAST(len(toks) AS DOUBLE) ELSE 0.0 END, 6) AS stopword_ratio,
           round(CASE WHEN len(toks) > 0 THEN
             list_sum(list_transform(toks, x -> length(x)))
             / CAST(len(toks) AS DOUBLE) ELSE 0.0 END, 6) AS avg_word_len
         FROM t""",
    "q_lang_id" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         s AS (SELECT doc_id,
             len(list_filter(toks, x -> lower(x) IN ('the','and','of','to','in','is','that','it','for','with'))) AS s_en,
             len(list_filter(toks, x -> lower(x) IN ('der','die','das','und','ist','nicht','ein','mit','für','auf'))) AS s_de,
             len(list_filter(toks, x -> lower(x) IN ('le','la','les','et','est','pas','une','pour','avec','dans'))) AS s_fr,
             len(list_filter(toks, x -> lower(x) IN ('el','la','los','las','es','no','una','para','con','por'))) AS s_es
           FROM t)
         SELECT doc_id, CASE
           WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
           WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
           WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
           WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS lang_pred
         FROM s""",
    "q_dedup_exact" ->
      """SELECT md5(text) AS digest, COUNT(*) AS n, MIN(doc_id) AS keep_id
         FROM documents GROUP BY 1""",
    "q_dedup_incremental" ->
      // bloom prefilter + verify join == the anti-join; spelled with
      // explicit null handling (a null key is a duplicate of nothing)
      // rather than bare NOT IN, whose three-valued logic would drop
      // every row if a null ever appeared on either side
      """WITH seen AS (SELECT 'T' || (doc_id % 7) AS text
                       FROM documents WHERE doc_id % 3 = 0),
              inc AS (SELECT doc_id, 'T' || (doc_id % 11) AS text
                      FROM documents WHERE doc_id % 3 <> 0)
         SELECT doc_id, text FROM inc
         WHERE text IS NULL OR text NOT IN
           (SELECT text FROM seen WHERE text IS NOT NULL)""",
    "q_bpe" ->
      // FULL replay of the BPE trainer + greedy apply (promoted from
      // rows-only in r15). Training: the vocabulary's words become
      // \x01-delimited symbol strings ('ab' → ^Aa^A^Ab^A — the wrap
      // makes multi-char symbol boundaries unambiguous) and each
      // recursion round picks the (SUM(count) DESC, left, right) best
      // adjacent pair over the working table, merging it everywhere
      // with one left-to-right non-overlapping replace() — exactly the
      // trainer's scan; the recursion ends at 100 merges or when no
      // pair remains (the corpus' 31-word vocabulary exhausts at 89).
      // Apply: a second recursion replays BpeEncode's greedy
      // lowest-rank loop per word (merging every occurrence of the
      // lowest-ranked present pair; new pairs always rank later, so
      // batching occurrences is order-safe), and each document sums
      // its words' final symbol counts. ASCII corpus ⇒ DuckDB's
      // binary-UTF8 tie order equals the trainer's UTF-16 order, and
      // chr(1) can never appear in a word.
      """WITH RECURSIVE
         toks AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         vocab AS (SELECT w, COUNT(*)::BIGINT AS c
           FROM (SELECT unnest(toks) AS w FROM toks) GROUP BY w
           ORDER BY c DESC, w LIMIT 65536),
         seed AS (SELECT w, c, chr(1) || array_to_string(
             list_transform(range(1, len(w) + 1), i -> w[i:i]),
             chr(1) || chr(1)) || chr(1) AS s
           FROM vocab),
         train(round, w, c, s, ml, mr) AS (
           SELECT 0, w, c, s, NULL::VARCHAR, NULL::VARCHAR FROM seed
           UNION ALL
           SELECT t.round + 1, t.w, t.c,
             replace(t.s, chr(1)||b.pl||chr(1)||chr(1)||b.pr||chr(1),
                          chr(1)||b.pl||b.pr||chr(1)),
             b.pl, b.pr
           FROM train t, (
             SELECT syms[i] AS pl, syms[i+1] AS pr, SUM(c2) AS cnt
             FROM (SELECT c AS c2,
                     string_split(s[2:len(s)-1], chr(1)||chr(1)) AS syms
                   FROM train),
                  UNNEST(range(1, len(syms))) AS u(i)
             GROUP BY 1, 2 ORDER BY cnt DESC, pl, pr LIMIT 1) b
           WHERE t.round < 100),
         merges AS (SELECT DISTINCT round - 1 AS rank, ml AS l, mr AS r
           FROM train WHERE ml IS NOT NULL),
         apply_(step, w, s) AS (
           SELECT 0, w, s FROM seed
           UNION ALL
           SELECT a.step + 1, a.w,
             replace(a.s, chr(1)||b.l||chr(1)||chr(1)||b.r||chr(1),
                          chr(1)||b.l||b.r||chr(1))
           FROM apply_ a JOIN LATERAL (
             SELECT m.l, m.r FROM merges m
             WHERE contains(a.s, chr(1)||m.l||chr(1)||chr(1)||m.r||chr(1))
             ORDER BY m.rank LIMIT 1) b ON true
           WHERE a.step < 100),
         fin AS (SELECT w,
             len(string_split(s[2:len(s)-1], chr(1)||chr(1)))::BIGINT AS n
           FROM (SELECT w, s, row_number() OVER (
                   PARTITION BY w ORDER BY step DESC) AS rn FROM apply_)
           WHERE rn = 1),
         counts AS (SELECT doc_id, SUM(f.n) AS n
           FROM (SELECT doc_id, unnest(toks) AS w FROM toks) d
           JOIN fin f USING (w) GROUP BY doc_id)
         SELECT t.doc_id, COALESCE(c.n, 0)::BIGINT AS n_bpe_tokens
         FROM toks t LEFT JOIN counts c USING (doc_id)""",
    "q_redact_pii" ->
      """SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(
             text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com at 10.0.0.1',
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '(?:\+?[0-9]{1,3}[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g'),
             '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS clean
         FROM documents""",
    "q_vocab" ->
      """SELECT token, COUNT(*) AS n FROM (
           SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
           FROM documents) t
         GROUP BY token ORDER BY n DESC, token LIMIT 20""",
    "q_zorder" ->
      // the standard bit-dilation: five mask/shift rounds per operand,
      // b's spread shifted up one — identical long arithmetic
      """WITH s AS (SELECT doc_id, doc_id % 1024 AS a,
             (doc_id * 7 + 3) % 1024 AS b FROM documents),
         e0 AS (SELECT doc_id, a, b,
             a & 4294967295 AS xa, b & 4294967295 AS xb FROM s),
         e1 AS (SELECT doc_id, a, b,
             (xa | (xa << 16)) & 281470681808895 AS xa,
             (xb | (xb << 16)) & 281470681808895 AS xb FROM e0),
         e2 AS (SELECT doc_id, a, b,
             (xa | (xa << 8)) & 71777214294589695 AS xa,
             (xb | (xb << 8)) & 71777214294589695 AS xb FROM e1),
         e3 AS (SELECT doc_id, a, b,
             (xa | (xa << 4)) & 1085102592571150095 AS xa,
             (xb | (xb << 4)) & 1085102592571150095 AS xb FROM e2),
         e4 AS (SELECT doc_id, a, b,
             (xa | (xa << 2)) & 3689348814741910323 AS xa,
             (xb | (xb << 2)) & 3689348814741910323 AS xb FROM e3),
         e5 AS (SELECT doc_id, a, b,
             (xa | (xa << 1)) & 6148914691236517205 AS xa,
             (xb | (xb << 1)) & 6148914691236517205 AS xb FROM e4)
         SELECT doc_id, a, b, xa | (xb << 1) AS z FROM e5""",
    "q_cms" ->
      // every counter of the 2×64 Count-Min matrix, regenerated from
      // the shared md5 bucket recipe; cells no token hashed into are 0
      """WITH toks AS (
           SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
             AS tok
           FROM documents),
         hits AS (
           SELECT d.range AS d,
             CAST(('0x' || substr(md5(tok || '#' || d.range), 1, 15))
               AS BIGINT) % 64 AS b,
             COUNT(*) AS n
           FROM toks, range(2) d GROUP BY 1, 2),
         cells AS (
           SELECT d.range AS d, b.range AS b
           FROM range(2) d, range(64) b)
         SELECT CAST(cells.d * 64 + cells.b AS INTEGER) AS pos,
           COALESCE(hits.n, 0) AS cnt
         FROM cells LEFT JOIN hits
           ON cells.d = hits.d AND cells.b = hits.b""",
    "q_heavy_hitters" ->
      // the sketch is a prefilter with no false negatives; the result
      // is plain exact GROUP BY … HAVING
      """SELECT tok AS item, COUNT(*) AS cnt FROM (
           SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
             AS tok
           FROM documents) t
         GROUP BY tok HAVING COUNT(*) >= 100""",
    "q_cdc_dedup" ->
      // FastCDC restated (avgBits=7: min 32, avg 128, max 512): the
      // rolling gear hash's low byte is an 8-lag weighted window sum;
      // hard candidates h8==0 (mask 255), easy h8%64==0 (mask 63); a
      // recursive CTE walks the boundaries (next cut = first hard
      // candidate in [s+32, s+128), else first easy in [s+128, s+512),
      // else the 512 hard cut); chunk substrings stand in for FNV
      // hashes; exact all-pairs Jaccard >= 0.4
      (s"WITH RECURSIVE gear(b, g8) AS (VALUES ${
        graft.expressions.CdcChunks.gearLow8.zipWithIndex
          .map { case (g, b) => s"($b, $g)" }.mkString(", ")})," + """
         docs AS (SELECT doc_id,
             repeat('blob ' || CAST(doc_id % 50 AS VARCHAR) ||
               ' shared content that chunks into several pieces. ', 15)
               || 'tail ' || CAST(doc_id AS VARCHAR) AS txt
           FROM documents),
         lens AS (SELECT doc_id, CAST(length(txt) AS BIGINT) AS n FROM docs),
         bytes AS (SELECT doc_id, i, unicode(substr(txt, CAST(i + 1 AS
             INTEGER), 1)) AS b
           FROM docs, unnest(range(0, CAST(length(txt) AS BIGINT))) AS r(i)),
         roll AS (SELECT doc_id, i,
             (coalesce(lag(g8, 7) OVER w, 0) * 128
              + coalesce(lag(g8, 6) OVER w, 0) * 64
              + coalesce(lag(g8, 5) OVER w, 0) * 32
              + coalesce(lag(g8, 4) OVER w, 0) * 16
              + coalesce(lag(g8, 3) OVER w, 0) * 8
              + coalesce(lag(g8, 2) OVER w, 0) * 4
              + coalesce(lag(g8, 1) OVER w, 0) * 2 + g8) % 256 AS h8
           FROM (SELECT bytes.doc_id, i, g8 FROM bytes JOIN gear USING (b))
           WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
         cands AS (SELECT doc_id, i, h8 = 0 AS hard FROM roll
           WHERE h8 % 64 = 0),
         starts(doc_id, s) AS (
           SELECT doc_id, CAST(0 AS BIGINT) FROM docs
           UNION ALL
           SELECT st.doc_id, COALESCE(
               (SELECT MIN(r1.i) + 1 FROM cands r1
                WHERE r1.doc_id = st.doc_id AND r1.hard
                  AND r1.i >= st.s + 32 AND r1.i < LEAST(lens.n, st.s + 128)),
               (SELECT MIN(r2.i) + 1 FROM cands r2
                WHERE r2.doc_id = st.doc_id
                  AND r2.i >= LEAST(lens.n, st.s + 128)
                  AND r2.i < LEAST(lens.n, st.s + 512)),
               LEAST(lens.n, st.s + 512))
           FROM starts st JOIN lens ON st.doc_id = lens.doc_id
           WHERE st.s < lens.n),
         chunks AS (SELECT doc_id, s, cut FROM (
             SELECT starts.doc_id, s,
               lead(s) OVER (PARTITION BY starts.doc_id ORDER BY s) AS cut, n
             FROM starts JOIN lens ON starts.doc_id = lens.doc_id)
           WHERE s < n),
         sets AS (SELECT DISTINCT chunks.doc_id,
             substr(txt, CAST(s + 1 AS INTEGER), CAST(cut - s AS INTEGER))
               AS chunk
           FROM chunks JOIN docs ON chunks.doc_id = docs.doc_id),
         sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sets GROUP BY 1),
         inters AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS iv
           FROM sets a JOIN sets b ON a.chunk = b.chunk
             AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT id1, id2,
           CAST(iv AS DOUBLE) / (CAST(s1.sz + s2.sz AS DOUBLE)
             - CAST(iv AS DOUBLE)) AS jaccard
         FROM inters JOIN sizes s1 ON id1 = s1.doc_id
           JOIN sizes s2 ON id2 = s2.doc_id
         WHERE CAST(iv AS DOUBLE) / (CAST(s1.sz + s2.sz AS DOUBLE)
             - CAST(iv AS DOUBLE)) >= 0.4"""),
    "q_knn_ivf" ->
      // full IVF restatement (promoted from rows-only in r13): the
      // deterministic integer k-means fit (kmeansCtesFor — corpus is
      // every vector except the query), the EXACT-integer probe
      // ranking of the 8 centroids against the quantized query (ties
      // to the lowest list), then exact cosine + top-10 over the 3
      // probed lists only
      (kmeansCtesFor(8, "vec_id <> 0") + """,
         qq AS (SELECT q FROM v WHERE vec_id = 0),
         cd AS (SELECT c2.j,
                  list_sum(list_transform(range(1, len(c2.c) + 1),
                    i -> (c2.c[i] - qq.q[i]) * (c2.c[i] - qq.q[i]))) AS dist
                FROM c2, qq),
         probes AS (SELECT j FROM cd ORDER BY dist, j LIMIT 3),
         qf AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                FROM embeddings WHERE vec_id = 0),
         cand AS (SELECT a3.vec_id,
                    list_dot_product(CAST(e.embedding AS DOUBLE[]), qv) /
                      (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                             CAST(e.embedding AS DOUBLE[])))
                       * sqrt(list_dot_product(qv, qv))) AS cos
                  FROM a3 JOIN embeddings e USING (vec_id), qf
                  WHERE a3.j IN (SELECT j FROM probes))
         SELECT vec_id, round(cos, 6) AS cosine
         FROM cand ORDER BY cos DESC, vec_id LIMIT 10"""),
    "q_knn_ivfpq" ->
      // full IVF-PQ restatement (promoted from rows-only in r13):
      // coarse integer k-means -> float centers, float residuals,
      // quantized PQ fit (m=4 subspaces of 16, k=8, smallest-id init,
      // one integer Lloyd iteration), encode, integer probe ranking,
      // per-list query-residual ADC tables, the 40-candidate ADC
      // shortlist, and the exact-cosine refinement
      (kmeansCtesFor(8, "vec_id <> 0") + """,
         fc AS (SELECT j, list_transform(c,
                  x -> CAST(x / 1000000.0 - 2.0 AS FLOAT)) AS fc
                FROM c2),
         res AS (SELECT a3.vec_id, a3.j AS list,
                   list_transform(range(1, 65), i ->
                     CAST(e.embedding[i] - fc.fc[i] AS FLOAT)) AS r
                 FROM a3 JOIN embeddings e USING (vec_id)
                   JOIN fc ON a3.j = fc.j),
         qr AS (SELECT vec_id, list, list_transform(r, x ->
                  CAST(floor((CAST(x AS DOUBLE) + 4) * 1000000)
                    AS BIGINT)) AS q
                FROM res),
         subs AS (SELECT j2 FROM (VALUES (0), (1), (2), (3)) AS s(j2)),
         pinit AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, q
                   FROM qr ORDER BY vec_id LIMIT 8),
         cb0 AS (SELECT subs.j2, pinit.c,
                   list_slice(pinit.q, subs.j2 * 16 + 1,
                     subs.j2 * 16 + 16) AS cv
                 FROM pinit CROSS JOIN subs),
         pd1 AS (SELECT qr.vec_id, cb0.j2, cb0.c,
                   list_sum(list_transform(range(1, 17), t ->
                     (qr.q[cb0.j2 * 16 + t] - cb0.cv[t])
                     * (qr.q[cb0.j2 * 16 + t] - cb0.cv[t]))) AS dist
                 FROM qr CROSS JOIN cb0),
         pa1 AS (SELECT vec_id, j2, c FROM (SELECT vec_id, j2, c,
                   row_number() OVER (PARTITION BY vec_id, j2
                     ORDER BY dist, c) AS rn FROM pd1) WHERE rn = 1),
         pu1 AS (SELECT pa1.j2, pa1.c, t AS spos,
                   SUM(qr.q[pa1.j2 * 16 + t]) AS s, COUNT(*) AS n
                 FROM pa1 JOIN qr USING (vec_id),
                   unnest(range(1, 17)) AS r(t)
                 GROUP BY 1, 2, 3),
         cb1 AS (SELECT cb0.j2, cb0.c, COALESCE(uu.cv, cb0.cv) AS cv
                 FROM cb0 LEFT JOIN (SELECT j2, c,
                     list(CAST(s // n AS BIGINT) ORDER BY spos) AS cv
                   FROM pu1 GROUP BY 1, 2) uu
                   ON cb0.j2 = uu.j2 AND cb0.c = uu.c),
         pd2 AS (SELECT qr.vec_id, qr.list, cb1.j2, cb1.c,
                   list_sum(list_transform(range(1, 17), t ->
                     (qr.q[cb1.j2 * 16 + t] - cb1.cv[t])
                     * (qr.q[cb1.j2 * 16 + t] - cb1.cv[t]))) AS dist
                 FROM qr CROSS JOIN cb1),
         codes AS (SELECT vec_id, list, j2, c FROM (
                     SELECT vec_id, list, j2, c,
                       row_number() OVER (PARTITION BY vec_id, j2
                         ORDER BY dist, c) AS rn FROM pd2) WHERE rn = 1),
         qf AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
         crank AS (SELECT fc.j, list_sum(list_transform(range(1, 65),
                     i -> (CAST(qf.q[i] AS DOUBLE) - CAST(fc.fc[i] AS DOUBLE))
                       * (CAST(qf.q[i] AS DOUBLE) - CAST(fc.fc[i] AS DOUBLE))))
                     AS dist
                   FROM fc, qf),
         probes AS (SELECT j FROM (SELECT j, row_number() OVER
                      (ORDER BY dist, j) AS pr FROM crank) WHERE pr <= 4),
         qres AS (SELECT fc.j AS list, list_transform(range(1, 65), i ->
                    CAST(floor((CAST(CAST(qf.q[i] - fc.fc[i] AS FLOAT)
                      AS DOUBLE) + 4) * 1000000) AS BIGINT)) AS q
                  FROM fc, qf WHERE fc.j IN (SELECT j FROM probes)),
         adct AS (SELECT qres.list, cb1.j2, cb1.c,
                    list_sum(list_transform(range(1, 17), t ->
                      (qres.q[cb1.j2 * 16 + t] - cb1.cv[t])
                      * (qres.q[cb1.j2 * 16 + t] - cb1.cv[t]))) AS d
                  FROM qres CROSS JOIN cb1),
         rowd AS (SELECT codes.vec_id, SUM(adct.d) AS dist
                  FROM codes JOIN adct ON codes.list = adct.list
                    AND codes.j2 = adct.j2 AND codes.c = adct.c
                  GROUP BY 1),
         pcand AS (SELECT vec_id FROM rowd ORDER BY dist, vec_id LIMIT 40),
         ref AS (SELECT e.vec_id,
                   list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                    CAST(qf.q AS DOUBLE[])) /
                     (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                            CAST(e.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(qf.q AS DOUBLE[]),
                                              CAST(qf.q AS DOUBLE[])))) AS cos
                 FROM embeddings e JOIN pcand USING (vec_id), qf)
         SELECT vec_id, round(cos, 6) AS cosine
         FROM ref ORDER BY cos DESC, vec_id LIMIT 10"""),
    "q_knn_lsh" ->
      // regenerate the md5-seeded plane matrix, the corpus signatures
      // and the probe set (query bucket + its 4 one-bit flips), then
      // exact cosine + top-k over the candidates — the full LSH path
      """WITH emb AS (SELECT vec_id, embedding FROM embeddings),
         dim AS (SELECT len(embedding) AS d FROM emb LIMIT 1),
         cl AS (
           SELECT p.range AS p,
             list_transform(range(dim.d),
               i -> (CAST(('0x' || substr(md5(p.range || '#' || i), 1, 15))
                      AS BIGINT) % 1000000) / 1000000.0 - 0.5) AS cs
           FROM range(4) p, dim),
         sig AS (
           SELECT e.vec_id,
             CAST(SUM(CASE WHEN list_dot_product(
                    CAST(e.embedding AS DOUBLE[]), cl.cs) >= 0
                  THEN (1::BIGINT << cl.p) ELSE 0 END) AS BIGINT) AS bucket
           FROM emb e, cl GROUP BY e.vec_id),
         qsig AS (SELECT bucket AS qb FROM sig WHERE vec_id = 0),
         targets AS (
           SELECT qb AS t FROM qsig
           UNION SELECT CAST(xor(qb, 1::BIGINT << p.range) AS BIGINT)
           FROM qsig, range(4) p),
         q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM emb
               WHERE vec_id = 0),
         cands AS (
           SELECT DISTINCT s.vec_id FROM sig s
           JOIN targets ON s.bucket = targets.t WHERE s.vec_id <> 0),
         cos AS (
           SELECT e.vec_id,
             list_dot_product(CAST(e.embedding AS DOUBLE[]), qv) /
               (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(qv, qv))) AS cos
           FROM emb e JOIN cands USING (vec_id), q)
         SELECT vec_id, round(cos, 6) AS cosine
         FROM cos ORDER BY cos DESC, vec_id LIMIT 10""",
    "q_dedup_embed" ->
      // replay the 4-table multi-probe postings (bucket + one-bit
      // flips), the 256-smallest bucket cap, within-bucket pairs and
      // the exact-cosine >= threshold verification
      """WITH emb AS (SELECT vec_id, embedding FROM embeddings),
         dim AS (SELECT len(embedding) AS d FROM emb LIMIT 1),
         cl AS (
           SELECT t.range AS tbl, p.range AS p,
             list_transform(range(dim.d),
               i -> (CAST(('0x' || substr(
                        md5((64*t.range + p.range) || '#' || i), 1, 15))
                      AS BIGINT) % 1000000) / 1000000.0 - 0.5) AS cs
           FROM range(4) t, range(4) p, dim),
         sig AS (
           SELECT e.vec_id, cl.tbl,
             CAST(SUM(CASE WHEN list_dot_product(
                    CAST(e.embedding AS DOUBLE[]), cl.cs) >= 0
                  THEN (1::BIGINT << cl.p) ELSE 0 END) AS BIGINT) AS b
           FROM emb e, cl GROUP BY e.vec_id, cl.tbl),
         posts AS (
           SELECT vec_id, tbl, b AS bucket FROM sig
           UNION ALL
           SELECT vec_id, tbl, CAST(xor(b, 1::BIGINT << p.range) AS BIGINT)
           FROM sig, range(4) p),
         buckets AS (
           SELECT tbl, bucket,
             list_slice(list_sort(list(vec_id)), 1, 256) AS rids
           FROM posts GROUP BY tbl, bucket),
         pairs AS (
           SELECT DISTINCT x.id1, y.id2
           FROM buckets b, unnest(b.rids) AS x(id1), unnest(b.rids) AS y(id2)
           WHERE x.id1 < y.id2),
         ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM emb),
         res AS (
           SELECT p.id1, p.id2,
             list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))) AS cos
           FROM pairs p JOIN ev a ON a.vec_id = p.id1
           JOIN ev b ON b.vec_id = p.id2)
         SELECT id1, id2, round(cos, 6) AS cosine
         FROM res WHERE cos >= 0.4""",
    "q_fingerprint" ->
      // replay the md5-seeded polynomial rolling hash with HUGEINT
      // mod-2^64 arithmetic, then map back to the signed 64-bit value
      """SELECT doc_id,
           CAST(CASE WHEN m >= 9223372036854775808::HUGEINT
                THEN m - 18446744073709551616::HUGEINT
                ELSE m END AS BIGINT) AS fp
         FROM (
           SELECT doc_id, list_reduce(
             list_prepend(0::HUGEINT,
               list_transform(
                 list_filter(string_split(text, ' '), x -> x <> ''),
                 t -> CAST(CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)
                        AS HUGEINT))),
             (acc, x) -> (acc * 1000003 + x)
               % 18446744073709551616::HUGEINT) AS m
           FROM documents)""",
    "q_boilerplate" ->
      "SELECT doc_id, text AS clean_text FROM documents",
    "q_quality_score" ->
      // same primitive recipes as q_text_quality, composed with the same
      // operation order as TextAnalysis.qualityScore so the IEEE-double
      // results round identically
      """WITH t AS (SELECT doc_id, text,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         m AS (SELECT doc_id,
           CASE WHEN length(text) > 0 THEN
             (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))
             / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS punct,
           CASE WHEN len(toks) > 0 THEN
             len(list_filter(toks, x -> x IN ('the','a','an','of','and','or','to','in','is','it','that','this','for','on','with','as')))
             / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS sw,
           CASE WHEN len(toks) > 0 THEN
             list_sum(list_transform(toks, x -> length(x)))
             / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS awl,
           least(length(text) / 200.0, 1.0) AS len_score
           FROM t)
         SELECT doc_id, round(
             len_score * 0.3
             + (CASE WHEN awl >= 3.0 AND awl <= 8.0 THEN 1.0 ELSE 0.5 END) * 0.2
             + (CASE WHEN sw >= 0.05 AND sw <= 0.5 THEN 1.0 ELSE 0.5 END) * 0.3
             + (1.0 - least(punct * 4.0, 1.0)) * 0.2, 6) AS quality
         FROM m""",
    "q_knn_brute" ->
      // exact top-10 by cosine; both sides compute the dot/norms in
      // double precision and round to 6 decimals
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id = 0),
         c AS (SELECT vec_id,
                 list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
                   (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(qv, qv))) AS cos
               FROM embeddings, q WHERE vec_id <> 0)
         SELECT vec_id, round(cos, 6) AS cosine
         FROM c ORDER BY cos DESC, vec_id LIMIT 10""",
    "q_rrf" ->
      // both lists rank every doc, so the fused score is exactly
      // c_a + c_b in list order (0.0 + c_a + c_b on the engine side —
      // the same association since 0.0 + x == x)
      """WITH a AS (SELECT doc_id,
             row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r
           FROM documents),
         b AS (SELECT doc_id,
             row_number() OVER (ORDER BY (doc_id * 37) % 101 DESC, doc_id)
               AS r
           FROM documents),
         f AS (SELECT a.doc_id AS id,
             CAST(1.0 AS DOUBLE) / (60 + a.r)
               + CAST(1.0 AS DOUBLE) / (60 + b.r) AS rrf
           FROM a JOIN b ON a.doc_id = b.doc_id)
         SELECT id, round(rrf, 9) AS rrf
         FROM f ORDER BY rrf DESC, id LIMIT 20""",
    "q_maxsim" ->
      // per query vector, max(cos, -cos) = |cos| against the doc's base
      // embedding; both engines compute the dot/norms in double and
      // round to 6; (score desc, vec_id) is a deterministic total order
      """WITH qs AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
                     FROM embeddings WHERE vec_id <= 1),
         per AS (SELECT e.vec_id, q.qid,
             greatest(
               list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
                 (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(q.qv, q.qv))),
               -(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
                 (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(q.qv, q.qv))))) AS m
           FROM embeddings e, qs q WHERE e.vec_id > 1)
         SELECT vec_id, round(SUM(m), 6) AS score
         FROM per GROUP BY vec_id
         ORDER BY SUM(m) DESC, vec_id LIMIT 20""",
    "q_hard_negatives" ->
      // same cosine recipe as q_knn_brute, ranked per query with the
      // (q, q+100) positives excluded before ranking
      """WITH qs AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
                     FROM embeddings WHERE vec_id < 3),
         scored AS (SELECT q.qid, e.vec_id AS id,
             list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
               (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(q.qv, q.qv))) AS cos
           FROM embeddings e, qs q
           WHERE e.vec_id >= 3 AND e.vec_id <> q.qid + 100),
         ranked AS (SELECT qid, id, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id)
               AS rank
           FROM scored)
         SELECT qid, id, round(cos, 6) AS cosine, CAST(rank AS INTEGER)
             AS rank
         FROM ranked WHERE rank <= 5""",
    "q_binary_knn" ->
      // codes regenerate from the positivity of each component; the
      // Hamming order (then vec_id) is a deterministic total order so
      // LIMIT agrees across engines
      """WITH codes AS (
           SELECT vec_id,
             CAST(SUM(CASE WHEN r.range < 32
                 AND embedding[CAST(r.range + 1 AS INT)] > 0
                 THEN (CAST(1 AS BIGINT) << CAST(r.range AS INT))
                 ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS lo,
             CAST(SUM(CASE WHEN r.range >= 32
                 AND embedding[CAST(r.range + 1 AS INT)] > 0
                 THEN (CAST(1 AS BIGINT) << CAST(r.range - 32 AS INT))
                 ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS hi
           FROM embeddings, range(64) r GROUP BY vec_id),
         q AS (SELECT lo AS qlo, hi AS qhi FROM codes WHERE vec_id = 0)
         SELECT vec_id,
           CAST(bit_count(xor(lo, qlo)) + bit_count(xor(hi, qhi)) AS BIGINT)
             AS hamming
         FROM codes, q WHERE vec_id <> 0
         ORDER BY hamming, vec_id LIMIT 20""",
    "q_gopher_repetition" ->
      // the same staged recipe: per-n gram lists, sorted-run top counts
      // (ties to the smallest gram), duplicated-gram coverage windows,
      // O(L²) unit stats on the short line/paragraph lists; every frac
      // is one division rounded to 6 dp before thresholding
      """WITH d AS (SELECT doc_id,
             text ||
             CASE WHEN doc_id % 3 = 0 THEN
               ' the quick brown fox jumps over the lazy dog and then the quick brown fox jumps over the lazy dog'
               ELSE '' END ||
             CASE WHEN doc_id % 5 = 0 THEN ' data data data data data data'
               ELSE '' END ||
             CASE WHEN doc_id % 4 = 0 THEN
               chr(10) || 'repeat me' || chr(10) || 'repeat me'
               ELSE '' END ||
             CASE WHEN doc_id % 6 = 0 THEN
               chr(10) || chr(10) || 'second paragraph text' ||
               chr(10) || chr(10) || 'second paragraph text'
               ELSE '' END AS text
           FROM documents),
         b AS (SELECT doc_id, text,
             list_filter(string_split(text, ' '), x -> x <> '') AS w,
             list_filter(string_split(text, chr(10)), l -> l <> '') AS lns,
             list_filter(string_split(text, chr(10) || chr(10)), p -> p <> '') AS prs
           FROM d),
         g AS (SELECT doc_id, text, w, lns, prs,
             CASE WHEN len(w) >= 2 THEN list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' ')) ELSE []::VARCHAR[] END AS g2,
             CASE WHEN len(w) >= 3 THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) ELSE []::VARCHAR[] END AS g3,
             CASE WHEN len(w) >= 4 THEN list_transform(range(1, len(w) - 2), i -> array_to_string(w[i:i+3], ' ')) ELSE []::VARCHAR[] END AS g4,
             CASE WHEN len(w) >= 5 THEN list_transform(range(1, len(w) - 3), i -> array_to_string(w[i:i+4], ' ')) ELSE []::VARCHAR[] END AS g5,
             CASE WHEN len(w) >= 6 THEN list_transform(range(1, len(w) - 4), i -> array_to_string(w[i:i+5], ' ')) ELSE []::VARCHAR[] END AS g6,
             CASE WHEN len(w) >= 7 THEN list_transform(range(1, len(w) - 5), i -> array_to_string(w[i:i+6], ' ')) ELSE []::VARCHAR[] END AS g7,
             CASE WHEN len(w) >= 8 THEN list_transform(range(1, len(w) - 6), i -> array_to_string(w[i:i+7], ' ')) ELSE []::VARCHAR[] END AS g8,
             CASE WHEN len(w) >= 9 THEN list_transform(range(1, len(w) - 7), i -> array_to_string(w[i:i+8], ' ')) ELSE []::VARCHAR[] END AS g9,
             CASE WHEN len(w) >= 10 THEN list_transform(range(1, len(w) - 8), i -> array_to_string(w[i:i+9], ' ')) ELSE []::VARCHAR[] END AS g10
           FROM b),
         s AS (SELECT *, list_sort(g2) AS s2, list_sort(g3) AS s3,
             list_sort(g4) AS s4, list_sort(g5) AS s5, list_sort(g6) AS s6,
             list_sort(g7) AS s7, list_sort(g8) AS s8, list_sort(g9) AS s9,
             list_sort(g10) AS s10
           FROM g),
         st AS (SELECT *,
             list_filter(range(1, len(s2) + 1), i -> i = 1 OR s2[i] <> s2[i-1]) AS st2,
             list_filter(range(1, len(s3) + 1), i -> i = 1 OR s3[i] <> s3[i-1]) AS st3,
             list_filter(range(1, len(s4) + 1), i -> i = 1 OR s4[i] <> s4[i-1]) AS st4,
             list_distinct(list_filter(list_transform(range(1, len(s5)), i -> CASE WHEN s5[i] = s5[i+1] THEN s5[i] END), x -> x IS NOT NULL)) AS d5,
             list_distinct(list_filter(list_transform(range(1, len(s6)), i -> CASE WHEN s6[i] = s6[i+1] THEN s6[i] END), x -> x IS NOT NULL)) AS d6,
             list_distinct(list_filter(list_transform(range(1, len(s7)), i -> CASE WHEN s7[i] = s7[i+1] THEN s7[i] END), x -> x IS NOT NULL)) AS d7,
             list_distinct(list_filter(list_transform(range(1, len(s8)), i -> CASE WHEN s8[i] = s8[i+1] THEN s8[i] END), x -> x IS NOT NULL)) AS d8,
             list_distinct(list_filter(list_transform(range(1, len(s9)), i -> CASE WHEN s9[i] = s9[i+1] THEN s9[i] END), x -> x IS NOT NULL)) AS d9,
             list_distinct(list_filter(list_transform(range(1, len(s10)), i -> CASE WHEN s10[i] = s10[i+1] THEN s10[i] END), x -> x IS NOT NULL)) AS d10
           FROM s),
         cn AS (SELECT *,
             list_transform(range(1, len(st2) + 1), k -> CASE WHEN k < len(st2) THEN st2[k+1] - st2[k] ELSE len(s2) + 1 - st2[k] END) AS cn2,
             list_transform(range(1, len(st3) + 1), k -> CASE WHEN k < len(st3) THEN st3[k+1] - st3[k] ELSE len(s3) + 1 - st3[k] END) AS cn3,
             list_transform(range(1, len(st4) + 1), k -> CASE WHEN k < len(st4) THEN st4[k+1] - st4[k] ELSE len(s4) + 1 - st4[k] END) AS cn4,
             list_transform(g5, x -> list_contains(d5, x)) AS f5,
             list_transform(g6, x -> list_contains(d6, x)) AS f6,
             list_transform(g7, x -> list_contains(d7, x)) AS f7,
             list_transform(g8, x -> list_contains(d8, x)) AS f8,
             list_transform(g9, x -> list_contains(d9, x)) AS f9,
             list_transform(g10, x -> list_contains(d10, x)) AS f10
           FROM st),
         cv AS (SELECT doc_id, text, w, lns, prs,
             CASE WHEN len(s2) > 0 AND length(text) > 0 THEN round(list_max(cn2) * length(list_aggregate(list_filter(list_transform(range(1, len(st2) + 1), k -> CASE WHEN cn2[k] = list_max(cn2) THEN s2[st2[k]] END), x -> x IS NOT NULL), 'min')) / CAST(length(text) AS DOUBLE), 6) ELSE 0.0 END AS top_2gram_char_frac,
             CASE WHEN len(s3) > 0 AND length(text) > 0 THEN round(list_max(cn3) * length(list_aggregate(list_filter(list_transform(range(1, len(st3) + 1), k -> CASE WHEN cn3[k] = list_max(cn3) THEN s3[st3[k]] END), x -> x IS NOT NULL), 'min')) / CAST(length(text) AS DOUBLE), 6) ELSE 0.0 END AS top_3gram_char_frac,
             CASE WHEN len(s4) > 0 AND length(text) > 0 THEN round(list_max(cn4) * length(list_aggregate(list_filter(list_transform(range(1, len(st4) + 1), k -> CASE WHEN cn4[k] = list_max(cn4) THEN s4[st4[k]] END), x -> x IS NOT NULL), 'min')) / CAST(length(text) AS DOUBLE), 6) ELSE 0.0 END AS top_4gram_char_frac,
             CASE WHEN len(w) > 0 THEN list_transform(range(1, len(w) + 1), j -> CASE WHEN least(j, len(w) - 4) >= greatest(j - 4, 1) THEN len(list_filter(f5[greatest(j - 4, 1):least(j, len(w) - 4)], x -> x)) > 0 ELSE false END) ELSE []::BOOLEAN[] END AS c5,
             CASE WHEN len(w) > 0 THEN list_transform(range(1, len(w) + 1), j -> CASE WHEN least(j, len(w) - 5) >= greatest(j - 5, 1) THEN len(list_filter(f6[greatest(j - 5, 1):least(j, len(w) - 5)], x -> x)) > 0 ELSE false END) ELSE []::BOOLEAN[] END AS c6,
             CASE WHEN len(w) > 0 THEN list_transform(range(1, len(w) + 1), j -> CASE WHEN least(j, len(w) - 6) >= greatest(j - 6, 1) THEN len(list_filter(f7[greatest(j - 6, 1):least(j, len(w) - 6)], x -> x)) > 0 ELSE false END) ELSE []::BOOLEAN[] END AS c7,
             CASE WHEN len(w) > 0 THEN list_transform(range(1, len(w) + 1), j -> CASE WHEN least(j, len(w) - 7) >= greatest(j - 7, 1) THEN len(list_filter(f8[greatest(j - 7, 1):least(j, len(w) - 7)], x -> x)) > 0 ELSE false END) ELSE []::BOOLEAN[] END AS c8,
             CASE WHEN len(w) > 0 THEN list_transform(range(1, len(w) + 1), j -> CASE WHEN least(j, len(w) - 8) >= greatest(j - 8, 1) THEN len(list_filter(f9[greatest(j - 8, 1):least(j, len(w) - 8)], x -> x)) > 0 ELSE false END) ELSE []::BOOLEAN[] END AS c9,
             CASE WHEN len(w) > 0 THEN list_transform(range(1, len(w) + 1), j -> CASE WHEN least(j, len(w) - 9) >= greatest(j - 9, 1) THEN len(list_filter(f10[greatest(j - 9, 1):least(j, len(w) - 9)], x -> x)) > 0 ELSE false END) ELSE []::BOOLEAN[] END AS c10
           FROM cn),
         stat AS (SELECT doc_id,
             CASE WHEN len(lns) > 0 THEN round(len(list_filter(lns, u -> len(list_filter(lns, v -> v = u)) > 1)) / CAST(len(lns) AS DOUBLE), 6) ELSE 0.0 END AS dup_line_frac,
             CASE WHEN coalesce(list_sum(list_transform(lns, x -> length(x))), 0) > 0 THEN round(coalesce(list_sum(list_transform(lns, u -> CASE WHEN len(list_filter(lns, v -> v = u)) > 1 THEN length(u) ELSE 0 END)), 0) / CAST(list_sum(list_transform(lns, x -> length(x))) AS DOUBLE), 6) ELSE 0.0 END AS dup_line_char_frac,
             CASE WHEN len(prs) > 0 THEN round(len(list_filter(prs, u -> len(list_filter(prs, v -> v = u)) > 1)) / CAST(len(prs) AS DOUBLE), 6) ELSE 0.0 END AS dup_para_frac,
             CASE WHEN coalesce(list_sum(list_transform(prs, x -> length(x))), 0) > 0 THEN round(coalesce(list_sum(list_transform(prs, u -> CASE WHEN len(list_filter(prs, v -> v = u)) > 1 THEN length(u) ELSE 0 END)), 0) / CAST(list_sum(list_transform(prs, x -> length(x))) AS DOUBLE), 6) ELSE 0.0 END AS dup_para_char_frac,
             top_2gram_char_frac, top_3gram_char_frac, top_4gram_char_frac,
             CASE WHEN coalesce(list_sum(list_transform(w, x -> length(x))), 0) > 0 THEN round(coalesce(list_sum(list_transform(range(1, len(w) + 1), j -> CASE WHEN c5[j] THEN length(w[j]) ELSE 0 END)), 0) / CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE), 6) ELSE 0.0 END AS dup_5gram_char_frac,
             CASE WHEN coalesce(list_sum(list_transform(w, x -> length(x))), 0) > 0 THEN round(coalesce(list_sum(list_transform(range(1, len(w) + 1), j -> CASE WHEN c6[j] THEN length(w[j]) ELSE 0 END)), 0) / CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE), 6) ELSE 0.0 END AS dup_6gram_char_frac,
             CASE WHEN coalesce(list_sum(list_transform(w, x -> length(x))), 0) > 0 THEN round(coalesce(list_sum(list_transform(range(1, len(w) + 1), j -> CASE WHEN c7[j] THEN length(w[j]) ELSE 0 END)), 0) / CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE), 6) ELSE 0.0 END AS dup_7gram_char_frac,
             CASE WHEN coalesce(list_sum(list_transform(w, x -> length(x))), 0) > 0 THEN round(coalesce(list_sum(list_transform(range(1, len(w) + 1), j -> CASE WHEN c8[j] THEN length(w[j]) ELSE 0 END)), 0) / CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE), 6) ELSE 0.0 END AS dup_8gram_char_frac,
             CASE WHEN coalesce(list_sum(list_transform(w, x -> length(x))), 0) > 0 THEN round(coalesce(list_sum(list_transform(range(1, len(w) + 1), j -> CASE WHEN c9[j] THEN length(w[j]) ELSE 0 END)), 0) / CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE), 6) ELSE 0.0 END AS dup_9gram_char_frac,
             CASE WHEN coalesce(list_sum(list_transform(w, x -> length(x))), 0) > 0 THEN round(coalesce(list_sum(list_transform(range(1, len(w) + 1), j -> CASE WHEN c10[j] THEN length(w[j]) ELSE 0 END)), 0) / CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE), 6) ELSE 0.0 END AS dup_10gram_char_frac
           FROM cv)
         SELECT *,
           (dup_line_frac <= 0.3 AND dup_para_frac <= 0.3
             AND dup_line_char_frac <= 0.2 AND dup_para_char_frac <= 0.2
             AND top_2gram_char_frac <= 0.2 AND top_3gram_char_frac <= 0.18
             AND top_4gram_char_frac <= 0.16 AND dup_5gram_char_frac <= 0.15
             AND dup_6gram_char_frac <= 0.14 AND dup_7gram_char_frac <= 0.13
             AND dup_8gram_char_frac <= 0.12 AND dup_9gram_char_frac <= 0.11
             AND dup_10gram_char_frac <= 0.1) AS passes
         FROM stat""",
    "q_sentences" ->
      // the identical RE2 rule; pos is 0-based like posexplode
      """WITH d AS (SELECT doc_id,
             text || '. Second sentence here! "A quoted end." trailing tail'
                  || CASE WHEN doc_id % 4 = 0 THEN ' More... and more?'
                     ELSE '' END AS text
           FROM documents),
         s AS (SELECT doc_id, list_filter(list_transform(
             regexp_extract_all(text, '[^.!?]+[.!?]+["'')\]]*|[^.!?]+'),
             x -> trim(x)), x -> x <> '') AS ss
           FROM d)
         SELECT doc_id, CAST(r.i - 1 AS INT) AS pos, ss[r.i] AS sentence
         FROM s, unnest(range(1, len(ss) + 1)) AS r(i)""",
    "q_c4_sentence_dedup" ->
      // the q_c4_span_dedup replay over SENTENCE units (the shared
      // RE2 segmentation rule) with single-space rejoin
      """WITH d AS (SELECT doc_id,
             'Doc ' || doc_id || ' opens with its own line.' ||
             ' Shared footer sentence alpha. Shared footer sentence beta! Shared footer sentence gamma?' ||
             CASE WHEN doc_id % 6 = 0 THEN
               ' Bridge ' || doc_id || '.' ||
               ' Shared footer sentence alpha. Shared footer sentence beta! Shared footer sentence gamma?'
               ELSE '' END ||
             ' Doc ' || doc_id || ' closes.' AS text
           FROM documents),
         l AS (SELECT doc_id, list_filter(list_transform(
             regexp_extract_all(text, '[^.!?]+[.!?]+["'')\]]*|[^.!?]+'),
             x -> trim(x)), x -> x <> '') AS lns
           FROM d),
         sp AS (SELECT doc_id, i - 1 AS sidx,
             array_to_string(lns[i:i+2], ' ') AS span
           FROM l, unnest(range(1, len(lns) - 1)) AS r(i)),
         rk AS (SELECT doc_id, sidx,
             row_number() OVER (PARTITION BY span ORDER BY doc_id, sidx) AS rn,
             count(*) OVER (PARTITION BY span) AS cnt
           FROM sp),
         dropped AS (SELECT DISTINCT doc_id, sidx + k.k AS idx
           FROM rk, unnest([0, 1, 2]) AS k(k) WHERE cnt > 1 AND rn > 1),
         lines AS (SELECT doc_id, i - 1 AS idx, lns[i] AS line
           FROM l, unnest(range(1, len(lns) + 1)) AS r(i)),
         kept AS (SELECT ln.doc_id, ln.idx, ln.line FROM lines ln
           LEFT JOIN dropped dr ON ln.doc_id = dr.doc_id AND ln.idx = dr.idx
           WHERE dr.doc_id IS NULL),
         reb AS (SELECT doc_id,
             string_agg(line, ' ' ORDER BY idx) AS clean_text,
             count(*) AS nkept
           FROM kept GROUP BY doc_id)
         SELECT l.doc_id, coalesce(reb.clean_text, '') AS clean_text,
           CAST(len(l.lns) - coalesce(reb.nkept, 0) AS BIGINT)
             AS n_dropped_units
         FROM l LEFT JOIN reb ON l.doc_id = reb.doc_id""",
    "q_fineweb_quality" ->
      // line fractions are single divisions rounded to 6 dp before
      // thresholding; the duplicated-line char fraction matches the
      // q_gopher_repetition definition
      """WITH d AS (SELECT doc_id,
             text || '.' ||
             CASE WHEN doc_id % 2 = 0 THEN
               chr(10) || 'A1.' || chr(10) || 'B2!' || chr(10) || 'C3?' ||
               chr(10) || 'D4.'
               ELSE '' END ||
             CASE WHEN doc_id % 3 = 0 THEN
               chr(10) || 'This duplicated boilerplate line is long enough.' ||
               chr(10) || 'This duplicated boilerplate line is long enough.'
               ELSE '' END ||
             CASE WHEN doc_id % 5 = 0 THEN
               chr(10) || 'unpunctuated filler line number 1 with some padding' ||
               chr(10) || 'unpunctuated filler line number 2 with some padding' ||
               chr(10) || 'unpunctuated filler line number 3 with some padding' ||
               chr(10) || 'unpunctuated filler line number 4 with some padding' ||
               chr(10) || 'unpunctuated filler line number 5 with some padding' ||
               chr(10) || 'unpunctuated filler line number 6 with some padding' ||
               chr(10) || 'unpunctuated filler line number 7 with some padding' ||
               chr(10) || 'unpunctuated filler line number 8 with some padding' ||
               chr(10) || 'unpunctuated filler line number 9 with some padding'
               ELSE '' END AS text
           FROM documents),
         b AS (SELECT doc_id,
             list_filter(string_split(text, chr(10)), l -> l <> '') AS lns
           FROM d),
         s AS (SELECT doc_id,
             CASE WHEN len(lns) > 0 THEN round(len(list_filter(lns, l -> regexp_matches(rtrim(l), '[.''"!?]$'))) / CAST(len(lns) AS DOUBLE), 6) ELSE 0.0 END AS line_punct_frac,
             CASE WHEN len(lns) > 0 THEN round(len(list_filter(lns, l -> length(l) < 30)) / CAST(len(lns) AS DOUBLE), 6) ELSE 0.0 END AS short_line_frac,
             CASE WHEN coalesce(list_sum(list_transform(lns, x -> length(x))), 0) > 0 THEN round(coalesce(list_sum(list_transform(lns, u -> CASE WHEN len(list_filter(lns, v -> v = u)) > 1 THEN length(u) ELSE 0 END)), 0) / CAST(list_sum(list_transform(lns, x -> length(x))) AS DOUBLE), 6) ELSE 0.0 END AS dup_line_char_frac
           FROM b)
         SELECT doc_id, line_punct_frac, short_line_frac, dup_line_char_frac,
           (line_punct_frac >= 0.12 AND short_line_frac <= 0.67
             AND dup_line_char_frac <= 0.1) AS passes
         FROM s""",
    "q_c4_span_dedup" ->
      // §2.2 replayed row-wise: window rank per span string, losers'
      // three line indexes dropped, documents rebuilt in line order
      """WITH d AS (SELECT doc_id,
             'doc ' || doc_id || ' opening line' ||
             chr(10) || 'shared footer alpha' || chr(10) ||
             'shared footer beta' || chr(10) || 'shared footer gamma' ||
             CASE WHEN doc_id % 7 = 0 THEN
               chr(10) || 'block one' || chr(10) || 'block two' ||
               chr(10) || 'block three' || chr(10) || 'mid ' || doc_id ||
               chr(10) || 'block one' || chr(10) || 'block two' ||
               chr(10) || 'block three'
               ELSE '' END ||
             chr(10) || 'doc ' || doc_id || ' closing line' AS text
           FROM documents),
         l AS (SELECT doc_id, string_split(text, chr(10)) AS lns FROM d),
         sp AS (SELECT doc_id, i - 1 AS sidx,
             array_to_string(lns[i:i+2], chr(10)) AS span
           FROM l, unnest(range(1, len(lns) - 1)) AS r(i)),
         rk AS (SELECT doc_id, sidx,
             row_number() OVER (PARTITION BY span ORDER BY doc_id, sidx) AS rn,
             count(*) OVER (PARTITION BY span) AS cnt
           FROM sp),
         dropped AS (SELECT DISTINCT doc_id, sidx + k.k AS idx
           FROM rk, unnest([0, 1, 2]) AS k(k) WHERE cnt > 1 AND rn > 1),
         lines AS (SELECT doc_id, i - 1 AS idx, lns[i] AS line
           FROM l, unnest(range(1, len(lns) + 1)) AS r(i)),
         kept AS (SELECT ln.doc_id, ln.idx, ln.line FROM lines ln
           LEFT JOIN dropped dr ON ln.doc_id = dr.doc_id AND ln.idx = dr.idx
           WHERE dr.doc_id IS NULL),
         reb AS (SELECT doc_id,
             string_agg(line, chr(10) ORDER BY idx) AS clean_text,
             count(*) AS nkept
           FROM kept GROUP BY doc_id)
         SELECT l.doc_id, coalesce(reb.clean_text, '') AS clean_text,
           CAST(len(l.lns) - coalesce(reb.nkept, 0) AS BIGINT)
             AS n_dropped_units
         FROM l LEFT JOIN reb ON l.doc_id = reb.doc_id""",
    "q_quantize" ->
      """WITH s AS (SELECT vec_id, embedding,
             list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
           FROM embeddings),
         q AS (SELECT vec_id, scale,
             CASE WHEN scale > 0 THEN list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) / scale) AS BIGINT))
             ELSE list_transform(embedding, x -> CAST(0 AS BIGINT))
             END AS qs
           FROM s)
         SELECT vec_id, round(scale, 6) AS scale,
           CAST(list_sum(qs) AS BIGINT) AS qsum,
           CAST(list_max(qs) AS INTEGER) AS qmax,
           CAST(list_min(qs) AS INTEGER) AS qmin
         FROM q""",
    "q_chunks" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         c AS (SELECT doc_id, toks,
             CASE WHEN len(toks) <= 64 THEN 1
                  ELSE ((len(toks) - 64 + 47) // 48) + 1 END AS n_chunks
           FROM t)
         SELECT doc_id, CAST(i - 1 AS BIGINT) AS chunk_id,
           md5(array_to_string(toks[(i-1)*48+1 : (i-1)*48+64], ' '))
             AS chunk_md5,
           CAST(len(toks[(i-1)*48+1 : (i-1)*48+64]) AS BIGINT)
             AS n_chunk_tokens
         FROM c, unnest(range(1, n_chunks + 1)) AS u(i)""",
    "q_sample" ->
      """WITH b AS (SELECT lang,
             CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15))
               AS BIGINT) % 1000000 AS h
           FROM documents)
         SELECT lang, COUNT(*) AS n FROM b
         WHERE h < CASE lang WHEN 'en' THEN 500000
                             WHEN 'de' THEN 1000000 ELSE 250000 END
         GROUP BY 1""",
    "q_split" ->
      // the md5-bucket split is engine-reproducible by design; cuts are
      // (0.8, 0.9) of 1e6 buckets for the 0.8/0.1/0.1 weights
      """WITH b AS (SELECT doc_id,
             CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15))
               AS BIGINT) % 1000000 AS h
           FROM documents)
         SELECT CASE WHEN h < 800000 THEN 'train'
                     WHEN h < 900000 THEN 'val' ELSE 'test' END AS split,
                COUNT(*) AS n
         FROM b GROUP BY 1""",
    "q_shuffle_shard" ->
      // same 60-bit md5 order key, same shard modulo, same dense
      // row_number within shard — both engines deal the identical deck
      """WITH h AS (SELECT doc_id,
             CAST(('0x' || substr(md5('5:' || CAST(doc_id AS VARCHAR)), 1, 15))
               AS BIGINT) AS hk
           FROM documents)
         SELECT doc_id, CAST(hk % 7 AS INTEGER) AS shard,
                row_number() OVER (PARTITION BY hk % 7 ORDER BY hk, doc_id)
                  - 1 AS pos
         FROM h""",
    "q_c4_filter" ->
      // same doc_id-planted construction, same three line rules and
      // three page rules; RE2's `$` = end-of-text matches Java's here
      // (the trimmed lines carry no trailing newline)
      """WITH d AS (SELECT doc_id,
             text || '.' || chr(10) || 'Short line.' || chr(10) ||
             'This line mentions javascript and cookies.' || chr(10) ||
             'No terminal punctuation here at all' ||
             CASE WHEN doc_id % 7 = 0
               THEN chr(10) || 'Lorem ipsum dolor sit amet, consectetur.'
               ELSE '' END ||
             CASE WHEN doc_id % 11 = 0
               THEN chr(10) || 'var f = function() { return 1; };'
               ELSE '' END ||
             chr(10) || 'This second valid sentence has enough words.' ||
             CASE WHEN doc_id % 2 = 0
               THEN chr(10) || 'A third fully valid sentence appears here!'
               ELSE '' END AS text
           FROM documents),
         k AS (SELECT doc_id, text,
             list_filter(string_split(text, chr(10)), l ->
               regexp_matches(trim(l), '[.!?"]$')
               AND len(list_filter(string_split(trim(l), ' '), w -> w <> '')) >= 5
               AND NOT contains(lower(trim(l)), 'javascript')) AS kept
           FROM d)
         SELECT doc_id, array_to_string(kept, chr(10)) AS clean_text,
           CAST(len(kept) AS BIGINT) AS n_kept_lines
         FROM k
         WHERE NOT contains(lower(text), 'lorem ipsum')
           AND NOT contains(text, '{') AND len(kept) >= 3""",
    "q_gopher_quality" ->
      // every statistic is an integer ratio divided once then rounded,
      // and the verdict thresholds the ROUNDED values — bit-identical
      """WITH d AS (SELECT doc_id,
             text || ' the data pipeline should be made of filters that have teeth with care.' ||
             CASE WHEN doc_id % 5 = 0
               THEN ' ### ### ### ### ### ### ### ###' ELSE '' END ||
             CASE WHEN doc_id % 4 = 0
               THEN chr(10) || '• bullet one' || chr(10) || '• bullet two' ||
                    chr(10) || '• bullet three' || chr(10) || '• bullet four'
               ELSE '' END ||
             CASE WHEN doc_id % 6 = 0
               THEN chr(10) || 'to be continued...' || chr(10) || 'and more...'
               ELSE '' END AS text
           FROM documents),
         t AS (SELECT doc_id, text,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks,
             list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines
           FROM d),
         s AS (SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CASE WHEN len(toks) > 0 THEN
               round(list_sum(list_transform(toks, x -> length(x)))
                 / CAST(len(toks) AS DOUBLE), 6) ELSE 0.0 END AS mean_word_len,
             CASE WHEN len(toks) > 0 THEN
               round(len(regexp_extract_all(text, '#|\.\.\.|…'))
                 / CAST(len(toks) AS DOUBLE), 6) ELSE 0.0 END AS symbol_word_ratio,
             CASE WHEN len(lines) > 0 THEN
               round(len(list_filter(lines, l -> regexp_matches(ltrim(l), '^[•*-]')))
                 / CAST(len(lines) AS DOUBLE), 6) ELSE 0.0 END AS bullet_line_frac,
             CASE WHEN len(lines) > 0 THEN
               round(len(list_filter(lines, l -> regexp_matches(rtrim(l), '(\.\.\.|…)$')))
                 / CAST(len(lines) AS DOUBLE), 6) ELSE 0.0 END AS ellipsis_line_frac,
             CASE WHEN len(toks) > 0 THEN
               round(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
                 / CAST(len(toks) AS DOUBLE), 6) ELSE 0.0 END AS alpha_word_frac,
             CAST(CASE WHEN list_contains(list_transform(toks, w -> lower(w)), 'the') THEN 1 ELSE 0 END
               + CASE WHEN list_contains(list_transform(toks, w -> lower(w)), 'be') THEN 1 ELSE 0 END
               + CASE WHEN list_contains(list_transform(toks, w -> lower(w)), 'to') THEN 1 ELSE 0 END
               + CASE WHEN list_contains(list_transform(toks, w -> lower(w)), 'of') THEN 1 ELSE 0 END
               + CASE WHEN list_contains(list_transform(toks, w -> lower(w)), 'and') THEN 1 ELSE 0 END
               + CASE WHEN list_contains(list_transform(toks, w -> lower(w)), 'that') THEN 1 ELSE 0 END
               + CASE WHEN list_contains(list_transform(toks, w -> lower(w)), 'have') THEN 1 ELSE 0 END
               + CASE WHEN list_contains(list_transform(toks, w -> lower(w)), 'with') THEN 1 ELSE 0 END
               AS BIGINT) AS stopword_hits
           FROM t)
         SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
           bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
           stopword_hits,
           (n_words >= 50 AND n_words <= 100000
             AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
             AND symbol_word_ratio <= 0.1 AND bullet_line_frac <= 0.9
             AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8
             AND stopword_hits >= 2) AS passes
         FROM s""",
    "q_repetition" ->
      // integer-sum ratios with single divisions → bit-identical doubles
      """WITH d AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0
             THEN text || chr(10) || 'CLICK HERE' || chr(10) || 'CLICK HERE'
             ELSE text END AS text FROM documents),
         e AS (SELECT doc_id, unnest(list_filter(string_split(text, chr(10)),
                 x -> x <> '')) AS line FROM d),
         lc AS (SELECT doc_id, line, COUNT(*) AS c FROM e GROUP BY 1, 2),
         a AS (SELECT doc_id, SUM(c) AS n_lines,
                 SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_lines,
                 SUM(c * length(line)) AS tot_chars,
                 SUM(CASE WHEN c > 1 THEN c * length(line) ELSE 0 END) AS dup_chars
               FROM lc GROUP BY 1),
         t AS (SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS toks
               FROM d),
         ge AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
                 THEN list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i + 1])
                 ELSE [] END) AS gram FROM t),
         gc AS (SELECT doc_id, gram, COUNT(*) AS c FROM ge GROUP BY 1, 2),
         ga AS (SELECT doc_id, MAX(c) AS best, SUM(c) AS n_grams
                FROM gc GROUP BY 1)
         SELECT d.doc_id,
           CAST(COALESCE(a.n_lines, 0) AS BIGINT) AS n_lines,
           round(COALESCE(a.dup_lines / CAST(a.n_lines AS DOUBLE), 0.0), 6)
             AS dup_line_frac,
           round(COALESCE(a.dup_chars / CAST(a.tot_chars AS DOUBLE), 0.0), 6)
             AS dup_line_char_frac,
           round(COALESCE(ga.best / CAST(ga.n_grams AS DOUBLE), 0.0), 6)
             AS top_bigram_frac
         FROM d LEFT JOIN a USING (doc_id) LEFT JOIN ga USING (doc_id)""",
    "q_line_dedup" ->
      // first occurrence in (doc_id, position) order keeps each distinct
      // line; row_number restates the engine's min-(id,idx) aggregate
      """WITH d AS (SELECT doc_id,
             'doc ' || CAST(doc_id AS VARCHAR) || chr(10) ||
             'common footer line' || chr(10) ||
             'group ' || CAST(doc_id % 7 AS VARCHAR) || chr(10) || text AS text
           FROM documents),
         l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
         e AS (SELECT doc_id, i, ls[i] AS line
               FROM l, unnest(range(1, len(ls) + 1)) AS u(i)),
         r AS (SELECT doc_id, i, line,
                 row_number() OVER (PARTITION BY line ORDER BY doc_id, i) AS rn
               FROM e),
         k AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS clean
               FROM r WHERE rn = 1 GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(k.clean, '') AS clean_text
         FROM d LEFT JOIN k USING (doc_id)""",
    "q_url_dedup" ->
      // the canonicalization chain collapses the messy synthesized URL to
      // pure doc_id arithmetic; keeper = min id in the canonical group
      """WITH c AS (SELECT doc_id,
             'https://example.com/Docs/' || CAST(doc_id % 40 AS VARCHAR) ||
             '?id=' || CAST(doc_id % 40 AS VARCHAR) AS url_canon
           FROM documents)
         SELECT doc_id, url_canon,
           MIN(doc_id) OVER (PARTITION BY url_canon) AS keep_id
         FROM c""",
    "q_url_filter" ->
      // rebuild the same synthetic URL, extract the host the same way,
      // and keep the row unless the host is site3.org / a subdomain of
      // it (the look-alike spam-site3.org must survive)
      """WITH u AS (SELECT doc_id,
             CASE WHEN doc_id % 10 = 0 THEN 'not a url'
                  ELSE 'https://' ||
                       CASE WHEN doc_id % 3 = 0 THEN 'cdn.' ELSE '' END ||
                       'site' || CAST(doc_id % 7 AS VARCHAR) ||
                       CASE WHEN doc_id % 5 = 0 THEN '.spam-site3' ELSE '' END ||
                       '.org/page/' || CAST(doc_id AS VARCHAR)
             END AS url
           FROM documents),
         h AS (SELECT doc_id, url,
             NULLIF(regexp_replace(lower(regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)),
               '^www\.', ''), '') AS host
           FROM u)
         SELECT doc_id, url FROM h
         WHERE host IS NULL OR NOT (
           host IN ('site3.org', 'blocked.example') OR
           regexp_matches(host, '\.(site3\.org|blocked\.example)$'))""",
    "q_bm25" ->
      // same operation order as Relevance.bm25: per-term
      // idf * (tf*(k1+1)) / (tf + k1*(1-b + b*dl/avgdl)), summed in
      // query order, k1=1.2 b=0.75
      """WITH t AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         d AS (SELECT doc_id, toks, len(toks) AS dl FROM t),
         s AS (SELECT COUNT(*) AS n, SUM(dl) AS tot,
                 SUM(CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END) AS df0,
                 SUM(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END) AS df1,
                 SUM(CASE WHEN list_contains(toks, 'window') THEN 1 ELSE 0 END) AS df2
               FROM d)
         SELECT doc_id, round(
             ln(1.0 + (CAST(n AS DOUBLE) - CAST(df0 AS DOUBLE) + 0.5) / (CAST(df0 AS DOUBLE) + 0.5))
               * (CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) * 2.2)
               / (CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
                           / (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))))
           + ln(1.0 + (CAST(n AS DOUBLE) - CAST(df1 AS DOUBLE) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5))
               * (CAST(len(list_filter(toks, x -> x = 'join')) AS DOUBLE) * 2.2)
               / (CAST(len(list_filter(toks, x -> x = 'join')) AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
                           / (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))))
           + ln(1.0 + (CAST(n AS DOUBLE) - CAST(df2 AS DOUBLE) + 0.5) / (CAST(df2 AS DOUBLE) + 0.5))
               * (CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE) * 2.2)
               / (CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
                           / (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE)))),
           6) AS bm25
         FROM d, s""",
    "q_text_index" ->
      // the q_bm25 recipe restricted to matching docs, same
      // (score desc, id asc) top-10 the index probe returns
      """WITH scored AS (WITH t AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         d AS (SELECT doc_id, toks, len(toks) AS dl FROM t),
         s AS (SELECT COUNT(*) AS n, SUM(dl) AS tot,
                 SUM(CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END) AS df0,
                 SUM(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END) AS df1,
                 SUM(CASE WHEN list_contains(toks, 'window') THEN 1 ELSE 0 END) AS df2
               FROM d)
         SELECT doc_id, round(
             ln(1.0 + (CAST(n AS DOUBLE) - CAST(df0 AS DOUBLE) + 0.5) / (CAST(df0 AS DOUBLE) + 0.5))
               * (CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) * 2.2)
               / (CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
                           / (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))))
           + ln(1.0 + (CAST(n AS DOUBLE) - CAST(df1 AS DOUBLE) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5))
               * (CAST(len(list_filter(toks, x -> x = 'join')) AS DOUBLE) * 2.2)
               / (CAST(len(list_filter(toks, x -> x = 'join')) AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
                           / (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))))
           + ln(1.0 + (CAST(n AS DOUBLE) - CAST(df2 AS DOUBLE) + 0.5) / (CAST(df2 AS DOUBLE) + 0.5))
               * (CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE) * 2.2)
               / (CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
                           / (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE)))),
           6) AS bm25
         FROM d, s)
         SELECT doc_id, bm25 FROM scored WHERE bm25 > 0
         ORDER BY bm25 DESC, doc_id ASC LIMIT 10""",
    "q_unigram_nll" ->
      // same model: top-16 vocab by (count desc, token), add-one
      // smoothing over total+16+1; per-token ln p summed in document
      // order (ordered list aggregate) like the engine's sequential fold
      """WITH t AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         c AS (SELECT token, COUNT(*) AS n FROM
                 (SELECT unnest(toks) AS token FROM t) GROUP BY 1),
         tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
         v AS (SELECT token, n FROM c ORDER BY n DESC, token LIMIT 16),
         e AS (SELECT doc_id, i, toks[i] AS token
               FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
         j AS (SELECT e.doc_id, e.i,
                 ln((CAST(COALESCE(v.n, 0) AS DOUBLE) + 1.0)
                    / (CAST(total AS DOUBLE) + 17.0)) AS lp
               FROM e LEFT JOIN v USING (token), tot),
         sm AS (SELECT doc_id, list_sum(list(lp ORDER BY i)) AS slp
                FROM j GROUP BY doc_id)
         SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
           round(CASE WHEN len(toks) > 0
             THEN -(sm.slp) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END, 6) AS nll
         FROM t LEFT JOIN sm USING (doc_id)""",
    "q_mixture" ->
      // T = min(ns/w) caps the total so no stratum upsamples; stratum
      // cut = floor(w*T/ns*1e6) md5 buckets, same bucket recipe as
      // q_split/q_sample
      """WITH c AS (SELECT source, COUNT(*) AS ns FROM documents
                    WHERE source IN ('src0', 'src1', 'src2') GROUP BY 1),
         w AS (SELECT source, ns, CASE source WHEN 'src0' THEN 0.5
                 WHEN 'src1' THEN 0.3 ELSE 0.2 END AS w FROM c),
         t AS (SELECT MIN(CAST(ns AS DOUBLE) / w) AS T FROM w),
         cut AS (SELECT source,
                   CAST(floor(w * T / CAST(ns AS DOUBLE) * 1000000.0) AS BIGINT)
                     AS cut
                 FROM w, t),
         b AS (SELECT d.source,
                 CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % 1000000 AS h, cut
               FROM documents d JOIN cut USING (source))
         SELECT source, COUNT(*) AS n FROM b WHERE h < cut GROUP BY 1""",
    "q_span_dedup" ->
      // window-hash equality in dedupSpans ⟺ 20-token-gram string
      // equality (xxhash collisions ~n²/2⁶⁴, same argument as
      // q_contamination); rn>1 restates the min-(id,pos) first keeper
      s"""WITH d AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0
             THEN '$SharedPara ' || text ELSE text END AS text
           FROM documents),
         t AS (SELECT doc_id, text,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM d),
         w AS (SELECT doc_id, i - 1 AS pos,
                 array_to_string(toks[i:i+19], ' ') AS gram
               FROM t, unnest(range(1, greatest(len(toks) - 18, 1))) AS u(i)),
         f AS (SELECT doc_id, pos,
                 row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn,
                 COUNT(*) OVER (PARTITION BY gram) AS cnt
               FROM w),
         s AS (SELECT doc_id, pos FROM f WHERE cnt > 1 AND rn > 1),
         e AS (SELECT doc_id, j - 1 AS idx, toks[j] AS tok
               FROM t, unnest(range(1, len(toks) + 1)) AS u(j)),
         kept AS (SELECT e.doc_id, e.idx, e.tok FROM e
                  WHERE NOT EXISTS (SELECT 1 FROM s
                    WHERE s.doc_id = e.doc_id
                      AND s.pos <= e.idx AND e.idx < s.pos + 20)),
         r AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS clean
               FROM kept GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(r.clean, '') AS clean_text
         FROM d LEFT JOIN r USING (doc_id)""",
    "q_classifier" ->
      // training unrolled: per iteration one gradient aggregate
      // (floor-quantized to integer millionths) and one integer weight
      // update ( // truncates toward zero, like Scala Long division);
      // the margin/fast-sigmoid arithmetic composes in the engine's
      // exact order
      ("""WITH t AS (SELECT doc_id,
             CAST(length(text) AS DOUBLE) / 1000.0 AS x1,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS DOUBLE) / 100.0 AS x2,
             CASE WHEN source = 'src0' THEN 1.0 ELSE 0.0 END AS y
           FROM documents),
         nn AS (SELECT COUNT(*) AS n FROM t),
         w0 AS (SELECT CAST(0 AS BIGINT) AS wa, CAST(0 AS BIGINT) AS wb,
                       CAST(0 AS BIGINT) AS wc)""" +
        (1 to 3).map { k =>
          s""",
         p$k AS (SELECT t.*, 0.5 + m / (2.0 * (1.0 + abs(m))) AS p FROM
                 (SELECT t.*, CAST(wc AS DOUBLE) / 1000000.0
                    + CAST(wa AS DOUBLE) / 1000000.0 * x1
                    + CAST(wb AS DOUBLE) / 1000000.0 * x2 AS m
                  FROM t, w${k - 1}) t),
         g$k AS (SELECT
                   SUM(CAST(floor((p - y) * x1 * 1000000) AS BIGINT)) AS ga,
                   SUM(CAST(floor((p - y) * x2 * 1000000) AS BIGINT)) AS gb,
                   SUM(CAST(floor((p - y) * 1000000) AS BIGINT)) AS gc
                 FROM p$k),
         w$k AS (SELECT w${k - 1}.wa - (1 * g$k.ga) // (10 * nn.n) AS wa,
                        w${k - 1}.wb - (1 * g$k.gb) // (10 * nn.n) AS wb,
                        w${k - 1}.wc - (1 * g$k.gc) // (10 * nn.n) AS wc
                 FROM w${k - 1}, g$k, nn)"""
        }.mkString + """
         SELECT doc_id, round(0.5 + m / (2.0 * (1.0 + abs(m))), 6) AS score
         FROM (SELECT doc_id, CAST(wc AS DOUBLE) / 1000000.0
                 + CAST(wa AS DOUBLE) / 1000000.0 * x1
                 + CAST(wb AS DOUBLE) / 1000000.0 * x2 AS m
               FROM t, w3)"""),
    "q_kmeans" ->
      // quantize once, then 2 unrolled Lloyd iterations: assignment =
      // exact integer distances with lowest-index tie-break, update =
      // per-(cluster, pos) integer sum // count, empty clusters keep
      // their previous centroid
      (KmeansCtes + """
         SELECT vec_id, CAST(j AS BIGINT) AS cluster FROM a3"""),
    "q_pq" ->
      // PQ fit/encode/ADC restated exactly: quantize, slice into 2
      // subspaces of 32, one unrolled per-subspace Lloyd iteration
      // (smallest-4-id init, lowest-index tie-break, sum // count
      // update, empty cluster keeps its previous centroid), final
      // assignment = the codes, and the ADC top-10 = integer squared
      // distances from the vec_id-0 query's sub-vectors to each row's
      // assigned centroids
      """WITH v AS (SELECT vec_id, list_transform(embedding,
                      x -> CAST(floor((CAST(x AS DOUBLE) + 2) * 1000000)
                        AS BIGINT)) AS q
                    FROM embeddings),
           s AS (SELECT vec_id, j, list_slice(q, j*32 + 1, j*32 + 32) AS sq
                 FROM v CROSS JOIN (VALUES (0), (1)) AS js(j)),
           c0 AS (SELECT j, row_number() OVER (PARTITION BY j
                      ORDER BY vec_id) - 1 AS i, sq AS c
                  FROM s WHERE vec_id IN
                    (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4)),
           d1 AS (SELECT s.vec_id, s.j, s.sq, c0.i,
                    list_sum(list_transform(range(1, 33),
                      t -> (s.sq[t] - c0.c[t]) * (s.sq[t] - c0.c[t]))) AS dist
                  FROM s JOIN c0 ON s.j = c0.j),
           a1 AS (SELECT vec_id, j, sq, i FROM (
                    SELECT vec_id, j, sq, i, row_number() OVER (
                      PARTITION BY vec_id, j ORDER BY dist, i) AS rn FROM d1)
                  WHERE rn = 1),
           u1 AS (SELECT j, i, t AS spos, SUM(sq[t]) AS ssum, COUNT(*) AS n
                  FROM a1, unnest(range(1, 33)) AS r(t) GROUP BY 1, 2, 3),
           c1 AS (SELECT c0.j, c0.i, COALESCE(uu.c, c0.c) AS c
                  FROM c0 LEFT JOIN (SELECT j, i,
                      list(CAST(ssum // n AS BIGINT) ORDER BY spos) AS c
                    FROM u1 GROUP BY 1, 2) uu
                    ON c0.j = uu.j AND c0.i = uu.i),
           d2 AS (SELECT s.vec_id, s.j, c1.i,
                    list_sum(list_transform(range(1, 33),
                      t -> (s.sq[t] - c1.c[t]) * (s.sq[t] - c1.c[t]))) AS dist
                  FROM s JOIN c1 ON s.j = c1.j),
           a2 AS (SELECT vec_id, j, i FROM (
                    SELECT vec_id, j, i, row_number() OVER (
                      PARTITION BY vec_id, j ORDER BY dist, i) AS rn FROM d2)
                  WHERE rn = 1),
           qs AS (SELECT j, sq FROM s WHERE vec_id = 0),
           adc AS (SELECT a2.vec_id,
                     MAX(CASE WHEN a2.j = 0 THEN a2.i END) AS i0,
                     MAX(CASE WHEN a2.j = 1 THEN a2.i END) AS i1,
                     CAST(SUM(list_sum(list_transform(range(1, 33),
                       t -> (qs.sq[t] - c1.c[t]) * (qs.sq[t] - c1.c[t]))))
                       AS BIGINT) AS dist
                   FROM a2
                     JOIN c1 ON a2.j = c1.j AND a2.i = c1.i
                     JOIN qs ON qs.j = a2.j
                   GROUP BY a2.vec_id)
         SELECT vec_id, CAST(i0 AS INTEGER) AS code0,
                CAST(i1 AS INTEGER) AS code1, dist
         FROM adc ORDER BY dist, vec_id LIMIT 10""",
    "q_semantic_dedup" ->
      // the k-means CTEs verbatim, then capped within-cluster members
      // and the q_knn_brute cosine recipe on every intra-cluster pair
      (KmeansCtes + """,
         m AS (SELECT vec_id, j FROM (SELECT vec_id, j,
                 row_number() OVER (PARTITION BY j ORDER BY vec_id) AS rn
               FROM a3) WHERE rn <= 256),
         pr AS (SELECT x.vec_id AS id1, y.vec_id AS id2
                FROM m x JOIN m y ON x.j = y.j AND x.vec_id < y.vec_id),
         co AS (SELECT pr.id1, pr.id2,
                  list_dot_product(CAST(ea.embedding AS DOUBLE[]),
                                   CAST(eb.embedding AS DOUBLE[])) /
                    (sqrt(list_dot_product(CAST(ea.embedding AS DOUBLE[]),
                                           CAST(ea.embedding AS DOUBLE[])))
                     * sqrt(list_dot_product(CAST(eb.embedding AS DOUBLE[]),
                                             CAST(eb.embedding AS DOUBLE[]))))
                    AS cos
                FROM pr JOIN embeddings ea ON ea.vec_id = pr.id1
                        JOIN embeddings eb ON eb.vec_id = pr.id2)
         SELECT id1, id2, round(cos, 6) AS cosine FROM co
         WHERE cos >= 0.4"""),
    "q_bigram_nll" ->
      // same capped tables ((count desc, key asc) cut), same per-
      // transition formula, lp summed in document order
      """WITH t AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         uni AS (SELECT tok, COUNT(*) AS c
                 FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY 1
                 ORDER BY c DESC, tok LIMIT 256),
         pr AS (SELECT doc_id, i, toks[i] AS w1,
                  toks[i] || ' ' || toks[i + 1] AS bg
                FROM t, unnest(range(1, len(toks))) AS u(i)
                WHERE len(toks) >= 2),
         bi AS (SELECT bg, COUNT(*) AS c FROM pr GROUP BY 1
                ORDER BY c DESC, bg LIMIT 1024),
         j AS (SELECT pr.doc_id, pr.i,
                 ln((CAST(COALESCE(bi.c, 0) AS DOUBLE) + 1) /
                    (CAST(greatest(COALESCE(uni.c, 0), COALESCE(bi.c, 0))
                       AS DOUBLE) + 257)) AS lp
               FROM pr LEFT JOIN bi USING (bg)
               LEFT JOIN uni ON uni.tok = pr.w1),
         g AS (SELECT doc_id, list_sum(list(lp ORDER BY i)) AS s,
                 COUNT(*) AS m
               FROM j GROUP BY 1)
         SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                round(COALESCE(-g.s / g.m, 0.0), 6) AS nll
         FROM t LEFT JOIN g USING (doc_id)""",
    "q_hits" ->
      // two HITS iterations unrolled: integer neighbor sums, max
      // normalization by floor division, authorities before hubs
      """WITH e AS (SELECT DISTINCT doc_id % 29 AS src,
                  (doc_id * 7 + 3) % 31 AS dst
                FROM documents WHERE doc_id % 29 <> (doc_id * 7 + 3) % 31),
         nodes AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
         h0 AS (SELECT v, 1048576 AS s FROM nodes),
         a1r AS (SELECT e.dst AS v, SUM(h0.s) AS s
                 FROM e JOIN h0 ON e.src = h0.v GROUP BY e.dst),
         a1m AS (SELECT GREATEST(1, MAX(s)) AS m FROM a1r),
         a1 AS (SELECT nodes.v,
                  (COALESCE(a1r.s, 0) * 1048576) // a1m.m AS s
                FROM nodes LEFT JOIN a1r ON nodes.v = a1r.v, a1m),
         h1r AS (SELECT e.src AS v, SUM(a1.s) AS s
                 FROM e JOIN a1 ON e.dst = a1.v GROUP BY e.src),
         h1m AS (SELECT GREATEST(1, MAX(s)) AS m FROM h1r),
         h1 AS (SELECT nodes.v,
                  (COALESCE(h1r.s, 0) * 1048576) // h1m.m AS s
                FROM nodes LEFT JOIN h1r ON nodes.v = h1r.v, h1m),
         a2r AS (SELECT e.dst AS v, SUM(h1.s) AS s
                 FROM e JOIN h1 ON e.src = h1.v GROUP BY e.dst),
         a2m AS (SELECT GREATEST(1, MAX(s)) AS m FROM a2r),
         a2 AS (SELECT nodes.v,
                  (COALESCE(a2r.s, 0) * 1048576) // a2m.m AS s
                FROM nodes LEFT JOIN a2r ON nodes.v = a2r.v, a2m),
         h2rx AS (SELECT e.src AS v, SUM(a2.s) AS s
                 FROM e JOIN a2 ON e.dst = a2.v GROUP BY e.src),
         h2m AS (SELECT GREATEST(1, MAX(s)) AS m FROM h2rx),
         h2 AS (SELECT nodes.v,
                  (COALESCE(h2rx.s, 0) * 1048576) // h2m.m AS s
                FROM nodes LEFT JOIN h2rx ON nodes.v = h2rx.v, h2m)
         SELECT nodes.v AS node, CAST(h2.s AS BIGINT) AS hub_scaled,
           CAST(a2.s AS BIGINT) AS auth_scaled
         FROM nodes JOIN h2 ON nodes.v = h2.v JOIN a2 ON nodes.v = a2.v""",
    "q_pagerank" ->
      // the 5 power iterations unrolled as CTEs: identical integer
      // arithmetic (// = div), so every rank_scaled is exact
      ("""WITH e AS (SELECT DISTINCT doc_id % 29 AS src,
                  (doc_id * 7 + 3) % 31 AS dst
                FROM documents WHERE doc_id % 29 <> (doc_id * 7 + 3) % 31),
         nodes AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
         deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
         nn AS (SELECT COUNT(*) AS n FROM nodes),
         p0 AS (SELECT v, 1000000000000 // n AS r FROM nodes, nn)""" +
        (1 to 5).map { k =>
          s""",
         c$k AS (SELECT e.dst AS v,
                   SUM((85 * p${k - 1}.r) // (100 * deg.d)) AS s
                 FROM e JOIN p${k - 1} ON e.src = p${k - 1}.v
                 JOIN deg ON deg.src = e.src GROUP BY 1),
         p$k AS (SELECT nodes.v,
                   (15 * 1000000000000) // (100 * nn.n)
                     + COALESCE(c$k.s, 0) AS r
                 FROM nodes CROSS JOIN nn
                 LEFT JOIN c$k ON c$k.v = nodes.v)"""
        }.mkString + """
         SELECT v AS node, CAST(r AS BIGINT) AS rank_scaled,
                round(r / 1000000000000.0, 9) AS rank FROM p5"""),
    "q_tfidf" ->
      // the whole embedding restated: same md5 buckets, tf counts,
      // smooth idf ln((N+1)/(df+1))+1, L2 fold in bucket order
      """WITH t AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
         e AS (SELECT doc_id,
                 CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 64 AS b
               FROM (SELECT doc_id, unnest(toks) AS tok FROM t)),
         tf AS (SELECT doc_id, b, CAST(COUNT(*) AS DOUBLE) AS tf
                FROM e GROUP BY 1, 2),
         dfc AS (SELECT b, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS c
                 FROM e GROUP BY 1),
         w AS (SELECT tf.doc_id, tf.b,
                 tf.tf * (ln((nn.n + 1) / (dfc.c + 1)) + 1) AS w
               FROM tf JOIN dfc USING (b), nn),
         l2 AS (SELECT doc_id, sqrt(list_sum(list(w * w ORDER BY b))) AS l2
                FROM w GROUP BY doc_id)
         SELECT w.doc_id, CAST(w.b AS BIGINT) AS bucket,
                round(w.w / l2.l2, 6) AS w
         FROM w JOIN l2 USING (doc_id)""",
    "q_dsir" ->
      // both bucket models restated from scratch: md5-bucketed unigram
      // counts (target = src0 docs, source = all docs), add-half
      // smoothing, per-token log ratio summed in document order
      """WITH t AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         e AS (SELECT unnest(toks) AS tok FROM t),
         sb AS (SELECT CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 256
                  AS b, COUNT(*) AS c FROM e GROUP BY 1),
         st AS (SELECT CAST(SUM(c) AS DOUBLE) AS ts FROM sb),
         t2 AS (SELECT list_filter(string_split(text, ' '), x -> x <> '')
                  AS toks FROM documents WHERE source = 'src0'),
         e2 AS (SELECT unnest(toks) AS tok FROM t2),
         tb AS (SELECT CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 256
                  AS b, COUNT(*) AS c FROM e2 GROUP BY 1),
         tt AS (SELECT CAST(SUM(c) AS DOUBLE) AS tt FROM tb),
         q AS (SELECT doc_id, i, toks[i] AS tok
               FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
         j AS (SELECT q.doc_id, q.i,
                 ln(((CAST(COALESCE(tb.c, 0) AS DOUBLE) + 0.5) / (tt.tt + 128.0))
                    / ((CAST(COALESCE(sb.c, 0) AS DOUBLE) + 0.5) / (st.ts + 128.0)))
                   AS r
               FROM q
               LEFT JOIN sb ON sb.b =
                 CAST(('0x' || substr(md5(q.tok), 1, 15)) AS BIGINT) % 256
               LEFT JOIN tb ON tb.b =
                 CAST(('0x' || substr(md5(q.tok), 1, 15)) AS BIGINT) % 256,
               st, tt),
         g AS (SELECT doc_id, list_sum(list(r ORDER BY i)) AS lw
               FROM j GROUP BY doc_id)
         SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
           round(COALESCE(g.lw, 0.0), 6) AS dsir_logw
         FROM t LEFT JOIN g USING (doc_id)""",
    "q_contamination" ->
      // hash equality in Dedup.contamination ⟺ 13-token-gram string
      // equality (xxhash collisions ~n²/2⁶⁴), so the flagged set and the
      // per-doc distinct-overlap counts are SQL-expressible
      """WITH t AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         g AS (SELECT doc_id, CASE WHEN len(toks) >= 13
             THEN list_distinct(list_transform(range(1, len(toks) - 11),
                    i -> array_to_string(toks[i:i+12], ' ')))
             ELSE [array_to_string(toks, ' ')] END AS grams
           FROM t),
         eg AS (SELECT doc_id, unnest(grams) AS gram FROM g),
         bench AS (SELECT DISTINCT gram FROM eg WHERE doc_id % 20 = 0)
         SELECT eg.doc_id AS rid, CAST(COUNT(*) AS BIGINT) AS hits
         FROM eg JOIN bench USING (gram) GROUP BY 1""",
    "q_curate" ->
      // composed curation oracle: each CTE mirrors one already-verified
      // stage oracle (q_quality_score, q_lang_id, q_dedup_exact,
      // q_contamination, q_chunks) in the engine's stage order
      """WITH t AS (SELECT doc_id, text,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         m AS (SELECT doc_id,
           CASE WHEN length(text) > 0 THEN
             (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))
             / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS punct,
           CASE WHEN len(toks) > 0 THEN
             len(list_filter(toks, x -> x IN ('the','a','an','of','and','or','to','in','is','it','that','this','for','on','with','as')))
             / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS sw,
           CASE WHEN len(toks) > 0 THEN
             list_sum(list_transform(toks, x -> length(x)))
             / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS awl,
           least(length(text) / 200.0, 1.0) AS len_score
           FROM t),
         q AS (SELECT doc_id, round(
             len_score * 0.3
             + (CASE WHEN awl >= 3.0 AND awl <= 8.0 THEN 1.0 ELSE 0.5 END) * 0.2
             + (CASE WHEN sw >= 0.05 AND sw <= 0.5 THEN 1.0 ELSE 0.5 END) * 0.3
             + (1.0 - least(punct * 4.0, 1.0)) * 0.2, 6) AS quality
           FROM m),
         s AS (SELECT doc_id,
             len(list_filter(toks, x -> lower(x) IN ('the','and','of','to','in','is','that','it','for','with'))) AS s_en,
             len(list_filter(toks, x -> lower(x) IN ('der','die','das','und','ist','nicht','ein','mit','für','auf'))) AS s_de,
             len(list_filter(toks, x -> lower(x) IN ('le','la','les','et','est','pas','une','pour','avec','dans'))) AS s_fr,
             len(list_filter(toks, x -> lower(x) IN ('el','la','los','las','es','no','una','para','con','por'))) AS s_es
           FROM t),
         l AS (SELECT doc_id, CASE
           WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
           WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
           WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
           WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS lang_pred
           FROM s),
         gated AS (SELECT t.doc_id, t.text, t.toks
           FROM t JOIN q USING (doc_id) JOIN l USING (doc_id)
           WHERE q.quality >= 0.7 AND l.lang_pred IN ('en', 'de')),
         dd AS (SELECT doc_id, text, toks FROM (
             SELECT g.*, row_number() OVER
               (PARTITION BY md5(text) ORDER BY doc_id) AS rn
             FROM gated g) WHERE rn = 1),
         g2 AS (SELECT doc_id, CASE WHEN len(toks) >= 13
             THEN list_distinct(list_transform(range(1, len(toks) - 11),
                    i -> array_to_string(toks[i:i+12], ' ')))
             ELSE [array_to_string(toks, ' ')] END AS grams
           FROM t),
         eg AS (SELECT doc_id, unnest(grams) AS gram FROM g2),
         bench AS (SELECT DISTINCT gram FROM eg WHERE doc_id % 20 = 0),
         contam AS (SELECT DISTINCT eg.doc_id FROM eg
           JOIN bench USING (gram)
           WHERE eg.doc_id IN (SELECT doc_id FROM dd)),
         clean AS (SELECT doc_id, toks FROM dd
           WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
         c AS (SELECT doc_id, toks,
             CASE WHEN len(toks) <= 64 THEN 1
                  ELSE ((len(toks) - 64 + 47) // 48) + 1 END AS n_chunks
           FROM clean)
         SELECT doc_id, CAST(i - 1 AS BIGINT) AS chunk_id,
           md5(array_to_string(toks[(i-1)*48+1 : (i-1)*48+64], ' '))
             AS chunk_md5,
           CAST(len(toks[(i-1)*48+1 : (i-1)*48+64]) AS BIGINT)
             AS n_chunk_tokens
         FROM c, unnest(range(1, n_chunks + 1)) AS u(i)""",
    "q_curate_norm" ->
      // the q_curate recipe on the ORIGINAL clean text, without the
      // contamination stage: the engine curates the whitespace-messed
      // variant with normalize = true, so a hash match proves the
      // normalization round trip inside the composition
      """WITH t AS (SELECT doc_id, text,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         m AS (SELECT doc_id,
           CASE WHEN length(text) > 0 THEN
             (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))
             / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS punct,
           CASE WHEN len(toks) > 0 THEN
             len(list_filter(toks, x -> x IN ('the','a','an','of','and','or','to','in','is','it','that','this','for','on','with','as')))
             / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS sw,
           CASE WHEN len(toks) > 0 THEN
             list_sum(list_transform(toks, x -> length(x)))
             / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS awl,
           least(length(text) / 200.0, 1.0) AS len_score
           FROM t),
         q AS (SELECT doc_id, round(
             len_score * 0.3
             + (CASE WHEN awl >= 3.0 AND awl <= 8.0 THEN 1.0 ELSE 0.5 END) * 0.2
             + (CASE WHEN sw >= 0.05 AND sw <= 0.5 THEN 1.0 ELSE 0.5 END) * 0.3
             + (1.0 - least(punct * 4.0, 1.0)) * 0.2, 6) AS quality
           FROM m),
         s AS (SELECT doc_id,
             len(list_filter(toks, x -> lower(x) IN ('the','and','of','to','in','is','that','it','for','with'))) AS s_en,
             len(list_filter(toks, x -> lower(x) IN ('der','die','das','und','ist','nicht','ein','mit','für','auf'))) AS s_de,
             len(list_filter(toks, x -> lower(x) IN ('le','la','les','et','est','pas','une','pour','avec','dans'))) AS s_fr,
             len(list_filter(toks, x -> lower(x) IN ('el','la','los','las','es','no','una','para','con','por'))) AS s_es
           FROM t),
         l AS (SELECT doc_id, CASE
           WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
           WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
           WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
           WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS lang_pred
           FROM s),
         gated AS (SELECT t.doc_id, t.text, t.toks
           FROM t JOIN q USING (doc_id) JOIN l USING (doc_id)
           WHERE q.quality >= 0.7 AND l.lang_pred IN ('en', 'de')),
         dd AS (SELECT doc_id, text, toks FROM (
             SELECT g.*, row_number() OVER
               (PARTITION BY md5(text) ORDER BY doc_id) AS rn
             FROM gated g) WHERE rn = 1),
         c AS (SELECT doc_id, toks,
             CASE WHEN len(toks) <= 64 THEN 1
                  ELSE ((len(toks) - 64 + 47) // 48) + 1 END AS n_chunks
           FROM dd)
         SELECT doc_id, CAST(i - 1 AS BIGINT) AS chunk_id,
           md5(array_to_string(toks[(i-1)*48+1 : (i-1)*48+64], ' '))
             AS chunk_md5,
           CAST(len(toks[(i-1)*48+1 : (i-1)*48+64]) AS BIGINT)
             AS n_chunk_tokens
         FROM c, unnest(range(1, n_chunks + 1)) AS u(i)""",
    "q_curate_multimodal" ->
      // the full pair-corpus composition restated: gate CTEs from
      // q_curate, text dedup, dHash from the q_image_neardup pixel
      // formula over the survivors, pairs, recursive components,
      // keep-min — survivor ids must equal the engine plan
      """WITH RECURSIVE t AS (SELECT doc_id, text,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         m AS (SELECT doc_id,
           CASE WHEN length(text) > 0 THEN
             (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))
             / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS punct,
           CASE WHEN len(toks) > 0 THEN
             len(list_filter(toks, x -> x IN ('the','a','an','of','and','or','to','in','is','it','that','this','for','on','with','as')))
             / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS sw,
           CASE WHEN len(toks) > 0 THEN
             list_sum(list_transform(toks, x -> length(x)))
             / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS awl,
           least(length(text) / 200.0, 1.0) AS len_score
           FROM t),
         q AS (SELECT doc_id, round(
             len_score * 0.3
             + (CASE WHEN awl >= 3.0 AND awl <= 8.0 THEN 1.0 ELSE 0.5 END) * 0.2
             + (CASE WHEN sw >= 0.05 AND sw <= 0.5 THEN 1.0 ELSE 0.5 END) * 0.3
             + (1.0 - least(punct * 4.0, 1.0)) * 0.2, 6) AS quality
           FROM m),
         s AS (SELECT doc_id,
             len(list_filter(toks, x -> lower(x) IN ('the','and','of','to','in','is','that','it','for','with'))) AS s_en,
             len(list_filter(toks, x -> lower(x) IN ('der','die','das','und','ist','nicht','ein','mit','für','auf'))) AS s_de,
             len(list_filter(toks, x -> lower(x) IN ('le','la','les','et','est','pas','une','pour','avec','dans'))) AS s_fr,
             len(list_filter(toks, x -> lower(x) IN ('el','la','los','las','es','no','una','para','con','por'))) AS s_es
           FROM t),
         l AS (SELECT doc_id, CASE
           WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
           WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
           WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
           WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS lang_pred
           FROM s),
         gated AS (SELECT t.doc_id, t.text, t.toks
           FROM t JOIN q USING (doc_id) JOIN l USING (doc_id)
           WHERE q.quality >= 0.7 AND l.lang_pred IN ('en', 'de')),
         dd AS (SELECT doc_id FROM (
             SELECT g.doc_id, row_number() OVER
               (PARTITION BY md5(g.text) ORDER BY g.doc_id) AS rn
             FROM gated g) WHERE rn = 1),
         px AS (
           SELECT d.doc_id, tx.x, ty.y,
                  ((d.doc_id % 50)*97 + 37*tx.x + 101*ty.y
                   + ((d.doc_id % 50)*(2*ty.y + 3)) % 251
                   + CASE WHEN tx.x = 0 AND ty.y = 0 THEN (d.doc_id // 50)*59
                          WHEN tx.x = 5 AND ty.y = 3 THEN (d.doc_id // 50)*83
                          WHEN tx.x = 2 AND ty.y = 6
                            THEN ((d.doc_id // 50) % 3)*113
                          ELSE 0 END) % 256 AS g
           FROM documents d, range(9) tx(x), range(8) ty(y)
           WHERE d.doc_id IN (SELECT doc_id FROM dd)
         ), dh AS (
           SELECT a.doc_id,
                  sum(CASE WHEN a.g > b.g THEN
                    CASE WHEN a.y*8 + a.x = 63 THEN -9223372036854775808
                         ELSE (1::BIGINT << (a.y*8 + a.x)::INT) END
                    ELSE 0 END)::BIGINT AS dh
           FROM px a JOIN px b
             ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
           WHERE a.x < 8
           GROUP BY a.doc_id
         ),
         pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2
           FROM dh a JOIN dh b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.dh, b.dh)) <= 3),
         e AS (SELECT id1 AS a, id2 AS b FROM pairs
               UNION ALL SELECT id2, id1 FROM pairs),
         reach(a, b) AS (SELECT a, b FROM e
               UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         losers AS (SELECT a AS doc_id FROM reach
               GROUP BY a HAVING least(a, MIN(b)) <> a)
         SELECT doc_id FROM dd
         WHERE doc_id NOT IN (SELECT doc_id FROM losers)""",
    "q_curate_incremental" ->
      // q_curate's gate CTEs (no benchmark) with the incremental stage
      // spliced in before exact dedup: rows whose text the stored
      // corpus (every-tenth doc) already holds never reach the dedup
      """WITH t AS (SELECT doc_id, text,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         m AS (SELECT doc_id,
           CASE WHEN length(text) > 0 THEN
             (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))
             / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS punct,
           CASE WHEN len(toks) > 0 THEN
             len(list_filter(toks, x -> x IN ('the','a','an','of','and','or','to','in','is','it','that','this','for','on','with','as')))
             / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS sw,
           CASE WHEN len(toks) > 0 THEN
             list_sum(list_transform(toks, x -> length(x)))
             / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS awl,
           least(length(text) / 200.0, 1.0) AS len_score
           FROM t),
         q AS (SELECT doc_id, round(
             len_score * 0.3
             + (CASE WHEN awl >= 3.0 AND awl <= 8.0 THEN 1.0 ELSE 0.5 END) * 0.2
             + (CASE WHEN sw >= 0.05 AND sw <= 0.5 THEN 1.0 ELSE 0.5 END) * 0.3
             + (1.0 - least(punct * 4.0, 1.0)) * 0.2, 6) AS quality
           FROM m),
         s AS (SELECT doc_id,
             len(list_filter(toks, x -> lower(x) IN ('the','and','of','to','in','is','that','it','for','with'))) AS s_en,
             len(list_filter(toks, x -> lower(x) IN ('der','die','das','und','ist','nicht','ein','mit','für','auf'))) AS s_de,
             len(list_filter(toks, x -> lower(x) IN ('le','la','les','et','est','pas','une','pour','avec','dans'))) AS s_fr,
             len(list_filter(toks, x -> lower(x) IN ('el','la','los','las','es','no','una','para','con','por'))) AS s_es
           FROM t),
         l AS (SELECT doc_id, CASE
           WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
           WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
           WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
           WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS lang_pred
           FROM s),
         gated AS (SELECT t.doc_id, t.text, t.toks
           FROM t JOIN q USING (doc_id) JOIN l USING (doc_id)
           WHERE q.quality >= 0.7 AND l.lang_pred IN ('en', 'de')),
         seen AS (SELECT text FROM documents WHERE doc_id % 10 = 3),
         inc AS (SELECT doc_id, text, toks FROM gated
           WHERE text IS NULL OR text NOT IN
             (SELECT text FROM seen WHERE text IS NOT NULL)),
         dd AS (SELECT doc_id, text, toks FROM (
             SELECT i.*, row_number() OVER
               (PARTITION BY md5(text) ORDER BY doc_id) AS rn
             FROM inc i) WHERE rn = 1),
         c AS (SELECT doc_id, toks,
             CASE WHEN len(toks) <= 64 THEN 1
                  ELSE ((len(toks) - 64 + 47) // 48) + 1 END AS n_chunks
           FROM dd)
         SELECT doc_id, CAST(i - 1 AS BIGINT) AS chunk_id,
           md5(array_to_string(toks[(i-1)*48+1 : (i-1)*48+64], ' '))
             AS chunk_md5,
           CAST(len(toks[(i-1)*48+1 : (i-1)*48+64]) AS BIGINT)
             AS n_chunk_tokens
         FROM c, unnest(range(1, n_chunks + 1)) AS u(i)""",
    "q_curate_fuzzy" ->
      // q_curate's stage oracle with the FUZZY near-dup stage spliced in
      // after exact dedup: exact all-pairs Jaccard ≥ 0.8 over 3-token
      // grams among the dedup survivors (the same exhaustive truth the
      // q_dedup_minhash oracle justifies), connected components by
      // recursive closure, keep each component's min id
      """WITH RECURSIVE t AS (SELECT doc_id, text,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         m AS (SELECT doc_id,
           CASE WHEN length(text) > 0 THEN
             (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))
             / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS punct,
           CASE WHEN len(toks) > 0 THEN
             len(list_filter(toks, x -> x IN ('the','a','an','of','and','or','to','in','is','it','that','this','for','on','with','as')))
             / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS sw,
           CASE WHEN len(toks) > 0 THEN
             list_sum(list_transform(toks, x -> length(x)))
             / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS awl,
           least(length(text) / 200.0, 1.0) AS len_score
           FROM t),
         q AS (SELECT doc_id, round(
             len_score * 0.3
             + (CASE WHEN awl >= 3.0 AND awl <= 8.0 THEN 1.0 ELSE 0.5 END) * 0.2
             + (CASE WHEN sw >= 0.05 AND sw <= 0.5 THEN 1.0 ELSE 0.5 END) * 0.3
             + (1.0 - least(punct * 4.0, 1.0)) * 0.2, 6) AS quality
           FROM m),
         s AS (SELECT doc_id,
             len(list_filter(toks, x -> lower(x) IN ('the','and','of','to','in','is','that','it','for','with'))) AS s_en,
             len(list_filter(toks, x -> lower(x) IN ('der','die','das','und','ist','nicht','ein','mit','für','auf'))) AS s_de,
             len(list_filter(toks, x -> lower(x) IN ('le','la','les','et','est','pas','une','pour','avec','dans'))) AS s_fr,
             len(list_filter(toks, x -> lower(x) IN ('el','la','los','las','es','no','una','para','con','por'))) AS s_es
           FROM t),
         l AS (SELECT doc_id, CASE
           WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
           WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
           WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
           WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS lang_pred
           FROM s),
         gated AS (SELECT t.doc_id, t.text, t.toks
           FROM t JOIN q USING (doc_id) JOIN l USING (doc_id)
           WHERE q.quality >= 0.7 AND l.lang_pred IN ('en', 'de')),
         dd AS (SELECT doc_id, text, toks FROM (
             SELECT g.*, row_number() OVER
               (PARTITION BY md5(text) ORDER BY doc_id) AS rn
             FROM gated g) WHERE rn = 1),
         sh AS (SELECT doc_id, CASE WHEN len(toks) >= 3
             THEN list_distinct(list_transform(range(1, len(toks) - 1),
                    i -> array_to_string(toks[i:i+2], ' ')))
             ELSE [array_to_string(toks, ' ')] END AS grams
           FROM dd),
         fpairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.grams, b.grams)) /
             CAST(len(list_distinct(a.grams || b.grams)) AS DOUBLE) >= 0.8),
         e AS (SELECT id1 AS a, id2 AS b FROM fpairs
               UNION ALL SELECT id2, id1 FROM fpairs),
         reach(a, b) AS (SELECT a, b FROM e
               UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         comp AS (SELECT a AS rid, least(a, MIN(b)) AS grp
           FROM reach GROUP BY a),
         fuzzy AS (SELECT doc_id, text, toks FROM dd
           WHERE doc_id NOT IN (SELECT rid FROM comp WHERE grp <> rid)),
         g2 AS (SELECT doc_id, CASE WHEN len(toks) >= 13
             THEN list_distinct(list_transform(range(1, len(toks) - 11),
                    i -> array_to_string(toks[i:i+12], ' ')))
             ELSE [array_to_string(toks, ' ')] END AS grams
           FROM t),
         eg AS (SELECT doc_id, unnest(grams) AS gram FROM g2),
         bench AS (SELECT DISTINCT gram FROM eg WHERE doc_id % 20 = 0),
         contam AS (SELECT DISTINCT eg.doc_id FROM eg
           JOIN bench USING (gram)
           WHERE eg.doc_id IN (SELECT doc_id FROM fuzzy)),
         clean AS (SELECT doc_id, toks FROM fuzzy
           WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
         c AS (SELECT doc_id, toks,
             CASE WHEN len(toks) <= 64 THEN 1
                  ELSE ((len(toks) - 64 + 47) // 48) + 1 END AS n_chunks
           FROM clean)
         SELECT doc_id, CAST(i - 1 AS BIGINT) AS chunk_id,
           md5(array_to_string(toks[(i-1)*48+1 : (i-1)*48+64], ' '))
             AS chunk_md5,
           CAST(len(toks[(i-1)*48+1 : (i-1)*48+64]) AS BIGINT)
             AS n_chunk_tokens
         FROM c, unnest(range(1, n_chunks + 1)) AS u(i)""",
    "q_audio_aac" ->
      // ADTS fields mirror the synthesis arithmetic: srIdx → rate
      // table, channel config 1..6, two 1-raw-block frames → 2048
      // samples; Opus: 48 kHz granule minus the 312-sample pre-skip
      """SELECT doc_id, 'audio/aac' AS aac_mime,
                CAST(doc_id % 6 + 1 AS INTEGER) AS aac_channels,
                CAST(CASE doc_id % 13
                  WHEN 0 THEN 96000 WHEN 1 THEN 88200 WHEN 2 THEN 64000
                  WHEN 3 THEN 48000 WHEN 4 THEN 44100 WHEN 5 THEN 32000
                  WHEN 6 THEN 24000 WHEN 7 THEN 22050 WHEN 8 THEN 16000
                  WHEN 9 THEN 12000 WHEN 10 THEN 11025 WHEN 11 THEN 8000
                  ELSE 7350 END AS INTEGER) AS aac_rate,
                CAST(2048000 // (CASE doc_id % 13
                  WHEN 0 THEN 96000 WHEN 1 THEN 88200 WHEN 2 THEN 64000
                  WHEN 3 THEN 48000 WHEN 4 THEN 44100 WHEN 5 THEN 32000
                  WHEN 6 THEN 24000 WHEN 7 THEN 22050 WHEN 8 THEN 16000
                  WHEN 9 THEN 12000 WHEN 10 THEN 11025 WHEN 11 THEN 8000
                  ELSE 7350 END) AS BIGINT) AS aac_dur_ms,
                'audio/opus' AS opus_mime,
                CAST(doc_id % 2 + 1 AS INTEGER) AS opus_channels,
                CAST((doc_id % 4 + 1) * 12000 AS INTEGER) AS opus_rate,
                CAST(((doc_id % 100) * 48 + 480 - 312) * 1000 // 48000
                  AS BIGINT) AS opus_dur_ms
         FROM documents""",
    "q_audio_meta" ->
      // ground truth for the WAV-header synth/parse round trip: the
      // engine builds the header bytes from these same formulas, so the
      // parsed fields must equal the direct arithmetic
      """SELECT doc_id, 'audio/wav' AS mime,
                CAST(1 + doc_id % 2 AS INTEGER) AS channels,
                CAST(8000 + (doc_id % 8) * 4000 AS INTEGER) AS sample_rate,
                CAST(8 * (1 + doc_id % 2) AS INTEGER) AS bits_per_sample,
                CAST(2000 AS BIGINT) AS duration_ms
         FROM documents""",
    "q_dedup_ngram" ->
      // exact all-pairs Jaccard ≥ 0.8 over distinct 3-token grams: the
      // engine's df-capped inverted-index blocking misses a pair only if
      // EVERY shared shingle is hotter than the cap — impossible for
      // near-dups on this corpus, so blocked output == exhaustive truth
      // (verified: identical pair sets AND bit-identical int/int-division
      // jaccard doubles). Gram-string equality ⟺ shingle-hash equality,
      // the same identification q_contamination's oracle relies on.
      """WITH t AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         g AS (SELECT doc_id, CASE WHEN len(toks) >= 3
             THEN list_distinct(list_transform(range(1, len(toks) - 1),
                    i -> array_to_string(toks[i:i+2], ' ')))
             ELSE [array_to_string(toks, ' ')] END AS grams
           FROM t)
         SELECT a.doc_id AS id1, b.doc_id AS id2,
           len(list_intersect(a.grams, b.grams)) /
             CAST(len(list_distinct(a.grams || b.grams)) AS DOUBLE) AS jaccard
         FROM g a JOIN g b ON a.doc_id < b.doc_id
         WHERE len(list_intersect(a.grams, b.grams)) /
           CAST(len(list_distinct(a.grams || b.grams)) AS DOUBLE) >= 0.8""",
    "q_dedup_simhash" ->
      // full simhash restatement (promoted from rows-only in r14): the
      // engine's md5 token mode makes each token's 64 bits
      // ('0x' || substr(md5(tok),1,16))::UBIGINT, so the oracle replays
      // the whole per-bit sign vote and reinterprets the unsigned sum
      // as the engine's signed long
      """WITH toks AS (SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
           FROM documents),
         hs AS (SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 16))::UBIGINT::HUGEINT AS h
           FROM toks),
         votes AS (SELECT doc_id, b,
             SUM(CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END) AS v
           FROM hs CROSS JOIN (SELECT unnest(range(64)) AS b)
           GROUP BY doc_id, b),
         sh AS (SELECT doc_id,
             SUM(CASE WHEN v > 0 THEN (1::HUGEINT << b)
                 ELSE 0::HUGEINT END) AS u
           FROM votes GROUP BY doc_id),
         s AS (SELECT doc_id, CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
             THEN u - 18446744073709551616::HUGEINT ELSE u END AS BIGINT)
             AS simhash FROM sh)
         SELECT simhash, COUNT(*) AS n, MIN(doc_id) AS keep_id
         FROM s GROUP BY simhash""",
    "q_simhash_near" ->
      // FULL restatement of the banded self-join INCLUDING the 256-per-
      // bucket cap (row_number by ascending id replays the engine's
      // smallest-ids-kept bounded buffer), so the oracle is exact at ANY
      // corpus scale — at sf0.1 one band bucket holds 291 members and a
      // brute all-pairs oracle over-counts by the capped tail (found by
      // the 10x-scale verify gate). Recall-completeness where the cap
      // does not bind stays pinned by PipelineSpec's banded==brute case;
      // the cap semantics themselves by its engineered-overflow case.
      """WITH toks AS (SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
           FROM documents),
         hs AS (SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 16))::UBIGINT::HUGEINT AS h
           FROM toks),
         votes AS (SELECT doc_id, b,
             SUM(CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END) AS v
           FROM hs CROSS JOIN (SELECT unnest(range(64)) AS b)
           GROUP BY doc_id, b),
         sh AS (SELECT doc_id,
             SUM(CASE WHEN v > 0 THEN (1::HUGEINT << b)
                 ELSE 0::HUGEINT END) AS u
           FROM votes GROUP BY doc_id),
         s AS (SELECT doc_id, CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
             THEN u - 18446744073709551616::HUGEINT ELSE u END AS BIGINT)
             AS simhash FROM sh),
         bb AS (SELECT doc_id, simhash, band,
             (simhash >> (band * 16)) & 65535 AS bits
           FROM s CROSS JOIN (SELECT unnest(range(4)) AS band)),
         kept AS (SELECT doc_id, simhash, band, bits,
             row_number() OVER (PARTITION BY band, bits
               ORDER BY doc_id) AS rn
           FROM bb)
         SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         FROM kept a JOIN kept b
           ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id
         WHERE a.rn <= 256 AND b.rn <= 256
           AND bit_count(xor(a.simhash, b.simhash)) <= 3""",
    "q_dedup_minhash" ->
      // the SAME exhaustive truth as q_dedup_ngram: every true pair on
      // this corpus has jaccard ≥ 0.9, where 8-band×4-row banding recall
      // is complete, and the engine's hashing is deterministic (no RNG) —
      // so LSH output == exact all-pairs, with identical verified
      // jaccard doubles
      """WITH t AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         g AS (SELECT doc_id, CASE WHEN len(toks) >= 3
             THEN list_distinct(list_transform(range(1, len(toks) - 1),
                    i -> array_to_string(toks[i:i+2], ' ')))
             ELSE [array_to_string(toks, ' ')] END AS grams
           FROM t)
         SELECT a.doc_id AS id1, b.doc_id AS id2,
           len(list_intersect(a.grams, b.grams)) /
             CAST(len(list_distinct(a.grams || b.grams)) AS DOUBLE) AS jaccard
         FROM g a JOIN g b ON a.doc_id < b.doc_id
         WHERE len(list_intersect(a.grams, b.grams)) /
           CAST(len(list_distinct(a.grams || b.grams)) AS DOUBLE) >= 0.8""",
    "q_minhash_incremental" ->
      // exhaustive cross-corpus truth, the q_dedup_minhash argument
      // restricted to (odd incoming, even seen) pairs: banding recall
      // is complete at jaccard ≥ 0.9 on this corpus and the verified
      // jaccard doubles are bit-identical
      """WITH t AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         g AS (SELECT doc_id, CASE WHEN len(toks) >= 3
             THEN list_distinct(list_transform(range(1, len(toks) - 1),
                    i -> array_to_string(toks[i:i+2], ' ')))
             ELSE [array_to_string(toks, ' ')] END AS grams
           FROM t)
         SELECT a.doc_id AS incoming_id, b.doc_id AS seen_id,
           len(list_intersect(a.grams, b.grams)) /
             CAST(len(list_distinct(a.grams || b.grams)) AS DOUBLE) AS jaccard
         FROM g a JOIN g b ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
         WHERE len(list_intersect(a.grams, b.grams)) /
           CAST(len(list_distinct(a.grams || b.grams)) AS DOUBLE) >= 0.8""",
    "q_dedup_groups" ->
      // connected components of the exact pair graph by POINTER
      // DOUBLING: e0 carries the symmetric edges plus self-loops, and
      // each chained CTE squares the relation (x.b = y.a), so eK holds
      // 2^K-hop reachability — 8 rounds reach 256 hops, astronomically
      // above any duplicate-cluster diameter (near-dup clusters are
      // near-cliques; the engine's distributed components use the same
      // doubling). The r14 oracle's row-recursive `reach` CTE walked
      // one hop per iteration over the whole accumulated closure and
      // exceeded 40 min at sf0.1; this restatement is O(log n) rounds
      // of small hash joins (MATERIALIZED pins each level — DuckDB
      // otherwise inlines CTEs, re-evaluating the quadratic pair scan
      // 2^8 times), leaving the all-pairs jaccard scan itself as the
      // oracle's only sf0.1-scale cost (~20 min, inside the sweep's
      // 2400 s heavy-oracle rerun budget).
      """WITH t AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         g AS (SELECT doc_id, CASE WHEN len(toks) >= 3
             THEN list_distinct(list_transform(range(1, len(toks) - 1),
                    i -> array_to_string(toks[i:i+2], ' ')))
             ELSE [array_to_string(toks, ' ')] END AS grams
           FROM t),
         pairs AS MATERIALIZED (SELECT a.doc_id AS id1, b.doc_id AS id2
           FROM g a JOIN g b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.grams, b.grams)) /
             CAST(len(list_distinct(a.grams || b.grams)) AS DOUBLE) >= 0.8),
         e0 AS MATERIALIZED (SELECT id1 AS a, id2 AS b FROM pairs
               UNION SELECT id2, id1 FROM pairs
               UNION SELECT id1, id1 FROM pairs
               UNION SELECT id2, id2 FROM pairs),
         e1 AS MATERIALIZED (SELECT DISTINCT x.a, y.b FROM e0 x JOIN e0 y ON x.b = y.a),
         e2 AS MATERIALIZED (SELECT DISTINCT x.a, y.b FROM e1 x JOIN e1 y ON x.b = y.a),
         e3 AS MATERIALIZED (SELECT DISTINCT x.a, y.b FROM e2 x JOIN e2 y ON x.b = y.a),
         e4 AS MATERIALIZED (SELECT DISTINCT x.a, y.b FROM e3 x JOIN e3 y ON x.b = y.a),
         e5 AS MATERIALIZED (SELECT DISTINCT x.a, y.b FROM e4 x JOIN e4 y ON x.b = y.a),
         e6 AS MATERIALIZED (SELECT DISTINCT x.a, y.b FROM e5 x JOIN e5 y ON x.b = y.a),
         e7 AS MATERIALIZED (SELECT DISTINCT x.a, y.b FROM e6 x JOIN e6 y ON x.b = y.a),
         e8 AS MATERIALIZED (SELECT DISTINCT x.a, y.b FROM e7 x JOIN e7 y ON x.b = y.a)
         SELECT a AS rid, MIN(b) AS grp FROM e8 GROUP BY a""",
    "q_video_meta" ->
      // the avih fields are synthesized from these same formulas; 25 fps
      // (40000 µs/frame) → duration_ms = frames · 40
      """SELECT doc_id, 'video/x-msvideo' AS mime,
                CAST(160 + (doc_id % 16) * 16 AS INTEGER) AS width,
                CAST(120 + (doc_id % 9) * 16 AS INTEGER) AS height,
                CAST(1 + doc_id % 1000 AS INTEGER) AS n_frames,
                CAST((1 + doc_id % 1000) * 40 AS BIGINT) AS duration_ms
         FROM documents""",
    "q_audio_features" ->
      // the engine decodes a synthesized ±k·256 square wave; with dyadic
      // amplitudes every decoded feature is exact, so the ground truth
      // is direct arithmetic on doc_id
      """SELECT doc_id, CAST(64 AS BIGINT) AS n_samples,
                (1 + doc_id % 127) / 128.0 AS rms,
                (1 + doc_id % 127) / 128.0 AS peak,
                1.0 AS zcr
         FROM documents""",
    "q_audio_g711" ->
      // G.711 expansion recomputed in SQL: µ-law over the complemented
      // byte (mag = 132·(2^e−1) + m·2^(e+3)), A-law over the 0x55-xored
      // byte (seg 0 → 16m+8, else (16m+264)·2^(seg−1)); constant streams
      // make rms = peak = mag/32768 exact and zcr 0
      """WITH g AS (SELECT doc_id, 255 - doc_id % 256 AS uc,
                           xor(doc_id % 256, 85) AS ac FROM documents)
         SELECT doc_id, CAST(64 AS BIGINT) AS n_samples,
           (132 * ((1 << ((uc // 16) % 8)) - 1)
              + (uc % 16) * (1 << (((uc // 16) % 8) + 3))) / 32768.0 AS ulaw_rms,
           (132 * ((1 << ((uc // 16) % 8)) - 1)
              + (uc % 16) * (1 << (((uc // 16) % 8) + 3))) / 32768.0 AS ulaw_peak,
           0.0 AS ulaw_zcr,
           (CASE WHEN (ac // 16) % 8 = 0 THEN (ac % 16) * 16 + 8
                 ELSE ((ac % 16) * 16 + 264) * (1 << ((ac // 16) % 8 - 1))
            END) / 32768.0 AS alaw_rms,
           (CASE WHEN (ac // 16) % 8 = 0 THEN (ac % 16) * 16 + 8
                 ELSE ((ac % 16) * 16 + 264) * (1 << ((ac // 16) % 8 - 1))
            END) / 32768.0 AS alaw_peak
         FROM g""",
    "q_audio_adpcm" ->
      // constant-predictor ADPCM block: every decoded sample is k·256,
      // so the features are exact dyadic arithmetic on doc_id
      """SELECT doc_id, CAST(65 AS BIGINT) AS n_samples,
                (1 + doc_id % 127) / 128.0 AS rms,
                (1 + doc_id % 127) / 128.0 AS peak,
                0.0 AS zcr
         FROM documents""",
    "q_video_mp4" ->
      // the parsed MP4 fields restate the synthesis arithmetic
      """SELECT doc_id, 'video/mp4' AS mime,
           CAST((doc_id % 80 + 1) * 16 AS INTEGER) AS width,
           CAST((doc_id % 45 + 1) * 16 AS INTEGER) AS height,
           CAST(doc_id % 500 + 1 AS INTEGER) AS n_frames,
           CAST((doc_id % 60 + 1) * 1000 AS BIGINT) AS duration_ms
         FROM documents""",
    "q_webp_meta" ->
      // the packed VP8L fields decode back to the same doc_id arithmetic
      """SELECT doc_id, 'image/webp' AS mime,
           CAST(doc_id % 300 + 1 AS INTEGER) AS width,
           CAST((doc_id * 3) % 200 + 1 AS INTEGER) AS height
         FROM documents""",
    "q_mojibake" ->
      // k wrecks of 4 chars + m clean runs of 3 chars → ratio k/(4k+3m)
      """WITH t AS (SELECT doc_id, doc_id % 5 + 1 AS k,
                           doc_id % 7 + 3 AS m FROM documents)
         SELECT doc_id, round(k / (4.0 * k + 3.0 * m), 6) AS mojibake_ratio
         FROM t""",
    "q_gunzip" ->
      // the decompressed stored-DEFLATE payload restates directly
      """SELECT doc_id, 'Doc ' || doc_id || ' gz payload' AS text
         FROM documents""",
    "q_unzstd" ->
      // the raw-block frame's decompressed payload restates directly
      """SELECT doc_id, 'Doc ' || doc_id || ' zst payload' AS text
         FROM documents""",
    "q_unlz4" ->
      // the uncompressed-block frame's payload restates directly
      """SELECT doc_id, 'Doc ' || doc_id || ' lz4 payload' AS text
         FROM documents""",
    "q_unsnappy" ->
      // the single-literal block's payload restates directly
      """SELECT doc_id, 'Doc ' || doc_id || ' snappy payload' AS text
         FROM documents""",
    "q_zip" ->
      // the listed entry and the extracted payload restate directly
      """SELECT doc_id, 'doc.txt' AS name, CAST(0 AS INTEGER) AS method,
           CAST(length('Doc ' || doc_id || ' zipped text') AS BIGINT)
             AS size,
           'Doc ' || doc_id || ' zipped text' AS text
         FROM documents""",
    "q_pdf_meta" ->
      // version, page count (tree node excluded), and the every-3rd
      // /Encrypt restate as doc_id arithmetic
      """SELECT doc_id,
           '1.' || (doc_id % 8) AS version,
           CAST(doc_id % 5 + 1 AS INTEGER) AS n_pages,
           doc_id % 3 = 0 AS encrypted
         FROM documents""",
    "q_redirects" ->
      // the resolved Location restates as concatenation (host kept,
      // absolute path replaces the old one)
      """SELECT 'http://h' || (doc_id % 7) || '.example/old/' || doc_id
             AS url,
           CAST(301 AS INTEGER) AS status,
           'http://h' || (doc_id % 7) || '.example/new/' || doc_id
             AS location
         FROM documents""",
    "q_crawl_pages" ->
      // only the 200 text/html record survives the gates; its body
      // restates as direct concatenation
      """SELECT 'http://ex.org/doc/' || doc_id AS url,
           '<html><body><p>Doc ' || doc_id ||
             ' crawl body</p><a href="/n' || doc_id ||
             '">n</a></body></html>' AS html
         FROM documents""",
    "q_warc" ->
      // every parsed field of both records restates as doc_id string
      // arithmetic — the WARC walk found headers/payloads exactly where
      // the Content-Length bookkeeping put them
      """SELECT doc_id, CAST(0 AS INTEGER) AS rec_no,
           'request' AS warc_type,
           'http://ex.org/doc/' || doc_id AS target_uri,
           '2024-01-0' || (doc_id % 9 + 1) || 'T00:00:00Z' AS "date",
           '<urn:request:' || doc_id || '>' AS record_id,
           'application/http;msgtype=request' AS content_type,
           'GET /doc/' || doc_id || ' HTTP/1.1' || chr(13) || chr(10) ||
             chr(13) || chr(10) AS payload_text
         FROM documents
         UNION ALL
         SELECT doc_id, CAST(1 AS INTEGER),
           'response',
           'http://ex.org/doc/' || doc_id,
           '2024-01-0' || (doc_id % 9 + 1) || 'T00:00:00Z',
           '<urn:response:' || doc_id || '>',
           'application/http;msgtype=response',
           'Doc ' || doc_id || ' crawled body'
         FROM documents""",
    "q_http" ->
      // the de-chunked body is the chunk concatenation; status and
      // content type come straight off the synthesized message
      """SELECT doc_id, CAST(doc_id % 100 + 200 AS INTEGER) AS status,
           'text/plain; charset=utf-8' AS content_type,
           'Doc ' || doc_id || ' part one and part two.' AS body
         FROM documents""",
    "q_html_text" ->
      // the extractor's output on the synthesized page is pure string
      // concatenation: title, heading, paragraph (entity decoded),
      // table cells space-separated — block boundaries become newlines
      """SELECT doc_id,
           'Doc ' || doc_id || chr(10) || 'Doc ' || doc_id || chr(10) ||
           'Body ' || (doc_id * 7) || ' & more.' || chr(10) ||
           (doc_id % 10) || ' ' || ((doc_id + 1) % 10) AS text
         FROM documents""",
    "q_html_links" ->
      // the three surviving hrefs and their RFC 3986 resolutions are
      // direct concatenation: ?-href resolves against the base dir-less,
      // ../ collapses /a/b{id} to the root, absolute passes through
      """SELECT doc_id, pos, link, resolved FROM (
           SELECT doc_id, 0 AS pos,
             '/p?x=1&y=' || doc_id AS link,
             'http://h' || (doc_id % 7) || '.example/p?x=1&y=' || doc_id
               AS resolved
           FROM documents
           UNION ALL
           SELECT doc_id, 1, '../r' || doc_id,
             'http://h' || (doc_id % 7) || '.example/r' || doc_id
           FROM documents
           UNION ALL
           SELECT doc_id, 2, 'http://abs' || (doc_id % 5) || '.example/z',
             'http://abs' || (doc_id % 5) || '.example/z'
           FROM documents)""",
    "q_anchor_text" ->
      // both surviving anchors restate directly; the fragment anchor
      // never surfaces
      """SELECT doc_id, pos, href, text FROM (
           SELECT doc_id, 0 AS pos, '/r' || doc_id AS href,
             'Report no. ' || doc_id || ' & notes' AS text
           FROM documents
           UNION ALL
           SELECT doc_id, 1, '/img' || (doc_id % 9), ''
           FROM documents)""",
    "q_host_edges" ->
      // the distinct cross-host pairs: each page host h{k} links h{k+1}
      // (mod 7) and the sink; the www. prefix strips, the relative
      // self-link drops
      """SELECT DISTINCT 'h' || (doc_id % 7) || '.example' AS src_host,
             'h' || ((doc_id + 1) % 7) || '.example' AS dst_host
           FROM documents
         UNION
         SELECT DISTINCT 'h' || (doc_id % 7) || '.example',
             'sink.example'
           FROM documents""",
    "q_text_format" ->
      // each synthesized shape lands in its category by construction
      """SELECT doc_id,
           CASE CAST(doc_id % 5 AS INT)
             WHEN 0 THEN 'json' WHEN 1 THEN 'csv'
             WHEN 2 THEN 'markdown' WHEN 3 THEN 'code'
             ELSE 'prose' END AS fmt
         FROM documents""",
    "q_quality_bins" ->
      // same boundaries (quantile_cont == exact interpolated
      // percentile), same boundary-goes-low comparison
      """WITH b AS (SELECT quantile_cont(n_chars, 0.25) AS b1,
             quantile_cont(n_chars, 0.5) AS b2,
             quantile_cont(n_chars, 0.75) AS b3 FROM documents)
         SELECT doc_id, n_chars,
           CAST(CAST(n_chars > b1 AS INT) + CAST(n_chars > b2 AS INT)
             + CAST(n_chars > b3 AS INT) AS INTEGER) AS bin
         FROM documents, b""",
    "q_corpus_diff" ->
      // membership and the rewrite pattern restate the status directly
      """SELECT doc_id AS id,
           CASE WHEN doc_id % 9 = 0 THEN 'added'
                WHEN doc_id % 7 = 0 THEN 'removed'
                WHEN doc_id % 5 = 0 THEN 'changed'
                ELSE 'unchanged' END AS status
         FROM documents
         WHERE doc_id % 9 <> 0 OR doc_id % 7 <> 0""",
    "q_sitemap" ->
      // the extracted sitemap URLs and the unescaped loc restate
      // directly (&amp; decodes to &)
      """SELECT doc_id,
           'http://h' || (doc_id % 7) || '.example/s' || doc_id || '.xml'
             AS sm0,
           'http://h' || (doc_id % 7) || '.example/extra.xml' AS sm1,
           'http://h' || (doc_id % 7) || '.example/p?a=1&b=' || doc_id
             AS loc0
         FROM documents""",
    "q_schedule" ->
      // the same (host, url) window with budget 3
      """SELECT url, host, r - 1 AS fetch_order FROM (
           SELECT url, host,
             row_number() OVER (PARTITION BY host ORDER BY url) AS r
           FROM (SELECT 'http://h' || (doc_id % 5) || '.example/p' || doc_id
                   AS url,
                 'h' || (doc_id % 5) || '.example' AS host
                 FROM documents))
         WHERE r <= 3""",
    "q_robots" ->
      // otherbot gets the * group: /p1/ blocked unless the longer
      // Allow /p1/page1 matches (page number starting '1'); graftbot
      // gets ONLY its own group: /p2/ blocked
      """SELECT doc_id,
           CASE WHEN doc_id % 3 = 1
                THEN starts_with(CAST(doc_id AS VARCHAR), '1')
                ELSE TRUE END AS allowed_star,
           doc_id % 3 <> 2 AS allowed_graft
         FROM documents""",
    "q_frontier" ->
      // distinct external targets minus the seen half; self-links
      // resolve to own URLs and never surface
      """SELECT DISTINCT 'http://ext.example/x' || (doc_id % 10) AS url
         FROM documents WHERE doc_id % 10 >= 5""",
    "q_audio_triage" ->
      // MP3 CBR duration and Ogg granule duration are direct arithmetic
      // on doc_id (4000-byte MPEG1-L3 stream; granule = rate·secs)
      """WITH t AS (SELECT doc_id,
             ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])
               [CAST(doc_id % 14 AS INTEGER) + 1] AS kbps,
             CAST(doc_id % 7 + 1 AS INTEGER) AS och,
             CAST(8000 + (doc_id % 5) * 1000 AS INTEGER) AS orate,
             CAST(doc_id % 10 + 1 AS BIGINT) AS osecs
           FROM documents)
         SELECT doc_id,
           'audio/mpeg' AS mp3_mime, CAST(2 AS INTEGER) AS mp3_channels,
           CAST(44100 AS INTEGER) AS mp3_rate,
           CAST(800 // kbps AS BIGINT) AS mp3_dur_ms,
           'audio/ogg' AS ogg_mime, och AS ogg_channels,
           orate AS ogg_rate, osecs * 1000 AS ogg_dur_ms
         FROM t""",
    "q_audio_flac" ->
      // one CONSTANT-subframe FLAC frame: every decoded sample is k·256,
      // so the features are exact dyadic arithmetic on doc_id
      """SELECT doc_id, CAST(192 AS BIGINT) AS n_samples,
                (1 + doc_id % 127) / 128.0 AS rms,
                (1 + doc_id % 127) / 128.0 AS peak,
                0.0 AS zcr
         FROM documents""",
    "q_audio_embed" ->
      // normalized band shares of a pure tone are amplitude-invariant
      // constants: all energy at band 0 (DC stream) / band 15 (Nyquist
      // stream), none of the Nyquist energy leaks to DC (exact zero)
      """SELECT doc_id, CAST(16 AS INTEGER) AS dim, 1.0 AS dc_share,
                1.0 AS nyq_share, 0.0 AS dc_in_nyq
         FROM documents""",
    "q_video_features" ->
      // 4 solid frames stepping +1 per channel: means are c0 + (0+1+2+3)/4
      // and each consecutive-frame mean delta is exactly 1
      """SELECT doc_id, CAST(4 AS INTEGER) AS n_frames,
                CAST(4 AS INTEGER) AS width, CAST(2 AS INTEGER) AS height,
                CAST(doc_id % 200 + 1.5 AS DOUBLE) AS mean_r,
                CAST((doc_id * 7) % 200 + 1.5 AS DOUBLE) AS mean_g,
                CAST((doc_id * 13) % 200 + 1.5 AS DOUBLE) AS mean_b,
                1.0 AS motion
         FROM documents""",
    "q_image_features" ->
      // solid-color bitmap: per-channel means equal the synthesized
      // colors exactly (integer sums, exact division by the pixel count)
      """SELECT doc_id, CAST(2 AS INTEGER) AS width,
                CAST(2 AS INTEGER) AS height,
                CAST(doc_id % 256 AS DOUBLE) AS mean_r,
                CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_g,
                CAST((doc_id * 13) % 256 AS DOUBLE) AS mean_b
         FROM documents""",
    "q_image_decode" ->
      // the engine inflates a real DEFLATE stream and decodes the PNG;
      // a 1×1 truecolor image makes every decoded value exact
      """SELECT doc_id, 'image/png' AS mime,
                CAST(1 AS INTEGER) AS width, CAST(1 AS INTEGER) AS height,
                CAST(doc_id % 256 AS DOUBLE) AS mean_r,
                CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_g,
                CAST((doc_id * 13) % 256 AS DOUBLE) AS mean_b
         FROM documents""",
    "q_thumbnail" ->
      // source 16m × km scales to (16, k) under half-up integer
      // rounding for every m; solid color is bilinear-invariant and PNG
      // is lossless, so the re-decoded means equal the source colors
      """SELECT doc_id, 'image/png' AS mime,
                CAST(16 AS INTEGER) AS width,
                CAST(4 + doc_id % 13 AS INTEGER) AS height,
                CAST(doc_id % 256 AS DOUBLE) AS mean_r,
                CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_g,
                CAST((doc_id * 13) % 256 AS DOUBLE) AS mean_b
         FROM documents""",
    "q_multimodal_meta" ->
      // the decoded meta is a real BMP header parse; rw = width because
      // every synthesized image is already under the 256 resize cap
      """SELECT doc_id, 'image/bmp' AS mime,
                CAST(16 * (1 + doc_id % 3) AS INTEGER) AS width,
                CAST((4 + doc_id % 13) * (1 + doc_id % 3) AS INTEGER) AS height,
                CAST(16 * (1 + doc_id % 3) AS INTEGER) AS rw,
                CAST(4 AS INTEGER) AS n_sampled
         FROM documents""",
    "q_image_embed" ->
      // one-hot per 8-bin channel block: hot_bins = r_bin + (8 + g_bin)
      // + (16 + b_bin) with bin = color // 32
      """SELECT doc_id, CAST(24 AS INTEGER) AS dim,
                CAST(3.0 AS DOUBLE) AS l1,
                CAST((doc_id % 256) // 32 + 8 + ((doc_id * 7) % 256) // 32
                     + 16 + ((doc_id * 13) % 256) // 32 AS DOUBLE) AS hot_bins
         FROM documents""",
    "q_image_phash" ->
      // recompute both hashes from the pixel formulas the Spark side
      // synthesized into real BMPs: aHash bit k = 64·g > Σg (cross-
      // multiplied global mean), dHash bit (y·8+x) = g(x,y) > g(x+1,y);
      // bit 63 packs as the two's-complement minimum so the signed sum
      // equals the engine's 1L << 63
      """WITH px8 AS (
           SELECT d.doc_id, tx.x, ty.y,
                  (d.doc_id + 37*tx.x + 101*ty.y) % 256 AS g
           FROM documents d, range(8) tx(x), range(8) ty(y)
         ), tot8 AS (SELECT doc_id, sum(g) AS s FROM px8 GROUP BY doc_id),
         ah AS (
           SELECT px8.doc_id,
                  sum(CASE WHEN 64*g > s THEN
                    CASE WHEN y*8 + x = 63 THEN -9223372036854775808
                         ELSE (1::BIGINT << (y*8 + x)::INT) END
                    ELSE 0 END)::BIGINT AS ahash
           FROM px8 JOIN tot8 USING (doc_id) GROUP BY px8.doc_id
         ), px9 AS (
           SELECT d.doc_id, tx.x, ty.y,
                  (d.doc_id*3 + 29*tx.x + 67*ty.y) % 256 AS g
           FROM documents d, range(9) tx(x), range(8) ty(y)
         ), dh AS (
           SELECT a.doc_id,
                  sum(CASE WHEN a.g > b.g THEN
                    CASE WHEN a.y*8 + a.x = 63 THEN -9223372036854775808
                         ELSE (1::BIGINT << (a.y*8 + a.x)::INT) END
                    ELSE 0 END)::BIGINT AS dhash
           FROM px9 a JOIN px9 b
             ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
           WHERE a.x < 8
           GROUP BY a.doc_id
         )
         SELECT ah.doc_id, ah.ahash, dh.dhash
         FROM ah JOIN dh USING (doc_id)""",
    "q_video_phash" ->
      // the temporally averaged frame of identical frames is the frame:
      // dHash bit (y*8+x) = g(x,y) > g(x+1,y), bit 63 as the signed min
      """WITH px AS (
           SELECT d.doc_id, tx.x, ty.y,
                  (d.doc_id*5 + 31*tx.x + 73*ty.y) % 256 AS g
           FROM documents d, range(9) tx(x), range(8) ty(y)
         )
         SELECT a.doc_id,
                sum(CASE WHEN a.g > b.g THEN
                  CASE WHEN a.y*8 + a.x = 63 THEN -9223372036854775808
                       ELSE (1::BIGINT << (a.y*8 + a.x)::INT) END
                  ELSE 0 END)::BIGINT AS vhash
         FROM px a JOIN px b
           ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
         WHERE a.x < 8
         GROUP BY a.doc_id""",
    "q_image_neardup" ->
      // ground truth by EXHAUSTION: recompute every doc's dHash from the
      // shared-base + perturbation formula, then all-pairs popcount of
      // the XOR — the banded plan must reproduce this list exactly
      """WITH px AS (
           SELECT d.doc_id, tx.x, ty.y,
                  ((d.doc_id % 50)*97 + 37*tx.x + 101*ty.y
                   + ((d.doc_id % 50)*(2*ty.y + 3)) % 251
                   + CASE WHEN tx.x = 0 AND ty.y = 0 THEN (d.doc_id // 50)*59
                          WHEN tx.x = 5 AND ty.y = 3 THEN (d.doc_id // 50)*83
                          WHEN tx.x = 2 AND ty.y = 6
                            THEN ((d.doc_id // 50) % 3)*113
                          ELSE 0 END) % 256 AS g
           FROM documents d, range(9) tx(x), range(8) ty(y)
         ), dh AS (
           SELECT a.doc_id,
                  sum(CASE WHEN a.g > b.g THEN
                    CASE WHEN a.y*8 + a.x = 63 THEN -9223372036854775808
                         ELSE (1::BIGINT << (a.y*8 + a.x)::INT) END
                    ELSE 0 END)::BIGINT AS dh
           FROM px a JOIN px b
             ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
           WHERE a.x < 8
           GROUP BY a.doc_id
         )
         SELECT a.doc_id AS id1, b.doc_id AS id2,
                bit_count(xor(a.dh, b.dh))::INT AS hamming
         FROM dh a JOIN dh b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.dh, b.dh)) <= 3""",
    "q_image_incremental" ->
      // both corpora's dHashes recomputed from the pixel formulas, then
      // the exhaustive cross-corpus popcount join — the tag-bit banding
      // plan must reproduce it exactly
      """WITH px AS (
           SELECT d.doc_id, tx.x, ty.y,
                  ((d.doc_id % 40)*97 + 37*tx.x + 101*ty.y
                   + ((d.doc_id % 40)*(2*ty.y + 3)) % 251
                   + CASE WHEN tx.x = 0 AND ty.y = 0
                          THEN (d.doc_id // 40)*59 ELSE 0 END) % 256 AS g,
                  ((d.doc_id % 40)*97 + 37*tx.x + 101*ty.y
                   + ((d.doc_id % 40)*(2*ty.y + 3)) % 251) % 256 AS g0
           FROM documents d, range(9) tx(x), range(8) ty(y)
         ), dh AS (
           SELECT a.doc_id,
                  sum(CASE WHEN a.g > b.g THEN
                    CASE WHEN a.y*8 + a.x = 63 THEN -9223372036854775808
                         ELSE (1::BIGINT << (a.y*8 + a.x)::INT) END
                    ELSE 0 END)::BIGINT AS h,
                  sum(CASE WHEN a.g0 > b.g0 THEN
                    CASE WHEN a.y*8 + a.x = 63 THEN -9223372036854775808
                         ELSE (1::BIGINT << (a.y*8 + a.x)::INT) END
                    ELSE 0 END)::BIGINT AS h0
           FROM px a JOIN px b
             ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
           WHERE a.x < 8
           GROUP BY a.doc_id
         )
         SELECT i.doc_id AS incoming_id, s.doc_id AS seen_id,
                bit_count(xor(i.h, s.h0))::INT AS hamming
         FROM dh i JOIN dh s ON s.doc_id < 200
         WHERE bit_count(xor(i.h, s.h0)) <= 3""",
    "q_audio_phash" ->
      // recompute the envelope hash from the synthesized amplitudes:
      // sample j carries ((doc_id*3 + j*5) % 127 + 1) * 256, window
      // w = (j*65)//130 holds two samples, bit w = louder than w+1
      """WITH sm AS (
           SELECT d.doc_id, j.j,
                  (((d.doc_id*3 + j.j*5) % 127) + 1) * 256 AS v
           FROM documents d, range(130) j(j)
         ), wi AS (
           SELECT doc_id, (j*65)//130 AS w, sum(v) AS s
           FROM sm GROUP BY doc_id, (j*65)//130
         )
         SELECT a.doc_id, sum(CASE WHEN a.s > b.s THEN
             CASE WHEN a.w = 63 THEN -9223372036854775808
                  ELSE (1::BIGINT << a.w::INT) END ELSE 0 END)::BIGINT
           AS ahash
         FROM wi a JOIN wi b ON a.doc_id = b.doc_id AND b.w = a.w + 1
         GROUP BY a.doc_id""",
    "q_corpus_report" ->
      // the whole analytics report recomputed independently: per-doc
      // quality mirrors the q_text_quality recipe, summed as its
      // round(q*1e6) integer so the mean is order-independent;
      // quantile_cont matches Spark's exact interpolated percentile
      """WITH t AS (SELECT text,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         m AS (SELECT text, toks,
           CASE WHEN length(text) > 0 THEN
             (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))
             / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS punct,
           CASE WHEN len(toks) > 0 THEN
             len(list_filter(toks, x -> x IN ('the','a','an','of','and','or','to','in','is','it','that','this','for','on','with','as')))
             / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS sw,
           CASE WHEN len(toks) > 0 THEN
             list_sum(list_transform(toks, x -> length(x)))
             / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS awl,
           least(length(text) / 200.0, 1.0) AS len_score
           FROM t),
         q AS (SELECT text, toks, CAST(round(round(
             len_score * 0.3
             + (CASE WHEN awl >= 3.0 AND awl <= 8.0 THEN 1.0 ELSE 0.5 END) * 0.2
             + (CASE WHEN sw >= 0.05 AND sw <= 0.5 THEN 1.0 ELSE 0.5 END) * 0.3
             + (1.0 - least(punct * 4.0, 1.0)) * 0.2, 6) * 1000000) AS BIGINT) AS q6
           FROM m),
         a AS (SELECT count(*) AS n_docs,
             sum(CASE WHEN length(trim(text)) = 0 THEN 1 ELSE 0 END) AS n_empty,
             sum(len(toks)) AS total_tokens,
             sum(length(text)) AS total_chars,
             quantile_cont(len(toks), 0.5) AS median_doc_tokens,
             quantile_cont(len(toks), 0.9) AS p90_doc_tokens,
             count(DISTINCT md5(text)) AS distinct_docs,
             sum(q6) AS q6_sum
           FROM q)
         SELECT 'n_docs' AS metric, n_docs::DOUBLE AS value FROM a
         UNION ALL SELECT 'n_empty', n_empty::DOUBLE FROM a
         UNION ALL SELECT 'total_tokens', total_tokens::DOUBLE FROM a
         UNION ALL SELECT 'total_chars', total_chars::DOUBLE FROM a
         UNION ALL SELECT 'avg_doc_tokens',
           round(total_tokens::DOUBLE / n_docs, 6) FROM a
         UNION ALL SELECT 'median_doc_tokens',
           round(median_doc_tokens::DOUBLE, 6) FROM a
         UNION ALL SELECT 'p90_doc_tokens',
           round(p90_doc_tokens::DOUBLE, 6) FROM a
         UNION ALL SELECT 'distinct_docs', distinct_docs::DOUBLE FROM a
         UNION ALL SELECT 'dup_rate',
           round(1.0 - distinct_docs::DOUBLE / n_docs, 6) FROM a
         UNION ALL SELECT 'avg_quality',
           round(q6_sum::DOUBLE / (n_docs * 1000000.0), 6) FROM a""",
    "q_interval_join" ->
      """SELECT o.o_orderkey, o.o_custkey % 20 AS k,
                o.o_orderkey % 1000 AS t, p.p_partkey AS iv_id
         FROM orders o JOIN part p
           ON o.o_custkey % 20 = p.p_partkey % 20
          AND (p.p_partkey * 7) % 990 <= o.o_orderkey % 1000
          AND o.o_orderkey % 1000 <
              (p.p_partkey * 7) % 990 + p.p_partkey % 50 + 5""",
    "q_normalize" ->
      // independent normalization: ICU nfc_normalize + the SAME
      // space-character class as a regex pass + collapse + trim must
      // reproduce the engine's one-pass fold byte for byte
      """SELECT doc_id, trim(regexp_replace(regexp_replace(
           nfc_normalize('  ' || chr(160) || text || chr(9) || chr(9)
             || 'e' || chr(769) || chr(8195) || 'caf' || chr(233) || ' '
             || chr(7) || 'x' || chr(8203) || ' '),
           '[\x00-\x1f\x7f\x{0085}\x{00a0}\x{1680}\x{2000}-\x{200b}\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}\x{feff}]',
           ' ', 'g'), ' +', ' ', 'g')) AS norm
         FROM documents"""
  )
}
