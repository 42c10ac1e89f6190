package perfbench

import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{Row, SparkSession}
import graft.{Display, Engine, Tables}
import graft.sparql.{Compiler, Parser, Substitute, TypeInfer, Validate}
import graft.sparql.Ast.{ParsedQuery, SelectQuery}

/** One SELECT shape. `sparql` names its parameter `?_k` (the engine's
  * bindings convention); `sql` is the same question over the raw tables
  * for DuckDB, with `{k}` for the constant. `key` draws the constant. */
final case class Template(name: String, vars: Seq[String], sparql: String,
    sql: String, key: Random => String)

/** A SPARQL output kept for the DuckDB oracle: the rows of the first op
  * with this text, and how many ops returned the same rows. */
final case class OracleCheck(label: String, data: String, sql: String,
    rows: Seq[String], var ops: Int) {
  def json: String = Json.obj(Seq("label" -> Json.str(label),
    "data" -> Json.str(data), "sql" -> Json.str(sql), "ops" -> Json.num(ops),
    "rows" -> Json.arr(rows)))
}

/** Runs SELECTs through the engine and keeps their outputs for checks.
  *
  * Untraced, an op is the one public call `Engine.select` plus `collect()`.
  * Traced, the op makes the public calls `Engine.select` makes, in its
  * order, each in its own span: parse (`Parser.parseQuery`, `Validate`;
  * a text seen before is a parse-cache hit, as in the engine), compile
  * (`Substitute`, `Compiler.compileSelect`), display
  * (`TypeInfer.selectDecisions`, then `Display.toDisplayStatic`, or the
  * sniffing `Display.toDisplay`), and exec (`collect()`). The first traced
  * op of each template is re-run through `Engine.select` after the loop
  * and its rows compared with the composed frame's. */
final class SelectRunner(spark: SparkSession, data: String) {
  private val checks = mutable.LinkedHashMap.empty[String, OracleCheck]
  private val parseCache = mutable.Map.empty[String, ParsedQuery]
  private val crossChecks = mutable.LinkedHashMap.empty[String, (String, Map[String, Any], Seq[String])]

  def oracleChecks: Seq[OracleCheck] = checks.values.toSeq

  /** Canonical rows of `rows`, projected on `vars`, sorted. */
  def canon(rows: Array[Row], vars: Seq[String]): Seq[String] =
    if (rows.isEmpty) Nil
    else {
      val idx = vars.map(rows.head.schema.fieldIndex)
      rows.toSeq.map(r => Json.arr(idx.map(i => Json.cell(r.get(i))))).sorted
    }

  def select(engine: Engine, text: String, bindings: Map[String, Any],
      tr: Tracer, label: String): Array[Row] =
    if (!tr.enabled) engine.select(text, bindings).collect()
    else {
      val g = engine.graph
      val parsed = tr.span("parser") {
        parseCache.get(text) match {
          case Some(p) => tr.count("parser.cache_hits", 1); p
          case None =>
            val p = new Parser(g.prefixes).parseQuery(text)
            Validate.select(p.query.asInstanceOf[SelectQuery])
            parseCache(text) = p
            p
        }
      }
      val (q, raw) = tr.span("compiler") {
        val q = Substitute(parsed.query.asInstanceOf[SelectQuery],
          bindings.map { case (k, v) => k -> engine.toTerm(v) })
        (q, new Compiler(g, spark).compileSelect(q))
      }
      val sniffs0 = Display.sniffCount.get
      val df = tr.span("display") {
        TypeInfer.selectDecisions(q, g) match {
          case Some(d) => Display.toDisplayStatic(raw, d, g.prefixes)
          case None => Display.toDisplay(raw, g.prefixes)
        }
      }
      tr.count("display.sniffs", Display.sniffCount.get - sniffs0)
      tr.count("display.selects", 1)
      val rows = tr.span("exec")(df.collect())
      tr.count("exec.result_rows", rows.length)
      if (!crossChecks.contains(label))
        crossChecks(label) = (text, bindings, canon(rows, rows.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Nil)))
      rows
    }

  /** One op of template `t` with constant `k`, passed through bindings
    * or written into the text. Checks the rows against earlier ops with
    * the same constant; DuckDB checks the first after the run. */
  def op(engine: Engine, t: Template, k: String, viaBindings: Boolean): Op = {
    val label = s"${t.name}/${if (viaBindings) "bind" else "inline"}"
    Op(label, tr => {
      val text = Sparql.Prefixes + (if (viaBindings) t.sparql else t.sparql.replace("?_k", k))
      val bindings: Map[String, Any] = if (viaBindings) Map("k" -> Sparql.value(k)) else Map.empty
      val rows = canon(select(engine, text, bindings, tr, label), t.vars)
      val id = s"${t.name}($k)"
      checks.get(id) match {
        case Some(c) =>
          c.ops += 1
          if (c.rows == rows) None
          else Some(s"$id returned ${rows.size} rows, an earlier op ${c.rows.size}")
        case None =>
          checks(id) = OracleCheck(id, data, t.sql.replace("{k}", k), rows, 1)
          None
      }
    })
  }

  /** Composed rows against `Engine.select` for the first traced op of
    * each template. */
  def crossCheck(engine: Engine): Seq[(String, Int)] =
    crossChecks.toSeq.flatMap { case (label, (text, b, composed)) =>
      val rows = engine.select(text, b).collect()
      val direct = canon(rows, rows.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Nil))
      if (direct == composed) None
      else Some((s"$label: composed frame differs from Engine.select", 1))
    }
}

object Sparql {
  val Prefixes: String =
    """PREFIX gp: <urn:graft:p/>
      |PREFIX g: <urn:graft:>
      |""".stripMargin

  /** A constant as a binding value: integers as Long, others as Double. */
  def value(k: String): Any = if (k.contains('.')) k.toDouble else k.toLong

  private def cust(r: Random) = r.nextInt(1500).toString
  private def nation(r: Random) = r.nextInt(25).toString

  /** sparql_lookup: selective lookups over the sf0.01-sized graph; a key
    * picks one customer (of 1500) or one nation (of 25). */
  val lookup: Seq[Template] = Seq(
    Template("star", Seq("name", "bal", "seg"),
      """SELECT ?name ?bal ?seg { ?c gp:c_custkey ?_k . ?c gp:c_name ?name .
           ?c gp:c_acctbal ?bal . ?c gp:c_mktsegment ?seg }""",
      "SELECT c_name, c_acctbal, c_mktsegment FROM customer WHERE c_custkey = {k}", cust),
    Template("path2", Seq("okey", "tp"),
      """SELECT ?okey ?tp { ?o gp:o_cust_ref/gp:c_custkey ?_k .
           ?o gp:o_orderkey ?okey . ?o gp:o_totalprice ?tp }""",
      "SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey = {k}", cust),
    Template("path3", Seq("okey", "ln", "q"),
      """SELECT ?okey ?ln ?q { ?l gp:l_order_ref ?o . ?o gp:o_cust_ref/gp:c_custkey ?_k .
           ?o gp:o_orderkey ?okey . ?l gp:l_linenumber ?ln . ?l gp:l_quantity ?q }""",
      """SELECT o_orderkey, l_linenumber, l_quantity FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey WHERE o_custkey = {k}""", cust),
    Template("optional", Seq("name", "okey"),
      """SELECT ?name ?okey { ?c gp:c_custkey ?_k . ?c gp:c_name ?name
           OPTIONAL { ?o gp:o_cust_ref ?c . ?o gp:o_orderkey ?okey .
                      ?o gp:o_totalprice ?tp FILTER(?tp > 250000.0) } }""",
      """SELECT c_name, o_orderkey FROM customer LEFT JOIN orders
         ON o_custkey = c_custkey AND o_totalprice > 250000.0 WHERE c_custkey = {k}""", cust),
    Template("not_exists", Seq("name"),
      """SELECT ?name { ?c gp:c_nation_ref/gp:n_nationkey ?_k . ?c gp:c_name ?name
           FILTER NOT EXISTS { ?o gp:o_cust_ref ?c . ?o gp:o_orderpriority "1-URGENT" } }""",
      """SELECT c_name FROM customer WHERE c_nationkey = {k} AND NOT EXISTS
         (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""",
      nation),
    Template("group", Seq("seg", "n"),
      """SELECT ?seg (COUNT(*) AS ?n) { ?c gp:c_nation_ref/gp:n_nationkey ?_k .
           ?c gp:c_mktsegment ?seg } GROUP BY ?seg""",
      "SELECT c_mktsegment, count(*) FROM customer WHERE c_nationkey = {k} GROUP BY 1", nation),
    Template("topk", Seq("name", "bal"),
      """SELECT ?name ?bal { ?c gp:c_nation_ref/gp:n_nationkey ?_k . ?c gp:c_name ?name .
           ?c gp:c_acctbal ?bal } ORDER BY DESC(?bal) ?name LIMIT 5""",
      """SELECT c_name, c_acctbal FROM customer WHERE c_nationkey = {k}
         ORDER BY c_acctbal DESC, c_name LIMIT 5""", nation),
    Template("values", Seq("name", "seg"),
      """SELECT ?name ?seg { VALUES ?seg { "AUTOMOBILE" "MACHINERY" }
           ?c gp:c_nation_ref/gp:n_nationkey ?_k . ?c gp:c_mktsegment ?seg . ?c gp:c_name ?name }""",
      """SELECT c_name, c_mktsegment FROM customer
         WHERE c_nationkey = {k} AND c_mktsegment IN ('AUTOMOBILE', 'MACHINERY')""", nation),
    Template("plus_path", Seq("name"),
      """SELECT ?name { ?c gp:c_custkey ?_k .
           ?c (gp:c_nation_ref|gp:n_region_ref)+ ?x . ?x gp:n_name|gp:r_name ?name }""",
      """SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
         WHERE c_custkey = {k}
         UNION ALL
         SELECT r_name FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey WHERE c_custkey = {k}""", cust))

  /** sparql_analytic: full scans over the sf0.1-sized graph. The constant
    * moves a FILTER within a narrow band around half the rows, so the seed
    * changes the answer but hardly the work. */
  val analytic: Seq[Template] = Seq(
    Template("path_group", Seq("cname", "cnt"),
      """SELECT ?cname (COUNT(*) AS ?cnt) {
           ?l gp:l_order_ref/gp:o_cust_ref/gp:c_name ?cname .
           ?l gp:l_quantity ?q FILTER(?q > ?_k) } GROUP BY ?cname""",
      """SELECT c_name, count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey WHERE l_quantity > {k} GROUP BY c_name""",
      r => s"${23 + r.nextInt(5)}.0"),
    Template("agg_suite", Seq("flag", "sum_qty", "avg_qty", "min_qty", "max_qty", "n"),
      """SELECT ?flag (SUM(?q) AS ?sum_qty) (AVG(?q) AS ?avg_qty)
                (MIN(?q) AS ?min_qty) (MAX(?q) AS ?max_qty) (COUNT(*) AS ?n) {
           ?l gp:l_returnflag ?flag . ?l gp:l_quantity ?q FILTER(?q <= ?_k) } GROUP BY ?flag""",
      """SELECT l_returnflag, sum(l_quantity), avg(l_quantity), min(l_quantity),
         max(l_quantity), count(*) FROM lineitem WHERE l_quantity <= {k} GROUP BY 1""",
      r => s"${23 + r.nextInt(5)}.0"),
    Template("minus", Seq("cname"),
      """SELECT ?cname { ?c gp:c_name ?cname
           MINUS { ?o gp:o_cust_ref ?c . ?o gp:o_totalprice ?tp FILTER(?tp > ?_k) } }""",
      """SELECT c_name FROM customer WHERE NOT EXISTS
         (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > {k})""",
      r => s"${440000 + 1000 * r.nextInt(21)}.0"),
    Template("distinct", Seq("flag", "st", "q"),
      """SELECT DISTINCT ?flag ?st ?q { ?l gp:l_returnflag ?flag .
           ?l gp:l_linestatus ?st . ?l gp:l_quantity ?q FILTER(?q > ?_k) }""",
      """SELECT DISTINCT l_returnflag, l_linestatus, l_quantity FROM lineitem
         WHERE l_quantity > {k}""",
      r => s"${23 + r.nextInt(5)}.0"),
    Template("topk", Seq("okey", "price"),
      """SELECT ?okey ?price { ?o gp:o_orderkey ?okey . ?o gp:o_totalprice ?price
           FILTER(?price < ?_k) } ORDER BY DESC(?price) ?okey LIMIT 10""",
      """SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice < {k}
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
      r => s"${240000 + 1000 * r.nextInt(21)}.0"),
    Template("count_distinct", Seq("n"),
      """SELECT (COUNT(DISTINCT ?c) AS ?n) { ?o gp:o_cust_ref ?c .
           ?o gp:o_totalprice ?tp FILTER(?tp > ?_k) }""",
      "SELECT count(DISTINCT o_custkey) FROM orders WHERE o_totalprice > {k}",
      r => s"${240000 + 1000 * r.nextInt(21)}.0"),
    Template("join_sum", Seq("nname", "rev"),
      """SELECT ?nname (SUM(?ep) AS ?rev) {
           ?l gp:l_order_ref/gp:o_cust_ref/gp:c_nation_ref/gp:n_name ?nname .
           ?l gp:l_extendedprice ?ep . ?l gp:l_discount ?d FILTER(?d >= ?_k) } GROUP BY ?nname""",
      """SELECT n_name, sum(l_extendedprice) FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
         WHERE l_discount >= {k} GROUP BY 1""",
      r => f"0.0${5 + r.nextInt(2)}"))
}

/** A SPARQL workload: one long-lived Engine over `tables`. Every round
  * runs each template twice, in a seeded order: the constant once in
  * `bindings` (same text, a parse-cache hit) and once written into the
  * text (new text, a miss). */
final class SparqlWorkload(spark: SparkSession, data: String, tables: Seq[String],
    templates: Seq[Template]) extends Workload {
  private var engine: Engine = _
  private var runner: SelectRunner = _

  def setup(tr: Tracer): Unit = {
    engine = Engine.fromGraph(
      tr.setupSpan("tables.graph_build")(Tables.graph(spark, data, tables: _*)))
    runner = new SelectRunner(spark, data)
  }

  def round(rng: Random): Seq[Op] =
    rng.shuffle(templates.flatMap(t =>
      Seq(runner.op(engine, t, t.key(rng), viaBindings = true),
        runner.op(engine, t, t.key(rng), viaBindings = false))))

  override def finalChecks(tr: Tracer): Seq[(String, Int)] =
    if (tr.enabled) runner.crossCheck(engine) else Nil
  override def oracleChecks: Seq[OracleCheck] = runner.oracleChecks
  override def layerMetrics(tr: Tracer, ops: Int): Map[String, Double] =
    Map("tables.graph_build_s" -> tr.setupSpanMedian("tables.graph_build"))
}
