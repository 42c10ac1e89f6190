package graft.sparql

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, functions => F}
import org.apache.spark.sql.types._
import graft.rdf._
import graft.rdf.Terms._
import Ast._
import scala.collection.mutable

/** SPARQL algebra → DataFrame compiler.
  *
  * The design commitment (SURVEY.md §1.4/§2B): declare everything with the
  * DataFrame API and let Catalyst/AQE pick physical strategies. BGPs become
  * chains of equi-joins over per-pattern scans of the triples table; the
  * triple-pattern filters (constant s/p/o) are plain struct-field predicates
  * that push down to the parquet scan. The only operator evaluated with a
  * driver-side loop is the transitive property path (`*`/`+`). Seeded from
  * a constant endpoint or from the values a sibling pattern of the BGP
  * binds, it is a BFS with the frontier on the driver, at most one Spark
  * job per level; past a fixed bound the frontier moves to checkpointed
  * frames. Only a path with two free endpoints computes the full pair
  * closure, by path doubling (the reference loops one query per node,
  * gastrodon/__init__.py:704-743).
  *
  * Variable bindings table: one term-struct column per SPARQL variable;
  * unbound = null (gastrodon/__init__.py:761). Internal variables from
  * anonymous blank nodes are named "_:bN" and dropped at projection.
  */
final class Compiler(rdfGraph: RdfGraph, spark: SparkSession) {

  private val graph: DataFrame = rdfGraph.triples

  // ------------------------------------------------- named-graph scoping
  //
  // A QUAD store carries an extra term-struct column `g` (null = default
  // graph). Scans then route through [[scanBase]], which applies the
  // active-graph scope (set while compiling a GRAPH pattern) and the
  // query's FROM / FROM NAMED dataset clause. A plain triple store with
  // no dataset clause never pays any of this — scanBase IS the raw table
  // and the vertical/star fast paths stay on.

  private val hasQuads = graph.columns.contains("g")
  /** The GraphStore quad layout's graph PARTITION column, when loaded
    * from disk: graph-scope conditions are mirrored onto it so a
    * GRAPH <g> / FROM / FROM NAMED scan prunes whole graph directories
    * (PartitionFilters), not just rows. */
  private val hasGPart = graph.columns.contains(Terms.GPART_COL)
  private def gpart: Column = F.col(Terms.GPART_COL)
  private def partDefault: Column =
    if (hasGPart) gpart === Terms.GPART_DEFAULT else F.lit(true)
  private def partIs(iri: String): Column =
    if (hasGPart) gpart === ("i:" + iri) else F.lit(true)
  private def partIn(iris: Seq[String]): Column =
    if (hasGPart) gpart.isin(iris.map("i:" + _): _*) else F.lit(true)
  private def partNamed: Column =
    if (hasGPart) gpart =!= Terms.GPART_DEFAULT else F.lit(true)
  /** Node of the enclosing GRAPH pattern, while compiling inside one. */
  private var activeGraph: Option[Node] = None
  /** Set during a [[perGraphUnion]] branch: the GRAPH variable to bind
    * on every scan while `activeGraph` is pinned to one constant name.
    * Keeps the rare path's semantics identical to the fast path's
    * scan-binding: the graph variable is VISIBLE inside the group (it
    * co-binds with other uses on scans — the Jena/Virtuoso consensus
    * behavior; the REC's formal definition joins the variable after
    * the group, which no major engine implements for filters). */
  private var graphVarPin: Option[String] = None
  private def withGraphPin(df: DataFrame): DataFrame =
    (graphVarPin, activeGraph) match {
      case (Some(v), Some(TermNode(t))) =>
        if (df.columns.contains(v)) df.where(F.col(v) === termCol(t))
        else df.withColumn(v, termCol(t))
      case _ => df
    }
  /** FROM / FROM NAMED of the query being compiled (top level only). */
  private var dataset: DatasetClause = DatasetClause.empty
  /** UPDATE `WITH <g>` default-graph override: default-graph scans read
    * the named graph g instead. Unlike a dataset clause it does NOT
    * restrict the named-graph universe GRAPH patterns range over
    * (Update §3.1.3); USING/USING NAMED, when present, replace it. */
  private var withDefault: Option[String] = None

  /** Compile a Modify's WHERE: USING/USING NAMED act as the pattern's
    * FROM/FROM NAMED and override WITH; a bare WITH redirects only the
    * default-graph scans (Update §3.1.3). */
  def compileUpdateWhere(p: GraphPattern, using: DatasetClause,
      withGraph: Option[String]): DataFrame = {
    if (!using.isEmpty) dataset = using
    else withDefault = withGraph
    compile(p)
  }

  /** True when scans cannot use the single-graph fast paths (vertical
    * index, star tables): the store has quads, a GRAPH scope is active,
    * or a dataset clause redefines the default graph. */
  private def quadScoped: Boolean =
    hasQuads || activeGraph.isDefined || !dataset.isEmpty ||
      withDefault.isDefined

  /** The triples visible to a scan under the current graph scope:
    *  - no scope (default graph): g IS NULL, or g ∈ FROM set when the
    *    query redefines the default graph (RDF merge of those graphs);
    *  - GRAPH <iri>: g = iri, and iri must be in FROM NAMED when given;
    *  - GRAPH ?var: any named graph, restricted to FROM NAMED when given.
    * A triple-only store has no named graphs: GRAPH patterns and FROM
    * clauses over it match nothing (the dataset has no such graphs). */
  private def scanBase: DataFrame =
    if (!hasQuads) {
      if (activeGraph.isEmpty && dataset.isEmpty && withDefault.isEmpty) graph
      else graph.limit(0)
    } else activeGraph match {
      case None if withDefault.isDefined && dataset.isEmpty =>
        graph.where(partIs(withDefault.get) &&
          F.col("g").isNotNull && F.col("g.kind") === KIND_IRI &&
          F.col("g.value") === withDefault.get)
      case None =>
        if (dataset.isEmpty) graph.where(partDefault && F.col("g").isNull)
        else if (dataset.defaults.isEmpty) graph.limit(0)
        else graph.where(partIn(dataset.defaults) &&
          F.col("g").isNotNull &&
          F.col("g.kind") === KIND_IRI &&
          F.col("g.value").isin(dataset.defaults.map(F.lit(_)): _*))
      case Some(TermNode(Iri(iri))) =>
        if (!dataset.isEmpty && !dataset.named.contains(iri)) graph.limit(0)
        else graph.where(partIs(iri) &&
          F.col("g").isNotNull &&
          F.col("g.kind") === KIND_IRI && F.col("g.value") === iri)
      case Some(TermNode(_)) => graph.limit(0) // graph names are IRIs
      case Some(VarNode(_)) =>
        val named = graph.where(partNamed && F.col("g").isNotNull)
        if (dataset.isEmpty) named
        else if (dataset.named.isEmpty) graph.limit(0)
        else named.where(partIn(dataset.named) &&
          F.col("g.kind") === KIND_IRI &&
          F.col("g.value").isin(dataset.named.map(F.lit(_)): _*))
    }

  /** Constant-predicate scan via the vertical-partition index when
    * available (predicate-pruned two-column relation; the 100 TB path),
    * else the scope-filtered triple table filtered on p. */
  private def predScan(predIri: String): DataFrame =
    rdfGraph.predIndex.get(predIri) match {
      case Some(so) if !quadScoped => so
      case _ => scanBase.where(F.col("p") === termCol(Iri(predIri)))
        .select(F.col("s"), F.col("o"))
    }

  private var synCounter = 0
  private def syn(prefix: String): String = {
    synCounter += 1; s"__${prefix}$synCounter"
  }

  // --------------------------------------------- native companion columns
  //
  // Two flavors of hidden companion column ride beside term structs so
  // that joins, aggregations and exchanges run on PRIMITIVES instead of
  // the 4-field struct-of-strings (guide §2.3 "shuffle fewer bytes"):
  //
  //  - `__nk:<id>:<var>` (LongType): the subject/object IRI is
  //    synthesized as `tmpl + key` from an integral source column
  //    (Tables.predIndex → RdfGraph.predNat); the companion holds the
  //    RAW 8-byte key. Within one template, key → IRI is injective, so
  //    long equality ⟺ struct equality.
  //  - `__lv:<id>:<var>` (StringType): the predicate's objects are
  //    PROVEN single-datatype literals (RdfGraph.predObjTypes, schema
  //    metadata of the direct mapping); the companion holds the term's
  //    LEXICAL value. With kind/dt/lang fixed by the proof, lexical
  //    equality ⟺ struct equality — exactly, including the -0.0/0.0
  //    and NaN corners a native-numeric companion would merge.
  //
  // Two bindings tables sharing a variable with the SAME companion name
  // (same template/signature) join on the companion; a GROUP BY on such
  // a variable keys on the companion and rebuilds the struct once per
  // GROUP. A companion is null exactly when its term column is null
  // (every bound term has a non-null lexical/IRI/label), so null-key
  // groups and unmatched-outer-row behavior are unchanged.

  /** One id space for both flavors (template strings and literal
    * signatures can't collide: signatures are namespaced), so a bare id
    * match implies the same flavor AND the same template/signature. */
  private val tmplIds = mutable.HashMap[String, Int]()
  private val LitSig = "\u0000lit:"
  private def nkName(tmpl: String, v: String): String =
    s"__nk:${tmplIds.getOrElseUpdate(tmpl, tmplIds.size)}:$v"
  private def lvName(dt: String, v: String): String =
    s"__lv:${tmplIds.getOrElseUpdate(LitSig + dt, tmplIds.size)}:$v"
  /** Is `c` a companion column of either flavor? (Both prefixes are 5
    * chars, so the id/var parsers below serve both.) */
  private def isComp(c: String): Boolean =
    c.startsWith("__nk:") || c.startsWith("__lv:")
  /** Template/signature id of a companion column name. */
  private def nkId(c: String): String = c.substring(5).takeWhile(_ != ':')
  /** The companion's variable, renamed: same flavor+template, new var. */
  private def nkRename(c: String, newVar: String): String =
    s"${c.substring(0, 5)}${nkId(c)}:$newVar"
  /** The variable a companion column accompanies. */
  private def nkVar(c: String): String =
    c.substring(5).dropWhile(_ != ':').drop(1)
  /** The companion columns of variable `v` in `df`. A variable can
    * carry SEVERAL companions (one per template it was scanned under —
    * e.g. a var asserted as both a nation and a region subject);
    * `nkAll` returns them all (raw-long keys first — the cheaper join
    * key), `nkOf` the first. */
  private def nkOf(df: DataFrame, v: String): Option[String] =
    nkAll(df, v).headOption
  private def nkAll(df: DataFrame, v: String): Seq[String] =
    df.columns.filter(c => isComp(c) && nkVar(c) == v).toSeq
      .sortBy(c => if (c.startsWith("__nk:")) 0 else 1)
  private def nkCols(df: DataFrame): Seq[String] =
    df.columns.filter(isComp).toSeq

  /** The single proven literal datatype of predicate `p`'s objects, if
    * the schema metadata promises one (lang is always null there: the
    * direct mapping never emits language-tagged literals). Session
    * kill-switch `spark.graft.literalCompanions=false` suppresses the
    * companions (operational escape hatch + interleaved A/B). */
  private def litSig(p: String): Option[String] =
    if (spark.conf.get("spark.graft.literalCompanions", "true") != "true")
      None
    else rdfGraph.predObjTypes.get(p) match {
      case Some(ts) if ts.size == 1 => ts.head match {
        case LitObj(dt) => Some(dt)
        case _ => None
      }
      case _ => None
    }

  /** Rebuild the term struct of a companion column — the inverse of the
    * scan-side companion projection, applied once per GROUP after a
    * companion-keyed aggregation. Null companion ⟺ null term. */
  private def termOfComp(c: String, col: Column): Column = {
    val key = tmplIds.collectFirst {
      case (k, id) if id.toString == nkId(c) => k
    }.getOrElse(throw new IllegalStateException(s"unknown companion $c"))
    val t =
      if (c.startsWith("__nk:"))
        Terms.iri(F.concat(F.lit(key), col.cast(StringType)))
      else Terms.lit(col, key.stripPrefix(LitSig))
    F.when(col.isNull, F.lit(null).cast(Terms.termType)).otherwise(t)
  }

  /** Parse `iri` as `tmpl + <canonical long>`; None when it doesn't match
    * (then no synthesized-subject row can equal it). */
  private def iriKey(tmpl: String, iri: String): Option[Long] =
    if (iri.startsWith(tmpl)) {
      val sfx = iri.substring(tmpl.length)
      try { val k = sfx.toLong; if (k.toString == sfx) Some(k) else None }
      catch { case _: NumberFormatException => None }
    } else None

  // ------------------------------------------------------------ patterns

  def compile(p: GraphPattern): DataFrame = p match {
    case Unit0 => oneRowDf
    case Bgp(ts) => compileBgp(ts)
    // bound join (the FedX optimization): a SERVICE joined with a local
    // pattern ships the local side's bindings as a VALUES clause, so the
    // remote evaluates its pattern restricted to candidate rows instead
    // of its whole extent
    case Join(l, s: Service) =>
      val left = compile(l)
      val right = compileService(s.endpoint, s.p, s.silent,
        seed = Some((left, boundInjectVars(l, s))))
      joinCompat(left, right, maybeUnbound(l), maybeUnbound(s))
    // group-level FILTERs sit above the Join in the algebra; the ones
    // touching only local vars also restrict the bound-join seed (safe:
    // remote solutions compatible only with filter-failing local rows
    // would die in the outer filter anyway — the wire query just stops
    // shipping candidates the result can never contain)
    case Filter(Join(l, s: Service), exprs) =>
      val left = compile(l)
      // only filters over vars CERTAINLY bound locally may restrict the
      // seed: a maybe-unbound var that the service also binds would be
      // coalesced from the remote side by the join, so the filter's
      // post-join verdict on a row can differ from its pre-join one —
      // pushing such a filter would drop valid results
      val leftVars = inScopeVars(l) -- maybeUnbound(l)
      val pushable = exprs.filter(e => exprVars(e).subsetOf(leftVars))
      val seedDf =
        if (pushable.isEmpty) left
        else applyFilters(left, pushable, maybeUnbound(l))
      val right = compileService(s.endpoint, s.p, s.silent,
        seed = Some((seedDf, boundInjectVars(l, s))))
      applyFilters(
        joinCompat(left, right, maybeUnbound(l), maybeUnbound(s)),
        exprs, maybeUnbound(Join(l, s)))
    case Join(s: Service, r) =>
      val right = compile(r)
      val left = compileService(s.endpoint, s.p, s.silent,
        seed = Some((right, boundInjectVars(r, s))))
      joinCompat(left, right, maybeUnbound(s), maybeUnbound(r))
    case Join(l, r) =>
      joinCompat(compile(l), compile(r), maybeUnbound(l), maybeUnbound(r))
    case LeftJoin(l, r, filters) =>
      leftJoin(compile(l), compile(r), filters,
        maybeUnbound(l) ++ maybeUnbound(r))
    case Minus(l, r) =>
      minusJoin(compile(l), compile(r), maybeUnbound(l) ++ maybeUnbound(r))
    case Union(l, r) =>
      val (a, b) = (compile(l), compile(r))
      unionByNamePadded(a, b)
    case Filter(Bgp(ts), exprs) =>
      // push translatable predicates into the star scans (parquet
      // row-group skipping), then apply full SPARQL semantics on top
      applyFilters(compileBgp(ts, exprs), exprs, Set.empty)
    case Filter(q, exprs) => applyFilters(compile(q), exprs, maybeUnbound(q))
    case Extend(q, v, e) =>
      val df = compile(q)
      // an expression ERROR leaves the BIND variable unbound — a NULL
      // term struct, never a struct whose value field is null (every
      // bound RDF term has a lexical/IRI/label)
      val t = exprC(df).term(e)
      df.withColumn(v,
        F.when(Terms.value(t).isNull, F.lit(null).cast(Terms.termType))
          .otherwise(t))
    case td: TableData => tableDataDf(td)
    case SubSelect(q) => compileSelect(q, keepCompanions = true)
    case GraphPat(g, p) =>
      val prev = activeGraph
      val prevPin = graphVarPin
      activeGraph = Some(g)
      graphVarPin = None // a nested GRAPH re-scopes; the outer pin ends
      try {
        if (graphEnforced(g, p)) compile(p)
        else compileGraphRare(g, p)
      } finally { activeGraph = prev; graphVarPin = prevPin }
    case Service(ep, p, silent) => compileService(ep, p, silent)
  }

  /** True when every solution of `p` under a GRAPH scope necessarily
    * flowed through a triple scan (which enforces membership in the
    * active graph and, for a variable graph name, binds it). When this
    * holds, compiling under `activeGraph` alone implements §18.5.1's
    * per-named-graph union exactly — the overwhelmingly common case.
    * When it does NOT hold (scan-less leaves like VALUES / BIND-only
    * groups, subselects, nested GRAPH), rows could bypass the graph
    * constraint and [[compileGraphRare]] must enforce the algebra. */
  private def graphEnforced(g: Node, p: GraphPattern): Boolean = p match {
    case Bgp(ts) => ts.nonEmpty
    case Join(l, r) => graphEnforced(g, l) || graphEnforced(g, r)
    case LeftJoin(l, _, _) => graphEnforced(g, l)
    case Minus(l, _) => graphEnforced(g, l)
    case Union(l, r) => graphEnforced(g, l) && graphEnforced(g, r)
    case Filter(q, _) => graphEnforced(g, q)
    case Extend(q, v2, _) => (g match {
      case VarNode(v) => v != v2
      case _ => true
    }) && graphEnforced(g, q)
    case _ => false // TableData, Unit0, SubSelect, GraphPat, Service
  }

  /** §18.5.1 Graph(term, P) for patterns whose solutions can bypass the
    * scan-level graph constraint. Constant graph name: P evaluates
    * against that graph only if it IS a graph name of the (scoped)
    * dataset — the REC makes `GRAPH <absent> { VALUES … }` EMPTY, not
    * the VALUES rows. Variable graph name: the union over the scoped
    * named graphs of P evaluated per graph, the variable bound to each
    * name in turn — compiled as one branch per name (names enumerated
    * from the store, capped: a graph variable unbound by any scan is a
    * degenerate shape, and an uncapped per-name union would explode
    * the plan on a many-graph store). */
  private val GraphUnionMax = 64
  private def compileGraphRare(g: Node, p: GraphPattern): DataFrame = {
    // scanBase under the current activeGraph already encodes the
    // FROM NAMED restriction and the quad/triple store distinction
    g match {
      case TermNode(_) =>
        val df = compile(p)
        if (scanBase.isEmpty) df.limit(0) else df
      case VarNode(v) => perGraphUnion(v, () => compile(p))
    }
  }

  /** One compiled branch per named graph of the current (variable)
    * GRAPH scope, the graph variable pinned to each name — §18.5.1's
    * union, for shapes the scan-level constraint can't carry (see
    * callers). `body` runs with `activeGraph` set to each constant
    * name in turn; names are enumerated from the FROM NAMED-scoped
    * store and capped (per-name plans on a many-graph store would
    * explode — these shapes want a scan-anchored rewrite instead). */
  private def perGraphUnion(v: String, body: () => DataFrame): DataFrame = {
    val nameRows = scanBase.select(F.col("g")).distinct()
      .limit(GraphUnionMax + 1).collect()
    if (nameRows.length > GraphUnionMax)
      throw new IllegalArgumentException(
        s"GRAPH ?$v here needs one evaluation per named graph " +
          s"(scan-less group or property path); this store has more " +
          s"than $GraphUnionMax named graphs — name the graph or " +
          "anchor the group with a plain triple pattern")
    val names = nameRows.toSeq.map(r => rowTerm(r.getStruct(0)))
    val prev = activeGraph
    val prevPin = graphVarPin
    val branches = names.map { nm =>
      activeGraph = Some(TermNode(nm))
      graphVarPin = Some(v) // scans bind ?v = nm, like the fast path
      val df = try body() finally {
        activeGraph = prev; graphVarPin = prevPin
      }
      if (df.columns.contains(v))
        df.where(F.col(v).isNull || F.col(v) === termCol(nm))
          .withColumn(v, termCol(nm))
      else df.withColumn(v, termCol(nm))
    }
    // branches compile the same pattern, so columns align positionally,
    // but SYNTHETIC names (__askN, __gkeyN) carry per-branch counters —
    // rename to the first branch's schema before the union
    branches.reduceOption((a, b) => a.union(b.toDF(a.columns: _*)))
      .getOrElse {
      // no named graphs in scope: empty, with the right schema — body
      // compiles against a graph name that cannot exist
      activeGraph = Some(TermNode(Iri("urn:graft:absent-graph")))
      val df = try body() finally activeGraph = prev
      df.withColumn(v, F.lit(null).cast(Terms.termType)).limit(0)
    }
  }

  /** SERVICE federation: render the sub-pattern back to query text
    * (Render), ship it to the remote endpoint through the DataSourceV2
    * SPARQL-protocol source (executor-side JSON decode — remote rows
    * never gather on the driver), and hand the term-struct bindings to
    * the surrounding compatible join. SILENT per spec: a failing
    * service evaluates to the single empty solution μ0 — failure has to
    * be OBSERVED to be silenced, so SILENT eagerly materializes the
    * remote fetch (localCheckpoint) and catches; non-SILENT stays fully
    * lazy/streamed. */
  /** Injection cap: past this many distinct local rows the VALUES
    * clause stops being the cheap side and the fetch goes unrestricted. */
  private val ServiceBoundMax = 1000

  /** Vars safe to ship as VALUES into a joined SERVICE: shared between
    * the sides AND certainly bound on both — a left-maybe-unbound var
    * would inject UNDEF (matches everything, restricting nothing), and
    * a remote-maybe-unbound var would let one remote solution match
    * several VALUES rows, inflating its multiplicity. */
  private def boundInjectVars(local: GraphPattern, s: Service): Seq[String] =
    (inScopeVars(local).intersect(inScopeVars(s.p)) --
      maybeUnbound(local) -- maybeUnbound(s.p))
      .filterNot(_.startsWith("_:")).toSeq.sorted

  private def compileService(ep: Node, p: GraphPattern,
      silent: Boolean,
      seed: Option[(DataFrame, Seq[String])] = None): DataFrame = {
    val url = ep match {
      case TermNode(Iri(u)) => u
      case VarNode(v) => throw new IllegalArgumentException(
        s"SERVICE endpoint must be a constant IRI; got variable ?$v " +
          "(variable endpoints are not supported)")
      case TermNode(t) => throw new IllegalArgumentException(
        s"SERVICE endpoint must be an IRI; got ${t.n3()}")
    }
    val vars = inScopeVars(p).filterNot(_.startsWith("_:")).toSeq.sorted
    try {
      if (vars.isEmpty) {
        // constant-only pattern (SERVICE <ep> { <s> <p> <o> }): ASK-like
        // — one empty solution when the remote holds a match, else none
        val probe = spark.read.format("sparql")
          .option("url", url)
          .option("query",
            s"SELECT (1 AS ?__c) WHERE ${Render.pattern(p)} LIMIT 1")
          .option("vars", "__c")
          .option("timeoutMs", "60000")
          .load()
        return if (probe.limit(1).count() > 0) oneRowDf else oneRowDf.limit(0)
      }
      // bound-join injection: prepend the local side's distinct bindings
      // as VALUES when they are few enough and blank-free (local blank
      // labels must never equate with remote ones). An EMPTY local side
      // short-circuits: the join is provably empty, so skip the remote
      // fetch entirely.
      val shipped = seed match {
        case Some((local, sv)) if sv.nonEmpty =>
          val rows = local.select(sv.map(F.col): _*).distinct()
            .limit(ServiceBoundMax + 1).collect()
          if (rows.isEmpty)
            return spark.range(0).select(vars.map(v =>
              F.lit(null).cast(termType).as(v)): _*)
          val hasBlank = rows.exists(row => sv.indices.exists(i =>
            !row.isNullAt(i) && row.getStruct(i).getByte(0) == KIND_BLANK))
          if (rows.length > ServiceBoundMax || hasBlank) p
          else Join(TableData(sv, rows.toSeq.map(row => sv.indices.map(i =>
            if (row.isNullAt(i)) None
            else Some(rowTerm(row.getStruct(i)))))), p)
        case _ => p
      }
      val text =
        s"SELECT ${vars.map("?" + _).mkString(" ")} WHERE ${Render.pattern(shipped)}"
      val df = spark.read.format("sparql")
        .option("url", url)
        .option("query", text)
        .option("vars", vars.mkString(","))
        .option("timeoutMs", "60000")
        .load()
      if (silent) df.localCheckpoint(true) else df
    } catch {
      case _: Exception if silent => oneRowDf // μ0: one empty solution
    }
  }

  private def oneRowDf: DataFrame = {
    val marker = syn("unit")
    spark.range(1).select(F.lit(1).as(marker))
  }

  private def exprC(df: DataFrame): ExprCompiler = {
    val cols = df.columns.toSet
    new ExprCompiler(v => if (cols(v)) Some(df(v)) else None)
  }

  /** Vars that may be UNBOUND (null) in some solution of `p` — the
    * trigger for SPARQL compatible-join semantics (unbound matches
    * anything, the result takes the bound side's value), which Spark's
    * null-dropping equi-join does not implement. Plain BGPs bind all
    * their vars; nulls enter via OPTIONAL's right side, UNION branch
    * padding, BIND evaluation errors, and VALUES UNDEF. */
  private def maybeUnbound(p: GraphPattern): Set[String] = p match {
    case Unit0 => Set.empty
    case Bgp(_) => Set.empty
    case Join(l, r) =>
      val (ml, mr) = (maybeUnbound(l), maybeUnbound(r))
      val certL = inScopeVars(l) -- ml
      val certR = inScopeVars(r) -- mr
      (ml -- certR) ++ (mr -- certL) // coalesce: bound side wins
    case LeftJoin(l, r, _) =>
      maybeUnbound(l) ++
        (inScopeVars(r) -- (inScopeVars(l) -- maybeUnbound(l)))
    case Minus(l, _) => maybeUnbound(l)
    case Union(l, r) =>
      maybeUnbound(l) ++ maybeUnbound(r) ++
        (inScopeVars(l) -- inScopeVars(r)) ++
        (inScopeVars(r) -- inScopeVars(l))
    case Filter(q, _) => maybeUnbound(q)
    case Extend(q, v, _) => maybeUnbound(q) + v
    case TableData(vars, rows) =>
      vars.zipWithIndex.collect {
        case (v, i) if rows.exists(_(i).isEmpty) => v
      }.toSet
    case SubSelect(q) => selectMaybeUnbound(q)
    case GraphPat(_, p) => maybeUnbound(p) // ?g itself always binds
    // remote solutions may leave any var unbound (remote OPTIONAL/UNION
    // — and a SILENT failure binds nothing at all): always compat-join
    case Service(_, p, _) => inScopeVars(p)
  }

  private def selectMaybeUnbound(q: SelectQuery): Set[String] =
    q.projection match {
      case SelectAll => maybeUnbound(q.where)
      case SelectVars(items) => items.collect {
        case i if (i.expr match {
          // a projected var the WHERE never mentions is legal SPARQL
          // and ALWAYS unbound — without the in-scope check the outer
          // join would equi-join on its null column and drop every row
          case ExVar(v) =>
            maybeUnbound(q.where)(v) || !inScopeVars(q.where)(v)
          case _ => true // computed/aggregate projections may be null
        }) => i.name
      }.toSet
    }

  /** SPARQL compatible-join. Vars provably bound on both sides (the
    * common case — plain BGP conjunction) take the equi-join fast path
    * below (native-key aware, shuffle-hash/SMJ plannable). Only shared
    * vars that may be unbound (OPTIONAL/UNION padding) pay the
    * condition join: `unbound matches anything` is not an equi-join, so
    * Spark plans BNLJ — correctness over speed on a shape the corpus
    * only uses with small inputs. */
  private def joinCompat(l: DataFrame, r: DataFrame,
      mUl: Set[String], mUr: Set[String]): DataFrame = {
    val shared = sharedVars(l, r)
    val unsafe = shared.filter(v => mUl(v) || mUr(v))
    if (unsafe.isEmpty) return joinBindings(l, r)
    val pre = "__JR_"
    val r2 = r.select(r.columns.map(c => r(c).as(pre + c)).toSeq: _*)
    def rc(c: String) = F.col(pre + c)
    val safe = shared.filterNot(unsafe.contains)
    val cond = (safe.map(v => F.col(v) === rc(v)) ++
      unsafe.map(v => F.col(v).isNull || rc(v).isNull || F.col(v) === rc(v)))
      .reduce(_ && _)
    val joined = l.join(r2, cond, "inner")
    val unsafeSet = unsafe.toSet
    // coalesced vars can take either side's value → their companions die
    val lCols = l.columns.toSeq.flatMap { c =>
      if (unsafeSet(c)) Some(F.coalesce(F.col(c), rc(c)).as(c))
      else if (isComp(c) && unsafeSet(nkVar(c))) None
      else Some(F.col(c))
    }
    val rCols = r.columns.toSeq.flatMap { c =>
      if (l.columns.contains(c)) None // shared var/companion — left wins
      else if (isComp(c) && unsafeSet(nkVar(c))) None
      else Some(rc(c).as(c))
    }
    joined.select(lCols ++ rCols: _*)
  }

  /** Name-based equi-join on shared variable columns; cross join when
    * disjoint. Internal marker columns (__unitN) never join. Shared vars
    * whose BOTH sides carry the same native-key companion join on the
    * 8-byte long; the right side's (equal) term struct is dropped. */
  private def joinBindings(l: DataFrame, r: DataFrame): DataFrame =
    joinBindings(l, r, Long.MaxValue, Long.MaxValue)

  /** [[joinBindings]] with row estimates: build-side steering (see
    * [[steerSides]]) applies when both sides' sizes are known. */
  private def joinBindings(l0: DataFrame, r0: DataFrame, estL: Long,
      estR: Long): DataFrame = {
    val shared = sharedVars(l0, r0)
    if (shared.isEmpty) l0.crossJoin(r0)
    else {
      val (l, r) = steerSides(l0, estL, r0, estR)
      val (keys, dropRight) = nativeJoinKeys(l, r, shared)
      l.join(r.drop(dropRight: _*), keys, "inner")
    }
  }

  /** Build-side steering shared by BGP and path-chain joins (the r12
    * sf1 outlier: Catalyst broadcast a 6M-row fact scan because the
    * narrow projection's BYTE estimate slipped under the threshold).
    * Hints fire only when the statistics say Catalyst could get it
    * wrong: a known-SMALL side joining a known-BIG one → explicit
    * broadcast of the small side; both sides known-big → shuffle_hash
    * on the smaller (parallel per-partition build, no driver-built
    * relation, no sort — the 100×-safe plan). Everything else —
    * unknown estimates, and small-small joins where Catalyst's own
    * choice (including a pre-bucketed zero-exchange join) is already
    * right — stays unhinted. */
  private def steerSides(l0: DataFrame, estL: Long, r0: DataFrame,
      estR: Long): (DataFrame, DataFrame) = {
    def one(df: DataFrame, est: Long, other: Long): DataFrame =
      if (est == Long.MaxValue || est > other) df
      else if (est <= BroadcastRowBound)
        if (other > BroadcastRowBound && other != Long.MaxValue)
          F.broadcast(df)
        else df
      else if (other != Long.MaxValue) df.hint("shuffle_hash")
      else df
    (one(l0, estL, estR), one(r0, estR, estL))
  }

  /** Join-key plan for shared vars: vars with a common companion on both
    * sides join on the companion (first element of the result) and their
    * struct column is dropped from the right side (second element — it
    * equals the left's after the join); the rest join by struct name.
    * Any OTHER same-named companion of a shared var on the right is also
    * dropped: same name ⟹ same (template, var), and the var's values
    * coincide after the join, so the copies are equal — keeping both
    * would make the name ambiguous downstream. */
  private def nativeJoinKeys(l: DataFrame, r: DataFrame,
      shared: Seq[String]): (Seq[String], Seq[String]) = {
    val native = shared.flatMap { v =>
      (nkAll(l, v) intersect nkAll(r, v)).headOption.map(v -> _)
    }
    val natVars = native.map(_._1)
    val keys = native.map(_._2) ++ shared.filterNot(natVars.contains)
    val dupNk = l.columns.toSet.intersect(r.columns.toSet)
      .filter(isComp).diff(keys.toSet).toSeq
    (keys, natVars ++ dupNk)
  }

  private def sharedVars(l: DataFrame, r: DataFrame): Seq[String] =
    l.columns.filterNot(_.startsWith("__"))
      .filter(r.columns.toSet).toSeq

  /** UNION: pad missing vars with null. Companions survive only when BOTH
    * branches carry the same one — null-padding a companion that the other
    * branch binds as a struct would make later native joins drop rows. */
  private def unionByNamePadded(a0: DataFrame, b0: DataFrame): DataFrame = {
    val common = nkCols(a0).toSet intersect nkCols(b0).toSet
    val a = a0.drop(nkCols(a0).filterNot(common): _*)
    val b = b0.drop(nkCols(b0).filterNot(common): _*)
    a.unionByName(b, allowMissingColumns = true)
  }

  /** SPARQL LeftJoin: OPTIONAL's inner FILTER participates in the join
    * condition (references left vars), not as a post-filter —
    * SURVEY.md §2B Joins. Shared vars in `unsafe` (maybe-unbound on
    * either side) use the compatible-join condition + coalesce. */
  /** Is this filter a top-level (NOT) EXISTS — the shape applyFilters
    * evaluates via semi/anti join rather than as a column expression? */
  private def isExistsFilter(e: Expr): Boolean = e match {
    case ExExists(_, _) => true
    case ExNot(ExExists(_, _)) => true
    case _ => false
  }

  private def leftJoin(l: DataFrame, r: DataFrame, filters: Seq[Expr],
      unsafe0: Set[String]): DataFrame = {
    if (filters.exists(isExistsFilter))
      return leftJoinExists(l, r, filters, unsafe0)
    val shared = sharedVars(l, r)
    val unsafe = shared.filter(unsafe0).toSet
    if (filters.isEmpty && unsafe.isEmpty) {
      if (shared.isEmpty) l.join(r, F.lit(true), "left_outer")
      else {
        val (keys, dropRight) = nativeJoinKeys(l, r, shared)
        l.join(r.drop(dropRight: _*), keys, "left_outer")
      }
    } else {
      // rename right columns so the join condition can reference both
      // sides; right-exclusive vars keep their native-key companions so
      // downstream joins on those vars stay on raw longs
      val rCols = r.columns.filterNot(_.startsWith("__")).toSeq
      val rNk = r.columns
        .filter(c => isComp(c) && !shared.contains(nkVar(c))).toSeq
      val ren = (rCols ++ rNk).map(c => c -> s"__R_$c").toMap
      val r2 = r.select((rCols ++ rNk).map(c => r(c).as(ren(c))): _*)
      val eqCond = shared.map { v =>
        if (unsafe(v)) l(v).isNull || r2(ren(v)).isNull || l(v) === r2(ren(v))
        else l(v) === r2(ren(v))
      }.reduceOption(_ && _).getOrElse(F.lit(true))
      // filter env over the MERGED mapping (§18.2.2.5: the LeftJoin
      // condition sees both sides): a shared maybe-unbound var takes
      // whichever side bound it, a safe shared var is equal on both
      val fEnv = new ExprCompiler(v =>
        if (shared.contains(v))
          Some(if (unsafe(v)) F.coalesce(l(v), r2(ren(v))) else l(v))
        else if (ren.contains(v)) Some(r2(ren(v)))
        else if (l.columns.contains(v)) Some(l(v))
        else None)
      val cond = filters.map(fEnv.bool).foldLeft(eqCond)(_ && _)
      val joined = l.join(r2, cond, "left_outer")
      val keep = l.columns.toSeq.flatMap { c =>
        if (unsafe(c)) Some(F.coalesce(joined(c), joined(ren(c))).as(c))
        else if (isComp(c) && unsafe(nkVar(c))) None
        else Some(joined(c).as(c))
      } ++ (rCols.filterNot(shared.contains) ++ rNk)
        .map(c => joined(ren(c)).as(c))
      joined.select(keep: _*)
    }
  }

  /** LeftJoin whose in-join filter list contains (NOT) EXISTS — e.g.
    * `OPTIONAL { P FILTER EXISTS { Q } }`. The EXISTS must be evaluated
    * per CANDIDATE joined row (it correlates a subpattern with vars from
    * both sides), which a join condition cannot express. Evaluate the
    * inner join with the plain filters in the condition, re-project to
    * SPARQL var names, apply the EXISTS filters via their semi/anti
    * joins, then union back the left rows that matched nothing (right
    * vars null-padded). Only this rare shape pays the extra anti-join;
    * ordinary OPTIONALs keep the single left_outer plan. */
  private def leftJoinExists(l: DataFrame, r: DataFrame, filters: Seq[Expr],
      unsafe0: Set[String]): DataFrame = {
    val shared = sharedVars(l, r)
    val unsafe = shared.filter(unsafe0).toSet
    val (existsF, plainF) = filters.partition(isExistsFilter)
    val rCols = r.columns.filterNot(_.startsWith("__")).toSeq
    val rNk = r.columns
      .filter(c => isComp(c) && !shared.contains(nkVar(c))).toSeq
    val ren = (rCols ++ rNk).map(c => c -> s"__R_$c").toMap
    val r2 = r.select((rCols ++ rNk).map(c => r(c).as(ren(c))): _*)
    val eqCond = shared.map { v =>
      if (unsafe(v)) l(v).isNull || r2(ren(v)).isNull || l(v) === r2(ren(v))
      else l(v) === r2(ren(v))
    }.reduceOption(_ && _).getOrElse(F.lit(true))
    // merged-mapping env, same rule as leftJoin's
    val fEnv = new ExprCompiler(v =>
      if (shared.contains(v))
        Some(if (unsafe(v)) F.coalesce(l(v), r2(ren(v))) else l(v))
      else if (ren.contains(v)) Some(r2(ren(v)))
      else if (l.columns.contains(v)) Some(l(v))
      else None)
    val cond = plainF.map(fEnv.bool).foldLeft(eqCond)(_ && _)
    val joined = l.join(r2, cond, "inner")
    // var-name view of the joined candidates, keeping the original left
    // values under __L_ so unmatched left rows can be recovered exactly
    val lVis = l.columns.toSeq
    val keep = lVis.flatMap { c =>
      if (unsafe(c)) Some(F.coalesce(joined(c), joined(ren(c))).as(c))
      else if (isComp(c) && unsafe(nkVar(c))) None
      else Some(joined(c).as(c))
    } ++ (rCols.filterNot(shared.contains) ++ rNk)
      .map(c => joined(ren(c)).as(c)) ++
      lVis.map(c => joined(c).as("__L_" + c))
    val candidates = joined.select(keep: _*)
    val matched = applyFilters(candidates, existsF, unsafe0)
    val probe = matched
      .select(lVis.map(c => matched("__L_" + c).as("__P_" + c)): _*)
    val bareCond = lVis.map(c => l(c) <=> probe("__P_" + c))
      .reduceOption(_ && _).getOrElse(F.lit(true))
    val bare = l.join(probe, bareCond, "left_anti")
    unionByNamePadded(matched.drop(lVis.map("__L_" + _): _*), bare)
  }

  /** SPARQL MINUS with the disjoint-domain rule: when the two sides share
    * no variables nothing is removed (SURVEY.md §2B — the corpus exercises
    * partially-shared and no-shared-var MINUS). With maybe-unbound shared
    * vars the spec's per-solution rule applies: remove μ1 when some μ2 is
    * compatible AND their bound domains overlap. */
  private def minusJoin(l: DataFrame, r: DataFrame,
      unsafe0: Set[String]): DataFrame = {
    val shared = sharedVars(l, r)
    val unsafe = shared.filter(unsafe0)
    if (shared.isEmpty) l
    else if (unsafe.isEmpty) {
      val (keys, _) = nativeJoinKeys(l, r, shared)
      l.join(r.select(keys.map(r(_)): _*), keys, "left_anti")
    } else {
      val pre = "__MR_"
      val r2 = r.select(shared.map(v => r(v).as(pre + v)): _*)
      def rc(v: String) = F.col(pre + v)
      val compat = shared.map(v => l(v).isNull || rc(v).isNull || l(v) === rc(v))
        .reduce(_ && _)
      val overlap = shared.map(v => l(v).isNotNull && rc(v).isNotNull)
        .reduce(_ || _)
      l.join(r2, compat && overlap, "left_anti")
    }
  }

  private def applyFilters(df0: DataFrame, exprs: Seq[Expr],
      mU: Set[String]): DataFrame = {
    var df = df0
    exprs.foreach {
      case ExExists(p, neg) => df = existsJoin(df, p, neg, mU)
      case ExNot(ExExists(p, neg)) => df = existsJoin(df, p, !neg, mU)
      case e =>
        val c = exprC(df).bool(e)
        df = df.where(c <=> F.lit(true)) // 3-valued: null → drop
    }
    df
  }

  /** FILTER (NOT) EXISTS — correlated on all shared variables via
    * left_semi / left_anti join. Substitution semantics for maybe-unbound
    * vars on EITHER side: an UNBOUND outer var is not substituted, so it
    * leaves the inner pattern's var free (outer null matches anything);
    * an inner solution that binds a shared var only optionally imposes no
    * constraint on it after substitution (inner null matches anything).
    * Known residual divergence from strict substitution semantics (a
    * contested spec-errata corner): an inner OPTIONAL that binds the var
    * to a CONFLICTING value suppresses the match here, whereas
    * substituting the outer constant into the OPTIONAL would let the
    * OPTIONAL fail and the solution survive. */
  private def existsJoin(l: DataFrame, p: GraphPattern, negated: Boolean,
      mU: Set[String]): DataFrame = {
    val r = compile(p)
    val rU = maybeUnbound(p)
    val shared = sharedVars(l, r)
    val how = if (negated) "left_anti" else "left_semi"
    val unsafe = shared.filter(v => mU(v) || rU(v))
    if (shared.isEmpty) {
      // uncorrelated: keep all or none depending on emptiness of r
      val marker = syn("ex")
      val probe = r.limit(1).select(F.lit(1).as(marker))
      if (negated) l.join(probe, F.lit(true), "left_anti")
      else l.join(probe, F.lit(true), "left_semi")
    } else if (unsafe.isEmpty) {
      val (keys, _) = nativeJoinKeys(l, r, shared)
      l.join(r.select(keys.map(r(_)): _*), keys, how)
    } else {
      val pre = "__ER_"
      val r2 = r.select(shared.map(v => r(v).as(pre + v)): _*)
      val cond = shared.map { v =>
        var c = l(v) === r2(pre + v)
        if (mU(v)) c = l(v).isNull || c
        if (rU(v)) c = c || r2(pre + v).isNull
        c
      }.reduce(_ && _)
      l.join(r2, cond, how)
    }
  }

  private def tableDataDf(td: TableData): DataFrame = {
    def termRow(t: RdfTerm): Row = t match {
      case Iri(v) => Row(KIND_IRI, v, null, null)
      case Blank(b) => Row(KIND_BLANK, b, null, null)
      case Lit(lex, dt, lang) => Row(KIND_LIT, lex, dt, lang)
    }
    val schema = StructType(td.vars.map(v => StructField(v, Terms.termType, nullable = true)))
    val rows = td.rows.map(r => Row(r.map(_.map(termRow).orNull): _*))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  // ------------------------------------------------------------------ BGP

  /** BGP compilation with star-join elimination: patterns sharing a
    * subject variable whose constant predicates all live in ONE property
    * table (RdfGraph.starTables) compile to a single wide scan — zero
    * self-joins, and Catalyst prunes the parquet read to exactly the
    * referenced columns. Anything not covered falls back to per-pattern
    * vertical scans chained with equi-joins. */
  private def compileBgp(ts: Seq[TriplePattern],
      pushFilters: Seq[Expr] = Nil): DataFrame = {
    if (ts.isEmpty) return oneRowDf
    val covered = mutable.HashSet[Int]()
    val starDfs = mutable.ArrayBuffer[DataFrame]()
    // star tables describe the single default graph only
    if (rdfGraph.starTables.nonEmpty && !quadScoped) {
      val bySubj = ts.zipWithIndex.collect {
        case (TriplePattern(VarNode(sv), VerbNode(TermNode(Iri(p))), o), i) =>
          (sv, p, o, i)
      }.groupBy(_._1)
      bySubj.foreach { case (sv, pats) =>
        val preds = pats.map(_._2)
        // Sound only when the table covers ALL the group's predicates and
        // at least one predicate is table-unique (rdf:type appears in
        // every table, so a type-only group must use the generic path).
        val candidate = rdfGraph.starTables.find { st =>
          preds.forall(st.preds.contains) && preds.exists(_ != RDF.typ)
        }
        if (pats.size >= 2) candidate.foreach { st =>
          var df = st.df
          val natTypes: Map[String, DataType] =
            st.df.schema.fields.map(f => f.name -> f.dataType).toMap
          val sel = mutable.ArrayBuffer[Column](F.col("s").as(sv))
          // subject's raw key rides along → later joins on ?sv run native
          st.keyNat.foreach { case (kcol, tmpl) =>
            sel += F.col(kcol).cast(LongType).as(nkName(tmpl, sv))
          }
          val bound = mutable.HashMap[String, String](sv -> "s")
          val natives = mutable.HashMap[String, String]() // var → raw col
          pats.foreach { case (_, p, o, i) =>
            val cn = st.preds(p)
            df = df.where(F.col(cn + ".value").isNotNull)
            o match {
              case TermNode(Iri(v)) if st.fkNat.contains(p) =>
                val (fcol, tmpl) = st.fkNat(p)
                df = iriKey(tmpl, v) match {
                  case Some(k) => df.where(F.col(fcol) === k)
                  case None => df.limit(0)
                }
              case TermNode(t) => df = df.where(F.col(cn) === termCol(t))
              case VarNode(v) => bound.get(v) match {
                case Some(prev) => df = df.where(F.col(cn) === F.col(prev))
                case None =>
                  bound(v) = cn; sel += F.col(cn).as(v)
                  st.natives.get(p).foreach(natives(v) = _)
                  // FK object's raw key → native joins on ?v downstream
                  st.fkNat.get(p).foreach { case (fcol, tmpl) =>
                    sel += F.col(fcol).cast(LongType).as(nkName(tmpl, v))
                  }
                  // proven single-datatype literal object → lexical
                  // companion: downstream joins/GROUP BYs on ?v key on
                  // the raw string, not the 4-field struct
                  if (!st.fkNat.contains(p))
                    litSig(p).foreach(dt =>
                      sel += F.col(cn).getField("value").as(lvName(dt, v)))
              }
            }
            covered += i
          }
          // data-source pushdown: translate predicates onto raw columns
          // (conservative — full SPARQL filter still applies after)
          pushFilters.foreach { e =>
            nativePredicate(e, natives.toMap, natTypes).foreach(c => df = df.where(c))
          }
          starDfs += df.select(sel.toSeq: _*)
        }
      }
    }
    // row estimate a pattern's scan is KNOWN to have: only the fully
    // var-endpoint constant-predicate shape, where the predicate count
    // is exact — bound-subject/object patterns are (much) smaller than
    // their predicate count, so their estimate stays unknown and the
    // steering never denies them a broadcast
    def steerEst(tp: TriplePattern): Long = tp match {
      case TriplePattern(VarNode(_), VerbNode(TermNode(Iri(p))), VarNode(_)) =>
        predRowEstimate(p)
      case _ => Long.MaxValue
    }
    val ordered = patternOrder(ts.zipWithIndex.collect {
      case (tp, i) if !covered(i) => tp
    })
    // Semi-join reduction of transitive paths (S2RDF's idea, applied to
    // the closure): a `+`/`*` path whose endpoint variable a sibling
    // plain pattern binds starts its closure from that pattern's values
    // instead of computing every pair. Plain patterns compile first and
    // serve as seed sources: star scans, then the others in join order
    // (most constrained first). Only plain s/o positions count — their
    // values are graph nodes of the same scope, which `*`'s zero-length
    // pairs need. (Under GRAPH ?g the path compiles per graph and drops
    // the seeds.)
    def seedable(tp: TriplePattern): Boolean = tp match {
      case TriplePattern(s, VerbPath(p), o) => !s.isInstanceOf[QuotedNode] &&
        !o.isInstanceOf[QuotedNode] && transitiveTop(normalizePath(p))
      case _ => false
    }
    def vars(ns: Node*): Set[String] = ns.collect { case VarNode(v) => v }.toSet
    val compiled = ordered.map(tp => if (seedable(tp)) None else Some(compileTriple(tp)))
    // each seed source with the variables it binds
    val sources: Seq[(Set[String], DataFrame)] =
      starDfs.toSeq.map(df => (df.columns.toSet, df)) ++
        ordered.zip(compiled).collect {
          case (TriplePattern(s, VerbNode(_), o), Some(df)) => (vars(s, o), df)
        }
    def seeds(s: Node, o: Node): Map[String, DataFrame] =
      vars(s, o).flatMap(v => sources.collectFirst {
        case (bound, df) if bound(v) => v -> df.select(F.col(v).as("n"))
      }).toMap
    val rest = ordered.zip(compiled).map {
      case (tp, Some(df)) => (df, steerEst(tp))
      case (tp @ TriplePattern(s, VerbPath(p), o), None) =>
        (compilePathTriple(s, p, o, seeds(s, o)), steerEst(tp))
    }
    val parts = starDfs.toSeq.map(df => (df, Long.MaxValue)) ++ rest
    // greedy connected-join: always join the next relation that shares a
    // variable with the accumulated bindings; cross-join only when forced.
    // The accumulated estimate follows the FK-chain rule (many-to-one
    // hops don't multiply): max of the joined inputs, unknown-poisoning.
    val remaining = mutable.ArrayBuffer(parts: _*)
    var (acc, accEst) = remaining.remove(0)
    while (remaining.nonEmpty) {
      val i = remaining.indexWhere(r => sharedVars(acc, r._1).nonEmpty)
      val (next, nextEst) = remaining.remove(if (i >= 0) i else 0)
      acc = joinBindings(acc, next, accEst, nextEst)
      accEst =
        if (accEst == Long.MaxValue || nextEst == Long.MaxValue) Long.MaxValue
        else math.max(accEst, nextEst)
    }
    acc
  }

  // ---------------------------------------------------- BGP join ordering

  /** Join-order heuristic (SURVEY §7.9 + §4.2's statistics lever):
    * most-constrained patterns first so intermediate results stay
    * small. The primary key is the constant-shape score — constants in
    * s/o are the strongest signal, a constant predicate prunes via the
    * vertical index, var-only patterns scan everything and go last;
    * star groups (several predicates at once) always lead. WITHIN one
    * shape class, patterns order by estimated predicate cardinality
    * ascending (the S2RDF statistics: exact counts from the load path
    * or the GraphStore `_stats.json` sidecar, the optimizer's size
    * estimate of the vertical relation as fallback) — so `?l :sparse ?x
    * . ?l :dense ?y` starts from the sparse relation regardless of how
    * the query author happened to write it. Ties keep the query's
    * original order (stable), and only adjacent relations sharing
    * variables are joined before disjoint ones (joinBindings
    * cross-joins disjoint inputs). Statistics are hints: absent or
    * stale stats change the plan, never the result. */
  private[sparql] def patternOrder(ts: Seq[TriplePattern]): Seq[TriplePattern] = {
    def score(tp: TriplePattern): Int = {
      def c(n: Node): Int = n match { case TermNode(_) => 4; case _ => 0 }
      val pc = tp.p match {
        case VerbNode(TermNode(_)) => 2
        case VerbPath(_) => 1
        case _ => 0
      }
      c(tp.s) + pc + c(tp.o)
    }
    def est(tp: TriplePattern): Long = tp.p match {
      case VerbNode(TermNode(Iri(p))) => predEstimate(p)
      case _ => Long.MaxValue
    }
    ts.zipWithIndex
      .map { case (tp, i) => (tp, score(tp), est(tp), i) }
      .sortBy { case (_, s, e, i) => (-s, e, i) }
      .map(_._1)
  }

  private val estCache = mutable.Map[String, Long]()

  /** Cardinality estimate for one predicate: exact stats when the
    * source provided them, else the Catalyst size estimate (bytes — a
    * consistent relative signal across relations of one store) of the
    * vertical-index relation, else unknown. Driver-side only; cached
    * so repeated compiles of one pattern shape cost one analysis. */
  /** ROW estimate for build-side steering: exact predicate counts
    * only. The byte-based fallback below is a fine RELATIVE ordering
    * signal but must never be compared against a row bound — a 5 MB
    * relation would read as "5 million rows" and get a shuffle_hash
    * hint where its broadcast was free. */
  private def predRowEstimate(p: String): Long =
    rdfGraph.predCounts.getOrElse(p, Long.MaxValue)

  private def predEstimate(p: String): Long =
    rdfGraph.predCounts.getOrElse(p,
      estCache.getOrElseUpdate(p, rdfGraph.predIndex.get(p) match {
        case Some(rel) =>
          try rel.queryExecution.optimizedPlan.stats.sizeInBytes
            .min(BigInt(Long.MaxValue)).toLong
          catch { case scala.util.control.NonFatal(_) => Long.MaxValue }
        case None => Long.MaxValue
      }))

  /** Translate a SPARQL filter onto RAW source columns when that is
    * provably implied by the term-level semantics: numeric comparisons on
    * NUMERIC native columns and string equality/IN/STRSTARTS/CONTAINS on
    * STRING native columns, between a native-bound variable and a constant.
    * The type gate matters: pushing a string `!=` onto an integer column
    * would let Spark coerce and prune rows that SPARQL term inequality
    * (cross-datatype → terms differ → keep) retains — and the reapplied
    * full filter can't restore pruned rows. Returns None when not
    * translatable (the term-level filter still runs — this is purely a
    * scan-pruning aid). */
  private def nativePredicate(e: Expr, nat: Map[String, String],
      natTypes: Map[String, DataType]): Option[Column] = {
    def natVar(x: Expr): Option[(Column, DataType)] = x match {
      case ExVar(v) => nat.get(v).map(c => (F.col(c), natTypes(c)))
      case ExCall("STR", Seq(ExVar(v))) => nat.get(v).map(c => (F.col(c), natTypes(c)))
      case _ => None
    }
    def isNumType(t: DataType) = t match {
      case _: NumericType => true; case _ => false
    }
    def const(x: Expr): Option[Lit] = x match {
      case ExTerm(l: Lit) => Some(l)
      case _ => None
    }
    def cmp(op: String, c: Column, t: DataType, l: Lit): Option[Column] = {
      val rhs: Option[Column] =
        if (XSD.numeric(l.dt) && isNumType(t)) Some(F.lit(l.lex.toDouble))
        else if (l.dt == XSD.string && t == StringType && (op == "=" || op == "!="))
          Some(F.lit(l.lex))
        else None
      rhs.map { r =>
        op match {
          case "=" => c === r
          case "!=" => c =!= r
          case "<" => c < r
          case "<=" => c <= r
          case ">" => c > r
          case ">=" => c >= r
        }
      }
    }
    e match {
      case ExAnd(l, r) =>
        (nativePredicate(l, nat, natTypes), nativePredicate(r, nat, natTypes)) match {
          case (Some(a), Some(b)) => Some(a && b)
          case (a, b) => a.orElse(b) // partial conjunct is still implied
        }
      case ExOr(l, r) =>
        for (a <- nativePredicate(l, nat, natTypes); b <- nativePredicate(r, nat, natTypes))
          yield a || b
      case ExCmp(op, a, b) =>
        natVar(a).flatMap { case (c, t) => const(b).flatMap(l => cmp(op, c, t, l)) }
          .orElse(natVar(b).flatMap { case (c, t) => const(a).flatMap(l =>
            cmp(op match {
              case "<" => ">"; case "<=" => ">="
              case ">" => "<"; case ">=" => "<="; case x => x
            }, c, t, l)) })
      case ExIn(x, list, false) =>
        natVar(x).flatMap { case (c, t) =>
          val lits = list.flatMap(const)
          if (t == StringType && lits.size == list.size &&
              lits.forall(_.dt == XSD.string))
            Some(c.isin(lits.map(_.lex): _*))
          else None
        }
      case ExCall("STRSTARTS", Seq(a, b)) =>
        natVar(a).flatMap { case (c, t) =>
          if (t == StringType) const(b).map(l => c.startsWith(l.lex)) else None
        }
      case ExCall("CONTAINS", Seq(a, b)) =>
        natVar(a).flatMap { case (c, t) =>
          if (t == StringType) const(b).map(l => c.contains(l.lex)) else None
        }
      case _ => None
    }
  }

  private def nodeFilter(c: Column, n: Node): Option[Column] = n match {
    case TermNode(t) => Some(c === termCol(t))
    case VarNode(_) => None
  }

  /** Triple pattern scan under a quad scope: the (filtered) [[scanBase]]
    * with the GRAPH variable — when the enclosing scope names one —
    * treated as a fourth pattern position, so repeated-variable equality
    * (`GRAPH ?g { ?g ?p ?o }`) and the projection fall out of the same
    * logic as s/p/o. All patterns inside one GRAPH ?g co-bind ?g, so the
    * BGP's joins keep every pattern in the same graph per solution. */
  private def quadTriple(s: Node, pn: Node, o: Node): DataFrame = {
    var df = scanBase
    // the g position participates only on a real quad store; a triple
    // store under GRAPH ?v scans empty (scanBase) but must still put ?v
    // in scope — projected as a typed null below
    val gPos: Seq[(String, Node)] = activeGraph match {
      case Some(v: VarNode) if hasQuads => Seq("g" -> (v: Node))
      case _ => Nil
    }
    val positions = Seq("s" -> s, "p" -> pn, "o" -> o) ++ gPos
    positions.foreach { case (pos, n) =>
      nodeFilter(F.col(pos), n).foreach(c => df = df.where(c))
    }
    val varPos = positions.collect { case (pos, VarNode(v)) => (v, pos) }
    varPos.groupBy(_._1).values.filter(_.size > 1).foreach { dup =>
      dup.map(_._2).sliding(2).foreach {
        case Seq(a, b) => df = df.where(F.col(a) === F.col(b))
        case _ =>
      }
    }
    val proj = varPos.map(_._1).distinct.map { v =>
      F.col(varPos.find(_._1 == v).get._2).as(v)
    } ++ (activeGraph match {
      case Some(VarNode(v)) if !hasQuads && !varPos.exists(_._1 == v) =>
        Seq(F.lit(null).cast(Terms.termType).as(v))
      case _ => Nil
    })
    if (proj.isEmpty) withGraphPin(df.limit(1).select(F.lit(1).as(syn("ask"))))
    else withGraphPin(df.select(proj: _*))
  }

  private def compileTriple(tp: TriplePattern): DataFrame = {
    val (core, quoted) = extractQuoted(tp)
    var df = compileTripleCore(core)
    quoted.foreach { case (v, qn) => df = bindQuoted(df, v, qn) }
    if (quoted.nonEmpty) df = df.drop(quoted.map(_._1): _*)
    df
  }

  /** Replace RDF-star quoted-triple PATTERNS in the s/o slots with
    * synthetic variables; [[bindQuoted]] decomposes them after the base
    * scan. The base pattern matching stays untouched — a quoted-triple
    * term is just a kind-3 term to the scan. */
  private def extractQuoted(tp: TriplePattern)
      : (TriplePattern, Seq[(String, QuotedNode)]) = {
    val out = mutable.ArrayBuffer[(String, QuotedNode)]()
    def repl(n: Node): Node = n match {
      case q: QuotedNode => val v = syn("qt"); out += (v -> q); VarNode(v)
      case other => other
    }
    (tp.copy(s = repl(tp.s), o = repl(tp.o)), out.toSeq)
  }

  /** Constrain/bind one quoted-triple pattern over the column `v`:
    * filter to kind-3 terms, then per component either filter against a
    * constant, bind (or equality-join) a variable, or recurse into a
    * nested quoted pattern. Pure column operations — the decomposition
    * is a codegen'd projection over the packed encoding, no extra scan
    * or shuffle. */
  private def bindQuoted(df0: DataFrame, v: String, q: QuotedNode): DataFrame = {
    var df = df0.where(Terms.isQuoted(F.col(v)))
    def comp(c: Column, n: Node): Unit = n match {
      case TermNode(t) => df = df.where(c === termCol(t))
      case VarNode(x) =>
        if (df.columns.contains(x)) df = df.where(F.col(x) === c)
        else df = df.withColumn(x, c)
      case qn: QuotedNode =>
        val inner = syn("qt")
        df = df.withColumn(inner, c)
        df = bindQuoted(df, inner, qn).drop(inner)
    }
    comp(Terms.quotedSubject(F.col(v)), q.s)
    comp(Terms.quotedPredicate(F.col(v)), q.p)
    comp(Terms.quotedObject(F.col(v)), q.o)
    df
  }

  private def compileTripleCore(tp: TriplePattern): DataFrame = tp.p match {
    case VerbNode(pn) if quadScoped => quadTriple(tp.s, pn, tp.o)
    case VerbNode(TermNode(Iri(p))) =>
      // constant predicate → vertical-partition scan (no predicate column)
      var df = predScan(p)
      val nat = if (rdfGraph.predIndex.contains(p))
        rdfGraph.predNat.get(p) else None
      // constant endpoints: when the relation has a raw key and the IRI
      // matches its template, filter the LONG instead of the synthesized
      // struct — Catalyst unwraps the cast and pushes it to the parquet scan
      def endpointFilter(n: Node, col: String, tmpl: Option[String],
          keyCol: String): Unit = n match {
        case TermNode(Iri(v)) if tmpl.isDefined =>
          df = iriKey(tmpl.get, v) match {
            case Some(k) => df.where(F.col(keyCol) === k)
            case None => df.limit(0) // no synthesized IRI can equal it
          }
        case TermNode(t) => df = df.where(F.col(col) === termCol(t))
        case VarNode(_) =>
      }
      endpointFilter(tp.s, "s", nat.flatMap(_.sTmpl), "__sk")
      endpointFilter(tp.o, "o", nat.flatMap(_.oTmpl), "__ok")
      def sComp(v: String) = nat.flatMap(_.sTmpl)
        .map(t => F.col("__sk").as(nkName(t, v))).toSeq
      def oComp(v: String) = nat.flatMap(_.oTmpl)
        .map(t => F.col("__ok").as(nkName(t, v))).toSeq ++
        (if (nat.flatMap(_.oTmpl).isEmpty)
          litSig(p).map(dt =>
            F.col("o").getField("value").as(lvName(dt, v))).toSeq
         else Nil)
      (tp.s, tp.o) match {
        case (VarNode(a), VarNode(b)) if a == b =>
          df.where(F.col("s") === F.col("o")).select(F.col("s").as(a))
        case (VarNode(a), VarNode(b)) =>
          df.select(F.col("s").as(a) +: F.col("o").as(b) +:
            (sComp(a) ++ oComp(b)): _*)
        case (VarNode(a), _) => df.select(F.col("s").as(a) +: sComp(a): _*)
        case (_, VarNode(b)) => df.select(F.col("o").as(b) +: oComp(b): _*)
        case _ => df.limit(1).select(F.lit(1).as(syn("ask")))
      }
    case VerbNode(pn) =>
      var df = graph
      val conds = nodeFilter(F.col("s"), tp.s) ++ nodeFilter(F.col("p"), pn) ++
        nodeFilter(F.col("o"), tp.o)
      conds.foreach(c => df = df.where(c))
      // repeated-variable equality within one pattern (?x ?p ?x)
      val positions = Seq("s" -> tp.s, "p" -> pn, "o" -> tp.o)
      val varPos = positions.collect { case (pos, VarNode(v)) => (v, pos) }
      varPos.groupBy(_._1).values.filter(_.size > 1).foreach { dup =>
        dup.map(_._2).sliding(2).foreach {
          case Seq(a, b) => df = df.where(F.col(a) === F.col(b))
          case _ =>
        }
      }
      val proj = varPos.map(_._1).distinct.map { v =>
        F.col(varPos.find(_._1 == v).get._2).as(v)
      }
      if (proj.isEmpty) df.limit(1).select(F.lit(1).as(syn("ask")))
      else df.select(proj: _*)
    case VerbPath(path) => compilePathTriple(tp.s, path, tp.o)
  }

  // ------------------------------------------------------------ paths

  /** One-step relation of a (non-transitive) path as (s,o) term pairs,
    * with native-key companions for ps/po when the scans provide them —
    * sequence joins then run on 8-byte longs instead of term structs.
    * Bag semantics per SPARQL 1.1 §18.5: seq/alt/inv/neg preserve
    * duplicates; only the ALP-based `*`/`+`/`?` are set-valued. */
  private def pathEdges(p: Path): DataFrame = p match {
    case PLink(i) =>
      val df = predScan(i)
      val nat = if (rdfGraph.predIndex.contains(i))
        rdfGraph.predNat.get(i) else None
      val comps = nat.toSeq.flatMap(n =>
        n.sTmpl.map(t => F.col("__sk").as(nkName(t, "ps"))).toSeq ++
          n.oTmpl.map(t => F.col("__ok").as(nkName(t, "po"))).toSeq) ++
        (if (!quadScoped && nat.flatMap(_.oTmpl).isEmpty)
          litSig(i).map(dt =>
            F.col("o").getField("value").as(lvName(dt, "po"))).toSeq
         else Nil)
      df.select(F.col("s").as("ps") +: F.col("o").as("po") +: comps: _*)
    case PInv(q) =>
      val e = pathEdges(q)
      e.select(e("po").as("ps") +: e("ps").as("po") +:
        (nkOf(e, "ps").map(c => e(c).as(nkRename(c, "po"))).toSeq ++
          nkOf(e, "po").map(c => e(c).as(nkRename(c, "ps"))).toSeq): _*)
    case pseq: PSeq =>
      // Flatten the whole p1/p2/…/pn chain and build the join tree by
      // the predicate statistics (the same S2RDF lever patternOrder
      // applies to BGPs): inner equi-joins over a chain are associative
      // under bag semantics, so any adjacent-pair merge order yields
      // the same multiset — greedily merge the pair containing the
      // smallest estimated link first, so intermediates grow from the
      // most selective edge relation instead of the author's order.
      // Absent stats every estimate is MaxValue and the tie-break keeps
      // the left-deep author-order tree (stable fallback, same plan as
      // before stats existed).
      def flatten(p: Path): Seq[Path] = p match {
        case PSeq(x, y) => flatten(x) ++ flatten(y)
        case other => Seq(other)
      }
      def linkEst(p: Path): Long = p match {
        case PLink(i) => predEstimate(i)
        case PInv(q) => linkEst(q)
        case _ => Long.MaxValue
      }
      def linkRows(p: Path): Long = p match {
        case PLink(i) => predRowEstimate(i)
        case PInv(q) => linkRows(q)
        case _ => Long.MaxValue
      }
      val links = flatten(pseq)
      // per-segment: (frame, order estimate = min link, row estimate).
      // The ORDER estimate (min; bytes acceptable — relative) drives
      // the merge sequence; the ROW estimate (exact counts only) sizes
      // the join build side: a raw link's rows are its predicate
      // count, a merged FK-chain segment's rows are bounded by the
      // larger input (many-to-one hops don't multiply).
      val segs = mutable.ArrayBuffer(
        links.map(l => (pathEdges(l), linkEst(l), linkRows(l))): _*)
      while (segs.length > 1) {
        val j = (0 until segs.length - 1).minBy { i =>
          (math.min(segs(i)._2, segs(i + 1)._2), i)
        }
        val (lSeg, rSeg) = (segs(j), segs(j + 1))
        val merged = joinSeqSegments(lSeg._1, lSeg._3, rSeg._1, rSeg._3)
        segs(j) = (merged, math.min(lSeg._2, rSeg._2),
          if (lSeg._3 == Long.MaxValue || rSeg._3 == Long.MaxValue)
            Long.MaxValue
          else math.max(lSeg._3, rSeg._3))
        segs.remove(j + 1)
      }
      segs.head._1
    case PAlt(a, b) =>
      // bag union (NOT distinct — a pair matching both branches yields two
      // solutions); companions survive only when identical on both sides
      val (l, r0) = (pathEdges(a), pathEdges(b))
      val common = nkCols(l).toSet intersect nkCols(r0).toSet
      val order = Seq("ps", "po") ++ common.toSeq.sorted
      l.select(order.map(l(_)): _*).union(r0.select(order.map(r0(_)): _*))
    case PNeg(fwd, inv) =>
      val fwdDf = scanBase
        .where(!F.col("p.value").isin(fwd.map(F.lit(_)): _*) || F.lit(fwd.isEmpty))
        .select(F.col("s").as("ps"), F.col("o").as("po"))
      if (inv.isEmpty) fwdDf
      else {
        val invDf = scanBase
          .where(!F.col("p.value").isin(inv.map(F.lit(_)): _*))
          .select(F.col("o").as("ps"), F.col("s").as("po"))
        if (fwd.isEmpty) invDf else fwdDf.union(invDf)
      }
    // nested transitive path (inside a sequence/alternative): full pair
    // closure with both endpoints open — correct, at closure cost
    case PZeroOrMore(inner) => closure(pathEdges(inner), None, includeZero = true, None)
    case POneOrMore(inner) => closure(pathEdges(inner), None, includeZero = false, None)
    case PZeroOrOne(inner) =>
      val one = pathEdges(inner)
      one.select(one("ps"), one("po"))
        .union(graphNodes.select(F.col("n").as("ps"), F.col("n").as("po")))
        .distinct()
  }

  /** One chain-link join of two sequence segments, each shaped
    * (ps, po, companions): left.po = right.ps, on raw longs when both
    * sides carry the matching native key. Keeps left's ps and right's
    * po (with their companions) — the segment shape is closed under
    * this join, which is what lets the PSeq case merge adjacent
    * segments in any order. */
  /** Max estimated rows a join side may have and still be broadcast:
    * past this, the hash-relation build (single-threaded, then shipped
    * to every executor) dominates — the r12 sf1 outlier was Catalyst
    * broadcasting a 6M-row single-column fact scan because its BYTE
    * estimate slipped under the threshold. */
  private val BroadcastRowBound = 500000L

  private def joinSeqSegments(l0: DataFrame, estL: Long, r1: DataFrame,
      estR: Long): DataFrame = {
    // build-side steering from the predicate statistics — see steerSides
    val (l, r0) = steerSides(l0, estL, r1, estR)
    val r = r0.select(r0("ps").as("mid") +: r0("po").as("po2") +:
      (nkOf(r0, "ps").map(c => r0(c).as(nkRename(c, "mid"))).toSeq ++
        nkOf(r0, "po").map(c => r0(c).as(nkRename(c, "po2"))).toSeq): _*)
    val cond = (nkOf(l, "po"), nkOf(r, "mid")) match {
      case (Some(x), Some(y)) if nkId(x) == nkId(y) => l(x) === r(y)
      case _ => l("po") === r("mid")
    }
    l.join(r, cond)
      .select(l("ps").as("ps") +: r("po2").as("po") +:
        (nkOf(l, "ps").map(c => l(c)).toSeq ++
          nkOf(r, "po2").map(c => r(c).as(nkRename(c, "po"))).toSeq): _*)
  }

  /** Push inverses through composite paths so `^(p*) = (^p)*` etc. — the
    * transitive cases are handled by endpoint-seeded closures which must
    * see the transitive node at the top. */
  private def normalizePath(p: Path): Path = p match {
    case PInv(PInv(q)) => normalizePath(q)
    case PInv(PSeq(a, b)) =>
      PSeq(normalizePath(PInv(b)), normalizePath(PInv(a)))
    case PInv(PAlt(a, b)) =>
      PAlt(normalizePath(PInv(a)), normalizePath(PInv(b)))
    case PInv(PZeroOrMore(q)) => PZeroOrMore(normalizePath(PInv(q)))
    case PInv(POneOrMore(q)) => POneOrMore(normalizePath(PInv(q)))
    case PInv(PZeroOrOne(q)) => PZeroOrOne(normalizePath(PInv(q)))
    case PInv(q) => PInv(normalizePath(q))
    case PSeq(a, b) => PSeq(normalizePath(a), normalizePath(b))
    case PAlt(a, b) => PAlt(normalizePath(a), normalizePath(b))
    case PZeroOrMore(q) => PZeroOrMore(normalizePath(q))
    case POneOrMore(q) => POneOrMore(normalizePath(q))
    case PZeroOrOne(q) => PZeroOrOne(normalizePath(q))
    case other => other
  }

  /** Upper bound of a one-step path relation's rows from the exact
    * predicate counts, when every link has one. */
  private def edgeRows(p: Path): Option[Long] = p match {
    case PLink(i) => rdfGraph.predCounts.get(i)
    case PInv(q) => edgeRows(q)
    case PAlt(a, b) => for (x <- edgeRows(a); y <- edgeRows(b)) yield x + y
    case _ => None
  }

  /** Does the (normalized) path evaluate as a closure at its top — `+`
    * or `*`, possibly as a branch of an alternative? */
  private def transitiveTop(p: Path): Boolean = p match {
    case PZeroOrMore(_) | POneOrMore(_) => true
    case PAlt(a, b) => transitiveTop(a) || transitiveTop(b)
    case _ => false
  }

  /** All nodes of the active-scope graph (zero-length path endpoints). */
  private def graphNodes: DataFrame =
    scanBase.select(F.col("s").as("n"))
      .union(scanBase.select(F.col("o").as("n"))).distinct()

  /** A path triple. `seeds` maps endpoint variables that sibling
    * patterns of the same BGP bind to a frame of their values (column
    * `n`, see [[compileBgp]]); a transitive branch starts from one of
    * them when no endpoint is constant. */
  private def compilePathTriple(s: Node, path0: Path, o: Node,
      seeds: Map[String, DataFrame] = Map.empty): DataFrame = {
    // Inside GRAPH <iri> every edge scan is already scope-filtered, so
    // paths compose soundly. Inside GRAPH ?var a multi-hop path needs
    // per-graph edge composition (each solution's hops confined to ONE
    // graph) — not expressible as a single pre-filtered edge set, so it
    // compiles as the per-named-graph union, the variable pinned per
    // branch (capped; see perGraphUnion).
    activeGraph match {
      case Some(VarNode(v)) =>
        return perGraphUnion(v, () => compilePathTriple(s, path0, o))
      case _ =>
    }
    val path = normalizePath(path0)
    // §18.4: a zero-length pair for a CONSTANT endpoint exists
    // unconditionally (ALP starts at the term, in or out of the graph)
    // — but §18.5.1's Graph(iri, P) is EMPTY when iri names no graph in
    // the dataset, so under a constant GRAPH scope the zero row must
    // not outlive a nonexistent (or dataset-excluded) graph: gate it on
    // one row of the scoped store, lazily (a broadcast 1-row semi).
    def gateZero(df: DataFrame): DataFrame = activeGraph match {
      case Some(TermNode(_)) =>
        df.join(F.broadcast(scanBase.limit(1).select(F.lit(1).as("__gz"))),
          F.lit(true), "left_semi")
      case _ => df
    }
    // where a transitive branch starts: a constant endpoint, else an
    // endpoint variable the rest of the BGP binds; the object side runs
    // the closure over reversed edges
    lazy val start: Option[(DataFrame, Boolean)] = (s, o) match {
      case (TermNode(t), _) => Some((graft.Fixpoints.seedFrame(spark, Seq(t)), false))
      case (_, TermNode(t)) => Some((graft.Fixpoints.seedFrame(spark, Seq(t)), true))
      case (VarNode(a), _) if seeds.contains(a) => Some((seeds(a), false))
      case (_, VarNode(b)) if seeds.contains(b) => Some((seeds(b), true))
      case _ => None
    }
    // Endpoint-sensitive pair frames: §18.4's translation keeps the
    // TP's OWN endpoints on every ALT branch (unlike SEQ, which mints
    // fresh middle variables), so a closure branch adjacent to a
    // constant endpoint must contribute that endpoint's unconditional
    // zero-length pair — falling to pathEdges' node-based zero would
    // lose `<x> (p|q*) ?y`'s (x,x) when x is not a node of the graph.
    def pairsOf(p: Path): DataFrame = p match {
      case PZeroOrMore(inner) =>
        gateZero(closure(pathEdges(inner), start, includeZero = true, edgeRows(inner)))
      case POneOrMore(inner) =>
        closure(pathEdges(inner), start, includeZero = false, edgeRows(inner))
      case PZeroOrOne(inner) =>
        val one0 = pathEdges(inner)
        val one = one0.select(one0("ps"), one0("po"))
        val zero = (s, o) match {
          case (TermNode(t), _) =>
            spark.range(1).select(termCol(t).as("ps"), termCol(t).as("po"))
          case (_, TermNode(t)) =>
            spark.range(1).select(termCol(t).as("ps"), termCol(t).as("po"))
          case _ => graphNodes.select(F.col("n").as("ps"), F.col("n").as("po"))
        }
        gateZero(one.union(zero).distinct())
      case PAlt(a, b) =>
        pairsOf(a).select("ps", "po").unionByName(pairsOf(b).select("ps", "po"))
      case other => pathEdges(other)
    }
    val pairs = pairsOf(path)
    withGraphPin(bindEndpoints(pairs, s, o))
  }

  /** Bind path-pair endpoints to the pattern's s/o nodes. Non-transitive
    * paths are BAG-semantics (SPARQL 1.1 §18.5 translates seq/alt/inv to
    * join/union — no duplicate elimination), so constant endpoints filter
    * WITHOUT a distinct; the transitive cases arrive here already
    * set-valued from `closure`. Companions are renamed to the variables
    * they accompany; constant-IRI endpoint filters run on the raw key. */
  private def bindEndpoints(pairs: DataFrame, s: Node, o: Node): DataFrame = {
    var df = pairs
    def endpointFilter(n: Node, col: String): Unit = n match {
      case TermNode(Iri(v)) if nkOf(df, col).isDefined =>
        val nk = nkOf(df, col).get
        val tmpl = tmplIds.collectFirst {
          case (t, id) if id.toString == nkId(nk) => t
        }.get
        df = iriKey(tmpl, v) match {
          case Some(k) => df.where(df(nk) === k)
          case None => df.limit(0)
        }
      case TermNode(t) => df = df.where(df(col) === termCol(t))
      case VarNode(_) =>
    }
    endpointFilter(s, "ps")
    endpointFilter(o, "po")
    def comp(pc: String, v: String): Seq[Column] =
      nkOf(df, pc).map(c => df(c).as(nkRename(c, v))).toSeq
    (s, o) match {
      case (VarNode(a), VarNode(b)) if a == b =>
        df.where(F.col("ps") === F.col("po")).select(F.col("ps").as(a))
      case (VarNode(a), VarNode(b)) =>
        df.select(F.col("ps").as(a) +: F.col("po").as(b) +:
          (comp("ps", a) ++ comp("po", b)): _*)
      case (VarNode(a), _) => df.select(F.col("ps").as(a) +: comp("ps", a): _*)
      case (_, VarNode(b)) => df.select(F.col("po").as(b) +: comp("po", b): _*)
      case _ => df.limit(1).select(F.lit(1).as(syn("ask")))
    }
  }

  /** Transitive closure (`+`, or `*` with `includeZero`) as (ps, po) term
    * pairs. With a `start` — the seed frame (column `n`: a constant
    * endpoint's one row, or the values sibling patterns bind an endpoint
    * variable to) and whether the closure runs from the object side, over
    * reversed edges — it is [[graft.Fixpoints.reach]] from the seeds,
    * bounded by the exact predicate counts. With no start (both endpoints
    * free) it is path doubling ([[doublingClosure]]). */
  private def closure(edges1: DataFrame, start: Option[(DataFrame, Boolean)],
      includeZero: Boolean, edgeCount: Option[Long]): DataFrame = {
    // ALP evaluation is set-based and joins on full terms; companions
    // would be wrong after multi-hop composition — strip them.
    val edges0 = edges1.drop(nkCols(edges1): _*)
    def swap(df: DataFrame) = df.select(F.col("po").as("ps"), F.col("ps").as("po"))
    start match {
      case Some((seed, reversed)) =>
        val edges = if (reversed) swap(edges0) else edges0
        val pairs = graft.Fixpoints.reach(seed, edges, includeZero, edgeCount)
        if (reversed) swap(pairs) else pairs
      case None => doublingClosure(edges0, includeZero)
    }
  }

  /** The full pair closure, both endpoints free: [[graft.Fixpoints.closure]]
    * (path doubling) over the (ps, po) edges, plus every graph node's
    * zero-length pair for `*`. */
  private def doublingClosure(edges: DataFrame, includeZero: Boolean): DataFrame = {
    val closure = graft.Fixpoints
      .closure(edges.select(F.col("ps").as("a"), F.col("po").as("b")))
      .select(F.col("a").as("ps"), F.col("b").as("po"))
    if (includeZero) {
      val zero = graphNodes.select(F.col("n").as("ps"), F.col("n").as("po"))
      closure.union(zero).distinct()
    } else closure
  }

  // ------------------------------------------------------------- queries

  /** Native scan-aggregate fast path: a GROUP BY + aggregates over a
    * single-subject star BGP (optionally filtered) runs entirely on the
    * RAW source columns — no term structs are built per row, so the
    * double→string→double casts of the lexical term model never run.
    * Term structs are produced once per GROUP at the end. FK-object
    * group vars (`GROUP BY ?fk` — the canonical star-schema rollup)
    * group on the raw key and synthesize the IRI once per group; with
    * `keepCompanions` the raw key also survives as a companion so an
    * enclosing query still joins natively. Bails to the general path on
    * anything it can't prove equivalent. */
  private def tryStarAggregate(q: SelectQuery,
      keepCompanions: Boolean): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    if (q.distinct || q.reduced || q.values.nonEmpty) return None
    if (q.mods.having.nonEmpty || q.mods.orderBy.nonEmpty) return None
    if (rdfGraph.starTables.isEmpty || quadScoped) return None
    val (ts, filters) = q.where match {
      case Bgp(t) => (t, Seq.empty[Expr])
      case Filter(Bgp(t), fs) => (t, fs)
      case _ => return None
    }
    if (ts.isEmpty) return None
    val pats = ts.map {
      case TriplePattern(VarNode(sv), VerbNode(TermNode(Iri(p))), o) => (sv, p, o)
      case _ => return None
    }
    val sv = pats.head._1
    if (!pats.forall(_._1 == sv)) return None
    val preds = pats.map(_._2)
    val st = rdfGraph.starTables.find(s =>
      preds.forall(s.preds.contains) && preds.exists(_ != RDF.typ))
      .getOrElse(return None)
    val natTypes: Map[String, DataType] =
      st.df.schema.fields.map(f => f.name -> f.dataType).toMap
    // bind object vars to native columns (types known); subject stays a
    // struct; FK objects bind to the raw key with their IRI template
    val nat = mutable.LinkedHashMap[String, String]()
    val natIri = mutable.LinkedHashMap[String, (String, String)]()
    var df = st.df
    pats.foreach { case (_, p, o) =>
      val cn = st.preds(p)
      df = df.where(F.col(cn + ".value").isNotNull)
      o match {
        case TermNode(t) => df = df.where(F.col(cn) === termCol(t))
        case VarNode(v) =>
          if (v == sv || nat.contains(v) || natIri.contains(v)) return None
          st.natives.get(p) match {
            case Some(c) => nat(v) = c
            case None => natIri(v) = st.fkNat.getOrElse(p, return None)
          }
      }
    }
    def isNum(t: DataType) = t match {
      case _: NumericType => true; case _ => false
    }
    def isIntegral(t: DataType) = t match {
      case ByteType | ShortType | IntegerType | LongType => true; case _ => false
    }
    // STRICT filter translation (must be equivalent, not just implied)
    def strict(e: Expr): Option[Column] = e match {
      case ExAnd(l, r) => for (a <- strict(l); b <- strict(r)) yield a && b
      case ExOr(l, r) => for (a <- strict(l); b <- strict(r)) yield a || b
      case ExCmp(op, ExVar(v), ExTerm(l: Lit)) if nat.contains(v) =>
        val t = natTypes(nat(v))
        if (isNum(t) && XSD.numeric(l.dt)) {
          val c = F.col(nat(v)); val r = F.lit(l.lex.toDouble)
          Some(op match {
            case "=" => c === r; case "!=" => c =!= r
            case "<" => c < r; case "<=" => c <= r
            case ">" => c > r; case ">=" => c >= r
          })
        } else if (t == StringType && l.dt == XSD.string && (op == "=" || op == "!="))
          Some(if (op == "=") F.col(nat(v)) === l.lex else F.col(nat(v)) =!= l.lex)
        else None
      case ExCmp(op, lt @ ExTerm(_), ExVar(v)) =>
        strict(ExCmp(op match {
          case "<" => ">"; case "<=" => ">="
          case ">" => "<"; case ">=" => "<="; case x => x
        }, ExVar(v), lt))
      case ExIn(ExVar(v), list, false)
          if nat.contains(v) && natTypes(nat(v)) == StringType =>
        val lits = list.collect { case ExTerm(l: Lit) if l.dt == XSD.string => l.lex }
        if (lits.size == list.size) Some(F.col(nat(v)).isin(lits: _*)) else None
      case ExCall("STRSTARTS", Seq(ExVar(v), ExTerm(l: Lit)))
          if nat.contains(v) && natTypes(nat(v)) == StringType =>
        Some(F.col(nat(v)).startsWith(l.lex))
      case ExCall("CONTAINS", Seq(ExVar(v), ExTerm(l: Lit)))
          if nat.contains(v) && natTypes(nat(v)) == StringType =>
        Some(F.col(nat(v)).contains(l.lex))
      case ExNot(x) => strict(x).map(c => !c)
      case _ => None
    }
    // bail when a filter references an FK-IRI var: its SPARQL semantics
    // are term comparisons, which strict() models only for literals
    filters.foreach(f =>
      if ((exprVars(f) & natIri.keySet).nonEmpty) return None)
    filters.foreach(f => df = df.where(strict(f).getOrElse(return None)))
    // group keys: plain vars only — native-bound, FK keys, or the subject
    val groupCols: Seq[(String, Column)] = q.mods.groupBy.map {
      case GroupVar(v) if nat.contains(v) => v -> F.col(nat(v))
      case GroupVar(v) if natIri.contains(v) => v -> F.col(natIri(v)._1)
      case GroupVar(v) if v == sv => v -> F.col("s")
      case _ => return None
    }
    // projections: group vars pass through; aggregates translate natively
    val items = q.projection match {
      case SelectVars(is) => is
      case SelectAll => return None
    }
    def intT(c: Column) = Terms.lit(c.cast(LongType), XSD.integer)
    def dblT(c: Column) = Terms.lit(c.cast(DoubleType), XSD.double)
    def strT(c: Column) = Terms.lit(c, XSD.string)
    val aggCols = mutable.ArrayBuffer[Column]()
    items.foreach { i =>
      i.expr match {
        case ExVar(v) if groupCols.exists(_._1 == v) => // group key pass-through
        case a: ExAgg =>
          val col: Column = (a.fn, a.arg) match {
            case ("COUNT", None) => intT(F.count(F.lit(1)))
            case ("COUNT", Some(ExVar(v))) if nat.contains(v) =>
              val c = F.col(nat(v))
              intT(if (a.distinct) F.countDistinct(c) else F.count(c))
            case ("COUNT", Some(ExVar(v))) if natIri.contains(v) =>
              val c = F.col(natIri(v)._1)
              intT(if (a.distinct) F.countDistinct(c) else F.count(c))
            case (fn @ ("SUM" | "AVG" | "MIN" | "MAX"), Some(ExVar(v)))
                if nat.contains(v) && isNum(natTypes(nat(v))) =>
              val t = natTypes(nat(v)); val c = F.col(nat(v))
              fn match {
                case "SUM" =>
                  if (a.distinct) dblT(F.sum_distinct(c.cast(DoubleType)))
                  else if (isIntegral(t)) intT(F.sum(c.cast(LongType)))
                  else dblT(F.sum(c.cast(DoubleType)))
                case "AVG" => dblT(F.avg(c.cast(DoubleType)))
                case _ =>
                  val m = if (fn == "MIN") F.min(c) else F.max(c)
                  if (isIntegral(t)) intT(m.cast(LongType))
                  else dblT(m.cast(DoubleType))
              }
            case ("MIN" | "MAX", Some(ExVar(v)))
                if nat.contains(v) && natTypes(nat(v)) == StringType =>
              val c = F.col(nat(v))
              strT(if (a.fn == "MIN") F.min(c) else F.max(c))
            case ("GROUP_CONCAT", Some(ExVar(v)))
                if nat.contains(v) && natTypes(nat(v)) == StringType =>
              val c = F.col(nat(v))
              val vals = if (a.distinct) F.collect_set(c) else F.collect_list(c)
              strT(F.array_join(F.array_sort(vals), a.separator.getOrElse(" ")))
            case _ => return None
          }
          aggCols += col.as(i.name)
        case _ => return None
      }
    }
    if (aggCols.isEmpty) return None
    var out = df.groupBy(groupCols.map(_._2): _*)
      .agg(aggCols.head, aggCols.tail.toSeq: _*)
    // re-select in projection order, wrapping native group keys into
    // term structs (once per group — the cheap place to do it); FK keys
    // synthesize their IRI here and, for subqueries, keep the raw key
    // as a companion so the enclosing join stays native
    val named = items.map { i =>
      i.expr match {
        case ExVar(v) if v == sv => F.col("s").as(v)
        case ExVar(v) if natIri.contains(v) =>
          val (c, tmpl) = natIri(v)
          Terms.iri(F.concat(F.lit(tmpl), F.col(c).cast(StringType))).as(i.name)
        case ExVar(v) =>
          Terms.fromNative(F.col(nat(v)), natTypes(nat(v))).as(i.name)
        case _ => F.col(i.name)
      }
    }
    val comps = if (!keepCompanions) Nil else items.flatMap { i =>
      i.expr match {
        case ExVar(v) if natIri.contains(v) =>
          val (c, tmpl) = natIri(v)
          Some(F.col(c).cast(LongType).as(nkName(tmpl, i.name)))
        case _ => None
      }
    }
    out = out.select(named ++ comps: _*)
    q.mods.offset.foreach(n => out = out.offset(n.toInt))
    q.mods.limit.foreach(n => out = out.limit(n.toInt))
    Some(out)
  }

  /** `keepCompanions` (subquery position only): native-key companions of
    * projected plain variables survive the projection (renamed to the
    * output name), so an aggregate-then-join shape — the classic
    * `{ SELECT ?x (COUNT(*)…) GROUP BY ?x } ?x :p ?y` — still joins on
    * the raw long downstream. The top-level call never leaks them. */
  def compileSelect(q: SelectQuery, keepCompanions: Boolean = false): DataFrame = {
    // FROM / FROM NAMED apply to the whole query; subselects never carry
    // their own clause (grammar), so an empty one inherits the outer's
    if (!q.dataset.isEmpty) dataset = q.dataset
    val needsAggQ = q.mods.groupBy.nonEmpty || (q.projection match {
      case SelectVars(items) => items.exists(i => ExprCompiler.hasAgg(i.expr))
      case _ => false
    })
    if (needsAggQ) tryStarAggregate(q, keepCompanions) match {
      case Some(fast) => return fast
      case None =>
    }
    var df = compile(q.where)

    val projItems: Seq[ProjItem] = q.projection match {
      case SelectAll =>
        df.columns.filterNot(c => c.startsWith("__") || c.startsWith("_:"))
          .map(v => ProjItem(ExVar(v), None)).toSeq
      case SelectVars(items) => items
    }

    val needsAgg = q.mods.groupBy.nonEmpty || q.mods.having.nonEmpty ||
      projItems.exists(i => ExprCompiler.hasAgg(i.expr))

    // Aggregate-rewritten expressions reference computed agg columns.
    val aggMap = mutable.LinkedHashMap.empty[ExAgg, String]
    def rewriteAggs(e: Expr): Expr = e match {
      case a: ExAgg => ExVar(aggMap.getOrElseUpdate(a, syn("agg")))
      case ExOr(l, r) => ExOr(rewriteAggs(l), rewriteAggs(r))
      case ExAnd(l, r) => ExAnd(rewriteAggs(l), rewriteAggs(r))
      case ExNot(x) => ExNot(rewriteAggs(x))
      case ExCmp(op, l, r) => ExCmp(op, rewriteAggs(l), rewriteAggs(r))
      case ExArith(op, l, r) => ExArith(op, rewriteAggs(l), rewriteAggs(r))
      case ExNegNum(x) => ExNegNum(rewriteAggs(x))
      case ExIn(x, list, n) => ExIn(rewriteAggs(x), list.map(rewriteAggs), n)
      case ExCall(n, args) => ExCall(n, args.map(rewriteAggs))
      case other => other
    }

    var finalItems = projItems
    var having = q.mods.having
    var orderExprs = q.mods.orderBy

    if (needsAgg) {
      // group keys: plain vars keep their name; expressions get bound to a
      // key column. Any occurrence of a group expression in projection /
      // HAVING / ORDER BY must reference that key column (the source vars
      // no longer exist after aggregation).
      val preEc = exprC(df)
      val groupKeys: Seq[(GroupCond, String)] = q.mods.groupBy.map {
        case g @ GroupVar(v) => g -> v
        case g @ GroupExpr(_, alias) => g -> alias.getOrElse(syn("gkey"))
      }
      val gmap: Map[Expr, String] = groupKeys.collect {
        case (GroupExpr(e, _), n) => (e, n)
      }.toMap ++ groupKeys.collect { // alias itself is also in scope
        case (GroupExpr(_, Some(a)), n) => (ExVar(a): Expr, n)
      }.toMap
      def rewriteGroupRefs(e: Expr): Expr = gmap.get(e) match {
        case Some(n) => ExVar(n)
        case None => e match {
          case ExOr(l, r) => ExOr(rewriteGroupRefs(l), rewriteGroupRefs(r))
          case ExAnd(l, r) => ExAnd(rewriteGroupRefs(l), rewriteGroupRefs(r))
          case ExNot(x) => ExNot(rewriteGroupRefs(x))
          case ExCmp(op, l, r) => ExCmp(op, rewriteGroupRefs(l), rewriteGroupRefs(r))
          case ExArith(op, l, r) => ExArith(op, rewriteGroupRefs(l), rewriteGroupRefs(r))
          case ExNegNum(x) => ExNegNum(rewriteGroupRefs(x))
          case ExIn(x, list, neg) => ExIn(rewriteGroupRefs(x), list.map(rewriteGroupRefs), neg)
          case ExCall(n, args) => ExCall(n, args.map(rewriteGroupRefs))
          case a: ExAgg => a // group refs never rewrite inside aggregates
          case other => other
        }
      }
      finalItems = projItems.map(i =>
        ProjItem(rewriteAggs(rewriteGroupRefs(i.expr)), Some(i.name)))
      having = having.map(h => rewriteAggs(rewriteGroupRefs(h)))
      orderExprs = orderExprs.map { case (e, asc) =>
        (rewriteAggs(rewriteGroupRefs(e)), asc)
      }
      // §18.2.4.4 projection restriction: outside an aggregate, a
      // projected expression may reference only group variables (or a
      // previously-aliased projection). After the rewrites above,
      // aggregates are synthetic vars in aggMap, so the free vars of
      // finalItems are exactly the outside-aggregate references.
      locally {
        val allowed = mutable.Set[String]() ++
          groupKeys.map(_._2) ++ aggMap.values
        finalItems.foreach { i =>
          val bad = exprVars(i.expr) -- allowed
          if (bad.nonEmpty) throw new graft.GraftException(
            "variable" + (if (bad.size > 1) "s " else " ") +
              bad.toSeq.sorted.map("?" + _).mkString(", ") +
              " projected in an aggregate query without being grouped" +
              " (SPARQL 1.1 §18.2.4.4: use GROUP BY or wrap in" +
              " SAMPLE/an aggregate)")
          allowed += i.name
        }
        // the same restriction governs HAVING and ORDER BY: outside an
        // aggregate they may reference only group keys / aliases
        (having ++ orderExprs.map(_._1)).foreach { e =>
          val bad = exprVars(e) -- allowed
          if (bad.nonEmpty) throw new graft.GraftException(
            "variable" + (if (bad.size > 1) "s " else " ") +
              bad.toSeq.sorted.map("?" + _).mkString(", ") +
              " used in HAVING/ORDER BY of an aggregate query without" +
              " being grouped (SPARQL 1.1 §18.2.4.4)")
        }
      }
      // group vars with a companion key on the COMPANION(s) ONLY: each
      // companion determines the term (injective within its
      // template/signature), so the groups are unchanged while the
      // aggregation exchange and hash carry primitives (a long / the
      // lexical string) instead of 4-field structs — guide §2.3. The
      // struct is rebuilt once per GROUP below, and the companions
      // survive for downstream native joins. Grouping by a var the
      // pattern never binds is legal SPARQL: one group, key unbound.
      val rebuilt = mutable.ArrayBuffer.empty[(String, String)]
      val keyCols: Seq[Column] = groupKeys.flatMap {
        case (GroupVar(v), _) =>
          if (!df.columns.contains(v))
            Seq(F.lit(null).cast(Terms.termType).as(v))
          else {
            val comps = nkAll(df, v)
            if (comps.isEmpty) Seq(df(v))
            else {
              rebuilt += (v -> comps.head)
              comps.map(df(_))
            }
          }
        case (GroupExpr(e, _), n) => Seq(preEc.term(e).as(n))
      }
      val aggCols = aggMap.map { case (a, name) => preEc.agg(a).as(name) }.toSeq
      val safeAggs = if (aggCols.isEmpty)
        Seq(F.count(F.lit(1)).as(syn("dropme"))) else aggCols
      df = df.groupBy(keyCols: _*).agg(safeAggs.head, safeAggs.tail: _*)
      rebuilt.foreach { case (v, c) =>
        df = df.withColumn(v, termOfComp(c, F.col(c)))
      }
      if (having.nonEmpty) {
        val ec = exprC(df)
        having.foreach(h => df = df.where(ec.bool(h) <=> F.lit(true)))
      }
    }

    // materialize computed projections (keeping original columns so ORDER BY
    // can reference non-projected variables); SEQUENTIAL fold so a later
    // expression can reference an earlier item's alias (§18.2.4.4:
    // `SELECT (COUNT(?v) AS ?c) (?c+1 AS ?d)`)
    var work = finalItems.foldLeft(df) { (d, i) =>
      i.expr match {
        case ExVar(v) if v == i.name && d.columns.contains(v) => d
        case e =>
          // projection-expression errors leave the output unbound (a
          // NULL struct), same normalization as Extend
          val t = exprC(d).term(e)
          d.withColumn(i.name,
            F.when(Terms.value(t).isNull, F.lit(null).cast(Terms.termType))
              .otherwise(t))
      }
    }
    val names = finalItems.map(_.name)

    // companions of projected plain vars, renamed to the output name
    // (subquery position only — equal var ⟹ equal companion, so carrying
    // them through DISTINCT/ORDER BY cannot change the solution set)
    val workCols = work.columns.toSet
    val compCols: Seq[Column] =
      if (!keepCompanions) Nil
      else finalItems.flatMap { i =>
        i.expr match {
          case ExVar(v) if workCols(v) =>
            nkOf(work, v).map(c => F.col(c).as(nkRename(c, i.name)))
          case _ => None
        }
      }

    def orderCols(d: DataFrame): Seq[Column] = orderExprs.flatMap { case (e, asc) =>
      val keys = Terms.orderKeys(exprC(d).term(e))
      if (asc) keys.map(_.asc_nulls_first) else keys.map(_.desc_nulls_last)
    }

    var out: DataFrame =
      if (q.distinct || q.reduced) {
        var o = work.select(names.map(n => F.col(n)) ++ compCols: _*)
          .dropDuplicates(names)
        if (orderExprs.nonEmpty) o = o.orderBy(orderCols(o): _*)
        o
      } else {
        if (orderExprs.nonEmpty) work = work.orderBy(orderCols(work): _*)
        work.select(names.map(n => F.col(n)) ++ compCols: _*)
      }

    q.values.foreach(td =>
      out = joinCompat(out, tableDataDf(td),
        selectMaybeUnbound(q), maybeUnbound(td)))
    q.mods.offset.foreach(n => out = out.offset(n.toInt))
    q.mods.limit.foreach(n => out = out.limit(n.toInt))
    out
  }

  /** CONSTRUCT: instantiate the template per solution; blank nodes in the
    * template get per-solution labels. Result is a triples DataFrame
    * (deduplicated — graphs are sets). */
  def compileConstruct(q: ConstructQuery): DataFrame = {
    if (!q.dataset.isEmpty) dataset = q.dataset
    var bindings = compile(q.where)
    q.mods.limit.foreach(n => bindings = bindings.limit(n.toInt))
    val rowId = syn("row")
    val withId = bindings.withColumn(rowId, F.monotonically_increasing_id())
    def inst(n: Node): Column = n match {
      case TermNode(t) => termCol(t)
      case VarNode(v) if v.startsWith("_:") =>
        F.struct(F.lit(KIND_BLANK).cast(ByteType).as("kind"),
          F.concat(F.lit(v.substring(2) + "_"), F.col(rowId)).as("value"),
          nullStr.as("dt"), nullStr.as("lang"))
      case VarNode(v) if withId.columns.contains(v) => F.col(v)
      case VarNode(_) => F.lit(null).cast(Terms.termType)
      case QuotedNode(s, p, o) => // CONSTRUCT-star: build the quoted term
        Terms.packQuoted(inst(s), inst(p), inst(o))
    }
    val parts = q.template.map { tp =>
      val p = tp.p match {
        case VerbNode(n) => inst(n)
        case VerbPath(_) =>
          throw new UnsupportedOperationException("path in CONSTRUCT template")
      }
      withId.select(inst(tp.s).as("s"), p.as("p"), inst(tp.o).as("o"))
    }
    val all = parts.reduce(_ union _)
    all
      .where(F.col("s").isNotNull && F.col("p").isNotNull && F.col("o").isNotNull)
      // §16.2: instantiations that are not valid RDF triples are
      // discarded, not errors — a literal subject, or a variable in
      // predicate position that binds to anything but an IRI
      .where(F.col("s.kind") =!= KIND_LIT)
      .where(F.col("p.kind") === KIND_IRI)
      .dropDuplicates("s", "p", "o")
  }

  def compileAsk(q: AskQuery): Boolean = {
    if (!q.dataset.isEmpty) dataset = q.dataset
    !compile(q.where).isEmpty
  }
}
