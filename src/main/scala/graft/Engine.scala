package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, functions => F}
import org.apache.spark.sql.types._
import graft.rdf._
import graft.rdf.Terms._
import graft.sparql._
import graft.sparql.Ast._

/** Jupyter-friendly error with the reference's caret rendering: the
  * offending line is echoed with a `^` under the error column
  * (gastrodon/__init__.py:130-159, 536-594). */
class GraftException(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

object GraftException {
  def fromParse(query: String, e: SparqlParseException): GraftException = {
    val lines = query.split("\n", -1)
    val ctx = if (e.line >= 1 && e.line <= lines.length) {
      val line = lines(e.line - 1)
      val caret = " " * math.max(0, e.column - 1) + "^"
      s"\n$line\n$caret"
    } else ""
    new GraftException(s"Failed to parse query: ${e.msg} " +
      s"(line ${e.line}, column ${e.column})$ctx")
  }
}

/** The user-facing endpoint: SPARQL in, DataFrame out — the Spark-native
  * re-imagining of gastrodon's `Endpoint`/`LocalEndpoint`
  * (gastrodon/__init__.py:487-623). Differences by design:
  *
  *  - execution is our own Spark compiler (graft.sparql.Compiler), not an
  *    external store;
  *  - Python stack-frame variable capture (`_filter_frame`,
  *    gastrodon/__init__.py:625-631) is replaced with an explicit
  *    `bindings` map — the reference supports that path too
  *    (kwargs["bindings"], gastrodon/__init__.py:550-553). Variables named
  *    `?_x` substitute the value bound to "x" as a constant BEFORE
  *    compilation, so Catalyst plans with literals (constant folding +
  *    pushdown), mirroring `_substitute_arguments`
  *    (gastrodon/__init__.py:348-356) but at AST level — no text injection.
  */
class Engine(initial: RdfGraph) {

  /** Current graph version (UPDATE swaps it — SURVEY.md §2C). */
  @volatile var graph: RdfGraph = initial

  def spark: SparkSession = graph.spark

  // parse cache: the reference lru_caches parseQuery (gastrodon/__init__.py:905-911).
  // BOUNDED like the reference's lru_cache — an unbounded map keyed by
  // query text grows without limit on a long-lived engine whose queries
  // embed varying constants (found by UpdateModelSpec's deepened fuzz:
  // thousands of distinct generated queries through one engine).
  private val parseCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, ParsedQuery](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, ParsedQuery]): Boolean = size() > 512
    })

  def bindNamespace(prefix: String, ns: String): Unit =
    graph = graph.withPrefix(prefix, ns)

  /** prefix → namespace table, sorted by prefix (namespaces(),
    * gastrodon/__init__.py:179-204). */
  def namespaces(): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = graph.prefixes.toSeq.sortBy(_._1)
      .map { case (p, ns) => Row(p, ns) }
    spark.createDataFrame(rows.asJava,
      StructType(Seq(StructField("prefix", StringType), StructField("namespace", StringType))))
  }

  private def parse(sparql: String): ParsedQuery =
    parseCache.computeIfAbsent(sparql, { q =>
      val parsed =
        try new Parser(graph.prefixes).parseQuery(q)
        catch { case e: SparqlParseException => throw GraftException.fromParse(q, e) }
      // grammar-note/scope well-formedness (Validate scaladoc): a
      // failed validation throws BEFORE the cache is populated
      try parsed.query match {
        case s: SelectQuery => Validate.select(s)
        case c: ConstructQuery => Validate.construct(c.where)
        case a: AskQuery => Validate.where(a.where)
        case d: DescribeQuery => d.where.foreach(Validate.where)
      } catch {
        case e: GraftException =>
          throw new GraftException(s"${e.getMessage}\nIn query:\n$q", e)
      }
      parsed
    })

  private def compiler = new Compiler(graph, spark)

  /** Wrap query-time engine/Spark failures with the query text — the
    * reference renders ALL query errors notebook-friendly
    * (gastrodon/__init__.py:536-594), not just parse errors. */
  private def wrapRuntime[T](sparql: String)(f: => T): T =
    try f catch {
      case e: GraftException => throw e
      case e: org.apache.spark.sql.AnalysisException =>
        throw new GraftException(
          s"Query failed: ${e.getMessage}\nIn query:\n$sparql", e)
      case e: UnsupportedOperationException =>
        throw new GraftException(
          s"Query not supported: ${e.getMessage}\nIn query:\n$sparql", e)
    }

  /** Scala value → RDF term, resolving QName-shaped strings against the
    * engine's prefix map — a pasted display value like `gp:c_name` or
    * `:Brooklyn` round-trips to the full IRI it was shortened from (the
    * reference's GastrodonURI, gastrodon/__init__.py:54-75). Unbound
    * prefixes fall back to plain literals (a ratio like "12:30" is not a
    * QName). */
  def toTerm(v: Any): RdfTerm = Engine.resolveTerm(v, graph.prefixes)

  private def toTerms(bindings: Map[String, Any]): Map[String, RdfTerm] =
    bindings.map { case (k, v) => k -> toTerm(v) }

  /** SELECT → display DataFrame (typed native columns, QName-shortened
    * IRIs) — `Endpoint.select` (gastrodon/__init__.py:487-511). Returns the
    * frame with GROUP BY variables first (the reference sets them as the
    * pandas index — gastrodon/__init__.py:505-511). */
  def select(sparql: String, bindings: Map[String, Any] = Map.empty): DataFrame =
    wrapRuntime(sparql) {
      val q = parseSelect(sparql, bindings)
      val raw = compiler.compileSelect(q)
      // Static path: column types derived from the query AST + schema
      // metadata — a pure projection rewrite, zero extra data passes (the
      // only acceptable default at 100 TB). Fallback for untyped graphs:
      // a sniffing aggregate pass, so the query executes once for the
      // sniff and once for the caller's action. (A persist here is a
      // trap: unpersisting before the caller acts discards the blocks,
      // and leaving it persisted leaks them — the double execution is
      // the honest cost of a schema-free graph.)
      TypeInfer.selectDecisions(q, graph) match {
        case Some(decisions) =>
          Display.toDisplayStatic(raw, decisions, graph.prefixes)
        case None => Display.toDisplay(raw, graph.prefixes)
      }
    }

  /** SELECT without display conversion: term-struct columns
    * (`select_raw`, gastrodon/__init__.py:513-523). This is the 100 TB
    * path — no per-column type sniffing pass. */
  def selectRaw(sparql: String, bindings: Map[String, Any] = Map.empty): DataFrame =
    wrapRuntime(sparql) { compiler.compileSelect(parseSelect(sparql, bindings)) }

  /** The Spark physical plan a SPARQL SELECT compiles to, as
    * `DataFrame.explain` text (`"formatted"`, `"extended"`, or
    * `"simple"`) — the plan-inspection surface a user tuning a 100 TB
    * query needs (are the filters pushed? which joins broadcast?),
    * without executing anything. Uses the raw compile path, so the
    * plan is the one `selectRaw` runs. */
  def explain(sparql: String, mode: String = "formatted",
      bindings: Map[String, Any] = Map.empty): String = {
    // validate the mode BEFORE compiling, inside this surface's error
    // contract (a typo'd mode must not leak a raw Spark exception)
    val m = try
      org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    catch {
      case _: IllegalArgumentException => throw new GraftException(
        s"explain mode must be one of simple/extended/codegen/cost/" +
          s"formatted, got '$mode'")
    }
    wrapRuntime(sparql) {
      compiler.compileSelect(parseSelect(sparql, bindings))
        .queryExecution.explainString(m)
    }
  }

  private def parseSelect(sparql: String, bindings: Map[String, Any]): SelectQuery =
    parse(sparql).query match {
      case s: SelectQuery => Substitute(s, toTerms(bindings))
      case _ => throw new GraftException("select() requires a SELECT query")
    }

  /** GROUP BY variables of a query, when all group conditions are plain
    * variables (the reference's indexing rule — _extract_group_by,
    * gastrodon/__init__.py:913-921 returns [] for expression conditions). */
  def groupKeys(sparql: String): Seq[String] = parse(sparql).query match {
    case s: SelectQuery =>
      val all = s.mods.groupBy
      if (all.nonEmpty && all.forall(_.isInstanceOf[GroupVar]))
        all.collect { case GroupVar(v) => v }
      else Nil
    case _ => Nil
  }

  /** CONSTRUCT → new graph (gastrodon/__init__.py:525-534). */
  def construct(sparql: String, bindings: Map[String, Any] = Map.empty): RdfGraph =
    wrapRuntime(sparql) {
      parse(sparql).query match {
        case c: ConstructQuery =>
          val c2 = Substitute(c, toTerms(bindings))
          RdfGraph(compiler.compileConstruct(c2), graph.prefixes)
        case _ => throw new GraftException("construct() requires a CONSTRUCT query")
      }
    }

  def ask(sparql: String): Boolean = wrapRuntime(sparql) {
    parse(sparql).query match {
      case a: AskQuery => compiler.compileAsk(a)
      case _ => throw new GraftException("ask() requires an ASK query")
    }
  }

  /** DESCRIBE → concise bounded description graph. SPARQL 1.1 leaves the
    * result form to the implementation; this returns, for every target
    * node (explicit IRIs plus each variable's bindings from the optional
    * WHERE pattern), the outbound triples and the blank-node closure —
    * exactly the walk the reference's `peel` performs one HTTP round-trip
    * at a time (gastrodon/__init__.py:688-743), here one seeded `*`
    * closure over the WHOLE target set at once (see [[peel]]). */
  def describe(sparql: String, bindings: Map[String, Any] = Map.empty): RdfGraph =
    wrapRuntime(sparql) {
      parse(sparql).query match {
        case d: DescribeQuery =>
          // the reference's `?_x` convention (gastrodon/__init__.py:45)
          val terms = toTerms(bindings).map { case (k, v) => ("_" + k, v) }
          val targets = d.targets.map {
            case VarNode(v) if terms.contains(v) => TermNode(terms(v))
            case n => n
          }
          val iriTargets = targets.collect { case TermNode(t) => t }
          val varTargets = targets.collect { case VarNode(v) => v }
          val iriDf = Option.when(iriTargets.nonEmpty)(Fixpoints.seedFrame(spark, iriTargets))
          val varDf = (d.where, varTargets) match {
            case (Some(w), vs) if vs.nonEmpty =>
              val bound = compiler.compile(Substitute.pattern(w, terms))
              val cols = vs.filter(bound.columns.contains)
              if (cols.isEmpty) None
              else Some(cols.map(v => bound.select(F.col(v).as("n"))
                .where(F.col("n").isNotNull)).reduce(_ union _))
            case _ => None
          }
          cbd((iriDf ++ varDf).reduceOption(_ union _).getOrElse(
            throw new GraftException("DESCRIBE requires at least one target")))
        case _ => throw new GraftException("describe() requires a DESCRIBE query")
      }
    }

  /** SPARQL UPDATE: INSERT/DELETE (DATA|WHERE) — swaps in a new graph
    * version (gastrodon/__init__.py:596-623; set semantics make repeated
    * rule application idempotent, which the reference's forward-chaining
    * inference loops rely on). */
  def update(sparql: String, bindings: Map[String, Any] = Map.empty): Unit =
    wrapRuntime(sparql) {
      val parsed =
        try new Parser(graph.prefixes).parseUpdate(sparql)
        catch { case e: SparqlParseException => throw GraftException.fromParse(sparql, e) }
      val terms = toTerms(bindings)
      parsed.ops.foreach { op => applyUpdate(Substitute(op, terms)) }
    }

  /** SPARQL 1.1 Update §3.1.1/§3.1.3: blank nodes are DISALLOWED in
    * DELETE DATA and in any DELETE template — a bnode can never match
    * by label, so accepting one silently deletes nothing. */
  private def rejectDeleteBnodes(ts: Seq[TriplePattern], op: String): Unit = {
    def bad(n: Node): Boolean = n match {
      case TermNode(Blank(_)) => true
      case TermNode(q: QuotedTriple) =>
        def inQ(t: RdfTerm): Boolean = t match {
          case Blank(_) => true
          case QuotedTriple(a, b, c) => inQ(a) || inQ(b) || inQ(c)
          case _ => false
        }
        inQ(q)
      case VarNode(v) if v.startsWith("_:") => true
      case QuotedNode(a, _, c) => bad(a) || bad(c)
      case _ => false
    }
    ts.foreach { tp =>
      val verb = tp.p match { case VerbNode(n) => bad(n); case _ => false }
      if (bad(tp.s) || verb || bad(tp.o))
        throw new GraftException(
          s"blank nodes are not allowed in $op (SPARQL 1.1 Update " +
            "§3.1.1/§3.1.3 — a blank node cannot match by label)")
    }
  }

  /** Guard for named-graph operations on a triples-only store: erroring
    * loudly beats silently misfiling data into the default graph (the
    * round-12 LOAD…INTO GRAPH behavior this replaces). */
  private def requireQuadStore(what: String): Unit =
    if (!graph.isQuads)
      throw new GraftException(
        s"$what targets a named graph, but this store holds triples only " +
          "— promote it first with RdfGraph.asQuadStore (current content " +
          "becomes the default graph)")

  /** A named graph exists iff it holds at least one quad (this store
    * does not record empty graphs — the SPARQL-sanctioned posture that
    * makes CREATE a no-op and DROP coincide with CLEAR). */
  private def graphExists(iri: String): Boolean =
    graph.isQuads && !graph.triples.where(namedG(iri)).isEmpty

  /** Mirror a graph condition onto the GraphStore partition column when
    * the store carries one — existence probes and management ops then
    * prune to the graph's directory instead of scanning the store. */
  private def withGPart(cond: Column, part: Column): Column =
    if (graph.triples.columns.contains(Terms.GPART_COL)) part && cond
    else cond

  private def namedG(iri: String): Column =
    withGPart(
      F.col("g").isNotNull && F.col("g.kind") === KIND_IRI &&
        F.col("g.value") === iri,
      F.col(Terms.GPART_COL) === ("i:" + iri))

  private def graphCond(g: Option[String]): Column = g match {
    case None => withGPart(F.col("g").isNull,
      F.col(Terms.GPART_COL) === Terms.GPART_DEFAULT)
    case Some(iri) => namedG(iri)
  }

  /** Swap in a new triples frame, dropping source-derived metadata the
    * way RdfGraph.insert/delete do (it describes the pre-update state). */
  /** UPDATE ops compose the new store on the previous store's PLAN, so an
    * unbounded op sequence builds an unboundedly deep Catalyst tree whose
    * analyze/canonicalize cost grows with every op ever applied — a
    * long-running update workload eventually OOMs the driver (found by
    * UpdateModelSpec's deepened fuzz: 40-op random sequences × several
    * seeds through one engine blew the heap in plan canonicalization).
    * Truncate lineage every few ops with a LAZY checkpoint: the plan
    * collapses to a leaf immediately, the data materializes at the next
    * action, and the store stays distributed.
    *
    * FAULT-TOLERANCE TRADEOFF: `localCheckpoint` stores executor-LOCAL
    * blocks and discards the lineage that could rebuild them — if an
    * executor is lost afterwards (dynamic allocation, spot/preemptible
    * nodes, decommission), the truncated store is unrecoverable and
    * every later query fails. For a long-lived update workload on such
    * a cluster, set `SparkContext.setCheckpointDir` to reliable storage
    * (HDFS/S3): this path then uses a RELIABLE checkpoint — the blocks
    * land in the checkpoint dir and survive any executor loss. Sessions
    * without a checkpoint dir (a fixed-executor box, notebooks, tests)
    * keep the cheaper local path.
    *
    * CHECKPOINT LIFECYCLE: Spark never deletes reliable checkpoint
    * files on its own (`spark.cleaner.referenceTracking.cleanCheckpoints`
    * defaults to false), so the exact workload the reliable path
    * targets — a long update session on a large store — would grow
    * O(ops/8) full store copies until the filesystem filled. The
    * reliable path therefore checkpoints EAGERLY and retains the TWO
    * newest truncations, deleting the generation before them once the
    * new copy is durable: O(1) live checkpoint dirs per engine, with a
    * one-generation grace window (ADVICE r16 — unconditionally deleting
    * the immediately-previous copy silently broke any un-executed lazy
    * frame a caller captured from a query ≥8 updates earlier). A frame
    * held across ≥16 further updates can still reference a deleted
    * copy — materialize results you intend to keep that long. */
  private var updatesSinceCheckpoint = 0
  /** Reliable-truncation files still on disk, newest first (≤2). */
  private var liveCheckpointFiles: List[String] = Nil
  /** Install the post-op store. EVERY update path funnels through here
    * (r14's truncation hung off replaceTriples only, so a long run of
    * plain INSERT DATA / DELETE DATA / Modify ops — the most common
    * update workload — still grew an unbounded plan; found while
    * pinning the reliable-checkpoint upgrade). */
  private def setGraph(g2: RdfGraph): Unit = {
    updatesSinceCheckpoint += 1
    graph =
      if (updatesSinceCheckpoint >= 8) {
        updatesSinceCheckpoint = 0
        val truncated =
          if (spark.sparkContext.getCheckpointDir.isDefined) {
            // eager: the new copy must be durable BEFORE the previous
            // one is deleted, or a crash in between loses the store
            val t = g2.triples.checkpoint(true)
            val newFile = t.queryExecution.logical match {
              case l: org.apache.spark.sql.execution.LogicalRDD =>
                l.rdd.getCheckpointFile
              case _ => None
            }
            val (retain, drop) = (newFile.toList :::
              liveCheckpointFiles.filterNot(newFile.contains)).splitAt(2)
            drop.foreach { p =>
              scala.util.Try { // best effort — growth, not correctness
                val hp = new org.apache.hadoop.fs.Path(p)
                hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
                  .delete(hp, true)
              }
            }
            liveCheckpointFiles = retain
            t
          } else g2.triples.localCheckpoint(false)
        g2.copy(triples = truncated, predIndex = Map.empty,
          starTables = Nil, predObjTypes = Map.empty, predNat = Map.empty,
          predCounts = Map.empty)
      } else g2
  }
  private def replaceTriples(df: DataFrame): Unit =
    setGraph(graph.copy(triples = df, predIndex = Map.empty,
      starTables = Nil, predObjTypes = Map.empty, predNat = Map.empty,
      predCounts = Map.empty))

  /** CLEAR/DROP shared body (§3.2.2/§3.2.3 — identical on a store that
    * does not record empty graphs). */
  private def clearGraphs(target: GraphRef, silent: Boolean): Unit =
    target match {
      case AllRef =>
        if (!graph.isQuads)
          graph = RdfGraph.empty(spark).copy(prefixes = graph.prefixes)
        else replaceTriples(graph.triples.limit(0))
      case DefaultRef =>
        if (!graph.isQuads)
          graph = RdfGraph.empty(spark).copy(prefixes = graph.prefixes)
        else replaceTriples(graph.triples.where(F.col("g").isNotNull))
      case NamedRef =>
        if (graph.isQuads)
          replaceTriples(graph.triples.where(F.col("g").isNull))
      case OneGraphRef(iri) =>
        if (graphExists(iri))
          replaceTriples(graph.triples.where(!namedG(iri)))
        else if (!silent)
          throw new GraftException(s"graph <$iri> does not exist" +
            (if (graph.isQuads) "" else " (triples-only store)"))
    }

  /** ADD/MOVE/COPY shared body (§3.2.5-§3.2.7): data of `from` lands in
    * `to` relabeled; MOVE empties `from`; MOVE/COPY first empty `to`.
    * One union + anti-filter over the store — no driver materialization. */
  private def copyLike(from: Option[String], to: Option[String],
      silent: Boolean, dropTo: Boolean, dropFrom: Boolean): Unit = {
    if (from == to) return // §3.2.5: same graph → no-op (incl. DEFAULT)
    if (from.isDefined || to.isDefined)
      requireQuadStore("ADD/MOVE/COPY with a GRAPH side")
    from match {
      case Some(iri) if !graphExists(iri) =>
        if (!silent) throw new GraftException(s"graph <$iri> does not exist")
        return
      case _ => ()
    }
    val t = graph.triples
    val toTerm = to match {
      case Some(iri) => termCol(Iri(iri))
      case None => F.lit(null).cast(Terms.termType)
    }
    var relabeled = t.where(graphCond(from)).withColumn("g", toTerm)
    // keep the GraphStore partition helper consistent with the new g
    if (t.columns.contains(Terms.GPART_COL))
      relabeled = relabeled.withColumn(
        Terms.GPART_COL, Terms.gPartition(F.col("g")))
    var keep = t
    if (dropTo) keep = keep.where(!graphCond(to))
    if (dropFrom) keep = keep.where(!graphCond(from))
    replaceTriples(keep.unionByName(relabeled)
      .dropDuplicates("s", "p", "o", "g"))
  }

  /** Post-INSERT schema retention (see RdfGraph.predObjTypes): when the
    * pre-update graph carries the metadata (so its terms are proven
    * quoted-free) and EVERY template triple's inserted terms are
    * provably within the metadata's domain — constant IRI predicate;
    * object a constant IRI or lang-less literal; subject (and graph
    * slot) a constant non-quoted term, a template bnode, or a WHERE
    * variable that can never bind a quoted term — the insert EXTENDS
    * the per-predicate object types instead of dropping them, and
    * post-UPDATE queries keep the zero-pass static display. Anything
    * else (var/bnode/lang-tagged/quoted objects, var predicates,
    * untyped pre-state) returns None and the metadata drops as before. */
  private def insertObjTypes(tmpl: Seq[Quad],
      where: Option[GraphPattern]): Option[Map[String, Set[PredObjType]]] = {
    val meta = graph.predObjTypes
    if (meta.isEmpty) return None
    def slotOk(n: Node): Boolean = n match {
      case TermNode(_: QuotedTriple) => false
      case QuotedNode(_, _, _) => false
      case TermNode(_) => true
      case VarNode(v) if v.startsWith("_:") => true // minted bnode
      case VarNode(v) => where.exists(w =>
        TypeInfer.neverQuotedVar(v, w, meta))
    }
    val perTriple = tmpl.map { q =>
      val tp = q.t
      if (!slotOk(tp.s) || !q.g.forall(slotOk)) None
      else (tp.p, tp.o) match {
        case (VerbNode(TermNode(Iri(p))), TermNode(Iri(_))) =>
          Some(p -> (IriObj: PredObjType))
        case (VerbNode(TermNode(Iri(p))), TermNode(Lit(_, dt, null))) =>
          Some(p -> (LitObj(dt): PredObjType))
        case _ => None
      }
    }
    if (perTriple.exists(_.isEmpty)) None
    else Some(meta ++ perTriple.flatten.groupBy(_._1).map { case (p, xs) =>
      p -> (meta.getOrElse(p, Set.empty[PredObjType]) ++ xs.map(_._2))
    })
  }

  private def applyUpdate(op: UpdateOp): Unit = op match {
    case InsertData(qs) =>
      val retained = insertObjTypes(qs, None)
      val inserted = graph.insert(groundQuads(qs, "INSERT DATA",
        freshBnodes = true))
      setGraph(retained.fold(inserted)(m =>
        inserted.copy(predObjTypes = m)))
    case DeleteData(qs) =>
      rejectDeleteBnodes(qs.map(_.t), "DELETE DATA")
      setGraph(graph.delete(groundQuads(qs, "DELETE DATA")))
    case DeleteWhere(tmpl) if tmpl.isEmpty => // zero-quad template: no-op
    case DeleteWhere(tmpl) =>
      rejectDeleteBnodes(tmpl.map(_.t), "DELETE WHERE")
      if (tmpl.exists(_.g.isDefined)) requireQuadStore("DELETE WHERE { GRAPH … }")
      val inst = instantiate(tmpl, compiler.compile(quadsPattern(tmpl)), None)
      setGraph(graph.delete(inst))
    case Modify(del, ins, where, withG, using) =>
      rejectDeleteBnodes(del.map(_.t), "a DELETE template")
      if (withG.isDefined) requireQuadStore("WITH <g>")
      if (!using.isEmpty) requireQuadStore("USING")
      if ((del ++ ins).exists(_.g.isDefined))
        requireQuadStore("a GRAPH template block")
      val bindingsDf = compiler.compileUpdateWhere(where, using, withG)
      // evaluate both templates against the SAME pre-update graph
      val delT = if (del.nonEmpty) Some(instantiate(del, bindingsDf, withG)) else None
      val insT = if (ins.nonEmpty) Some(instantiate(ins, bindingsDf, withG)) else None
      val retained =
        if (ins.isEmpty) None else insertObjTypes(ins, Some(where))
      var g = graph
      delT.foreach(d => g = g.delete(d))
      insT.foreach(i => g = g.insert(i))
      retained.foreach(m => g = g.copy(predObjTypes = m))
      setGraph(g)
    case Clear(target, silent) => clearGraphs(target, silent)
    case Drop(target, silent) => clearGraphs(target, silent)
    case Create(iri, silent) =>
      // empty graphs are not recorded: creating a fresh graph is a
      // no-op; §3.2.1 still mandates the already-exists error
      if (graphExists(iri) && !silent)
        throw new GraftException(s"graph <$iri> already exists")
      if (!graph.isQuads && !silent) requireQuadStore("CREATE GRAPH")
    case AddGraph(from, to, silent) =>
      copyLike(from, to, silent, dropTo = false, dropFrom = false)
    case MoveGraph(from, to, silent) =>
      copyLike(from, to, silent, dropTo = true, dropFrom = true)
    case CopyGraph(from, to, silent) =>
      copyLike(from, to, silent, dropTo = true, dropFrom = false)
    case Load(url, intoGraph, silent) =>
      // LOAD [SILENT] <doc> [INTO GRAPH <g>]
      // (gastrodon/__init__.py:905-907). N-Triples (.nt/.nt.gz) reads
      // distributed; Turtle and RDF/XML parse driver-side (same split
      // as the standalone sources). Only local documents (file:// or a
      // bare path) are supported — remote schemes fail with a clear
      // error, not an opaque IO one. SILENT (§3.1.4) turns retrieval/
      // parse failures into a no-op; the triples-only-store capability
      // error stays loud (a store-shape problem, not a document one).
      if (intoGraph.isDefined) requireQuadStore("LOAD … INTO GRAPH")
      try applyLoad(url, intoGraph)
      catch {
        case _: Exception if silent => () // §3.1.4: failures become no-ops
        case e: GraftException => throw e
        case e: Exception => throw new GraftException(
          s"LOAD failed for <$url>: ${e.getMessage}", e)
      }
  }

  private def applyLoad(url: String, intoGraph: Option[String]): Unit = {
      val scheme = url.takeWhile(c => c.isLetter || c == '+').toLowerCase
      if (url.contains("://") && scheme != "file")
        throw new GraftException(
          s"LOAD supports file:// or local-path documents, got <$url>")
      val path = url.stripPrefix("file://")
      val lower = path.toLowerCase
      val loaded =
        if (lower.endsWith(".ttl") || lower.endsWith(".turtle"))
          sources.Turtle.parse(sources.Sidecar.read(
            spark.sparkContext.hadoopConfiguration,
            new org.apache.hadoop.fs.Path(path))
            .getOrElse(throw new java.io.FileNotFoundException(path)), spark)
        else if (lower.endsWith(".nt") || lower.endsWith(".nt.gz"))
          sources.NTriples.read(spark, path)
        else if (lower.endsWith(".rdf") || lower.endsWith(".owl") ||
            lower.endsWith(".xml"))
          sources.RdfXml.read(spark, path, base = url)
        else if (lower.endsWith(".jsonld") || lower.endsWith(".json")) {
          // LOAD targets the default graph; a JSON-LD doc may carry
          // named graphs — SPARQL 1.1 LOAD loads "an RDF graph", so
          // the document's graphs flatten into one
          val doc = sources.JsonLd.read(spark, path, base = url)
          doc.copy(triples = doc.triples.select("s", "p", "o")
            .dropDuplicates("s", "p", "o"))
        }
        else throw new GraftException(
          s"LOAD cannot infer the RDF format of <$url> " +
            "(expected .ttl/.turtle, .nt/.nt.gz, .rdf/.owl/.xml, or " +
            ".jsonld/.json)")
      val placed = intoGraph match {
        case Some(g) =>
          // honor the target (the quad-store guard already ran, outside
          // the SILENT net): the document's triples land in <g>
          loaded.triples.withColumn("g", termCol(Iri(g)))
        case None => loaded.triples
      }
      setGraph(graph.insert(placed)
        .copy(prefixes = loaded.prefixes ++ graph.prefixes))
  }

  /** Monotonic per-request id for INSERT DATA blank nodes (§3.1.1:
    * bnodes in QuadData are FRESH per request, sharing labels only
    * within it). */
  private val dataBnodeReq = new java.util.concurrent.atomic.AtomicLong

  private def groundQuads(qs: Seq[Quad], opName: String,
      freshBnodes: Boolean = false): DataFrame = {
    if (qs.exists(_.g.isDefined)) requireQuadStore(s"$opName with GRAPH")
    val fresh = scala.collection.mutable.Map[String, Blank]()
    lazy val reqId = dataBnodeReq.incrementAndGet()
    def ground(n: Node): RdfTerm = n match {
      case TermNode(t) => t
      case VarNode(v) if freshBnodes && v.startsWith("_:") =>
        fresh.getOrElseUpdate(v, Blank(s"ud${reqId}_${v.substring(2)}"))
      case _ => throw new GraftException(s"$opName requires ground triples")
    }
    val quads = qs.map { q =>
      val g = q.g match {
        case None => None
        case Some(TermNode(i: Iri)) => Some(i: RdfTerm)
        case Some(other) => throw new GraftException(
          s"$opName requires a ground GRAPH name, got $other")
      }
      q.t.p match {
        case VerbNode(TermNode(p)) => (ground(q.t.s), p, ground(q.t.o), g)
        case _ => throw new GraftException(s"$opName requires ground triples")
      }
    }
    if (!graph.isQuads)
      RdfGraph.fromTriples(spark, quads.map(q => (q._1, q._2, q._3))).triples
    else RdfGraph.fromQuads(spark, quads).triples
  }

  /** The pattern a quad template matches against (DELETE WHERE §3.1.3:
    * the template IS the pattern): default-graph triples form one BGP,
    * each GRAPH block a GraphPat-scoped BGP, all joined. */
  private def quadsPattern(tmpl: Seq[Quad]): GraphPattern = {
    val groups = tmpl.groupBy(_.g).toSeq.sortBy(_._1.toString)
    groups.map {
      case (None, qs) => Bgp(qs.map(_.t)): GraphPattern
      case (Some(g), qs) => GraphPat(g, Bgp(qs.map(_.t))): GraphPattern
    }.reduceOption(Join.apply).getOrElse(Unit0)
  }

  /** Template instantiation over a bindings frame (INSERT/DELETE WHERE —
    * SURVEY.md §2C: matches.select(tmpl) → union/except). On a quad
    * store every instantiated row carries its target graph: the quad's
    * GRAPH node, else the WITH graph, else the default graph (g null);
    * a GRAPH variable unbound or bound to a non-IRI skips the row
    * (§3.1.3 — such quads are not produced, they must NOT fall through
    * to the default graph). */
  private def instantiate(tmpl: Seq[Quad], bindings: DataFrame,
      withGraph: Option[String]): DataFrame = {
    val rowId = "__row"
    val withId = bindings.withColumn(rowId, F.monotonically_increasing_id())
    // template bnodes are fresh per SOLUTION (the row id) and per
    // EXECUTION (the request id) — without the latter, re-running one
    // Modify would mint the same labels and set semantics would
    // swallow the new nodes
    val reqId = dataBnodeReq.incrementAndGet()
    def inst(n: Node): Column = n match {
      case TermNode(t) => termCol(t)
      case VarNode(v) if v.startsWith("_:") =>
        F.struct(F.lit(KIND_BLANK).cast(ByteType).as("kind"),
          F.concat(F.lit(s"r${reqId}_${v.substring(2)}_"),
            F.col(rowId)).as("value"),
          nullStr.as("dt"), nullStr.as("lang"))
      case VarNode(v) if withId.columns.contains(v) => F.col(v)
      case VarNode(_) => F.lit(null).cast(Terms.termType)
      case QuotedNode(s, p, o) => // INSERT/DELETE-star: build the quoted term
        Terms.packQuoted(inst(s), inst(p), inst(o))
    }
    val quads = graph.isQuads
    tmpl.map { q =>
      val tp = q.t
      val p = tp.p match {
        case VerbNode(n) => inst(n)
        case VerbPath(_) => throw new GraftException("path in UPDATE template")
      }
      val base = Seq(inst(tp.s).as("s"), p.as("p"), inst(tp.o).as("o"))
      var df =
        if (!quads) withId.select(base: _*)
        else {
          val gCol = q.g match {
            case None => withGraph match {
              case Some(g) => termCol(Iri(g))
              case None => F.lit(null).cast(Terms.termType)
            }
            case Some(n) => inst(n)
          }
          withId.select(base :+ gCol.as("g"): _*)
        }
      df = df
        .where(F.col("s").isNotNull && F.col("p").isNotNull &&
          F.col("o").isNotNull)
        .where(F.col("s.kind") =!= KIND_LIT)
        .where(F.col("p.kind") === KIND_IRI)
      if (quads && q.g.exists(_.isInstanceOf[VarNode]))
        df = df.where(F.col("g").isNotNull && F.col("g.kind") === KIND_IRI)
      df
    }.reduce(_ union _)
      .dropDuplicates(if (quads) Seq("s", "p", "o", "g") else Seq("s", "p", "o"))
  }

  // ---------------------------------------------------------- containers

  /** Flatten an rdf:Seq/Bag/Alt container (decollect,
    * gastrodon/__init__.py:403-463): Seq → ordered List by rdf:_N index,
    * Bag/Alt → value→count Map. Dispatches on the container's rdf:type
    * (the reference probes with a VALUES query). On a quad store it
    * ranges over the default graph, like peel/DESCRIBE and un-scoped
    * SELECT patterns; named graphs are reached through GRAPH queries. */
  def decollect(node: RdfTerm): Any = {
    val t = graph.defaultGraph
    val typeRow = t.where(F.col("s") === termCol(node) &&
        F.col("p") === termCol(Iri(RDF.typ)))
      .select(F.col("o.value")).collect()
    val typ = typeRow.headOption.map(_.getString(0)).getOrElse(RDF.Seq_)
    val members = t.where(F.col("s") === termCol(node) &&
        F.col("p.value").startsWith(RDF.memberPrefix))
      // SUBSTR(STR(?p), 45) — 1-based, prefix length 44 (gastrodon/__init__.py:427)
      .withColumn("__idx",
        F.col("p.value").substr(F.lit(RDF.memberPrefix.length + 1), F.lit(18))
          .cast(IntegerType))
    if (typ == RDF.Bag || typ == RDF.Alt) {
      members.groupBy(F.col("o")).agg(F.count(F.lit(1)).as("n"))
        .collect()
        .map(r => Display.termToScala(r.getStruct(0), graph.prefixes) -> r.getLong(1))
        .toMap
    } else {
      members.orderBy(F.col("__idx"))
        .select(F.col("o")).collect()
        .map(r => Display.termToScala(r.getStruct(0), graph.prefixes)).toSeq
    }
  }

  /** Copy the blank-node closure reachable from `node` into a standalone
    * graph (peel, gastrodon/__init__.py:688-743). The reference walks one
    * node per HTTP round-trip; here the walk is a seeded `*` closure
    * ([[cbd]]): one job per level, or one in all when the predicate counts
    * prove the store small. */
  def peel(node: RdfTerm): RdfGraph = cbd(Fixpoints.seedFrame(spark, Seq(node)))

  /** Concise bounded description of every node in `targets` (one
    * term-struct column `n`): outbound triples plus the blank-node
    * closure — the shared walk behind [[peel]] and [[describe]]. The
    * described nodes are the `*` closure ([[Fixpoints.reach]]) from the
    * targets over the default-graph edges whose object is blank; the
    * description is the default-graph triples whose subject is one of
    * them. The predicate counts bound the number of those edges. */
  private def cbd(targets: DataFrame): RdfGraph = {
    val t = graph.defaultGraph
    val blankEdges = t.where(F.col("o.kind") === KIND_BLANK)
      .select(F.col("s").as("ps"), F.col("o").as("po"))
    val counts = graph.predCounts.values
    val reached = Fixpoints.reach(targets, blankEdges, includeZero = true,
      if (counts.isEmpty) None else Some(counts.sum))
    RdfGraph(t.join(reached, t("s") === reached("po"), "left_semi").distinct(),
      graph.prefixes)
  }

  // ------------------------------------------------------------- helpers

  /** All URIs in the graph as a Scala Set (all_uri,
    * gastrodon/__init__.py:821-834) — explicit collect API. */
  def allUri(): Set[String] =
    graph.allUris.collect().map(_.getString(0)).toSet

  /** Graph → Turtle text (ttl, gastrodon/__init__.py:811-819). */
  def ttl(): String = sources.Turtle.serialize(graph)
}

object Engine {

  /** Turtle text → engine (inline, gastrodon/__init__.py:848-857). */
  def inline(turtle: String)(implicit spark: SparkSession): Engine =
    new Engine(sources.Turtle.parse(turtle, spark))

  def fromGraph(g: RdfGraph): Engine = new Engine(g)

  /** Scala value → RDF term (_toRDF, gastrodon/__init__.py:358-372,
    * 807-809). */
  def anyToTerm(v: Any): RdfTerm = v match {
    case t: RdfTerm => t
    case u: GraftUri => Iri(u.uri)
    case i: Int => Lit.typed(i.toString, XSD.integer)
    case l: Long => Lit.typed(l.toString, XSD.integer)
    case d: Double => Lit.typed(d.toString, XSD.double)
    case f: Float => Lit.typed(f.toString, XSD.double)
    case b: Boolean => Lit.typed(b.toString, XSD.boolean)
    case d: BigDecimal => Lit.typed(d.toString, XSD.decimal)
    case s: String if s.startsWith("http://") || s.startsWith("https://") ||
        s.startsWith("urn:") => Iri(s)
    case s: String => Lit.plain(s)
    case ts: java.sql.Timestamp =>
      Lit.typed(ts.toInstant.toString, XSD.dateTime)
    case other => Lit.plain(String.valueOf(other))
  }

  def toTerms(bindings: Map[String, Any]): Map[String, RdfTerm] =
    bindings.map { case (k, v) => k -> anyToTerm(v) }

  /** anyToTerm plus display round-trip: QName-shaped strings resolve
    * against `prefixes` (gastrodon's GastrodonURI behavior,
    * gastrodon/__init__.py:54-75), `_:label` becomes a blank node.
    * Shared by the local engine and the remote text-level substitution.
    *
    * The heuristic only fires for strings the display layer could actually
    * have produced: `pfx:local` where `pfx` is a DECLARED prefix and
    * `local` matches the same PN_LOCAL-derived shape `Display.shorten`
    * requires before shortening an IRI. A genuine literal that merely
    * contains a colon ("label: value", "12:30", "a:b/c") stays a literal.
    * Escape hatches for the ambiguous residue: bind [[graft.rdf.GraftUri]]
    * to force an IRI, or `Lit.plain(s)` to force a literal. */
  def resolveTerm(v: Any, prefixes: Map[String, String]): RdfTerm = v match {
    case s: String if s.startsWith("_:") => Blank(s.substring(2))
    case s: String if !s.startsWith("http://") && !s.startsWith("https://") &&
        !s.startsWith("urn:") && s.indexOf(':') >= 0 =>
      val i = s.indexOf(':')
      val local = s.substring(i + 1)
      prefixes.get(s.substring(0, i)) match {
        case Some(ns) if rdf.QNames.isValidLocal(local) => Iri(ns + local)
        case _ => anyToTerm(s)
      }
    case other => anyToTerm(other)
  }

  /** Single-column result → Set (the reference's `_set`,
    * gastrodon/__init__.py:465-473) — explicit collect API. */
  def toSet(df: DataFrame): Set[Any] = {
    require(df.columns.length == 1,
      s"expected exactly 1 column, got ${df.columns.length}")
    df.collect().map(_.get(0)).toSet
  }

  /** Assert a 1×1 result and return the scalar (one,
    * gastrodon/__init__.py:859-883). */
  def one(df: DataFrame): Any = {
    val rows = df.limit(2).collect()
    require(rows.length == 1, s"expected exactly 1 row, got ${rows.length}")
    require(rows.head.length == 1,
      s"expected exactly 1 column, got ${rows.head.length}")
    rows.head.get(0)
  }
}
