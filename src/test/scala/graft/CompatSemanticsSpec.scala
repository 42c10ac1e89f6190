package graft

import org.apache.spark.sql.Row
import graft.rdf._
import graft.sparql.Ast._
import graft.sparql.Compiler
import scala.util.Random

/** Differential semantics test: a ~60-line reference evaluator
  * implementing SPARQL's solution-mapping algebra directly (compatible
  * join, LeftJoin, Union null-fill, MINUS domain rule — spec §18.5) is
  * run against the compiled DataFrame plans on randomized small graphs
  * and patterns. Multiset (bag) comparison — duplicates matter. */
class CompatSemanticsSpec extends SparkSpec {

  // fuzz knobs: GRAFT_FUZZ_N multiplies case counts, GRAFT_FUZZ_DEPTH
  // adds nesting depth (local deep-fuzz runs; CI uses the defaults)
  private val fuzzN = sys.env.getOrElse("GRAFT_FUZZ_N", "1").toInt
  private val fuzzD = sys.env.getOrElse("GRAFT_FUZZ_DEPTH", "0").toInt
  private val fuzzSeed = sys.env.getOrElse("GRAFT_FUZZ_SEED", "0").toLong

  type Sol = Map[String, RdfTerm]

  // ---- reference evaluator (executable spec §18.5) ----

  private def compatible(a: Sol, b: Sol): Boolean =
    (a.keySet & b.keySet).forall(v => a(v) == b(v))

  private def merge(a: Sol, b: Sol): Sol = b ++ a

  private def matchNode(n: Node, t: RdfTerm, sol: Sol): Option[Sol] = n match {
    case TermNode(c) => if (c == t) Some(sol) else None
    case VarNode(v) => sol.get(v) match {
      case Some(bound) => if (bound == t) Some(sol) else None
      case None => Some(sol + (v -> t))
    }
  }

  private def evalRef(p: GraphPattern,
      g: Seq[(RdfTerm, RdfTerm, RdfTerm)]): Seq[Sol] = p match {
    case Bgp(ts) =>
      ts.foldLeft(Seq(Map.empty: Sol)) { (sols, tp) =>
        tp.p match {
          case VerbNode(pn) =>
            for {
              sol <- sols
              (s, pr, o) <- g
              s1 <- matchNode(tp.s, s, sol).toSeq
              s2 <- matchNode(pn, pr, s1).toSeq
              s3 <- matchNode(tp.o, o, s2).toSeq
            } yield s3
          // a transitive path triple: its own ALP solutions, joined
          case VerbPath(pth) =>
            val sols2 = pth match {
              case PZeroOrMore(in) => evalTransitive(tp.s, in, true, tp.o, g)
              case POneOrMore(in) => evalTransitive(tp.s, in, false, tp.o, g)
              case _ => sys.error("only transitive paths")
            }
            for (sol <- sols; b <- sols2 if compatible(sol, b))
              yield merge(sol, b)
        }
      }
    case Join(l, r) =>
      for (a <- evalRef(l, g); b <- evalRef(r, g) if compatible(a, b))
        yield merge(a, b)
    case Union(l, r) => evalRef(l, g) ++ evalRef(r, g)
    case LeftJoin(l, r, filters) =>
      val rs = evalRef(r, g)
      evalRef(l, g).flatMap { a =>
        val matched = rs.filter(b => compatible(a, b) &&
          filters.forall(f => evalFilter(f, merge(a, b))))
        if (matched.nonEmpty) matched.map(b => merge(a, b)) else Seq(a)
      }
    case Minus(l, r) =>
      val rs = evalRef(r, g)
      evalRef(l, g).filterNot(a => rs.exists(b =>
        compatible(a, b) && (a.keySet & b.keySet).nonEmpty))
    case Filter(q, Seq(ExExists(p2, neg))) =>
      // substitution semantics: bound vars become constants, unbound
      // stay free; EXISTS = the substituted pattern has ≥1 solution
      evalRef(q, g).filter { sol =>
        val sub = substitute(p2, sol)
        evalRef(sub, g).nonEmpty != neg
      }
    case Filter(q, exprs) =>
      evalRef(q, g).filter(sol => exprs.forall(evalFilter(_, sol)))
    case Extend(q, v, expr) =>
      // BIND: an error (unbound source var) leaves v unbound (spec §10.1)
      evalRef(q, g).map { sol =>
        expr match {
          case ExVar(src) => sol.get(src).fold(sol)(t => sol + (v -> t))
          case ExTerm(t) => sol + (v -> t)
          case other => sys.error(s"not in test subset: $other")
        }
      }
    case TableData(vs, rows) =>
      rows.map(r => vs.zip(r).collect { case (v, Some(t)) => v -> t }.toMap)
    case other => sys.error(s"not in test subset: $other")
  }

  private def substitute(p: GraphPattern, sol: Sol): GraphPattern = {
    def n(x: Node): Node = x match {
      case VarNode(v) if sol.contains(v) => TermNode(sol(v))
      case other => other
    }
    p match {
      case Bgp(ts) => Bgp(ts.map(tp => TriplePattern(n(tp.s), tp.p match {
        case VerbNode(vn) => VerbNode(n(vn))
        case other => other
      }, n(tp.o))))
      case other => sys.error(s"substitution only over BGPs here: $other")
    }
  }

  private def evalFilter(e: Expr, sol: Sol): Boolean = e match {
    case ExCmp("=", ExVar(a), ExVar(b)) =>
      (sol.get(a), sol.get(b)) match {
        case (Some(x), Some(y)) => x == y
        case _ => false // error → drop
      }
    case ExCmp("=", ExVar(a), ExTerm(t)) => sol.get(a).contains(t)
    case ExCmp("!=", ExVar(a), ExTerm(t)) =>
      sol.get(a).exists(_ != t)
    case ExCall("BOUND", Seq(ExVar(v))) => sol.contains(v)
    case ExNot(x) => evalFilterDefined(x, sol).contains(false)
    case other => sys.error(s"not in test subset: $other")
  }

  /** 3-valued inner eval for NOT (error ≠ false). */
  private def evalFilterDefined(e: Expr, sol: Sol): Option[Boolean] = e match {
    case ExCmp("=", ExVar(a), ExTerm(t)) =>
      sol.get(a).map(_ == t)
    case ExCall("BOUND", Seq(ExVar(v))) => Some(sol.contains(v))
    case other => Some(evalFilter(other, sol))
  }

  // ---- random instances ----

  private val terms: Vector[RdfTerm] =
    Vector(Iri("urn:t:a"), Iri("urn:t:b"), Iri("urn:t:c"), Iri("urn:t:d"))
  private val preds: Vector[RdfTerm] = Vector(Iri("urn:p:p"), Iri("urn:p:q"))
  private val vars = Vector("a", "b", "c")

  private def randNode(rnd: Random): Node =
    if (rnd.nextInt(3) == 0) TermNode(terms(rnd.nextInt(terms.size)))
    else VarNode(vars(rnd.nextInt(vars.size)))

  private def randTriplePattern(rnd: Random): TriplePattern =
    TriplePattern(randNode(rnd),
      VerbNode(TermNode(preds(rnd.nextInt(preds.size)))), randNode(rnd))

  private def randBgp(rnd: Random): GraphPattern =
    Bgp(Seq.fill(1 + rnd.nextInt(2))(randTriplePattern(rnd)))

  private def randValues(rnd: Random): GraphPattern = {
    // VALUES over 1-2 of the shared vars, rows with UNDEF holes — the
    // maybe-unbound source that stresses compatible joins
    val vs = rnd.shuffle(vars).take(1 + rnd.nextInt(2))
    TableData(vs, Seq.fill(1 + rnd.nextInt(3))(vs.map(_ =>
      if (rnd.nextInt(3) == 0) None
      else Some(terms(rnd.nextInt(terms.size))))))
  }

  private def randPattern(rnd: Random, depth: Int): GraphPattern =
    if (depth <= 0) randBgp(rnd)
    else rnd.nextInt(8) match {
      case 0 => Join(randPattern(rnd, depth - 1), randPattern(rnd, depth - 1))
      case 1 => Union(randPattern(rnd, depth - 1), randPattern(rnd, depth - 1))
      case 2 => LeftJoin(randPattern(rnd, depth - 1),
        randPattern(rnd, depth - 1), Nil)
      case 3 => Minus(randPattern(rnd, depth - 1), randPattern(rnd, depth - 1))
      case 4 => Filter(randPattern(rnd, depth - 1),
        Seq(ExCmp("=", ExVar(vars(rnd.nextInt(3))),
          ExTerm(terms(rnd.nextInt(terms.size))))))
      case 5 => Join(randPattern(rnd, depth - 1), randValues(rnd))
      case 6 =>
        // BIND of a var (maybe unbound → target stays unbound) or a term.
        // The grammar forbids BIND-ing a var already in scope, so each
        // Extend gets a FRESH target (the first generated double-Extend
        // was an illegal pattern, not an engine bug).
        extendId += 1
        val name = s"d$extendId" // capture BEFORE recursing (nested
        // Extends bump the counter; late interpolation collided names)
        val src = if (rnd.nextBoolean()) ExVar(vars(rnd.nextInt(3)))
          else ExTerm(terms(rnd.nextInt(terms.size)))
        Extend(randPattern(rnd, depth - 1), name, src)
      case _ => randBgp(rnd)
    }

  private var extendId = 0

  private def randGraph(rnd: Random): Seq[(RdfTerm, RdfTerm, RdfTerm)] =
    (0 until (3 + rnd.nextInt(5))).map { _ =>
      (terms(rnd.nextInt(terms.size)), preds(rnd.nextInt(preds.size)),
        terms(rnd.nextInt(terms.size)))
    }.distinct

  // ---- comparison ----

  private def rowToSol(r: Row, cols: Seq[String]): Sol =
    cols.zipWithIndex.flatMap { case (c, i) =>
      if (c.startsWith("__") || r.isNullAt(i)) None
      else {
        val st = r.getStruct(i)
        val term: RdfTerm = st.getByte(0) match {
          case Terms.KIND_IRI => Iri(st.getString(1))
          case Terms.KIND_BLANK => Blank(st.getString(1))
          case _ => Lit(st.getString(1), st.getString(2), st.getString(3))
        }
        Some(c -> term)
      }
    }.toMap

  private def canon(sols: Seq[Sol]): Seq[String] =
    sols.map(s => s.toSeq.sortBy(_._1).map { case (v, t) => s"$v=${t.n3()}" }
      .mkString("|")).sorted

  test("compiled plans match the reference evaluator on random patterns") {
    val rnd = new Random(20260812L + fuzzSeed)
    for (case_ <- 1 to 40 * fuzzN) {
      val g = randGraph(rnd)
      val p = randPattern(rnd, 1 + rnd.nextInt(2) + fuzzD)
      val expected = canon(evalRef(p, g))
      val graph = RdfGraph.fromTriples(spark, g)
      val df = new Compiler(graph, spark).compile(p)
      val cols = df.columns.toSeq
      val got = canon(df.collect().toSeq.map(rowToSol(_, cols)))
      assert(got == expected,
        s"case $case_ mismatch\npattern: $p\ngraph: $g\n" +
          s"got:      $got\nexpected: $expected")
    }
  }

  // ---- the same harness over the REAL direct-mapped graph, where the
  // native-key companions, star tables, and vertical index engage ----

  test("native-key plans over the direct-mapped graph match the reference") {
    val graph = Tables.graph(spark, "/root/testdata/sf0.001", "nation", "region")
    val g: Seq[(RdfTerm, RdfTerm, RdfTerm)] = graph.triples.collect().toSeq
      .map { r =>
        def term(i: Int): RdfTerm = {
          val st = r.getStruct(i)
          st.getByte(0) match {
            case Terms.KIND_IRI => Iri(st.getString(1))
            case Terms.KIND_BLANK => Blank(st.getString(1))
            case _ => Lit(st.getString(1), st.getString(2), st.getString(3))
          }
        }
        (term(0), term(1), term(2))
      }
    val predPool = g.map(_._2).distinct.toVector
    val termPool = (g.map(_._1) ++ g.map(_._3)).distinct.toVector
    val rnd = new Random(42L + fuzzSeed)
    def node(): Node =
      if (rnd.nextInt(4) == 0) TermNode(termPool(rnd.nextInt(termPool.size)))
      else VarNode(vars(rnd.nextInt(vars.size)))
    def tp(): TriplePattern =
      TriplePattern(node(),
        VerbNode(TermNode(predPool(rnd.nextInt(predPool.size)))), node())
    def pat(depth: Int): GraphPattern =
      if (depth <= 0) Bgp(Seq.fill(1 + rnd.nextInt(2))(tp()))
      else rnd.nextInt(6) match {
        case 0 => Join(pat(depth - 1), pat(depth - 1))
        case 1 => Union(pat(depth - 1), pat(depth - 1))
        case 2 => LeftJoin(pat(depth - 1), pat(depth - 1), Nil)
        case 3 => Minus(pat(depth - 1), pat(depth - 1))
        case 4 => Filter(pat(depth - 1),
          Seq(ExExists(Bgp(Seq(tp())), rnd.nextBoolean())))
        case _ => Bgp(Seq.fill(1 + rnd.nextInt(2))(tp()))
      }
    for (case_ <- 1 to 25 * fuzzN) {
      val p = pat(1 + rnd.nextInt(2) + fuzzD)
      val expected = canon(evalRef(p, g))
      val got = try {
        val df = new Compiler(graph, spark).compile(p)
        canon(df.collect().toSeq.map(rowToSol(_, df.columns.toSeq)))
      } catch {
        case e: Exception =>
          fail(s"case $case_ compile/exec error on pattern:\n$p\n${e.getMessage}")
      }
      assert(got == expected,
        s"case $case_ mismatch\npattern: $p\ngot: $got\nexpected: $expected")
    }
  }

  // ---- non-transitive property paths (bag semantics + native chain) ----

  private def evalPathPairs(p: graft.sparql.Ast.Path,
      g: Seq[(RdfTerm, RdfTerm, RdfTerm)]): Seq[(RdfTerm, RdfTerm)] = p match {
    case PLink(i) => g.collect { case (s, pr, o) if pr == Iri(i) => (s, o) }
    case PInv(q) => evalPathPairs(q, g).map(_.swap)
    case PSeq(a, b) =>
      val bs = evalPathPairs(b, g)
      for ((s, m) <- evalPathPairs(a, g); (m2, o) <- bs if m == m2) yield (s, o)
    case PAlt(a, b) => evalPathPairs(a, g) ++ evalPathPairs(b, g)
    case other => sys.error(s"not in test subset: $other")
  }

  // ---- transitive paths: ALP set semantics per spec §18.4 ----

  private def reach(from: RdfTerm, adj: Map[RdfTerm, Seq[RdfTerm]],
      includeSelf: Boolean): Set[RdfTerm] = {
    var seen = Set.empty[RdfTerm]
    var frontier: Seq[RdfTerm] =
      if (includeSelf) Seq(from) else adj.getOrElse(from, Nil).distinct
    seen ++= frontier
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(adj.getOrElse(_, Nil)).distinct
        .filterNot(seen)
      seen ++= next
      frontier = next
    }
    seen
  }

  /** Spec evaluation of a TOP-LEVEL transitive path triple: ALP from a
    * constant endpoint (including the endpoint itself for `*`, even when
    * it does not occur in the graph); node×reach for var-var. */
  private def evalTransitive(s: Node, inner: graft.sparql.Ast.Path,
      includeZero: Boolean, o: Node,
      g: Seq[(RdfTerm, RdfTerm, RdfTerm)]): Seq[Sol] = {
    val edges = evalPathPairs(inner, g).distinct
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val radj = edges.map(_.swap).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val nodes = g.flatMap(t => Seq(t._1, t._3)).distinct
    val pairs: Seq[(RdfTerm, RdfTerm)] = (s, o) match {
      case (TermNode(t), _) =>
        reach(t, adj, includeZero).toSeq.map(t -> _)
      case (_, TermNode(t)) =>
        reach(t, radj, includeZero).toSeq.map(_ -> t)
      case _ =>
        nodes.flatMap(n => reach(n, adj, includeZero).toSeq.map(n -> _))
    }
    pairs.flatMap { case (sv, ov) =>
      for {
        s1 <- matchNode(s, sv, Map.empty: Sol).toSeq
        s2 <- matchNode(o, ov, s1).toSeq
      } yield s2
    }
  }

  test("transitive path plans match the spec's ALP evaluation") {
    val graph = Tables.graph(spark, "/root/testdata/sf0.001", "nation", "region")
    val g: Seq[(RdfTerm, RdfTerm, RdfTerm)] = graph.triples.collect().toSeq
      .map { r =>
        def term(i: Int): RdfTerm = {
          val st = r.getStruct(i)
          st.getByte(0) match {
            case Terms.KIND_IRI => Iri(st.getString(1))
            case _ => Lit(st.getString(1), st.getString(2), st.getString(3))
          }
        }
        (term(0), term(1), term(2))
      }
    val predPool = g.map(_._2).distinct.collect { case Iri(v) => v }.toVector
    val termPool = (g.map(_._1) ++ g.map(_._3)).distinct.toVector
    val rnd = new Random(99L + fuzzSeed)
    def innerPath(depth: Int): Path =
      if (depth <= 0) PLink(predPool(rnd.nextInt(predPool.size)))
      else rnd.nextInt(3) match {
        case 0 => PAlt(innerPath(depth - 1), innerPath(depth - 1))
        case 1 => PInv(innerPath(depth - 1))
        case _ => PLink(predPool(rnd.nextInt(predPool.size)))
      }
    def node(): Node =
      if (rnd.nextInt(3) == 0) TermNode(termPool(rnd.nextInt(termPool.size)))
      else VarNode(vars(rnd.nextInt(2))) // a or b
    for (case_ <- 1 to 15 * fuzzN) {
      val inner = innerPath(1)
      val star = rnd.nextBoolean()
      var (s, o) = (node(), node())
      if (s.isInstanceOf[TermNode] && o.isInstanceOf[TermNode])
        o = VarNode("zz")
      val expected = canon(evalTransitive(s, inner, star, o, g))
      val pth = if (star) PZeroOrMore(inner) else POneOrMore(inner)
      val p = Bgp(Seq(TriplePattern(s, VerbPath(pth), o)))
      val got = try {
        val df = new Compiler(graph, spark).compile(p)
        canon(df.collect().toSeq.map(rowToSol(_, df.columns.toSeq)))
      } catch {
        case e: Exception =>
          fail(s"case $case_ error on $pth s=$s o=$o\n${e.getMessage}")
      }
      assert(got == expected,
        s"case $case_ mismatch\npath: $pth s=$s o=$o\n" +
          s"got: $got\nexpected: $expected")
    }
  }

  test("non-transitive path plans match the reference (bag semantics)") {
    val graph = Tables.graph(spark, "/root/testdata/sf0.001", "nation", "region")
    val g: Seq[(RdfTerm, RdfTerm, RdfTerm)] = graph.triples.collect().toSeq
      .map { r =>
        def term(i: Int): RdfTerm = {
          val st = r.getStruct(i)
          st.getByte(0) match {
            case Terms.KIND_IRI => Iri(st.getString(1))
            case _ => Lit(st.getString(1), st.getString(2), st.getString(3))
          }
        }
        (term(0), term(1), term(2))
      }
    val predPool = g.map(_._2).distinct.collect {
      case Iri(v) => v
    }.toVector
    val termPool = (g.map(_._1) ++ g.map(_._3)).distinct.toVector
    val rnd = new Random(7L + fuzzSeed)
    def path(depth: Int): Path =
      if (depth <= 0) PLink(predPool(rnd.nextInt(predPool.size)))
      else rnd.nextInt(4) match {
        case 0 => PSeq(path(depth - 1), path(depth - 1))
        case 1 => PAlt(path(depth - 1), path(depth - 1))
        case 2 => PInv(path(depth - 1))
        case _ => PLink(predPool(rnd.nextInt(predPool.size)))
      }
    def node(): Node =
      if (rnd.nextInt(3) == 0) TermNode(termPool(rnd.nextInt(termPool.size)))
      else VarNode(vars(rnd.nextInt(vars.size)))
    for (case_ <- 1 to 25 * fuzzN) {
      val pth = path(1 + rnd.nextInt(2) + fuzzD)
      var (s, o) = (node(), node())
      // both-const endpoints are ASK-position (existence) semantics in
      // the compiler — out of this bag-comparison's scope
      if (s.isInstanceOf[TermNode] && o.isInstanceOf[TermNode])
        o = VarNode("zz")
      // reference: evaluate pairs, bind endpoints (bag — no distinct)
      val expected = canon(evalPathPairs(pth, g).flatMap { case (sv, ov) =>
        for {
          s1 <- matchNode(s, sv, Map.empty: Sol).toSeq
          s2 <- matchNode(o, ov, s1).toSeq
        } yield s2
      })
      val p = Bgp(Seq(TriplePattern(s, VerbPath(pth), o)))
      val df = new Compiler(graph, spark).compile(p)
      val got = canon(df.collect().toSeq.map(rowToSol(_, df.columns.toSeq)))
      assert(got == expected,
        s"case $case_ mismatch\npath: $pth s=$s o=$o\n" +
          s"got: $got\nexpected: $expected")
    }
  }

  // ---- transitive paths seeded from a sibling pattern's bindings ----

  private def u(x: String): RdfTerm = Iri("urn:t:" + x)
  private def tp(s: Node, p: String, o: Node) =
    TriplePattern(s, VerbNode(TermNode(u(p))), o)
  private def pathTp(s: Node, p: Path, o: Node) = TriplePattern(s, VerbPath(p), o)
  private def v(n: String): Node = VarNode(n)

  /** Did the closure run on the driver (its pairs are a local relation
    * in the plan) rather than as checkpointed Spark frames? */
  private def localClosure(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if l.output.map(_.name) == Seq("ps", "po") => l
    }.nonEmpty

  private def checkRef(p: GraphPattern, g: Seq[(RdfTerm, RdfTerm, RdfTerm)],
      graph: RdfGraph): org.apache.spark.sql.DataFrame = {
    val df = new Compiler(graph, spark).compile(p)
    val got = canon(df.collect().toSeq.map(rowToSol(_, df.columns.toSeq)))
    assert(got == canon(evalRef(p, g)), s"pattern: $p")
    df
  }

  /** a → b → c → a is a cycle, c → d leaves it; z has no p-edge at all.
    * q binds the seeds: e q a, e q z, b q z. */
  private val seedGraph: Seq[(RdfTerm, RdfTerm, RdfTerm)] = Seq(
    (u("a"), u("p"), u("b")), (u("b"), u("p"), u("c")),
    (u("c"), u("p"), u("a")), (u("c"), u("p"), u("d")),
    (u("e"), u("q"), u("a")), (u("e"), u("q"), u("z")),
    (u("b"), u("q"), u("z")))

  test("closures seeded from a bound endpoint match the reference") {
    // with predicate counts the small edge relation is fetched whole;
    // without them, one fetch per BFS level
    for (graph <- Seq(RdfGraph.fromTriples(spark, seedGraph),
        RdfGraph.fromTriples(spark, seedGraph).copy(predCounts = Map.empty))) {
      val p = PLink("urn:t:p")
      val cases = Seq(
        // bound subject, through the cycle (a reaches itself)
        Bgp(Seq(tp(v("s"), "q", v("x")), pathTp(v("x"), POneOrMore(p), v("y")))),
        // `*` from z, which has no outgoing edge: only its (z, z) pair
        Bgp(Seq(tp(v("s"), "q", v("x")), pathTp(v("x"), PZeroOrMore(p), v("y")))),
        // bound object: the closure runs over reversed edges
        Bgp(Seq(pathTp(v("y"), POneOrMore(p), v("x")), tp(v("x"), "q", v("o")))),
        Bgp(Seq(pathTp(v("y"), PZeroOrMore(p), v("x")), tp(v("s"), "q", v("x")))),
        // inverse path and the same variable at both ends
        Bgp(Seq(tp(v("x"), "q", v("o")), pathTp(v("x"), POneOrMore(PInv(p)), v("y")))),
        Bgp(Seq(tp(v("s"), "q", v("x")), pathTp(v("x"), POneOrMore(p), v("x")))),
        // the seed source is a pattern with a constant
        Bgp(Seq(tp(TermNode(u("e")), "q", v("x")), pathTp(v("x"), POneOrMore(p), v("y")))))
      cases.foreach { c =>
        val df = checkRef(c, seedGraph, graph)
        assert(localClosure(df), s"not seeded: $c")
      }
      // a free endpoint pair still takes the pair closure
      val free = checkRef(Bgp(Seq(pathTp(v("x"), POneOrMore(p), v("y")))),
        seedGraph, graph)
      assert(!localClosure(free))
    }
  }

  test("the free pair closure keeps self-loops: an edge x p x and a 2-cycle") {
    // the reasoner filters its input self-loops; SPARQL must not
    val loops: Seq[(RdfTerm, RdfTerm, RdfTerm)] = Seq(
      (u("x"), u("p"), u("x")),
      (u("y"), u("p"), u("z")), (u("z"), u("p"), u("y")))
    val pat = Bgp(Seq(pathTp(v("a"), POneOrMore(PLink("urn:t:p")), v("b"))))
    val df = checkRef(pat, loops, RdfGraph.fromTriples(spark, loops))
    assert(!localClosure(df))
    val want = Seq("x" -> "x", "y" -> "z", "z" -> "y", "y" -> "y", "z" -> "z")
      .map { case (a, b) => s"a=<urn:t:$a>|b=<urn:t:$b>" }.sorted
    assert(canon(df.collect().toSeq.map(rowToSol(_, df.columns.toSeq))) == want)
  }

  test("a path inside OPTIONAL is not seeded from outside it; GRAPH <iri> " +
    "scopes the seeded closure") {
    val graph = RdfGraph.fromTriples(spark, seedGraph)
    val p = PLink("urn:t:p")
    val opt = LeftJoin(Bgp(Seq(tp(v("s"), "q", v("x")))),
      Bgp(Seq(pathTp(v("x"), PZeroOrMore(p), v("y")))), Nil)
    assert(!localClosure(checkRef(opt, seedGraph, graph)))
    // seeded from a sibling INSIDE the OPTIONAL
    val inner = LeftJoin(Bgp(Seq(tp(v("s"), "q", v("x")))),
      Bgp(Seq(tp(v("x"), "q", v("w")), pathTp(v("x"), POneOrMore(p), v("y")))), Nil)
    assert(localClosure(checkRef(inner, seedGraph, graph)))
    // the same edges in two named graphs; g2 also links d → e
    val g1 = seedGraph
    val g2 = seedGraph :+ ((u("d"), u("p"), u("e")))
    val quads = RdfGraph.fromQuads(spark,
      g1.map { case (s, pr, o) => (s, pr, o, Some(u("g1"))) } ++
        g2.map { case (s, pr, o) => (s, pr, o, Some(u("g2"))) })
    for ((name, triples) <- Seq("g1" -> g1, "g2" -> g2); star <- Seq(true, false)) {
      val path = if (star) PZeroOrMore(p) else POneOrMore(p)
      val bgp = Bgp(Seq(tp(v("s"), "q", v("x")), pathTp(v("x"), path, v("y"))))
      val df = new Compiler(quads, spark).compile(GraphPat(TermNode(u(name)), bgp))
      assert(localClosure(df))
      val got = canon(df.collect().toSeq.map(rowToSol(_, df.columns.toSeq)))
      assert(got == canon(evalRef(bgp, triples)), s"GRAPH <$name> star=$star")
    }
  }

  test("a seed set past the local bound falls back to the frame BFS") {
    // 10001 seeds (past the driver-side bound); a handful have edges
    val n = 10001
    val g: Seq[(RdfTerm, RdfTerm, RdfTerm)] =
      (0 until n).map(i => (u(s"n$i"), u("q"), u("t"))) ++
        (0 until 5).map(i => (u(s"n$i"), u("p"), u(s"n${i + 1}")))
    val graph = RdfGraph.fromTriples(spark, g)
    val bgp = Bgp(Seq(tp(v("x"), "q", TermNode(u("t"))),
      pathTp(v("x"), POneOrMore(PLink("urn:t:p")), v("y"))))
    val df = checkRef(bgp, g, graph)
    assert(!localClosure(df))
    assert(df.count() == 15) // n0..n4 reach 5, 4, 3, 2, 1 nodes
  }

  test("the bench-shaped `+` path compiles in (BFS levels + 1) jobs") {
    val graph = Tables.graph(spark, TestSpark.sf0001, "customer", "nation", "region")
    val q = """PREFIX gp: <urn:graft:p/>
      SELECT ?name { ?c gp:c_custkey 42 .
        ?c (gp:c_nation_ref|gp:n_region_ref)+ ?x . ?x gp:n_name|gp:r_name ?name }"""
    def compileJobs(e: Engine): (Int, org.apache.spark.sql.DataFrame) = {
      e.selectRaw(q).collect() // warm: first-use scans and statistics
      var jobs = 0
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val df = e.selectRaw(q)
        Thread.sleep(500)
        (jobs, df)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    // one seed collect, then one per level: customer → nation → region →
    // (no edge)
    val (perLevel, df0) = compileJobs(Engine.fromGraph(graph.copy(predCounts = Map.empty)))
    assert(perLevel <= 4, s"compile ran $perLevel jobs")
    // the counts prove the edge relation small: seed, then all edges once
    val (whole, df) = compileJobs(Engine.fromGraph(graph))
    assert(whole <= 2, s"compile ran $whole jobs")
    assert(localClosure(df) && localClosure(df0))
    assert(df0.collect().toSet == df.collect().toSet)
    val want = spark.read.parquet(s"${TestSpark.sf0001}/customer.parquet")
      .where("c_custkey = 42").join(
        spark.read.parquet(s"${TestSpark.sf0001}/nation.parquet"),
        org.apache.spark.sql.functions.expr("c_nationkey = n_nationkey"))
      .join(spark.read.parquet(s"${TestSpark.sf0001}/region.parquet"),
        org.apache.spark.sql.functions.expr("n_regionkey = r_regionkey"))
      .select("n_name", "r_name").collect().flatMap(r =>
        Seq(r.getString(0), r.getString(1))).toSeq.sorted
    assert(df.collect().map(_.getStruct(0).getString(1)).toSeq.sorted == want)
  }
}
