package graft

import scala.util.Random

import graft.rdf._

/** Differential fuzz of DESCRIBE's documented contract (outbound
  * triples of every target plus the blank-node closure — the
  * reference's `peel` walk): random graphs with blank-node chains,
  * shared bnodes, cycles through bnodes, and literal leaves are
  * described both by explicit IRI and by a WHERE-bound variable, and
  * the result must equal an independent naive BFS written from the
  * scaladoc: start at the targets, take each frontier node's outbound
  * triples, and re-enqueue only BLANK objects. Deepen with
  * GRAFT_MODEL_SEEDS_EXTRA. */
class DescribeModelSpec extends SparkSpec {

  private type T = (RdfTerm, RdfTerm, RdfTerm)

  private def e(x: String) = Iri(s"http://ex/$x")

  private def naiveDescribe(g: Set[T], targets: Set[RdfTerm]): Set[T] = {
    val out = scala.collection.mutable.Set[T]()
    val seen = scala.collection.mutable.Set[RdfTerm]()
    var frontier = targets
    while (frontier.nonEmpty) {
      seen ++= frontier
      val level = g.filter(t => frontier.contains(t._1))
      out ++= level
      frontier = level.map(_._3)
        .collect { case b: Blank => b: RdfTerm }
        .diff(seen)
    }
    out.toSet
  }

  private def genGraph(rnd: Random): Set[T] = {
    val iris = Seq("a", "b", "c", "d").map(e)
    val preds = Seq("p", "q").map(e)
    val bnodes = (0 until 1 + rnd.nextInt(4)).map(i => Blank(s"x$i"))
    val subjects: Seq[RdfTerm] = iris ++ bnodes
    val out = scala.collection.mutable.Set[T]()
    for (_ <- 0 until 5 + rnd.nextInt(7)) {
      val s = subjects(rnd.nextInt(subjects.size))
      val p = preds(rnd.nextInt(2))
      val o: RdfTerm = rnd.nextInt(4) match {
        case 0 => Lit.plain("v" + rnd.nextInt(3))
        case 1 => bnodes(rnd.nextInt(bnodes.size))
        case _ => iris(rnd.nextInt(4))
      }
      out += ((s, p, o))
    }
    out.toSet
  }

  private def toTurtle(ts: Set[T]): String =
    ts.toSeq.sortBy(_.toString)
      .map { case (s, p, o) => s"${s.n3()} ${p.n3()} ${o.n3()} ." }
      .mkString("\n")

  /** Collect a description graph back to driver terms. The engine mints
    * FRESH labels for result bnodes, so compare via RDFC isomorphism
    * against the naive graph instead of raw equality. */
  private def isoEqual(wantTriples: Set[T], got: RdfGraph): Boolean = {
    val want = Engine.inline(toTurtle(wantTriples)).graph
    want.isomorphic(got)
  }

  private val extraSeeds: Seq[Int] =
    sys.env.get("GRAFT_MODEL_SEEDS_EXTRA").toSeq
      .flatMap(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map(_.toInt))

  test("DESCRIBE ?x past the driver-side bound equals the naive walk " +
    "(targets share blank nodes)") {
    // more targets than Fixpoints.LocalMax: the walk runs on Spark frames
    val n = Fixpoints.LocalMax + 1
    val shared: Seq[RdfTerm] = (0 until 3).map(i => Blank(s"s$i"))
    val (p, q) = (e("p"), e("q"))
    val g: Set[T] = ((0 until n).map(i => (e(s"t$i"): RdfTerm, p: RdfTerm, shared(i % 3))) ++
      Seq[T]((shared(0), q, shared(1)), (shared(1), q, shared(2)),
        (shared(2), q, shared(0)), (shared(2), q, Lit.plain("leaf")),
        (e("u"), q, Blank("z")), (Blank("z"), q, Lit.plain("z")))).toSet
    val targets = g.collect { case (s, `p`, _) => s }
    assert(targets.size > Fixpoints.LocalMax)
    val got = Engine.inline(toTurtle(g))
      .describe(s"DESCRIBE ?x WHERE { ?x <${p.value}> ?o }")
    assert(isoEqual(naiveDescribe(g, targets), got))
  }

  for (seed <- Seq(7, 23, 61) ++ extraSeeds) {
    test(s"DESCRIBE equals the naive outbound+bnode-closure walk (seed $seed)") {
      val rnd = new Random(seed)
      for (round <- 0 until 4) {
        val g = genGraph(rnd)
        val engine = Engine.inline(toTurtle(g))
        // explicit-IRI form
        val iriTarget = e(Seq("a", "b", "c", "d")(rnd.nextInt(4)))
        val wantIri = naiveDescribe(g, Set(iriTarget))
        val gotIri = engine.describe(s"DESCRIBE <${iriTarget.value}>")
        assert(isoEqual(wantIri, gotIri),
          s"seed $seed round $round: DESCRIBE <iri> differs for " +
            s"$iriTarget over:\n${toTurtle(g)}\ngot:\n${gotIri.canonicalNQuads()}")
        // WHERE-bound variable form: every subject of predicate p
        val p = e("p")
        val wantVar = naiveDescribe(g,
          g.collect { case (s, `p`, _) => s })
        val gotVar = engine.describe(
          s"DESCRIBE ?x WHERE { ?x <${p.value}> ?o }")
        assert(isoEqual(wantVar, gotVar),
          s"seed $seed round $round: DESCRIBE ?x differs over:\n" +
            s"${toTurtle(g)}\ngot:\n${gotVar.canonicalNQuads()}")
      }
    }
  }
}
