package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.rdf._

/** Property-style tests the reference implies (SURVEY.md §5c): graph-set
  * semantics, QName round-trips, N-Triples round-trips — seeded random
  * generation (deterministic across runs). */
class PropertySpec extends AnyFunSuite with SparkSpec {

  private val rnd = new scala.util.Random(42)
  private def local(): String =
    ('a' + rnd.nextInt(26)).toChar.toString +
      Seq.fill(5)(('a' + rnd.nextInt(26)).toChar).mkString
  private def iri(): Iri = Iri("http://example.com/" + local())
  private def term(): RdfTerm = rnd.nextInt(3) match {
    case 0 => iri()
    case 1 => Lit.plain(local())
    case _ => Lit.typed((rnd.nextInt(2000000) - 1000000).toString, XSD.integer)
  }

  test("set semantics: re-asserting triples never changes the triple count") {
    for (_ <- 1 to 3) {
      val ts = Seq.fill(12)((iri(): RdfTerm, iri(): RdfTerm, term()))
      val g = RdfGraph.fromTriples(spark, ts)
      val n = g.size
      val g2 = g.insert(RdfGraph.fromTriples(spark, ts).triples)
      assert(g2.size == n)
    }
  }

  test("QName round-trip: shortName is inverted by UriResolver.anyToUri") {
    val prefixes = Map("ex" -> "http://example.com/")
    val resolver = UriResolver(prefixes, "http://unused/")
    for (_ <- 1 to 50) {
      val uri = "http://example.com/" + local()
      QNames.shortName(uri, prefixes) match {
        case Some(q) => assert(resolver.anyToUri(q) == uri)
        case None => fail(s"alphabetic local part must be QName-safe: $uri")
      }
    }
  }

  test("nsPart + localPart partition the URI") {
    for (_ <- 1 to 30; sep <- Seq("#", "/")) {
      val l = local()
      val uri = "http://example.com/x" + sep + l
      assert(QNames.nsPart(uri) + QNames.localPart(uri) == uri)
      assert(QNames.localPart(uri) == l)
    }
  }

  test("is_ok_qname rejects special-character tails, accepts plain ones") {
    val ns = Set("http://example.com/")
    assert(QNames.isOkQname("http://example.com/Fishbone", ns))
    assert(!QNames.isOkQname("http://example.com/a(b)", ns))
    assert(!QNames.isOkQname("http://other.com/Fishbone", ns))
    // trailing dot is not a valid PN_LOCAL ending
    assert(!QNames.isOkQname("http://example.com/abc.", ns))
  }

  test("term n3 round-trips through the N-Triples line parser") {
    // EXACT term equality, not just parse success — and the object pool
    // includes the hostile shapes the strict grammar must still accept:
    // escape-heavy lexicals, astral-plane chars, dir-lang tags, datatypes,
    // internal-dot bnode labels, and quoted triples
    def rowToTerm(r: org.apache.spark.sql.Row): RdfTerm =
      r.getByte(0) match {
        case Terms.KIND_IRI => Iri(r.getString(1))
        case Terms.KIND_BLANK => Blank(r.getString(1))
        case Terms.KIND_TRIPLE => Terms.unpackString(r.getString(1))
        case _ => Lit(r.getString(1), r.getString(2), r.getString(3))
      }
    val hostile: Seq[RdfTerm] = Seq(
      Lit.plain("tab\there \"q\" back\\slash\nnl \b bs \f ff \r cr"),
      Lit.plain("astral 🐉 and 中文"),
      Lit.tagged("mixed CASE tag", "en-US"),
      Lit.tagged("ش", "ar--rtl"),
      Lit.typed("2020-01-01", XSD.date),
      Blank("label.with.dots-and_underscores"),
      QuotedTriple(Iri("http://example.com/s"), Iri("http://example.com/p"),
        Lit.plain("nested \"lit\"")))
    for (i <- 0 until 50) {
      val (s, p) = (iri(), iri())
      val o = if (i < hostile.size) hostile(i) else term()
      val line = s"${s.n3()} ${p.n3()} ${o.n3()} ."
      val parsed = sources.NTriples.parseLine(line)
      assert(parsed.isDefined, s"unparseable: $line")
      val r = parsed.get
      val got = (rowToTerm(r.getStruct(0)), rowToTerm(r.getStruct(1)),
        rowToTerm(r.getStruct(2)))
      assert(got == ((s, p, o)), s"round-trip changed terms: $line -> $got")
    }
  }

  test("graph round-trips through the distributed N-Triples sink") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nt")
      .toFile.getAbsolutePath + "/out.nt"
    val ts = Seq.fill(25)((iri(): RdfTerm, iri(): RdfTerm, term())) ++
      // escaping edge cases through the full write→read cycle
      Seq((iri(): RdfTerm, iri(): RdfTerm,
        Lit.plain("line\nbreak \"quoted\" tab\t\\slash"): RdfTerm),
        (iri(): RdfTerm, iri(): RdfTerm, Lit.tagged("bonjour", "fr"): RdfTerm))
    val g = RdfGraph.fromTriples(spark, ts)
    sources.NTriples.write(g, dir)
    val back = sources.NTriples.read(spark, dir)
    def setOf(x: RdfGraph) = x.triples.collect().map(_.toString).toSet
    assert(setOf(back) == setOf(g))
  }

  test("transitive closure survives a 120-deep chain (fixpoint not capped)") {
    val p = Iri("http://example.com/next")
    val n = 120
    val chain = (0 until n).map(i =>
      (Iri(s"http://example.com/n$i"): RdfTerm, p: RdfTerm,
        Iri(s"http://example.com/n${i + 1}"): RdfTerm))
    val head = (Iri("http://example.com/n0"): RdfTerm,
      Iri("http://example.com/label"): RdfTerm, Lit.plain("head"): RdfTerm)
    val e = Engine.fromGraph(RdfGraph.fromTriples(spark, chain :+ head)
      .withPrefix("ex", "http://example.com/"))
    // seeded BFS from the head reaches all n nodes strictly below
    val fromHead = e.select(
      "SELECT ?x { <http://example.com/n0> <http://example.com/next>+ ?x }")
    assert(fromHead.count() == n)
    // full pair closure via doubling (log₂ n rounds): n*(n+1)/2 pairs
    val pairs = e.selectRaw(
      "SELECT ?a ?b { ?a <http://example.com/next>+ ?b }")
    assert(pairs.count() == n.toLong * (n + 1) / 2)
    // seeded from a bound variable: the label binds the head
    val fromBound = e.select(
      "SELECT ?x { ?h ex:label \"head\" . ?h ex:next+ ?x }")
    assert(fromBound.count() == n)
    // every node with an out-edge is a seed: the same pairs
    val seededPairs = e.selectRaw(
      "SELECT ?a ?b { ?a ex:next ?m . ?a ex:next+ ?b }")
    assert(seededPairs.select("a", "b").distinct().count() ==
      n.toLong * (n + 1) / 2)
  }

  test("Engine.toSet on a single-column result") {
    val g = RdfGraph.fromTriples(spark, Seq(
      (Iri("http://example.com/a"), Iri("http://example.com/p"), Lit.typed("1", XSD.integer)),
      (Iri("http://example.com/b"), Iri("http://example.com/p"), Lit.typed("2", XSD.integer))))
    val e = Engine.fromGraph(g.withPrefix("ex", "http://example.com/"))
    val df = e.select("SELECT ?v { ?s <http://example.com/p> ?v }")
    assert(Engine.toSet(df) == Set(1L, 2L))
    intercept[IllegalArgumentException] {
      Engine.toSet(e.select("SELECT ?s ?v { ?s <http://example.com/p> ?v }"))
    }
  }
}
