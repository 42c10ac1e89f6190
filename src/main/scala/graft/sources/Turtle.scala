package graft.sources

import org.apache.spark.sql.SparkSession
import graft.rdf._
import graft.sparql.{Parser => SparqlParser}
import graft.sparql.Ast._

/** Turtle reader/writer.
  *
  * The reader reuses the SPARQL grammar's triples productions (Turtle is a
  * syntactic subset once variables are excluded) and runs driver-side —
  * Turtle is not line-splittable, and the reference's Turtle inputs are
  * small inline documents (inline(), gastrodon/__init__.py:848-857).
  * Large-scale loads go through the distributed N-Triples reader
  * (NTriples.scala) instead — same posture as the reference, which uses
  * NT.gz for its 30k-triple fixture.
  */
/** Shared Turtle-grammar base for the [[Turtle]] and [[Trig]] readers:
  * the directive productions (`@prefix`/`@base`/`PREFIX`/`BASE`), the
  * bare-statement production, and the parse-error wrapping live HERE
  * once — TriG is Turtle plus graph blocks, and its parser subclasses
  * this. */
private[sources] class TurtleParser(prefixes: Map[String, String])
    extends SparqlParser(prefixes) {
  def directive: Parser[Unit] =
    ("@prefix" ~> """([A-Za-z][A-Za-z0-9_.\-]*)?:""".r ~ iriRef <~ ".") ^^ {
      case pc ~ i => addPrefix(pc.dropRight(1), i)
    } |
    ("@base" ~> iriRef <~ ".") ^^ { i => setBase(i) } |
    (kwPub("PREFIX") ~> """([A-Za-z][A-Za-z0-9_.\-]*)?:""".r ~ iriRef) ^^ {
      case pc ~ i => addPrefix(pc.dropRight(1), i)
    } |
    (kwPub("BASE") ~> iriRef) ^^ { i => setBase(i) }

  def statement: Parser[Seq[TriplePattern]] =
    directive ^^ (_ => Nil) | triplesSameSubject <~ "."

  /** Every triples production validates (TriG's graph blocks reuse
    * triplesSameSubject directly, so the override covers both). */
  override def triplesSameSubject: Parser[Seq[TriplePattern]] =
    super.triplesSameSubject ^^ (requireDocTerms(_))

  /** Turtle/TriG restriction the shared SPARQL grammar cannot express:
    * a literal is a valid pattern subject in SPARQL but not a valid
    * document subject. Checked post-parse so the error carries the
    * same exception type as any other syntax error. */
  protected def requireDocTerms(ts: Seq[TriplePattern]): Seq[TriplePattern] = {
    ts.foreach { tp =>
      tp.s match {
        case TermNode(_: Lit) => throw new graft.sparql.SparqlParseException(
          "a literal cannot be the subject of a Turtle/TriG statement",
          0, 0, s"literal subject in: $tp")
        case _ =>
      }
    }
    ts
  }

  def turtleDoc: Parser[Seq[TriplePattern]] = rep(statement) ^^ (_.flatten)

  /** Run `p` over the whole text, wrapping failures with position. */
  protected def parseWhole[T](p: Parser[T], text: String): T =
    parseAll(p, text) match {
      case Success(r, _) => r
      case f: NoSuccess =>
        throw new graft.sparql.SparqlParseException(f.msg, f.next.pos.line,
          f.next.pos.column, f.msg + "\n" + f.next.pos.longString)
    }

  def parseDoc(text: String): Seq[TriplePattern] =
    parseWhole(turtleDoc, text)
}

object Turtle {

  /** Pattern node → concrete term (both readers reject query-style
    * variables; the SPARQL grammar's bnode vars become blanks). */
  private[sources] def nodeTerm(n: Node, format: String): RdfTerm = n match {
    case TermNode(t) => t
    case VarNode(v) if v.startsWith("_:") => Blank(v.substring(2))
    case VarNode(v) =>
      throw new IllegalArgumentException(
        s"variable ?$v not allowed in $format")
    case QuotedNode(s, p, o) =>
      // Turtle-star: a quoted triple holding a labeled blank node (or a
      // nested quoting of one) parses as a QuotedNode pattern; resolve
      // each component recursively — "_:"-vars become Blanks, real
      // variables are rejected above — and rebuild the concrete term.
      nodeTerm(p, format) match {
        case pi: Iri => QuotedTriple(nodeTerm(s, format), pi,
          nodeTerm(o, format))
        case other => throw new IllegalArgumentException(
          s"quoted-triple predicate must be an IRI in $format, got $other")
      }
  }

  private[sources] def verbTerm(tp: TriplePattern, format: String): RdfTerm =
    tp.p match {
      case VerbNode(n) => nodeTerm(n, format)
      case VerbPath(_) =>
        throw new IllegalArgumentException(
          s"property path not allowed in $format")
    }

  /** The statements of one document, parsed by `p` (whose prefix
    * declarations carry over to the next document it parses). */
  private def statements(p: TurtleParser, doc: String)
      : Seq[(RdfTerm, RdfTerm, RdfTerm)] =
    p.parseDoc(doc).map { tp =>
      (nodeTerm(tp.s, "Turtle"), verbTerm(tp, "Turtle"),
        nodeTerm(tp.o, "Turtle"))
    }

  /** Parse a Turtle document into an RdfGraph (set semantics applied). */
  def parse(text: String, spark: SparkSession,
      extraPrefixes: Map[String, String] = Map.empty): RdfGraph = {
    val p = new TurtleParser(RdfGraph.defaultPrefixes ++ extraPrefixes)
    RdfGraph.fromTriples(spark, statements(p, text), p.declaredPrefixes)
  }

  /** Driver-side parse to a plain triple Seq — for small CONTROL
    * documents (test manifests, expected-result files, config graphs)
    * that a harness wants to walk in memory without paying a Spark job.
    * Duplicate triples are kept (the caller sees the raw statements);
    * data destined for querying should go through [[parse]] instead. */
  def parseTriples(text: String,
      extraPrefixes: Map[String, String] = Map.empty)
      : Seq[(RdfTerm, RdfTerm, RdfTerm)] =
    statements(new TurtleParser(RdfGraph.defaultPrefixes ++ extraPrefixes), text)

  /** One term struct → its Turtle/TriG token, QName-shortened against
    * `prefixes` (the [[Trig]] serializer and writer). */
  private[sources] def fmtTerm(r: org.apache.spark.sql.Row,
      prefixes: Map[String, String]): String = {
    val kind = r.getByte(0); val v = r.getString(1)
    val dt = r.getString(2); val lang = r.getString(3)
    kind match {
      case Terms.KIND_IRI =>
        val short = graft.Display.shorten(v, prefixes)
        if (short == v) s"<$v>" else short
      case Terms.KIND_BLANK => s"_:$v"
      case Terms.KIND_TRIPLE => Terms.unpackString(v).n3() // Turtle-star
      case _ => Lit(v, dt, lang).n3() match {
        // shorten datatype IRIs too
        case s if dt != null && dt != XSD.string && lang == null =>
          val sdt = graft.Display.shorten(dt, prefixes)
          if (sdt == dt) s else "\"" + Lit.escape(v) + "\"^^" + sdt
        case s => s
      }
    }
  }

  /** Serialize a graph to Turtle text, grouped by subject, prefix-aware
    * (ttl, gastrodon/__init__.py:811-819): the default graph's TriG
    * text ([[Trig.serialize]]). Turtle has no quad syntax, so a quad
    * store serializes its DEFAULT graph (merging named graphs in would
    * fabricate triples the default graph doesn't assert). Driver-side
    * display/export path with a TOTAL subject order: collects the graph
    * — for distributed export use [[write]] (Turtle part files) or
    * NTriples.write (line-oriented). */
  def serialize(g: RdfGraph): String = Trig.serialize(defaultGraph(g))

  /** Distributed Turtle sink: [[Trig.write]] of the default graph, so
    * subject-grouped blocks stream per partition under a shared
    * `@prefix` header ([[PartFiles]]). Each part file is
    * standalone-valid Turtle, and the directory concatenates to the same
    * graph — Turtle permits re-declared prefixes and re-opened subjects,
    * so splitting a graph across files loses nothing. The scale path the
    * display-oriented [[serialize]] (which collects and totally orders)
    * is not. Use [[Trig.write]] for a quad store's named graphs. */
  def write(g: RdfGraph, path: String, numPartitions: Int = 0): Unit =
    Trig.write(defaultGraph(g), path, numPartitions)

  private def defaultGraph(g: RdfGraph): RdfGraph =
    RdfGraph(g.defaultGraph, g.prefixes)

  /** Read a Turtle file, or a [[write]]-produced directory of part
    * files, into an RdfGraph with CONCATENATION semantics: the parts
    * are one logical document in name order ([[Sidecar.readParts]]), so
    * directives and blank-node labels scope across parts — a bnode
    * written as subject in one part and object in another stays one
    * node. Set semantics applied. To read unrelated documents, parse
    * them individually. Turtle is not line-splittable, so the text
    * collects to the driver; bulk loads at scale should use the
    * N-Triples reader instead. */
  def read(spark: SparkSession, path: String,
      extraPrefixes: Map[String, String] = Map.empty): RdfGraph = {
    val p = new TurtleParser(RdfGraph.defaultPrefixes ++ extraPrefixes)
    val triples = Sidecar.readParts(spark.sparkContext.hadoopConfiguration, path)
      .flatMap(statements(p, _))
    RdfGraph.fromTriples(spark, triples, p.declaredPrefixes)
  }
}
