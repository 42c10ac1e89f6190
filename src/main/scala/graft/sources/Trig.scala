package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import graft.rdf._
import graft.sparql.Ast._

/** TriG reader/writer — the Turtle of quad stores (W3C TriG: Turtle
  * plus graph blocks), completing the serialization family: Turtle and
  * N-Triples carry the default graph, N-Quads and TriG carry named
  * graphs; N-Triples/N-Quads are the line-splittable distributed path,
  * Turtle/TriG the prefix-aware inline/display path.
  *
  * The reader accepts all four statement shapes of the grammar —
  * directives, `GRAPH <label> { … }`, `<label> { … }`, a bare
  * `{ … }` default-graph block, and bare Turtle statements — reusing
  * the SPARQL grammar's triples productions exactly like the Turtle
  * reader (Turtle.scala), driver-side (TriG is not line-splittable;
  * large-scale named-graph loads go through [[NQuads]]). Graph labels
  * may be IRIs or blank nodes. The writer mirrors the reader: the
  * default graph serializes as bare Turtle statements, each named
  * graph as a `<label> { … }` block, both grouped by subject. */
object Trig {

  private class TrigParser(prefixes: Map[String, String])
      extends TurtleParser(prefixes) {

    def graphLabel: Parser[RdfTerm] =
      iri ^^ (Iri(_)) |
      """_:[A-Za-z0-9_](?:[A-Za-z0-9_.\-]*[A-Za-z0-9_\-])?""".r ^^
        (l => Blank(l.substring(2)))

    /** `{ … }` — statements SEPARATED by dots, only the final dot
      * optional (the TriG triplesBlock production: a missing dot
      * between two subject groups is a syntax error). */
    def wrapped: Parser[Seq[TriplePattern]] =
      "{" ~> opt(rep1sep(triplesSameSubject, ".") <~ opt(".")) <~ "}" ^^
        (_.toSeq.flatten.flatten)

    def block: Parser[Seq[(TriplePattern, Option[RdfTerm])]] =
      directive ^^ (_ => Nil) |
      ((kwPub("GRAPH") ~> graphLabel) ~ wrapped) ^^ {
        case g ~ ts => ts.map((_, Some(g)))
      } |
      (graphLabel ~ wrapped) ^^ { case g ~ ts => ts.map((_, Some(g))) } |
      wrapped ^^ (_.map((_, None))) |
      (triplesSameSubject <~ ".") ^^ (_.map((_, None)))

    def trigDoc: Parser[Seq[(TriplePattern, Option[RdfTerm])]] =
      rep(block) ^^ (_.flatten)

    def parseTrigDoc(text: String): Seq[(TriplePattern, Option[RdfTerm])] =
      parseWhole(trigDoc, text)
  }

  /** The statements of one document, parsed by `p` (whose prefix
    * declarations carry over to the next document it parses). */
  private def statements(p: TrigParser, doc: String)
      : Seq[(RdfTerm, RdfTerm, RdfTerm, Option[RdfTerm])] =
    p.parseTrigDoc(doc).map { case (tp, g) =>
      (Turtle.nodeTerm(tp.s, "TriG"), Turtle.verbTerm(tp, "TriG"),
        Turtle.nodeTerm(tp.o, "TriG"), g)
    }

  /** Driver-side parse to a quad list (None = default graph) — the
    * term-level view the conformance harness compares against N-Quads
    * expected files; [[parse]] wraps it into a Spark-backed store. */
  def parseQuads(text: String,
      extraPrefixes: Map[String, String] = Map.empty)
      : Seq[(RdfTerm, RdfTerm, RdfTerm, Option[RdfTerm])] =
    statements(new TrigParser(RdfGraph.defaultPrefixes ++ extraPrefixes), text)

  /** Parse a TriG document into a QUAD store (set semantics; g null =
    * default graph). */
  def parse(text: String, spark: SparkSession,
      extraPrefixes: Map[String, String] = Map.empty): RdfGraph = {
    val p = new TrigParser(RdfGraph.defaultPrefixes ++ extraPrefixes)
    RdfGraph.fromQuads(spark, statements(p, text), p.declaredPrefixes)
  }

  /** Serialize to TriG text: default graph as bare statements, one
    * `<label> { … }` block per named graph, subjects grouped, prefixes
    * shortened. Driver-side display/export path (collects the store);
    * the distributed sinks are [[write]] (TriG part files) and
    * [[NQuads.write]] (line-oriented). A triple-only graph writes as
    * pure Turtle (valid TriG). */
  def serialize(g: RdfGraph): String = {
    val sb = new StringBuilder(header(g.prefixes))
    if (sb.nonEmpty) sb.append("\n\n")
    def fmt(r: Row): String = Turtle.fmtTerm(r, g.prefixes)
    val (named, dflt) = g.triples.orderBy("s.value", "p.value", "o.value")
      .collect().partition(r => g.isQuads && !r.isNullAt(3))

    def emit(ts: Array[Row], indent: String): Unit =
      ts.groupBy(r => fmt(r.getStruct(0))).toSeq.sortBy(_._1).foreach {
        case (subj, grp) =>
          subjectBlock(sb, indent, subj, grp.toSeq
            .sortBy(r => (r.getStruct(1).getString(1), r.getStruct(2).getString(1))),
            g.prefixes)
          sb.append('\n')
      }

    emit(dflt, "")
    named.groupBy(r => fmt(r.getStruct(3))).toSeq.sortBy(_._1).foreach {
      case (label, grp) =>
        if (sb.nonEmpty) sb.append("\n")
        sb.append(s"$label {\n")
        emit(grp, "  ")
        sb.append("}\n")
    }
    sb.toString
  }

  /** The `@prefix` lines of `prefixes`, in prefix order. */
  private def header(prefixes: Map[String, String]): String =
    prefixes.toSeq.sortBy(_._1)
      .map { case (p, ns) => s"@prefix $p: <$ns> ." }.mkString("\n")

  /** One subject's statements: the subject, then `p o` pairs joined by
    * ` ;`, closed by ` .`, each line under `indent`. */
  private def subjectBlock(sb: StringBuilder, indent: String, subj: String,
      rows: Seq[Row], prefixes: Map[String, String]): StringBuilder = {
    sb.append(indent).append(subj).append('\n')
    var first = true
    rows.foreach { r =>
      if (!first) sb.append(" ;\n")
      sb.append(indent).append("  ")
        .append(Turtle.fmtTerm(r.getStruct(1), prefixes))
        .append(' ').append(Turtle.fmtTerm(r.getStruct(2), prefixes))
      first = false
    }
    sb.append(" .")
  }

  /** Distributed TriG sink over the shared part layout ([[PartFiles]]):
    * (graph, subject)-grouped blocks under a shared `@prefix` header.
    * Default-graph triples write as bare subject blocks; named-graph
    * triples write one `<label> { … }` block per subject group — TriG
    * 1.1 permits the same graph label in any number of graph statements
    * (their contents union), and Turtle's re-declared-prefix /
    * re-opened-subject allowances carry over, so the part files
    * concatenate to the same store. */
  def write(g: RdfGraph, path: String, numPartitions: Int = 0): Unit = {
    val prefixes = g.prefixes
    PartFiles.write(g.triples, path, numPartitions,
      open = Some(header(prefixes)).filter(_.nonEmpty)) { rows =>
      val head = rows.head
      val sb = new StringBuilder
      val subj = Turtle.fmtTerm(head.getStruct(0), prefixes)
      if (head.isNullAt(3)) subjectBlock(sb, "", subj, rows, prefixes)
      else {
        sb.append(Turtle.fmtTerm(head.getStruct(3), prefixes)).append(" {\n")
        subjectBlock(sb, "  ", subj, rows, prefixes).append("\n}")
      }
      sb.toString
    }
  }

  /** Read a TriG file, or a [[write]]-produced directory of part
    * files, into a quad store: the parts fold in name order as one
    * document ([[Sidecar.readParts]]); repeated graph labels union (set
    * semantics at load). */
  def read(spark: SparkSession, path: String,
      extraPrefixes: Map[String, String] = Map.empty): RdfGraph = {
    val p = new TrigParser(RdfGraph.defaultPrefixes ++ extraPrefixes)
    val quads = Sidecar.readParts(spark.sparkContext.hadoopConfiguration, path)
      .flatMap(statements(p, _))
    RdfGraph.fromQuads(spark, quads, p.declaredPrefixes)
  }
}
