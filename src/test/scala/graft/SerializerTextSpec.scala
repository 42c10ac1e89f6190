package graft

import graft.rdf._
import graft.sources._

/** Exact text of the RDF document serializers and of one part of each
  * distributed writer, on one small quad store: a literal that needs
  * escaping, a tagged and two typed literals, a blank node in subject
  * and object position, a quoted triple, and two named graphs (one
  * labelled by a blank node). The writers run with one partition, so
  * each writes one part file. RDF/XML and JSON-LD have no quoted-triple
  * syntax and write the store without that row. The SPARQL results
  * JSON and XML forms are pinned the same way on a two-row solution
  * frame. */
class SerializerTextSpec extends SparkSpec {

  private val ex = "http://example.com/"
  private def iri(s: String): RdfTerm = Iri(ex + s)

  private lazy val store: RdfGraph = RdfGraph.fromQuads(spark, Seq(
    (iri("a"), iri("name"), Lit.plain("say \"hi\"\n\ttab \\ end\r"), None),
    (iri("a"), iri("label"), Lit.tagged("chat", "fr"), None),
    (iri("a"), iri("rank"), Lit.typed("7", XSD.integer), None),
    (iri("a"), iri("knows"), Blank("b1"), None),
    (Blank("b1"), iri("name"), Lit.plain("B"), None),
    (iri("meta"), iri("about"), QuotedTriple(iri("a"), iri("rank"),
      Lit.typed("7", XSD.integer)), None),
    (iri("a"), iri("name"), Lit.plain("in g1"), Some(iri("g1"))),
    (Blank("b1"), iri("weight"), Lit.typed("1.5", XSD.decimal), Some(iri("g1"))),
    (iri("c"), iri("p"), iri("a"), Some(Blank("gb")))),
    Map("ex" -> ex))

  private def noQuoted(g: RdfGraph) =
    RdfGraph(g.triples.where("o.kind != 3"), g.prefixes)

  /** The line writers keep the input's partitioning: one sorted part. */
  private def onePart(g: RdfGraph) = RdfGraph(
    g.triples.repartition(1).sortWithinPartitions("g", "s", "p", "o"),
    g.prefixes)

  /** Text of the one part file that `write` leaves in a fresh directory. */
  private def part(write: String => Unit): String = {
    val out = java.nio.file.Files.createTempDirectory("pin").resolve("out")
    write(out.toString)
    val files = out.toFile.listFiles().filter(_.getName.startsWith("part-"))
    assert(files.length === 1, files.toSeq)
    new String(java.nio.file.Files.readAllBytes(files.head.toPath), "UTF-8")
  }

  private val turtleSerialize = Seq(
    "@prefix ex: <http://example.com/> .",
    "@prefix owl: <http://www.w3.org/2002/07/owl#> .",
    "@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .",
    "@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .",
    "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .",
    "",
    "_:b1",
    """  ex:name "B" .""",
    "ex:a",
    "  ex:knows _:b1 ;",
    """  ex:label "chat"@fr ;""",
    """  ex:name "say \"hi\"\n\ttab \\ end\r" ;""",
    """  ex:rank "7"^^xsd:integer .""",
    "ex:meta",
    """  ex:about << <http://example.com/a> <http://example.com/rank> "7"^^<http://www.w3.org/2001/XMLSchema#integer> >> .""",
    ""
  ).mkString("\n")

  private val trigSerialize = Seq(
    "@prefix ex: <http://example.com/> .",
    "@prefix owl: <http://www.w3.org/2002/07/owl#> .",
    "@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .",
    "@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .",
    "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .",
    "",
    "_:b1",
    """  ex:name "B" .""",
    "ex:a",
    "  ex:knows _:b1 ;",
    """  ex:label "chat"@fr ;""",
    """  ex:name "say \"hi\"\n\ttab \\ end\r" ;""",
    """  ex:rank "7"^^xsd:integer .""",
    "ex:meta",
    """  ex:about << <http://example.com/a> <http://example.com/rank> "7"^^<http://www.w3.org/2001/XMLSchema#integer> >> .""",
    "",
    "_:gb {",
    "  ex:c",
    "    ex:p ex:a .",
    "}",
    "",
    "ex:g1 {",
    "  _:b1",
    """    ex:weight "1.5"^^xsd:decimal .""",
    "  ex:a",
    """    ex:name "in g1" .""",
    "}",
    ""
  ).mkString("\n")

  private val turtleWrite = Seq(
    "@prefix ex: <http://example.com/> .",
    "@prefix owl: <http://www.w3.org/2002/07/owl#> .",
    "@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .",
    "@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .",
    "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .",
    "ex:a",
    "  ex:knows _:b1 ;",
    """  ex:label "chat"@fr ;""",
    """  ex:name "say \"hi\"\n\ttab \\ end\r" ;""",
    """  ex:rank "7"^^xsd:integer .""",
    "ex:meta",
    """  ex:about << <http://example.com/a> <http://example.com/rank> "7"^^<http://www.w3.org/2001/XMLSchema#integer> >> .""",
    "_:b1",
    """  ex:name "B" .""",
    ""
  ).mkString("\n")

  private val trigWrite = Seq(
    "@prefix ex: <http://example.com/> .",
    "@prefix owl: <http://www.w3.org/2002/07/owl#> .",
    "@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .",
    "@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .",
    "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .",
    "ex:a",
    "  ex:knows _:b1 ;",
    """  ex:label "chat"@fr ;""",
    """  ex:name "say \"hi\"\n\ttab \\ end\r" ;""",
    """  ex:rank "7"^^xsd:integer .""",
    "ex:meta",
    """  ex:about << <http://example.com/a> <http://example.com/rank> "7"^^<http://www.w3.org/2001/XMLSchema#integer> >> .""",
    "_:b1",
    """  ex:name "B" .""",
    "ex:g1 {",
    "  ex:a",
    """    ex:name "in g1" .""",
    "}",
    "ex:g1 {",
    "  _:b1",
    """    ex:weight "1.5"^^xsd:decimal .""",
    "}",
    "_:gb {",
    "  ex:c",
    "    ex:p ex:a .",
    "}",
    ""
  ).mkString("\n")

  private val ntriplesWrite = Seq(
    "<http://example.com/a> <http://example.com/knows> _:b1 .",
    """<http://example.com/a> <http://example.com/label> "chat"@fr .""",
    """<http://example.com/a> <http://example.com/name> "say \"hi\"\n\ttab \\ end\r" .""",
    """<http://example.com/a> <http://example.com/rank> "7"^^<http://www.w3.org/2001/XMLSchema#integer> .""",
    """<http://example.com/meta> <http://example.com/about> << <http://example.com/a> <http://example.com/rank> "7"^^<http://www.w3.org/2001/XMLSchema#integer> >> .""",
    """_:b1 <http://example.com/name> "B" .""",
    ""
  ).mkString("\n")

  private val nquadsWrite = Seq(
    "<http://example.com/a> <http://example.com/knows> _:b1 .",
    """<http://example.com/a> <http://example.com/label> "chat"@fr .""",
    """<http://example.com/a> <http://example.com/name> "say \"hi\"\n\ttab \\ end\r" .""",
    """<http://example.com/a> <http://example.com/rank> "7"^^<http://www.w3.org/2001/XMLSchema#integer> .""",
    """<http://example.com/meta> <http://example.com/about> << <http://example.com/a> <http://example.com/rank> "7"^^<http://www.w3.org/2001/XMLSchema#integer> >> .""",
    """_:b1 <http://example.com/name> "B" .""",
    """<http://example.com/a> <http://example.com/name> "in g1" <http://example.com/g1> .""",
    """_:b1 <http://example.com/weight> "1.5"^^<http://www.w3.org/2001/XMLSchema#decimal> <http://example.com/g1> .""",
    "<http://example.com/c> <http://example.com/p> <http://example.com/a> _:gb .",
    ""
  ).mkString("\n")

  private val rdfxmlWrite = Seq(
    """<?xml version="1.0" encoding="UTF-8"?>""",
    "<rdf:RDF",
    "    xmlns:rdf=\"http://www.w3.org/1999/02/22-rdf-syntax-ns#\"",
    "    xmlns:ex=\"http://example.com/\"",
    "    xmlns:owl=\"http://www.w3.org/2002/07/owl#\"",
    "    xmlns:rdfs=\"http://www.w3.org/2000/01/rdf-schema#\"",
    """    xmlns:xsd="http://www.w3.org/2001/XMLSchema#">""",
    "",
    """  <rdf:Description rdf:about="http://example.com/a">""",
    """    <ex:knows rdf:nodeID="b1"/>""",
    """    <ex:label xml:lang="fr">chat</ex:label>""",
    "    <ex:name>say \"hi\"",
    "\ttab \\ end&#xD;</ex:name>",
    """    <ex:rank rdf:datatype="http://www.w3.org/2001/XMLSchema#integer">7</ex:rank>""",
    "  </rdf:Description>",
    "",
    """  <rdf:Description rdf:nodeID="b1">""",
    "    <ex:name>B</ex:name>",
    "  </rdf:Description>",
    "",
    "</rdf:RDF>",
    "",
    ""
  ).mkString("\n")

  private val jsonldWrite = Seq(
    "[",
    """{"@id":"http://example.com/a","http://example.com/knows":{"@id":"_:b1"},"http://example.com/label":{"@value":"chat","@language":"fr"},"http://example.com/name":"say \"hi\"\n\ttab \\ end\r","http://example.com/rank":7},""",
    """{"@id":"_:b1","http://example.com/name":"B"},""",
    """{"@id":"http://example.com/g1","@graph":[{"@id":"http://example.com/a","http://example.com/name":"in g1"}]},""",
    """{"@id":"http://example.com/g1","@graph":[{"@id":"_:b1","http://example.com/weight":{"@value":"1.5","@type":"http://www.w3.org/2001/XMLSchema#decimal"}}]},""",
    """{"@id":"_:gb","@graph":[{"@id":"http://example.com/c","http://example.com/p":{"@id":"http://example.com/a"}}]}""",
    "]",
    ""
  ).mkString("\n")

  test("Turtle.serialize and Trig.serialize text") {
    assert(Turtle.serialize(store) === turtleSerialize)
    assert(Trig.serialize(store) === trigSerialize)
  }

  test("Turtle.write and Trig.write part text") {
    assert(part(Turtle.write(store, _, numPartitions = 1)) === turtleWrite)
    assert(part(Trig.write(store, _, numPartitions = 1)) === trigWrite)
  }

  test("NTriples.write and NQuads.write part text") {
    assert(part(NTriples.write(onePart(store), _)) === ntriplesWrite)
    assert(part(NQuads.write(onePart(store), _)) === nquadsWrite)
  }

  test("RdfXml.write and JsonLd.write part text") {
    assert(part(RdfXml.write(noQuoted(store), _, numPartitions = 1)) ===
      rdfxmlWrite)
    assert(part(JsonLd.write(noQuoted(store), _, numPartitions = 1)) ===
      jsonldWrite)
  }

  /** Two solutions in one partition: every term shape in the first (a
    * quoted triple, tagged, typed and xsd:string literals, a blank node)
    * with `ub` unbound; only `i` and `st` bound in the second. */
  private def solutions = {
    import org.apache.spark.sql.{functions => F}
    spark.range(2).select(
      Terms.iri(F.concat(F.lit(ex), F.when(F.col("id") === 0, "s").otherwise("t"))).as("i"),
      F.when(F.col("id") === 0, Terms.langLit(F.lit("chat"), F.lit("fr"))).as("ll"),
      F.when(F.col("id") === 0, Terms.lit(F.lit("42"), XSD.integer)).as("tl"),
      Terms.plainLit(F.when(F.col("id") === 0, "q\"<&>\t\\").otherwise("x")).as("st"),
      F.when(F.col("id") === 0, Terms.blank(F.lit("b0"))).as("bn"),
      F.when(F.col("id") === 0, Terms.termCol(QuotedTriple(iri("a"), iri("p"),
        Lit.tagged("o", "en")))).as("qt"),
      F.lit(null).cast(Terms.termType).as("ub"))
      .coalesce(1)
  }

  private val jsonHead =
    """{"head":{"vars":["i","ll","tl","st","bn","qt","ub"]},"results":{"bindings":["""
  private val jsonRow1 =
    """{"i":{"type":"uri","value":"http://example.com/s"},""" +
      """"ll":{"type":"literal","value":"chat","xml:lang":"fr"},""" +
      """"tl":{"type":"literal","value":"42","datatype":"http://www.w3.org/2001/XMLSchema#integer"},""" +
      """"st":{"type":"literal","value":"q\"<&>\t\\"},""" +
      """"bn":{"type":"bnode","value":"b0"},""" +
      """"qt":{"type":"triple","value":{"subject":{"type":"uri","value":"http://example.com/a"},""" +
      """"predicate":{"type":"uri","value":"http://example.com/p"},""" +
      """"object":{"type":"literal","value":"o","xml:lang":"en"}}}}"""
  private val jsonRow2 =
    """{"i":{"type":"uri","value":"http://example.com/t"},"st":{"type":"literal","value":"x"}}"""

  private val xmlHead =
    """<?xml version="1.0"?><sparql xmlns="http://www.w3.org/2005/sparql-results#"><head>""" +
      Seq("i", "ll", "tl", "st", "bn", "qt", "ub")
        .map(v => s"""<variable name="$v"/>""").mkString + "</head><results>"
  private val xmlRow1 =
    """<result><binding name="i"><uri>http://example.com/s</uri></binding>""" +
      """<binding name="ll"><literal xml:lang="fr">chat</literal></binding>""" +
      """<binding name="tl"><literal datatype="http://www.w3.org/2001/XMLSchema#integer">42</literal></binding>""" +
      "<binding name=\"st\"><literal>q&quot;&lt;&amp;&gt;\t\\</literal></binding>" +
      """<binding name="bn"><bnode>b0</bnode></binding>""" +
      """<binding name="qt"><triple><subject><uri>http://example.com/a</uri></subject>""" +
      """<predicate><uri>http://example.com/p</uri></predicate>""" +
      """<object><literal xml:lang="en">o</literal></object></triple></binding></result>"""
  private val xmlRow2 =
    """<result><binding name="i"><uri>http://example.com/t</uri></binding>""" +
      """<binding name="st"><literal>x</literal></binding></result>"""

  test("SparqlResults.json, xml, writeJson and writeXml text") {
    assert(SparqlResults.json(solutions) ===
      jsonHead + jsonRow1 + "," + jsonRow2 + "]}}")
    assert(SparqlResults.xml(solutions) ===
      xmlHead + xmlRow1 + xmlRow2 + "</results></sparql>")
    assert(part(SparqlResults.writeJson(solutions, _)) ===
      Seq(jsonHead, jsonRow1, "," + jsonRow2, "]}}", "").mkString("\n"))
    assert(part(SparqlResults.writeXml(solutions, _)) ===
      Seq(xmlHead, xmlRow1, xmlRow2, "</results></sparql>", "").mkString("\n"))
  }
}
