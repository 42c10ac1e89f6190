package graft

import graft.rdf.{Blank, Iri, Lit, RDF, XSD}
import graft.sources.{RdfXml, Turtle}

/** RDF/XML reader against the syntax REC's own constructs: node/typed
  * elements, subject identification, property elements in every form,
  * scoped xml:base / xml:lang, containers, all three parseTypes,
  * reification, internal entities — each fixture checked against the
  * equivalent Turtle (exact triple-set equality where bnodes are
  * labeled, shape checks where they are generated). */
class RdfXmlSpec extends SparkSpec {

  private def ttl(text: String) = Turtle.parseTriples(text).toSet

  test("node element with literal properties, xml:lang inheritance") {
    val got = RdfXml.parseTriples(
      """<?xml version="1.0"?>
        |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:dc="http://purl.org/dc/elements/1.1/" xml:lang="en">
        |  <rdf:Description rdf:about="http://example.org/doc">
        |    <dc:title>The Title</dc:title>
        |    <dc:creator xml:lang="">Plain Name</dc:creator>
        |    <dc:subject xml:lang="fr">sujet</dc:subject>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin).toSet
    assert(got == ttl(
      """@prefix dc: <http://purl.org/dc/elements/1.1/> .
        |<http://example.org/doc> dc:title "The Title"@en ;
        |  dc:creator "Plain Name" ; dc:subject "sujet"@fr .""".stripMargin))
  }

  test("typed node element asserts rdf:type; rdf:Description does not") {
    val got = RdfXml.parseTriples(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://example.org/">
        |  <ex:Widget rdf:about="http://example.org/w1">
        |    <ex:size rdf:datatype="http://www.w3.org/2001/XMLSchema#integer">5</ex:size>
        |  </ex:Widget>
        |</rdf:RDF>""".stripMargin).toSet
    assert(got == Set(
      (Iri("http://example.org/w1"), Iri(RDF.typ),
        Iri("http://example.org/Widget")),
      (Iri("http://example.org/w1"), Iri("http://example.org/size"),
        Lit("5", XSD.integer, null))))
  }

  test("rdf:resource object, nested node element, rdf:nodeID links") {
    val got = RdfXml.parseTriples(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://example.org/">
        |  <rdf:Description rdf:about="http://example.org/a">
        |    <ex:ref rdf:resource="http://example.org/b"/>
        |    <ex:link rdf:nodeID="n1"/>
        |    <ex:child>
        |      <rdf:Description rdf:nodeID="n1">
        |        <ex:name>inner</ex:name>
        |      </rdf:Description>
        |    </ex:child>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin).toSet
    assert(got == ttl(
      """@prefix ex: <http://example.org/> .
        |ex:a ex:ref ex:b ; ex:link _:n1 ; ex:child _:n1 .
        |_:n1 ex:name "inner" .""".stripMargin))
  }

  test("rdf:ID resolves against xml:base; duplicate rdf:ID is an error") {
    val got = RdfXml.parseTriples(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://example.org/" xml:base="http://example.org/doc">
        |  <rdf:Description rdf:ID="frag"><ex:v>1</ex:v></rdf:Description>
        |</rdf:RDF>""".stripMargin).toSet
    assert(got == Set((Iri("http://example.org/doc#frag"),
      Iri("http://example.org/v"), Lit("1", XSD.string, null))))
    intercept[RdfXml.RdfXmlParseException] {
      RdfXml.parseTriples(
        """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
          |         xmlns:ex="http://example.org/" xml:base="http://example.org/doc">
          |  <rdf:Description rdf:ID="frag"><ex:v>1</ex:v></rdf:Description>
          |  <rdf:Description rdf:ID="frag"><ex:v>2</ex:v></rdf:Description>
          |</rdf:RDF>""".stripMargin)
    }
  }

  test("scoped xml:base: inner element overrides, relative about resolves") {
    val got = RdfXml.parseTriples(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://example.org/" xml:base="http://outer.org/dir/x">
        |  <rdf:Description rdf:about="rel"><ex:v>o</ex:v></rdf:Description>
        |  <rdf:Description rdf:about="rel2" xml:base="http://inner.org/">
        |    <ex:v>i</ex:v>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin).toSet
    assert(got == Set(
      (Iri("http://outer.org/dir/rel"), Iri("http://example.org/v"),
        Lit("o", XSD.string, null)),
      (Iri("http://inner.org/rel2"), Iri("http://example.org/v"),
        Lit("i", XSD.string, null))))
  }

  test("property attributes on node element and empty property element") {
    // REC examples 12 and 16: attribute shorthand for string literals
    val got = RdfXml.parseTriples(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:dc="http://purl.org/dc/elements/1.1/"
        |         xmlns:ex="http://example.org/">
        |  <rdf:Description rdf:about="http://example.org/a"
        |                   dc:title="T" rdf:type="http://example.org/K">
        |    <ex:editor dc:creator="C"/>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin).toSet
    val subj = Iri("http://example.org/a")
    assert(got.contains((subj, Iri("http://purl.org/dc/elements/1.1/title"),
      Lit("T", XSD.string, null))))
    assert(got.contains((subj, Iri(RDF.typ), Iri("http://example.org/K"))))
    // the editor object is a generated bnode carrying dc:creator
    val editor = got.collectFirst {
      case (`subj`, Iri("http://example.org/editor"), b: Blank) => b
    }.get
    assert(got.contains((editor,
      Iri("http://purl.org/dc/elements/1.1/creator"),
      Lit("C", XSD.string, null))))
    assert(got.size == 4)
  }

  test("rdf:li expands to rdf:_1.. per node element (containers)") {
    val got = RdfXml.parseTriples(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">
        |  <rdf:Seq rdf:about="http://example.org/s">
        |    <rdf:li rdf:resource="http://example.org/one"/>
        |    <rdf:li rdf:resource="http://example.org/two"/>
        |  </rdf:Seq>
        |</rdf:RDF>""".stripMargin).toSet
    assert(got == ttl(
      """@prefix ex: <http://example.org/> .
        |@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
        |ex:s a rdf:Seq ; rdf:_1 ex:one ; rdf:_2 ex:two .""".stripMargin))
  }

  test("parseType=Resource builds an anonymous property group") {
    val got = RdfXml.parseTriples(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://example.org/">
        |  <rdf:Description rdf:about="http://example.org/a">
        |    <ex:addr rdf:parseType="Resource">
        |      <ex:city>Oz</ex:city>
        |      <ex:zip>11</ex:zip>
        |    </ex:addr>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin).toSet
    val addr = got.collectFirst {
      case (Iri("http://example.org/a"), Iri("http://example.org/addr"),
        b: Blank) => b
    }.get
    assert(got.contains((addr, Iri("http://example.org/city"),
      Lit("Oz", XSD.string, null))))
    assert(got.contains((addr, Iri("http://example.org/zip"),
      Lit("11", XSD.string, null))))
    assert(got.size == 3)
  }

  test("parseType=Collection builds an rdf:first/rdf:rest list") {
    val got = RdfXml.parseTriples(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://example.org/">
        |  <rdf:Description rdf:about="http://example.org/basket">
        |    <ex:has rdf:parseType="Collection">
        |      <rdf:Description rdf:about="http://example.org/i1"/>
        |      <rdf:Description rdf:about="http://example.org/i2"/>
        |    </ex:has>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin)
    // walk the list from the head
    val bySP = got.groupBy(t => (t._1, t._2.asInstanceOf[Iri].value))
    val head = got.collectFirst {
      case (Iri("http://example.org/basket"), Iri("http://example.org/has"),
        b: Blank) => b
    }.get
    def one(s: graft.rdf.RdfTerm, p: String) =
      bySP((s, p)).head._3
    assert(one(head, RDF.first) == Iri("http://example.org/i1"))
    val second = one(head, RDF.rest)
    assert(one(second, RDF.first) == Iri("http://example.org/i2"))
    assert(one(second, RDF.rest) == Iri(RDF.nil))
    // empty collection is rdf:nil directly
    val empty = RdfXml.parseTriples(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://example.org/">
        |  <rdf:Description rdf:about="http://example.org/b2">
        |    <ex:has rdf:parseType="Collection"></ex:has>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin)
    assert(empty == Seq((Iri("http://example.org/b2"),
      Iri("http://example.org/has"), Iri(RDF.nil))))
  }

  test("parseType=Literal captures inner XML as rdf:XMLLiteral") {
    val got = RdfXml.parseTriples(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://example.org/">
        |  <rdf:Description rdf:about="http://example.org/a">
        |    <ex:prop rdf:parseType="Literal"><b a="1">bold &amp; brave</b> tail</ex:prop>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin)
    val Lit(lex, dt, _) = got.head._3
    assert(dt == RDF.ns + "XMLLiteral")
    assert(lex == """<b a="1">bold &amp; brave</b> tail""")
  }

  test("rdf:ID on a property element reifies the statement") {
    val got = RdfXml.parseTriples(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://example.org/" xml:base="http://example.org/doc">
        |  <rdf:Description rdf:about="http://example.org/a">
        |    <ex:weight rdf:ID="st1">5</ex:weight>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin).toSet
    assert(got == ttl(
      """@prefix ex: <http://example.org/> .
        |@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
        |ex:a ex:weight "5" .
        |<http://example.org/doc#st1> a rdf:Statement ;
        |  rdf:subject ex:a ; rdf:predicate ex:weight ; rdf:object "5" .
        |""".stripMargin))
  }

  test("internal DTD entities expand; external entities stay disabled") {
    val got = RdfXml.parseTriples(
      """<?xml version="1.0"?>
        |<!DOCTYPE rdf:RDF [<!ENTITY ex "http://example.org/">]>
        |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="&ex;">
        |  <rdf:Description rdf:about="&ex;a"><ex:v>1</ex:v></rdf:Description>
        |</rdf:RDF>""".stripMargin).toSet
    assert(got == Set((Iri("http://example.org/a"),
      Iri("http://example.org/v"), Lit("1", XSD.string, null))))
  }

  test("bare node element document (no rdf:RDF wrapper)") {
    val got = RdfXml.parseTriples(
      """<ex:Thing xmlns:ex="http://example.org/"
        |          xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |          rdf:about="http://example.org/t">
        |  <ex:v>x</ex:v>
        |</ex:Thing>""".stripMargin).toSet
    assert(got == Set(
      (Iri("http://example.org/t"), Iri(RDF.typ), Iri("http://example.org/Thing")),
      (Iri("http://example.org/t"), Iri("http://example.org/v"),
        Lit("x", XSD.string, null))))
  }

  test("empty property element (rdf:resource) rejects nested children") {
    // REC 7.2.21 emptyPropertyElt has no content — nested elements must
    // error loudly, not be silently dropped
    intercept[RdfXml.RdfXmlParseException] {
      RdfXml.parseTriples(
        """<?xml version="1.0"?>
          |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
          |         xmlns:ex="http://example.org/">
          |  <rdf:Description rdf:about="http://example.org/s">
          |    <ex:p rdf:resource="http://example.org/o"><ex:junk/></ex:p>
          |  </rdf:Description>
          |</rdf:RDF>""".stripMargin)
    }
  }

  test("obsolete rdf:bagID / rdf:aboutEach are rejected") {
    intercept[RdfXml.RdfXmlParseException] {
      RdfXml.parseTriples(
        """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">
          |  <rdf:Description rdf:aboutEach="http://example.org/bag"/>
          |</rdf:RDF>""".stripMargin)
    }
  }

  test("serialize: round trip through the parser, all term shapes") {
    val g = Engine.inline(
      """@prefix ex: <http://example.org/> .
        |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
        |ex:a ex:name "plain" ; ex:tag "chat"@fr ; ex:n 42 ;
        |  ex:ref ex:b ; ex:link _:b1 .
        |_:b1 ex:esc "a<b&c\"d" ; ex:v "x" .
        |""".stripMargin).graph
    val xml = RdfXml.serialize(g)
    assert(xml.startsWith("<?xml"))
    assert(xml.contains("""xml:lang="fr""""))
    assert(xml.contains(
      """rdf:datatype="http://www.w3.org/2001/XMLSchema#integer""""))
    assert(xml.contains("a&lt;b&amp;c\"d"))
    val back = RdfXml.parseTriples(xml).toSet
    val orig = g.triples.collect().map(r => (term(r.getStruct(0)),
      term(r.getStruct(1)), term(r.getStruct(2)))).toSet
    assert(back == orig) // nodeID keeps labels: exact equality, not iso
  }

  private def term(r: org.apache.spark.sql.Row): graft.rdf.RdfTerm =
    r.getByte(0) match {
      case graft.rdf.Terms.KIND_IRI => Iri(r.getString(1))
      case graft.rdf.Terms.KIND_BLANK => Blank(r.getString(1))
      case _ => Lit(r.getString(1), r.getString(2), r.getString(3))
    }

  test("serialize: declared prefixes used, unknown namespaces inline") {
    val e = Engine.inline(
      """@prefix ex: <http://example.org/> .
        |ex:a ex:p "v" . ex:a <http://other.net/ns#q> "w" .
        |""".stripMargin)
    e.bindNamespace("ex", "http://example.org/")
    val xml = RdfXml.serialize(e.graph)
    assert(xml.contains("<ex:p>v</ex:p>"))
    assert(xml.contains("""<n:q xmlns:n="http://other.net/ns#">w</n:q>"""))
  }

  test("serialize: a default-prefix graph still emits valid XML") {
    // the empty prefix has no xmlns:NAME form; its predicates must fall
    // back to local declarations instead of emitting `xmlns:="…"`
    val g = Engine.inline(
      "@prefix : <http://example.org/> . :a :p \"v\" .").graph
    val xml = RdfXml.serialize(g)
    assert(!xml.contains("xmlns:="))
    assert(RdfXml.parseTriples(xml).toSet == Set(
      (Iri("http://example.org/a"), Iri("http://example.org/p"),
        Lit("v", XSD.string, null))))
  }

  test("rdf:type property attribute resolves against the in-scope base") {
    val got = RdfXml.parseTriples(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xml:base="http://example.org/doc">
        |  <rdf:Description rdf:about="#a" rdf:type="Dog"/>
        |</rdf:RDF>""".stripMargin).toSet
    assert(got == Set((Iri("http://example.org/doc#a"), Iri(RDF.typ),
      Iri("http://example.org/Dog"))))
  }

  test("serialize: unsplittable predicate and control chars are rejected") {
    val g1 = graft.rdf.RdfGraph.fromTriples(spark, Seq(
      (Iri("http://e/a"), Iri("http://e/123"), Lit.plain("x"))))
    intercept[RdfXml.RdfXmlParseException](RdfXml.serialize(g1))
    val g2 = graft.rdf.RdfGraph.fromTriples(spark, Seq(
      (Iri("http://e/a"), Iri("http://e/p"), Lit.plain("badchar"))))
    intercept[RdfXml.RdfXmlParseException](RdfXml.serialize(g2))
  }

  test("write: each part is a standalone document; union = the graph") {
    val ttl = new StringBuilder("@prefix ex: <http://example.org/> .\n")
    (0 until 300).foreach(i =>
      ttl.append(s"""ex:s$i ex:v "val$i" ; ex:ref ex:s${(i + 1) % 300} .\n"""))
    val g = Engine.inline(ttl.toString).graph
    val dir = java.nio.file.Files.createTempDirectory("rdfxml_w").toString
    RdfXml.write(g, s"$dir/out", numPartitions = 4)
    val parts = new java.io.File(s"$dir/out").listFiles()
      .filter(_.getName.startsWith("part-")).filter(_.length > 0)
    assert(parts.length > 1)
    val union = parts.flatMap { f =>
      val doc = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      assert(doc.startsWith("<?xml")) // standalone document per part
      RdfXml.parseTriples(doc)
    }.toSet
    val orig = g.triples.collect().map(r => (term(r.getStruct(0)),
      term(r.getStruct(1)), term(r.getStruct(2)))).toSet
    assert(union == orig)
  }

  test("UPDATE LOAD of an .rdf document merges into the engine graph") {
    val f = java.nio.file.Files.createTempFile("doc", ".rdf")
    java.nio.file.Files.writeString(f,
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://example.org/">
        |  <rdf:Description rdf:about="http://example.org/loaded">
        |    <ex:v>from-xml</ex:v>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin)
    val e = Engine.inline(
      "@prefix ex: <http://example.org/> . ex:x ex:v \"inline\" .")
    e.update(s"LOAD <file://$f>")
    val rows = e.select(
      """PREFIX ex: <http://example.org/>
        |SELECT ?s ?v { ?s ex:v ?v } ORDER BY ?v""".stripMargin).collect()
    assert(rows.length == 2)
    assert(rows.map(_.get(1).toString).toSeq == Seq("from-xml", "inline"))
  }

  test("read() takes a file:// URI and resolves relative IRIs against it") {
    val f = java.nio.file.Files.createTempFile("uri", ".rdf").toAbsolutePath
    java.nio.file.Files.writeString(f,
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://example.org/">
        |  <rdf:Description rdf:about="#x"><ex:v>1</ex:v></rdf:Description>
        |</rdf:RDF>""".stripMargin)
    val uri = "file://" + f
    def subjects(path: String): Set[String] = RdfXml.read(spark, path)
      .triples.select("s.value").collect().map(_.getString(0)).toSet
    assert(subjects(uri) == Set(uri + "#x"))
    assert(subjects(f.toString) == Set(uri + "#x")) // bare path, same base
  }

  test("parse() builds a queryable graph with root-namespace prefixes") {
    val g = RdfXml.parse(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://example.org/">
        |  <ex:City rdf:about="http://example.org/oz"><ex:pop>42</ex:pop></ex:City>
        |  <ex:City rdf:about="http://example.org/em"><ex:pop>7</ex:pop></ex:City>
        |</rdf:RDF>""".stripMargin, spark)
    assert(g.prefixes("ex") == "http://example.org/")
    val e = Engine.fromGraph(g)
    val rows = e.select(
      """PREFIX ex: <http://example.org/>
        |PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |SELECT ?c ?p { ?c a ex:City ; ex:pop ?p }
        |ORDER BY DESC(xsd:integer(?p))""".stripMargin).collect()
    assert(rows.length == 2)
    assert(rows(0).get(1).toString == "42")
  }
}
