package graft

import org.apache.spark.sql.{functions => F}
import graft.rdf._
import graft.sources.{JsonLd, Trig, Turtle}

/** Distributed Turtle/TriG writers ([[Turtle.write]] / [[Trig.write]]):
  * per-partition subject-grouped blocks under a shared prefix header,
  * no driver materialization, no global sort. Round-trips must preserve
  * the exact triple/quad set including escapes, language tags, typed
  * literals, blank nodes and quoted triples, across multiple part
  * files and repeated graph labels. */
class DistributedWriterSpec extends SparkSpec {

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.resolve("out").toString
  }

  private def termOf(r: org.apache.spark.sql.Row): RdfTerm =
    r.getByte(0) match {
      case Terms.KIND_IRI => Iri(r.getString(1))
      case Terms.KIND_BLANK => Blank(r.getString(1))
      case Terms.KIND_TRIPLE => Terms.unpackString(r.getString(1))
      case _ => Lit(r.getString(1), r.getString(2), r.getString(3))
    }

  private def tripleSet(g: RdfGraph): Set[(RdfTerm, RdfTerm, RdfTerm)] =
    g.triples.collect().map { r =>
      (termOf(r.getStruct(0)), termOf(r.getStruct(1)), termOf(r.getStruct(2)))
    }.toSet

  /** A mid-size synthetic graph exercising every term shape: IRIs,
    * bnodes, plain/typed/tagged literals with escape-needing lexicals,
    * and a quoted triple. */
  private lazy val bigGraph: RdfGraph = {
    val base = (0 until 2000).flatMap { i =>
      val s: RdfTerm = if (i % 7 == 0) Blank(s"b$i") else Iri(s"http://example.com/s$i")
      Seq(
        (s, Iri("http://example.com/name"),
          Lit.plain(s"""name "$i"\nline two\t\\end""")),
        (s, Iri("http://example.com/rank"),
          Lit(i.toString, XSD.integer, null)),
        (s, Iri("http://example.com/label"),
          Lit.tagged(s"étiquette $i", "fr")))
    } :+ ((Iri("http://example.com/meta"), Iri("http://example.com/about"),
      QuotedTriple(Iri("http://example.com/s1"),
        Iri("http://example.com/rank"), Lit("1", XSD.integer, null))): (RdfTerm, RdfTerm, RdfTerm))
    RdfGraph.fromTriples(spark, base,
      Map("ex" -> "http://example.com/"))
  }

  test("an IRI whose local name ends in '.' round-trips unshortened") {
    // PN_LOCAL forbids a final dot — shortening <http://example.com/v2.>
    // to ex:v2. would re-read as ex:v2 + statement terminator
    val g = RdfGraph.fromTriples(spark, Seq(
      (Iri("http://example.com/rev2."), Iri("http://example.com/p"),
        Lit.plain("x"))), Map("ex" -> "http://example.com/"))
    val text = Turtle.serialize(g)
    assert(text.contains("<http://example.com/rev2.>"), text)
    val out = tmpDir("dotw")
    Turtle.write(g, out)
    assert(tripleSet(Turtle.read(spark, out)) == tripleSet(g))
  }

  test("Turtle.write round-trips a 6k-triple graph across many part files") {
    val out = tmpDir("ttlw")
    Turtle.write(bigGraph, out, numPartitions = 8)
    val parts = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.length() > 0)
    assert(parts.length > 1, "expected a genuinely multi-file write")
    // every non-empty part file is standalone-valid Turtle with the header
    val first = scala.io.Source.fromFile(parts.head, "UTF-8").mkString
    assert(first.startsWith("@prefix"), first.take(80))
    val back = Turtle.read(spark, out)
    assert(back.size === bigGraph.size)
    assert(tripleSet(back) === tripleSet(bigGraph))
  }

  test("Turtle.write emits each subject as one grouped block per file") {
    val out = tmpDir("ttlg")
    Turtle.write(bigGraph, out, numPartitions = 4)
    val files = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.length() > 0)
    // a subject's triples co-locate: its block opener appears in exactly
    // one file, once (predicates chain with ';' inside the block)
    val opener = "ex:s1\n"
    val hits = files.map(f =>
      scala.io.Source.fromFile(f, "UTF-8").mkString
        .sliding(opener.length).count(_ == opener)).sum
    assert(hits === 1, s"subject block split or duplicated: $hits")
  }

  test("Trig.write round-trips a quad store incl. repeated graph labels") {
    val quads = (0 until 500).map { i =>
      val g = if (i % 5 == 0) None
        else Some(Iri(s"http://example.com/g${i % 3}"): RdfTerm)
      (Iri(s"http://example.com/s$i"): RdfTerm,
        Iri("http://example.com/p"): RdfTerm,
        Lit.plain(s"v $i"): RdfTerm, g)
    }
    val store = RdfGraph.fromQuads(spark, quads, Map("ex" -> "http://example.com/"))
    val out = tmpDir("trigw")
    Trig.write(store, out, numPartitions = 6)
    val files = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.length() > 0)
    assert(files.length > 1)
    // the same graph label appears in several files (TriG 1.1 repeated
    // graph statements) and the reader unions them back losslessly
    val withG0 = files.count(f =>
      scala.io.Source.fromFile(f, "UTF-8").mkString.contains("ex:g0 {"))
    assert(withG0 > 1, s"expected ex:g0 blocks spread over files, got $withG0")
    val back = Trig.read(spark, out)
    assert(back.isQuads)
    def quadSet(g: RdfGraph) = g.triples.collect().map { r =>
      def t(i: Int) =
        if (r.isNullAt(i)) null else termOf(r.getStruct(i))
      (t(0), t(1), t(2), t(3))
    }.toSet
    assert(quadSet(back) === quadSet(store))
  }

  test("each reader takes a single file, even one named like a hidden part") {
    // a directory listing skips `_`/`.` names; a file given by path is read
    val dir = java.nio.file.Files.createTempDirectory("single")
    def file(name: String, text: String): String = {
      val f = dir.resolve(name)
      java.nio.file.Files.write(f, text.getBytes("UTF-8"))
      f.toString
    }
    val expected = Set[(RdfTerm, RdfTerm, RdfTerm)](
      (Iri("http://example.com/a"), Iri("http://example.com/p"), Lit.plain("x")),
      (Blank("b"), Iri("http://example.com/p"), Iri("http://example.com/a")))
    val ttl = "@prefix ex: <http://example.com/> .\n" +
      "ex:a ex:p \"x\" .\n_:b ex:p ex:a .\n"
    assert(tripleSet(Turtle.read(spark, file("_data.ttl", ttl))) === expected)
    assert(tripleSet(Trig.read(spark, file(".data.trig", ttl))) === expected)
    val json = """[{"@id": "http://example.com/a",
      "http://example.com/p": "x"},
      {"@id": "_:b", "http://example.com/p": {"@id": "http://example.com/a"}}]"""
    assert(tripleSet(JsonLd.read(spark, file("_data.jsonld", json))) === expected)
  }

  test("Turtle.write of a quad store exports only the default graph") {
    val quads = Seq(
      (Iri("http://example.com/a"): RdfTerm, Iri("http://example.com/p"): RdfTerm,
        Lit.plain("dflt"): RdfTerm, None),
      (Iri("http://example.com/a"): RdfTerm, Iri("http://example.com/p"): RdfTerm,
        Lit.plain("named"): RdfTerm,
        Some(Iri("http://example.com/g1"): RdfTerm)))
    val store = RdfGraph.fromQuads(spark, quads, Map("ex" -> "http://example.com/"))
    val out = tmpDir("ttlq")
    Turtle.write(store, out)
    val back = Turtle.read(spark, out)
    assert(back.size === 1)
    assert(tripleSet(back).head._3 === Lit.plain("dflt"))
  }
}
