package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sparql.{Ast, Parser, Render}

/** SERVICE federation: parse → render → remote execute → compatible
  * join, SILENT μ0 semantics, and the Render round-trip property. */
class ServiceSpec extends SparkSpec {

  private def withServer(json: String)(f: (String, () => String) => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var lastBody = ""
    server.createContext("/sparql", (ex: HttpExchange) => {
      lastBody = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val out = json.getBytes(UTF_8)
      ex.getResponseHeaders.add("Content-Type", "application/sparql-results+json")
      ex.sendResponseHeaders(200, out.length)
      ex.getResponseBody.write(out)
      ex.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/sparql",
      () => lastBody)
    finally server.stop(0)
  }

  // remote knows labels for two of the three local items
  private val remoteJson =
    """{ "head": { "vars": ["item", "label"] },
      |  "results": { "bindings": [
      |    { "item": {"type": "uri", "value": "http://example.com/i1"},
      |      "label": {"type": "literal", "value": "one", "xml:lang": "en"} },
      |    { "item": {"type": "uri", "value": "http://example.com/i2"},
      |      "label": {"type": "literal", "value": "two", "xml:lang": "en"} }
      |  ] } }""".stripMargin

  private val localTtl =
    """@prefix ex: <http://example.com/> .
      |ex:i1 ex:price 10 .
      |ex:i2 ex:price 20 .
      |ex:i3 ex:price 30 .
      |""".stripMargin

  test("SERVICE joins remote bindings with the local pattern") {
    withServer(remoteJson) { (url, seen) =>
      val e = Engine.inline(localTtl)
      e.bindNamespace("ex", "http://example.com/")
      val df = e.select(
        s"""SELECT ?item ?price ?label {
              ?item ex:price ?price
              SERVICE <$url> { ?item <http://example.com/label> ?label }
            } ORDER BY ?price""")
      val rows = df.collect()
      // inner join semantics: i3 has no remote label → dropped
      assert(rows.length == 2)
      assert(rows.map(_.get(2).toString).toSeq == Seq("one", "two"))
      // the wire query is the RENDERED sub-pattern, fully qualified
      val body = java.net.URLDecoder.decode(seen(), "UTF-8")
      assert(body.contains("SELECT ?item ?label WHERE"), body)
      assert(body.contains("<http://example.com/label>"), body)
    }
  }

  test("SERVICE under OPTIONAL keeps unmatched local rows") {
    withServer(remoteJson) { (url, _) =>
      val e = Engine.inline(localTtl)
      e.bindNamespace("ex", "http://example.com/")
      val df = e.select(
        s"""SELECT ?item ?label {
              ?item ex:price ?price
              OPTIONAL { SERVICE <$url> { ?item <http://example.com/label> ?label } }
            } ORDER BY ?price""")
      val rows = df.collect()
      assert(rows.length == 3)
      assert(rows(2).isNullAt(1)) // i3: no remote label, still present
    }
  }

  test("SERVICE SILENT against a dead endpoint is the empty solution") {
    val e = Engine.inline(localTtl)
    e.bindNamespace("ex", "http://example.com/")
    // nothing listens on this port: SILENT → μ0, join keeps local rows
    // with ?label unbound everywhere
    val df = e.select(
      """SELECT ?item ?label {
            ?item ex:price ?price
            SERVICE SILENT <http://127.0.0.1:1/sparql>
              { ?item <http://example.com/label> ?label }
          } ORDER BY ?price""")
    val rows = df.collect()
    assert(rows.length == 3)
    assert(rows.forall(_.isNullAt(1)))
  }

  test("non-SILENT dead endpoint and variable endpoints fail loudly") {
    val e = Engine.inline(localTtl)
    e.bindNamespace("ex", "http://example.com/")
    intercept[Exception] {
      e.select(
        """SELECT ?item ?label {
              ?item ex:price ?price
              SERVICE <http://127.0.0.1:1/sparql>
                { ?item <http://example.com/label> ?label }
            }""").collect()
    }
    val err = intercept[Exception] {
      e.select(
        """SELECT ?item ?label {
              ?item ex:price ?price
              SERVICE ?ep { ?item <http://example.com/label> ?label }
            }""").collect()
    }
    assert(err.getMessage.contains("constant IRI") ||
      Option(err.getCause).exists(_.getMessage.contains("constant IRI")))
  }

  test("bound join ships local candidates as a VALUES clause") {
    withServer(remoteJson) { (url, seen) =>
      val e = Engine.inline(localTtl)
      e.bindNamespace("ex", "http://example.com/")
      val df = e.select(
        s"""SELECT ?item ?label {
              ?item ex:price ?price FILTER(?price = 10)
              SERVICE <$url> { ?item <http://example.com/label> ?label }
            }""")
      val rows = df.collect()
      assert(rows.length == 1 && rows(0).get(1).toString == "one")
      val body = java.net.URLDecoder.decode(seen(), "UTF-8")
      // only the surviving local candidate shipped, not the extent
      assert(body.contains("VALUES (?item)"), body)
      assert(body.contains("(<http://example.com/i1>)"), body)
      assert(!body.contains("i2"), body)
    }
  }

  test("bound join ships a local quoted triple as << … >>") {
    val starJson =
      """{ "head": { "vars": ["t", "src"] },
        |  "results": { "bindings": [
        |    { "t": {"type": "triple", "value": {
        |        "subject": {"type": "uri", "value": "http://example.com/alice"},
        |        "predicate": {"type": "uri", "value": "http://example.com/knows"},
        |        "object": {"type": "uri", "value": "http://example.com/bob"} } },
        |      "src": {"type": "literal", "value": "survey"} }
        |  ] } }""".stripMargin
    withServer(starJson) { (url, seen) =>
      val e = Engine.inline(
        """@prefix ex: <http://example.com/> .
          |<< ex:alice ex:knows ex:bob >> ex:since 2020 .
          |""".stripMargin)
      val rows = e.select(
        s"""SELECT ?src {
              ?t <http://example.com/since> ?y
              SERVICE <$url> { ?t <http://example.com/source> ?src }
            }""").collect()
      assert(rows.map(_.get(0).toString).toSeq == Seq("survey"))
      val body = java.net.URLDecoder.decode(seen(), "UTF-8")
      assert(body.contains("VALUES (?t)"), body)
      assert(body.contains("(<< <http://example.com/alice> " +
        "<http://example.com/knows> <http://example.com/bob> >>)"), body)
      assert(!body.contains("\u001f"), body)
    }
  }

  test("maybe-unbound shared vars are never injected") {
    withServer(remoteJson) { (url, seen) =>
      val e = Engine.inline(localTtl)
      e.bindNamespace("ex", "http://example.com/")
      // ?item is maybe-unbound on the local side (UNION branch padding)
      // → injection would restrict nothing and inflate nothing: skip it
      e.select(
        s"""SELECT ?item ?label {
              { ?item ex:price ?price } UNION { ?other ex:price ?price }
              SERVICE <$url> { ?item <http://example.com/label> ?label }
            }""").collect()
      val body = java.net.URLDecoder.decode(seen(), "UTF-8")
      assert(!body.contains("VALUES"), body)
    }
  }

  test("constant-only SERVICE patterns act as a remote ASK") {
    withServer(remoteJson) { (url, _) =>
      val e = Engine.inline(localTtl)
      e.bindNamespace("ex", "http://example.com/")
      // the stub answers every query with bindings → probe hits → μ0:
      // the local rows all pass through
      val df = e.select(
        s"""SELECT ?item {
              ?item ex:price ?price
              SERVICE <$url> { <http://example.com/i1>
                <http://example.com/label> "one"@en }
            }""")
      assert(df.count() == 3)
    }
    // dead endpoint + SILENT: μ0 again (the require-free path is inside
    // the catch's reach now)
    val e2 = Engine.inline(localTtl)
    e2.bindNamespace("ex", "http://example.com/")
    val df2 = e2.select(
      """SELECT ?item {
            ?item ex:price ?price
            SERVICE SILENT <http://127.0.0.1:1/sparql>
              { <http://example.com/i1> <http://example.com/label> "x" }
          }""")
    assert(df2.count() == 3)
  }

  test("an empty local side never contacts the remote at all") {
    withServer(remoteJson) { (url, seen) =>
      val e = Engine.inline(localTtl)
      e.bindNamespace("ex", "http://example.com/")
      val df = e.select(
        s"""SELECT ?item ?label {
              ?item ex:price ?price FILTER(?price > 1000)
              SERVICE <$url> { ?item <http://example.com/label> ?label }
            }""")
      assert(df.count() == 0)
      assert(seen().isEmpty, "remote fetched despite a provably empty join")
    }
  }

  test("Render round-trips every pattern shape through the parser") {
    val queries = Seq(
      """SELECT ?s ?o { ?s <http://e/p> ?o . FILTER(?o > 3 && !(?o = 5)) }""",
      // the parser unwraps the inner braces to Join(Bgp, Bgp): the
      // renderer must separate the triples with '.'
      """SELECT ?a ?d { { ?a <http://e/p> ?b } ?c <http://e/q> ?d }""",
      """SELECT ?s { { ?s <http://e/p> ?x } UNION { ?s <http://e/q> ?x }
           MINUS { ?s <http://e/r> "bad"@en } }""",
      """SELECT ?s ?y { ?s <http://e/p> ?x OPTIONAL { ?s <http://e/q> ?y
           FILTER(?y != 2) } BIND(?x * 2 AS ?z) }""",
      """SELECT ?s { VALUES (?s ?v) { (<http://e/a> 1) (UNDEF 2) }
           ?s (<http://e/p>/^<http://e/q>)+ ?t
           FILTER(EXISTS { ?t <http://e/r> ?u }) }""",
      """SELECT ?g ?s { GRAPH ?g { ?s !(<http://e/p>|^<http://e/q>) ?o } }""",
      """SELECT ?s { ?s <http://e/p> ?n }
         GROUP BY ?s HAVING (SUM(?n) > 2) ORDER BY DESC(?s) LIMIT 3 OFFSET 1""")
    for (q <- queries) {
      val parsed = new Parser().parseQuery(q)
      val sel = parsed.query.asInstanceOf[Ast.SelectQuery]
      val rendered = Render.select(sel)
      val reparsed = new Parser().parseQuery(rendered)
      // rendering is canonical modulo the one fold the parser applies,
      // so render(parse(render(x))) is a fixpoint
      val again = Render.select(reparsed.query.asInstanceOf[Ast.SelectQuery])
      assert(again == rendered, s"not a fixpoint:\n$rendered\n$again")
    }
  }
}
