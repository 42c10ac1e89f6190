package graft.sources

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import org.apache.spark.sql.SparkSession

import graft.rdf.{Blank, Iri, Lit, RdfGraph, RdfTerm, Terms, RDF, XSD}

/** RDF/XML reader ("RDF/XML Syntax Specification (Revised)" REC) — the
  * oldest and still most-published RDF dump format; the reference's
  * rdflib substrate parses it by default (`format="xml"`), so a user
  * switching from the reference can keep feeding the same documents.
  *
  * Coverage: rdf:RDF root (optional), rdf:Description and typed node
  * elements, rdf:about / rdf:ID / rdf:nodeID subject identification,
  * property attributes, property elements (resource / literal / nested
  * node / empty-with-attributes), rdf:resource / rdf:nodeID object
  * attributes, rdf:datatype, scoped xml:lang and xml:base (RFC 3986
  * resolution shared with the Turtle parser's rules), rdf:li container
  * expansion to rdf:_n, rdf:parseType Resource / Collection / Literal
  * (Literal serializes the inner XML infoset textually — element order,
  * attributes, and text are preserved; it is NOT exclusive
  * canonicalization, which matters only for XMLLiteral equality), and
  * rdf:ID property-element reification. The obsolete rdf:aboutEach /
  * rdf:aboutEachPrefix / rdf:bagID forms are rejected.
  *
  * Internal DTD entity declarations (`<!ENTITY xsd "…">`, ubiquitous in
  * published RDF/XML) are expanded; EXTERNAL entities stay disabled, so
  * a hostile document cannot reach the filesystem or network.
  *
  * Scale posture: like the Turtle parser, this is the driver-side path
  * for documents (ontologies, schemas, API payloads); bulk ingest at
  * 100 TB is the distributed line-parallel N-Triples/NQuads reader by
  * documented contract.
  */
object RdfXml {

  private val RdfNs = RDF.ns
  private val XmlNs = "http://www.w3.org/XML/1998/namespace"

  /** The core-syntax attribute local names that never become property
    * attributes. */
  private val syntaxAttrs =
    Set("about", "ID", "nodeID", "resource", "datatype", "parseType", "RDF",
      "Description", "li")
  private val obsolete = Set("aboutEach", "aboutEachPrefix", "bagID")

  final class RdfXmlParseException(msg: String) extends RuntimeException(msg)

  private class State(var base: String) {
    val out = scala.collection.mutable.ArrayBuffer[(RdfTerm, RdfTerm, RdfTerm)]()
    var bnodeN = 0
    /** rdf:ID values already used (REC: an ID names one thing per base). */
    val seenIds = scala.collection.mutable.HashSet[String]()
    def freshBnode(): Blank = { bnodeN += 1; Blank(s"rx$bnodeN") }
    def emit(s: RdfTerm, p: RdfTerm, o: RdfTerm): Unit = out += ((s, p, o))
  }

  // RFC 3986 resolution shared with the Turtle/SPARQL parser
  // (rdf.IriRef — one copy of the §5.3 same-document handling).
  private def resolve(base: String, ref: String): String =
    graft.rdf.IriRef.resolve(base, ref)

  /** Parse an RDF/XML document to local triples (driver side — same
    * small-document contract as [[Turtle.parseTriples]]). */
  def parseTriples(xml: String, base: String = "")
      : Seq[(RdfTerm, RdfTerm, RdfTerm)] =
    parseWithPrefixes(xml, base)._1

  /** ONE StAX pass producing the triples AND the document element's
    * xmlns declarations (the graph's display prefixes). */
  private def parseWithPrefixes(xml: String, base: String)
      : (Seq[(RdfTerm, RdfTerm, RdfTerm)], Map[String, String]) = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, true) // internal entities
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.IS_REPLACING_ENTITY_REFERENCES, true)
    f.setProperty(XMLInputFactory.IS_COALESCING, true)
    val st = new State(base)
    val prefixes = scala.collection.mutable.Map[String, String]()
    // the reader's CONSTRUCTION already parses the XML declaration, so
    // it sits inside the same rejection wrapper as the event loop
    var r: XMLStreamReader = null
    try {
      r = f.createXMLStreamReader(new java.io.StringReader(xml))
      // document element: rdf:RDF wrapping node elements, or a single
      // bare node element (REC production 7.2.8 allows either)
      var ev = r.next()
      while (ev != XMLStreamConstants.START_ELEMENT) ev = r.next()
      var i = 0
      while (i < r.getNamespaceCount) {
        val p = Option(r.getNamespacePrefix(i)).getOrElse("")
        if (p.nonEmpty) prefixes(p) = r.getNamespaceURI(i)
        i += 1
      }
      if (r.getNamespaceURI == RdfNs && r.getLocalName == "RDF") {
        val outerBase = scopedBase(r, st.base)
        val outerLang = scopedLang(r, "")
        var e = r.next()
        while (e != XMLStreamConstants.END_ELEMENT) {
          if (e == XMLStreamConstants.START_ELEMENT)
            nodeElement(r, st, outerBase, outerLang)
          e = r.next()
        }
      } else nodeElement(r, st, base, "")
    } catch {
      // malformed XML surfaces as the StAX implementation's own
      // exception type — wrap it so a caller sees ONE documented
      // rejection for "not RDF/XML", whatever the corruption
      case e: javax.xml.stream.XMLStreamException =>
        throw new RdfXmlParseException(
          s"not well-formed XML: ${e.getMessage}")
      case e: RuntimeException
          if e.getCause.isInstanceOf[javax.xml.stream.XMLStreamException] =>
        // Woodstox reports errors from LAZY text access as an unchecked
        // wrapper (WstxLazyException) around the real stream exception
        throw new RdfXmlParseException(
          s"not well-formed XML: ${e.getCause.getMessage}")
      case e: java.util.NoSuchElementException =>
        // reader exhausted mid-document (truncated input)
        throw new RdfXmlParseException(
          s"unexpected end of document: ${e.getMessage}")
    } finally if (r != null) r.close()
    (st.out.toSeq, prefixes.toMap)
  }

  /** Parse into an [[RdfGraph]] (set semantics; namespace declarations on
    * the document element become graph prefixes, like rdflib's bindings). */
  def parse(xml: String, spark: SparkSession, base: String = ""): RdfGraph = {
    val (triples, prefixes) = parseWithPrefixes(xml, base)
    RdfGraph.fromTriples(spark, triples, prefixes)
  }

  /** Driver-side read of an .rdf/.owl file (small-document contract)
    * at a local path or any Hadoop-FS URI. The default base is the
    * document's own URI: a path that already carries a scheme is used
    * as it is, a bare path gets `file://`. */
  def read(spark: SparkSession, path: String, base: String = ""): RdfGraph = {
    val p = new org.apache.hadoop.fs.Path(path)
    val text = Sidecar.read(spark.sparkContext.hadoopConfiguration, p)
      .getOrElse(throw new java.io.FileNotFoundException(path))
    parse(text, spark,
      if (base.nonEmpty) base
      else if (p.toUri.getScheme != null) path
      else s"file://$path")
  }

  // ---------------------------------------------------------- serializer

  /** Full RDF/XML document (driver-side display/export path — collects
    * with a total subject order; [[write]] is the distributed twin).
    * Predicates must split into namespace + NCName local part (the
    * format's own constraint — rdflib raises the same way); quoted
    * triples have no RDF/XML syntax and are rejected. A quad store
    * serializes its default graph. */
  def serialize(g: RdfGraph): String = {
    val rows = g.defaultGraph
      .orderBy("s.value", "p.value", "o.value").collect()
    val sb = new StringBuilder
    sb.append(docOpen(g.prefixes))
    rows.groupBy(_.getStruct(0)).toSeq
      .sortBy { case (s, _) => (s.getByte(0), s.getString(1)) }
      .foreach { case (s, ts) => appendBlock(sb, s, ts.toSeq, g.prefixes) }
    sb.append(docClose)
    sb.toString
  }

  /** Distributed RDF/XML sink over the shared part layout
    * ([[PartFiles]]) of the default graph: every part file is a
    * STANDALONE-VALID document (its own `<rdf:RDF>` wrapper) whose
    * graphs union to the store — the same per-part contract as the
    * Turtle and results-format writers, no driver materialization. */
  def write(g: RdfGraph, path: String, numPartitions: Int = 0): Unit = {
    val prefixes = g.prefixes
    PartFiles.write(g.defaultGraph, path, numPartitions,
      open = Some(docOpen(prefixes)), close = Some(docClose)) { rows =>
      val sb = new StringBuilder
      appendBlock(sb, rows.head.getStruct(0), rows, prefixes)
      sb.toString
    }
  }

  private def docOpen(prefixes: Map[String, String]): String =
    """<?xml version="1.0" encoding="UTF-8"?>""" + "\n<rdf:RDF" +
      // the empty (default-namespace) prefix has no xmlns:NAME form —
      // predicates in that namespace fall back to a local declaration
      ((("rdf" -> RdfNs) +: prefixes.toSeq
        .filterNot(p => p._1 == "rdf" || p._1.isEmpty)
        .sortBy(_._1))
        .map { case (p, ns) => s"""xmlns:$p="${escAttr(ns)}"""" }
        .mkString("\n    ", "\n    ", ">\n"))
  private val docClose = "</rdf:RDF>\n"

  private def esc(s: String): String = {
    s.foreach { c =>
      if (c < ' ' && c != '\t' && c != '\n' && c != '\r')
        throw new RdfXmlParseException(
          f"control character U+${c.toInt}%04X cannot appear in XML 1.0 " +
            "content — serialize this graph as N-Triples/Turtle instead")
    }
    s.flatMap {
      case '&' => "&amp;"; case '<' => "&lt;"; case '>' => "&gt;"
      // XML 1.0 §2.11: a conforming parser normalizes literal \r (and
      // \r\n) in content to \n — a raw \r would silently corrupt the
      // literal on reparse. Character-reference it so it survives.
      case '\r' => "&#xD;"
      case c => c.toString
    }
  }
  // §3.3.3 attribute-value normalization additionally folds literal
  // \t and \n to spaces, so those must be character-referenced too.
  private def escAttr(s: String): String =
    esc(s).replace("\"", "&quot;")
      .replace("\n", "&#xA;").replace("\t", "&#x9;")

  /** Longest NCName suffix split of a predicate IRI. */
  private[sources] def splitPredicate(iri: String): (String, String) = {
    def ncChar(c: Char): Boolean =
      Character.isLetterOrDigit(c) || c == '_' || c == '-' || c == '.'
    def ncStart(c: Char): Boolean = Character.isLetter(c) || c == '_'
    var i = iri.length
    while (i > 0 && ncChar(iri.charAt(i - 1))) i -= 1
    // the local part must START with an NCName start char
    while (i < iri.length && !ncStart(iri.charAt(i))) i += 1
    if (i == iri.length || i == 0) throw new RdfXmlParseException(
      s"predicate <$iri> has no NCName local part — RDF/XML cannot " +
        "name it as an element (serialize as Turtle/N-Triples instead)")
    (iri.substring(0, i), iri.substring(i))
  }

  /** One `<rdf:Description>` block for a subject's sorted triples.
    * Predicate namespaces covered by the graph's prefixes use them;
    * others get a LOCAL `xmlns:n="…"` on the property element itself
    * (legal XML — keeps the writer streaming with no namespace
    * pre-pass). */
  private def appendBlock(sb: StringBuilder, s: org.apache.spark.sql.Row,
      ts: Seq[org.apache.spark.sql.Row],
      prefixes: Map[String, String]): Unit = {
    val byNs = prefixes.filterNot(_._1.isEmpty).map(_.swap)
    sb.append("  <rdf:Description ")
    s.getByte(0) match {
      case Terms.KIND_IRI =>
        sb.append(s"""rdf:about="${escAttr(s.getString(1))}">""")
      case Terms.KIND_BLANK =>
        sb.append(s"""rdf:nodeID="${escAttr(s.getString(1))}">""")
      case _ => throw new RdfXmlParseException(
        "RDF/XML cannot serialize a quoted-triple or literal subject")
    }
    sb.append('\n')
    ts.foreach { r =>
      val p = r.getStruct(1)
      if (p.getByte(0) != Terms.KIND_IRI) throw new RdfXmlParseException(
        "RDF/XML predicates must be IRIs")
      val (ns, local) = splitPredicate(p.getString(1))
      val (tag, extraNs) = byNs.get(ns) match {
        case Some(pfx) => (s"$pfx:$local", "")
        case None => (s"n:$local", s""" xmlns:n="${escAttr(ns)}"""")
      }
      val o = r.getStruct(2)
      sb.append(s"    <$tag$extraNs")
      o.getByte(0) match {
        case Terms.KIND_IRI =>
          sb.append(s""" rdf:resource="${escAttr(o.getString(1))}"/>""")
        case Terms.KIND_BLANK =>
          sb.append(s""" rdf:nodeID="${escAttr(o.getString(1))}"/>""")
        case Terms.KIND_LIT =>
          val dt = o.getString(2); val lang = o.getString(3)
          if (dt == RDF.dirLangString) throw new RdfXmlParseException(
            "RDF/XML has no directional language-string syntax (xml:lang " +
              "carries no base direction) — use Turtle or JSON-LD")
          if (lang != null) sb.append(s""" xml:lang="${escAttr(lang)}"""")
          else if (dt != null && dt != XSD.string)
            sb.append(s""" rdf:datatype="${escAttr(dt)}"""")
          sb.append('>').append(esc(o.getString(1))).append(s"</$tag>")
        case _ => throw new RdfXmlParseException(
          "RDF/XML has no quoted-triple syntax — use Turtle-star")
      }
      sb.append('\n')
    }
    sb.append("  </rdf:Description>\n")
  }

  // ------------------------------------------------------------ scoping

  private def attr(r: XMLStreamReader, ns: String, local: String): String = {
    var i = 0
    while (i < r.getAttributeCount) {
      if (r.getAttributeLocalName(i) == local &&
          (Option(r.getAttributeNamespace(i)).getOrElse("") == ns))
        return r.getAttributeValue(i)
      i += 1
    }
    null
  }

  private def scopedBase(r: XMLStreamReader, outer: String): String = {
    val b = attr(r, XmlNs, "base")
    if (b == null) outer
    // xml:base chains against the outer base (RFC 3986 §5.1.1), and its
    // own fragment is dropped before use as a base
    else resolve(outer, b).takeWhile(_ != '#')
  }

  private def scopedLang(r: XMLStreamReader, outer: String): String = {
    val l = attr(r, XmlNs, "lang")
    if (l == null) outer else l
  }

  private def qname(r: XMLStreamReader): String =
    Option(r.getNamespaceURI).getOrElse("") + r.getLocalName

  private def checkNotObsolete(r: XMLStreamReader): Unit = {
    var i = 0
    while (i < r.getAttributeCount) {
      if (Option(r.getAttributeNamespace(i)).getOrElse("") == RdfNs &&
          obsolete(r.getAttributeLocalName(i)))
        throw new RdfXmlParseException(
          s"obsolete RDF/XML attribute rdf:${r.getAttributeLocalName(i)}")
      i += 1
    }
  }

  // ------------------------------------------------------- node elements

  /** Parse one node element (reader ON its START_ELEMENT; consumes
    * through its END_ELEMENT). Returns the node's subject term. */
  private def nodeElement(r: XMLStreamReader, st: State,
      outerBase: String, outerLang: String): RdfTerm = {
    checkNotObsolete(r)
    val base = scopedBase(r, outerBase)
    val lang = scopedLang(r, outerLang)
    val elemUri = qname(r)

    val about = attr(r, RdfNs, "about")
    val id = attr(r, RdfNs, "ID")
    val nodeId = attr(r, RdfNs, "nodeID")
    if (Seq(about, id, nodeId).count(_ != null) > 1)
      throw new RdfXmlParseException(
        "a node element takes at most ONE of rdf:about / rdf:ID / " +
          "rdf:nodeID (REC 7.2.11)")
    val subject: RdfTerm =
      if (about != null) Iri(resolve(base, about))
      else if (id != null) Iri(resolve(base, "#" + registerId(st, id, base)))
      else if (nodeId != null) Blank(nodeId)
      else st.freshBnode()

    if (elemUri != RdfNs + "Description")
      st.emit(subject, Iri(RDF.typ), Iri(elemUri))

    propertyAttributes(r, st, subject, base, lang)

    // children: property elements; rdf:li counter scoped to THIS node
    var li = 0
    var ev = r.next()
    while (ev != XMLStreamConstants.END_ELEMENT) {
      if (ev == XMLStreamConstants.START_ELEMENT) {
        li += (if (qname(r) == RdfNs + "li") 1 else 0)
        propertyElement(r, st, subject, base, lang, li)
      } else if (ev == XMLStreamConstants.CHARACTERS && !r.isWhiteSpace)
        throw new RdfXmlParseException(
          s"text content not allowed in node element <$elemUri>")
      ev = r.next()
    }
    subject
  }

  /** Property attributes of a node element or empty property element:
    * every attribute that is not rdf/xml syntax becomes a plain-literal
    * triple; rdf:type becomes an IRI triple whose value resolves
    * against the in-scope base like any node reference
    * (REC 7.2.11 / 7.2.21). */
  private def propertyAttributes(r: XMLStreamReader, st: State,
      subject: RdfTerm, base: String, lang: String): Unit = {
    var i = 0
    while (i < r.getAttributeCount) {
      val ns = Option(r.getAttributeNamespace(i)).getOrElse("")
      val local = r.getAttributeLocalName(i)
      val v = r.getAttributeValue(i)
      if (ns == RdfNs) {
        if (local == "type")
          st.emit(subject, Iri(RDF.typ), Iri(resolve(base, v)))
        else if (!syntaxAttrs(local) && !obsolete(local) && local != "type")
          st.emit(subject, Iri(RdfNs + local), mkLit(v, null, lang))
      } else if (ns != XmlNs && ns.nonEmpty)
        st.emit(subject, Iri(ns + local), mkLit(v, null, lang))
      // ns empty (unprefixed, non-xml) attributes are NOT property
      // attributes per the REC's namespace-qualification requirement
      i += 1
    }
  }

  private def mkLit(lex: String, dt: String, lang: String): Lit =
    if (dt != null) Lit(lex, dt, null)
    else if (lang.nonEmpty) Lit(lex, RDF.langString, lang)
    else Lit(lex, XSD.string, null)

  /** rdf:ID must be unique per base document (REC 7.2.34 constraint-id). */
  private def registerId(st: State, id: String, base: String): String = {
    val key = base + "#" + id
    if (!st.seenIds.add(key))
      throw new RdfXmlParseException(s"duplicate rdf:ID '$id' for base $base")
    id
  }

  // --------------------------------------------------- property elements

  /** Parse one property element of `subject` (reader ON its
    * START_ELEMENT; consumes through its END_ELEMENT). */
  private def propertyElement(r: XMLStreamReader, st: State,
      subject: RdfTerm, outerBase: String, outerLang: String,
      liIndex: Int): Unit = {
    checkNotObsolete(r)
    val base = scopedBase(r, outerBase)
    val lang = scopedLang(r, outerLang)
    val rawUri = qname(r)
    val predUri =
      if (rawUri == RdfNs + "li") RDF.memberPrefix + liIndex else rawUri
    val pred = Iri(predUri)

    val reifyId = attr(r, RdfNs, "ID")
    val parseType = attr(r, RdfNs, "parseType")
    val resource = attr(r, RdfNs, "resource")
    val nodeId = attr(r, RdfNs, "nodeID")
    val datatype = attr(r, RdfNs, "datatype")

    def finish(o: RdfTerm): Unit = {
      st.emit(subject, pred, o)
      if (reifyId != null) {
        val stmt = Iri(resolve(base, "#" + registerId(st, reifyId, base)))
        st.emit(stmt, Iri(RDF.typ), Iri(RdfNs + "Statement"))
        st.emit(stmt, Iri(RdfNs + "subject"), subject)
        st.emit(stmt, Iri(RdfNs + "predicate"), pred)
        st.emit(stmt, Iri(RdfNs + "object"), o)
      }
    }

    if (parseType != null) parseType match {
      case "Resource" =>
        // content is a propertyEltList of a fresh bnode
        val n = st.freshBnode()
        var li = 0
        var ev = r.next()
        while (ev != XMLStreamConstants.END_ELEMENT) {
          if (ev == XMLStreamConstants.START_ELEMENT) {
            li += (if (qname(r) == RdfNs + "li") 1 else 0)
            propertyElement(r, st, n, base, lang, li)
          }
          ev = r.next()
        }
        finish(n)
      case "Collection" =>
        // rdf:first/rdf:rest chain over the nested node elements
        val items = scala.collection.mutable.ArrayBuffer[RdfTerm]()
        var ev = r.next()
        while (ev != XMLStreamConstants.END_ELEMENT) {
          if (ev == XMLStreamConstants.START_ELEMENT)
            items += nodeElement(r, st, base, lang)
          ev = r.next()
        }
        if (items.isEmpty) finish(Iri(RDF.nil))
        else {
          val cells = items.map(_ => st.freshBnode())
          finish(cells.head)
          items.indices.foreach { i =>
            st.emit(cells(i), Iri(RDF.first), items(i))
            st.emit(cells(i), Iri(RDF.rest),
              if (i + 1 < cells.length) cells(i + 1) else Iri(RDF.nil))
          }
        }
      case _ => // "Literal" and any unrecognized value (REC 7.2.20)
        finish(Lit(xmlLiteralText(r), RdfNs + "XMLLiteral", null))
    }
    else if (resource != null || nodeId != null) {
      // emptyPropertyElt with an object attribute; property attributes
      // (if any) describe the OBJECT node
      if (resource != null && nodeId != null)
        throw new RdfXmlParseException(
          "rdf:resource and rdf:nodeID on one property element")
      val o: RdfTerm =
        if (resource != null) Iri(resolve(base, resource)) else Blank(nodeId)
      propertyAttributes(r, st, o, base, lang)
      skipToEnd(r, allowText = false)
      finish(o)
    }
    else {
      // look ahead: literal text, nested node element, or empty
      val text = new StringBuilder
      var nested: RdfTerm = null
      var sawElement = false
      val hasPropAttrs = hasPropertyAttributes(r)
      val attrObj = if (hasPropAttrs) st.freshBnode() else null
      if (hasPropAttrs) propertyAttributes(r, st, attrObj, base, lang)
      var ev = r.next()
      while (ev != XMLStreamConstants.END_ELEMENT) {
        ev match {
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
            text.appendAll(r.getTextCharacters, r.getTextStart, r.getTextLength)
          case XMLStreamConstants.START_ELEMENT =>
            if (sawElement) throw new RdfXmlParseException(
              s"more than one node element inside property <$predUri>")
            if (hasPropAttrs) throw new RdfXmlParseException(
              s"property attributes with nested node in <$predUri>")
            sawElement = true
            nested = nodeElement(r, st, base, lang)
          case _ =>
        }
        ev = r.next()
      }
      if (sawElement) {
        if (text.toString.trim.nonEmpty) throw new RdfXmlParseException(
          s"mixed text and node element inside property <$predUri>")
        finish(nested)
      }
      else if (hasPropAttrs) {
        if (text.toString.trim.nonEmpty) throw new RdfXmlParseException(
          s"text content with property attributes in <$predUri>")
        finish(attrObj) // emptyPropertyElt + attrs
      }
      else if (text.nonEmpty || datatype == null)
        finish(mkLit(text.toString, datatype, lang))
      else finish(Lit("", datatype, null))
    }
  }

  /** Does this property element carry property attributes (anything
    * beyond rdf/xml syntax attributes)? */
  private def hasPropertyAttributes(r: XMLStreamReader): Boolean = {
    var i = 0
    while (i < r.getAttributeCount) {
      val ns = Option(r.getAttributeNamespace(i)).getOrElse("")
      val local = r.getAttributeLocalName(i)
      if (ns == RdfNs && (local == "type" || !syntaxAttrs(local))) return true
      if (ns != RdfNs && ns != XmlNs && ns.nonEmpty) return true
      i += 1
    }
    false
  }

  private def skipToEnd(r: XMLStreamReader, allowText: Boolean): Unit = {
    var depth = 0
    var done = false
    while (!done) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          // emptyPropertyElt (REC 7.2.21) forbids children — reject
          // them loudly rather than silently dropping nested content
          if (!allowText)
            throw new RdfXmlParseException(
              "child element not allowed in empty property element")
          depth += 1
        case XMLStreamConstants.END_ELEMENT =>
          if (depth == 0) done = true else depth -= 1
        case XMLStreamConstants.CHARACTERS
            if !allowText && !r.isWhiteSpace =>
          throw new RdfXmlParseException(
            "content not allowed in empty property element")
        case _ =>
      }
    }
  }

  /** Serialize the inner XML of a parseType="Literal" element back to
    * text (element order, attributes, namespace declarations on the
    * inner elements, text with entity re-escaping — an infoset-faithful
    * rendering, not exclusive canonical XML). */
  private def xmlLiteralText(r: XMLStreamReader): String = {
    val sb = new StringBuilder
    var depth = 1
    var ev = r.next()
    while (depth > 0) {
      ev match {
        case XMLStreamConstants.START_ELEMENT =>
          depth += 1
          sb += '<'
          val p = Option(r.getPrefix).getOrElse("")
          if (p.nonEmpty) sb.append(p).append(':')
          sb.append(r.getLocalName)
          var i = 0
          while (i < r.getNamespaceCount) {
            val np = Option(r.getNamespacePrefix(i)).getOrElse("")
            sb.append(" xmlns")
            if (np.nonEmpty) sb.append(':').append(np)
            sb.append("=\"").append(escAttr(r.getNamespaceURI(i))).append('"')
            i += 1
          }
          i = 0
          while (i < r.getAttributeCount) {
            val ap = Option(r.getAttributePrefix(i)).getOrElse("")
            sb += ' '
            if (ap.nonEmpty) sb.append(ap).append(':')
            sb.append(r.getAttributeLocalName(i)).append("=\"")
              .append(escAttr(r.getAttributeValue(i))).append('"')
            i += 1
          }
          sb += '>'
        case XMLStreamConstants.END_ELEMENT =>
          depth -= 1
          if (depth > 0) {
            sb.append("</")
            val p = Option(r.getPrefix).getOrElse("")
            if (p.nonEmpty) sb.append(p).append(':')
            sb.append(r.getLocalName).append('>')
          }
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          sb.append(esc(new String(
            r.getTextCharacters, r.getTextStart, r.getTextLength)))
        case _ =>
      }
      if (depth > 0) ev = r.next()
    }
    sb.toString
  }
}
