package graft.sources.sparql

import java.io.InputStream

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

import graft.rdf.{Blank, Iri, Lit, QuotedTriple, RdfTerm, Terms, RDF, XSD}

/** Streaming decoders for the W3C SPARQL result formats, selected by the
  * response `Content-Type` — the read-side twin of
  * [[graft.sources.SparqlResults]]. The protocol source sends an Accept
  * header preferring results-JSON, but real endpoints are free to answer
  * with XML (the oldest REC, some stores' only format) or TSV; decoding
  * whatever comes back makes `spark.read.format("sparql")` and SERVICE
  * work against any conformant endpoint, like the reference's rdflib
  * result-parser registry did (format picked by media type).
  *
  * All three decoders stream: rows are emitted as they are pulled off the
  * socket, nothing buffers more than one solution. Each runs on the
  * EXECUTOR inside the DSv2 partition reader.
  */
private[sources] trait ResultDecoder extends AutoCloseable {
  /** Advance to the next solution; false once the document ends. */
  def next(): Boolean
  /** The current solution, aligned to the reader's var order. */
  def get(): InternalRow
}

private[sources] object ResultDecoders {

  /** Pick a decoder from the response media type (parameters stripped,
    * case-insensitive). Unknown/absent types fall back to JSON — the
    * format we asked for first — so a server that omits the header still
    * works. CSV decode is supported but lossy BY THE REC's own design
    * (bare lexical forms): IRIs are told apart heuristically. */
  def apply(contentType: String, in: InputStream,
      vars: Array[String]): ResultDecoder = {
    val mt = Option(contentType).getOrElse("").split(";")(0).trim
      .toLowerCase(java.util.Locale.ROOT)
    mt match {
      case "application/sparql-results+xml" | "application/xml" | "text/xml" =>
        new XmlResultDecoder(in, vars)
      case "text/tab-separated-values" =>
        new TsvResultDecoder(in, vars)
      case "text/csv" =>
        new CsvResultDecoder(in, vars)
      case _ => new JsonResultDecoder(in, vars)
    }
  }

  private[sources] def u(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  /** RdfTerm → the (kind, value, dt, lang) term struct. */
  private[sources] def row(t: RdfTerm): InternalRow = t match {
    case Iri(v) => InternalRow(Terms.KIND_IRI, u(v), null, null)
    case Blank(l) => InternalRow(Terms.KIND_BLANK, u(l), null, null)
    case q: QuotedTriple =>
      InternalRow(Terms.KIND_TRIPLE, u(Terms.packString(q)), null, null)
    case l: Lit => InternalRow(Terms.KIND_LIT, u(l.lex),
      u(if (l.dt == null) XSD.string else l.dt), u(l.lang))
  }
}

/** Streaming SPARQL-JSON decode → InternalRow. Term decode mirrors
  * `_jsonToNode` (gastrodon/__init__.py:651-662): uri / bnode / literal
  * (plain, @lang, ^^datatype, legacy "typed-literal"), plus the SPARQL
  * 1.2 `{"type":"triple"}` extension; a variable absent from a binding
  * object is null (unbound, :758-761). */
private[sources] class JsonResultDecoder(in: InputStream, vars: Array[String])
    extends ResultDecoder {
  import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}

  private val parser: JsonParser = new JsonFactory().createParser(in)
  private var inBindings = false
  private var done = false
  private var current: InternalRow = _

  /** Advance to the start of the results.bindings array on first call. */
  private def seekBindings(): Unit = {
    var depth = 0
    var t = parser.nextToken()
    while (t != null && !inBindings) {
      t match {
        case JsonToken.START_OBJECT | JsonToken.START_ARRAY => depth += 1
        case JsonToken.END_OBJECT | JsonToken.END_ARRAY => depth -= 1
        case JsonToken.FIELD_NAME
            if depth == 2 && parser.currentName() == "bindings" =>
          val nxt = parser.nextToken()
          if (nxt == JsonToken.START_ARRAY) inBindings = true
          else depth += (if (nxt == JsonToken.START_OBJECT) 1 else 0)
        case _ =>
      }
      if (!inBindings) t = parser.nextToken()
    }
    if (!inBindings) done = true
  }

  /** Term object {type, value, datatype?, xml:lang?} → RdfTerm; a
    * `"type":"triple"` value is the extension's nested
    * {subject, predicate, object} object. Called with the opening
    * START_OBJECT already consumed. */
  private def readTermOf(): RdfTerm = {
    var typ: String = null; var value: String = null
    var dt: String = null; var lang: String = null
    var s: RdfTerm = null; var p: RdfTerm = null; var o: RdfTerm = null
    var tk = parser.nextToken()
    while (tk != JsonToken.END_OBJECT) {
      val f = parser.currentName()
      parser.nextToken()
      f match {
        case "type" => typ = parser.getText
        case "value" =>
          if (parser.currentToken() == JsonToken.START_OBJECT) {
            // nested triple value: {subject, predicate, object}
            var tk2 = parser.nextToken()
            while (tk2 != JsonToken.END_OBJECT) {
              val g = parser.currentName()
              parser.nextToken() // START_OBJECT of the component term
              g match {
                case "subject" => s = readTermOf()
                case "predicate" => p = readTermOf()
                case "object" => o = readTermOf()
                case _ => parser.skipChildren()
              }
              tk2 = parser.nextToken()
            }
          } else value = parser.getText
        case "datatype" => dt = parser.getText
        case "xml:lang" => lang = parser.getText
        case _ => parser.skipChildren()
      }
      tk = parser.nextToken()
    }
    typ match {
      case "uri" => Iri(value)
      case "bnode" => Blank(value)
      case "triple" => (s, p, o) match {
        // a hostile/buggy endpoint must raise the decoders' usual
        // IOException-with-context, not a ClassCastException/NPE
        case (sub, pred: Iri, obj) if sub != null && obj != null =>
          QuotedTriple(sub, pred, obj)
        case _ => throw new java.io.IOException(
          "malformed results-JSON triple term (subject/predicate/object " +
            "missing, or predicate not an IRI)")
      }
      case _ => // "literal" and the legacy "typed-literal"
        if (value == null) throw new java.io.IOException(
          s"malformed results-JSON term (type=$typ, no value)")
        if (lang != null) Lit.tagged(value, lang)
        else Lit(value, if (dt == null) XSD.string else dt, null)
    }
  }

  override def next(): Boolean = {
    if (done) return false
    if (!inBindings) seekBindings()
    if (done) return false
    val t = parser.nextToken()
    if (t == JsonToken.END_ARRAY || t == null) { done = true; return false }
    // t == START_OBJECT: one binding row {var: {type:…, value:…}, …}
    val byVar = scala.collection.mutable.HashMap[String, InternalRow]()
    var tok = parser.nextToken()
    while (tok != JsonToken.END_OBJECT) {
      val varName = parser.currentName()
      parser.nextToken() // START_OBJECT of the term
      byVar(varName) = ResultDecoders.row(readTermOf())
      tok = parser.nextToken()
    }
    current = InternalRow.fromSeq(vars.toSeq.map(v => byVar.getOrElse(v, null)))
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = { parser.close(); in.close() }
}

/** Streaming results-XML decode (StAX, external entities disabled):
  * `<result><binding name="v"><uri|bnode|literal [xml:lang|datatype]>`
  * per the "SPARQL Query Results XML Format (Second Edition)" REC. */
private[sources] class XmlResultDecoder(in: InputStream, vars: Array[String])
    extends ResultDecoder {
  import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

  private val reader: XMLStreamReader = {
    val f = XMLInputFactory.newInstance()
    // results documents never need DTDs; disabling closes the XXE hole
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    // construction already parses the XML declaration — same
    // documented-IOException contract as the event loop in next()
    try f.createXMLStreamReader(in, "UTF-8")
    catch {
      case e: javax.xml.stream.XMLStreamException =>
        throw new java.io.IOException(
          s"malformed results XML: ${e.getMessage}")
    }
  }
  private var done = false
  private var current: InternalRow = _

  private def attr(local: String): String = {
    var i = 0
    while (i < reader.getAttributeCount) {
      if (reader.getAttributeLocalName(i) == local)
        return reader.getAttributeValue(i)
      i += 1
    }
    null
  }

  /** Inside `<binding>`, positioned on the term's START_ELEMENT. */
  private def readTerm(): InternalRow = reader.getLocalName match {
    case "uri" =>
      InternalRow(Terms.KIND_IRI,
        ResultDecoders.u(reader.getElementText), null, null)
    case "bnode" =>
      InternalRow(Terms.KIND_BLANK,
        ResultDecoders.u(reader.getElementText), null, null)
    case "literal" =>
      val lang = attr("lang") // xml:lang resolves to local name "lang"
      val dt = attr("datatype")
      val lex = reader.getElementText
      if (lang != null)
        InternalRow(Terms.KIND_LIT, ResultDecoders.u(lex),
          ResultDecoders.u(if (lang.contains("--")) RDF.dirLangString
            else RDF.langString), ResultDecoders.u(lang))
      else
        InternalRow(Terms.KIND_LIT, ResultDecoders.u(lex),
          ResultDecoders.u(if (dt == null) XSD.string else dt), null)
    case "triple" => // SPARQL 1.2 results-XML extension
      ResultDecoders.row(readTripleOf())
    case other =>
      throw new java.io.IOException(s"unexpected term element <$other>")
  }

  private def readTermOf(): RdfTerm = reader.getLocalName match {
    case "uri" => Iri(reader.getElementText)
    case "bnode" => Blank(reader.getElementText)
    case "literal" =>
      val lang = attr("lang"); val dt = attr("datatype")
      val lex = reader.getElementText
      if (lang != null) Lit.tagged(lex, lang)
      else Lit(lex, if (dt == null) XSD.string else dt, null)
    case "triple" => readTripleOf()
    case other =>
      throw new java.io.IOException(s"unexpected term element <$other>")
  }

  /** `<triple><subject>t</subject><predicate>…</predicate><object>…</object>`. */
  private def readTripleOf(): QuotedTriple = {
    var s: RdfTerm = null; var p: RdfTerm = null; var o: RdfTerm = null
    var role: String = null
    var ev = reader.next()
    while (!(ev == XMLStreamConstants.END_ELEMENT &&
        reader.getLocalName == "triple")) {
      if (ev == XMLStreamConstants.START_ELEMENT) reader.getLocalName match {
        case "subject" | "predicate" | "object" => role = reader.getLocalName
        case _ =>
          val t = readTermOf()
          role match {
            case "subject" => s = t
            case "predicate" => p = t
            case "object" => o = t
            case _ =>
          }
      }
      ev = reader.next()
    }
    (s, p, o) match {
      case (sub, pred: Iri, obj) if sub != null && obj != null =>
        QuotedTriple(sub, pred, obj)
      case _ => throw new java.io.IOException(
        "malformed results-XML triple term (subject/predicate/object " +
          "missing, or predicate not an IRI)")
    }
  }

  override def next(): Boolean = try {
    if (done) return false
    val byVar = scala.collection.mutable.HashMap[String, InternalRow]()
    var inResult = false
    while (reader.hasNext) {
      reader.next() match {
        case XMLStreamConstants.START_ELEMENT => reader.getLocalName match {
          case "result" => inResult = true
          case "binding" if inResult =>
            val name = attr("name")
            // advance to the term element
            var ev = reader.next()
            while (ev != XMLStreamConstants.START_ELEMENT) ev = reader.next()
            byVar(name) = readTerm()
          case _ =>
        }
        case XMLStreamConstants.END_ELEMENT if inResult &&
            reader.getLocalName == "result" =>
          current = InternalRow.fromSeq(
            vars.toSeq.map(v => byVar.getOrElse(v, null)))
          return true
        case _ =>
      }
    }
    done = true
    false
  } catch {
    // a malformed response surfaces as the StAX implementation's own
    // exception family (incl. Woodstox's unchecked lazy wrapper, and
    // NoSuchElement on a truncated stream) — fold them into the
    // decoders' one documented failure type so a bad endpoint reply
    // cannot kill an executor task with an implementation artifact
    case e: javax.xml.stream.XMLStreamException =>
      throw new java.io.IOException(s"malformed results XML: ${e.getMessage}")
    case e: RuntimeException
        if e.getCause.isInstanceOf[javax.xml.stream.XMLStreamException] =>
      throw new java.io.IOException(
        s"malformed results XML: ${e.getCause.getMessage}")
    case e: java.util.NoSuchElementException =>
      throw new java.io.IOException(
        s"truncated results XML: ${e.getMessage}")
  }

  override def get(): InternalRow = current
  override def close(): Unit = { reader.close(); in.close() }
}

/** TSV decode per the CSV/TSV REC: header row of `?var` names; fields
  * are terms in Turtle syntax — bracketed IRIs, `_:` blank nodes,
  * quoted literals with `@lang`/`^^<dt>`, bare numbers and booleans
  * (the REC's allowed abbreviations), `<< … >>` quoted triples; an
  * empty field is an unbound variable. Column order comes from the
  * HEADER, matched to the reader's vars by name. */
private[sources] class TsvResultDecoder(in: InputStream, vars: Array[String])
    extends ResultDecoder {
  private val br = new java.io.BufferedReader(
    new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
  /** header var name per column (leading ?/$ stripped). */
  private val header: Array[String] = {
    val line = br.readLine()
    if (line == null) Array.empty
    else line.split("\t", -1).map(_.trim.stripPrefix("?").stripPrefix("$"))
  }
  private var current: InternalRow = _

  override def next(): Boolean = {
    var line = br.readLine()
    while (line != null && line.isEmpty) line = br.readLine()
    if (line == null) return false
    val fields = line.split("\t", -1)
    val byVar = scala.collection.mutable.HashMap[String, InternalRow]()
    var i = 0
    while (i < fields.length && i < header.length) {
      val f = fields(i).trim
      if (f.nonEmpty) {
        // a malformed term field folds into the decoders' one
        // documented failure type, whatever low-level error the
        // corruption hits first inside the Turtle-term scanner
        val t =
          try TsvTerm.parse(f)
          catch {
            case e: java.io.IOException => throw e
            case e if scala.util.control.NonFatal(e) =>
              throw new java.io.IOException(
                s"cannot parse TSV term '$f': ${e.getMessage}")
          }
        byVar(header(i)) = ResultDecoders.row(t)
      }
      i += 1
    }
    current = InternalRow.fromSeq(vars.toSeq.map(v => byVar.getOrElse(v, null)))
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = br.close()
}

/** CSV decode per the REC — lossy by design: every field is a bare
  * lexical form with no type markers, so the decoder uses the same
  * heuristics rdflib's CSV result parser does: `_:`-prefixed → blank
  * node, an absolute-IRI-shaped value (scheme `:`… with no whitespace)
  * → IRI, anything else → plain literal; an empty field is unbound
  * (indistinguishable from an empty string — the REC's documented
  * ambiguity). RFC 4180 quoting: quoted fields may contain commas,
  * quotes (doubled), and line breaks. */
private[sources] class CsvResultDecoder(in: InputStream, vars: Array[String])
    extends ResultDecoder {
  private val r = new java.io.BufferedReader(
    new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
  private val header: Array[String] = readRecord().getOrElse(Array.empty)
    .map(_.trim)
  private var current: InternalRow = _

  /** One RFC 4180 record (handles quoted fields spanning lines); None at
    * EOF. */
  private def readRecord(): Option[Array[String]] = {
    val fields = scala.collection.mutable.ArrayBuffer[String]()
    val sb = new StringBuilder
    var inQuotes = false
    var started = false
    var c = r.read()
    if (c == -1) return None
    while (c != -1) {
      started = true
      val ch = c.toChar
      if (inQuotes) {
        if (ch == '"') {
          val nxt = r.read()
          if (nxt == '"') { sb += '"'; }
          else { inQuotes = false; c = nxt
            // loop continues with the char after the closing quote
            if (c == -1) { fields += sb.toString; return Some(fields.toArray) }
            else {
              val ch2 = c.toChar
              if (ch2 == ',') { fields += sb.toString; sb.clear() }
              else if (ch2 == '\n' || ch2 == '\r') {
                if (ch2 == '\r') { r.mark(1); if (r.read() != '\n') r.reset() }
                fields += sb.toString
                return Some(fields.toArray)
              } else sb += ch2
            }
          }
        } else sb += ch
      } else ch match {
        case '"' if sb.isEmpty => inQuotes = true
        case ',' => fields += sb.toString; sb.clear()
        case '\r' =>
          r.mark(1); if (r.read() != '\n') r.reset()
          fields += sb.toString
          return Some(fields.toArray)
        case '\n' =>
          fields += sb.toString
          return Some(fields.toArray)
        case other => sb += other
      }
      c = r.read()
    }
    if (started) { fields += sb.toString; Some(fields.toArray) } else None
  }

  private val iriShape =
    java.util.regex.Pattern.compile("^[A-Za-z][A-Za-z0-9+.-]*:[^\\s]*$")

  private def term(f: String): InternalRow =
    if (f.startsWith("_:"))
      InternalRow(Terms.KIND_BLANK, ResultDecoders.u(f.substring(2)),
        null, null)
    else if (iriShape.matcher(f).matches())
      InternalRow(Terms.KIND_IRI, ResultDecoders.u(f), null, null)
    else
      InternalRow(Terms.KIND_LIT, ResultDecoders.u(f),
        ResultDecoders.u(XSD.string), null)

  override def next(): Boolean = readRecord() match {
    case None => false
    case Some(fields) =>
      val byVar = scala.collection.mutable.HashMap[String, InternalRow]()
      var i = 0
      while (i < fields.length && i < header.length) {
        if (fields(i).nonEmpty) byVar(header(i)) = term(fields(i))
        i += 1
      }
      current = InternalRow.fromSeq(
        vars.toSeq.map(v => byVar.getOrElse(v, null)))
      true
  }

  override def get(): InternalRow = current
  override def close(): Unit = r.close()
}

/** Parser for one TSV field: a term in Turtle syntax (the REC's grammar
  * plus the Turtle-star `<< … >>` form the TSV serializer emits). */
private[sources] object TsvTerm {

  def parse(s: String): RdfTerm = {
    val (t, pos) = term(s, 0)
    val rest = s.substring(pos).trim
    require(rest.isEmpty, s"trailing content after TSV term: '$rest'")
    t
  }

  private def ws(s: String, p0: Int): Int = {
    var p = p0
    while (p < s.length && (s.charAt(p) == ' ' || s.charAt(p) == '\t')) p += 1
    p
  }

  private def term(s: String, p0: Int): (RdfTerm, Int) = {
    val p = ws(s, p0)
    if (s.startsWith("<<", p)) quoted(s, p)
    else s.charAt(p) match {
      case '<' => iri(s, p)
      case '_' =>
        var end = p + 2
        while (end < s.length && !Character.isWhitespace(s.charAt(end)))
          end += 1
        (Blank(s.substring(p + 2, end)), end)
      case '"' | '\'' => literal(s, p)
      case _ => bare(s, p)
    }
  }

  private def iri(s: String, p0: Int): (Iri, Int) = {
    val end = s.indexOf('>', p0)
    require(end > 0, s"unterminated IRI in TSV field: $s")
    (Iri(unescapeUchar(s.substring(p0 + 1, end))), end + 1)
  }

  /** \uXXXX / \UXXXXXXXX escapes (the only ones allowed inside IRIREF). */
  private def unescapeUchar(v: String): String = {
    if (!v.contains('\\')) return v
    val sb = new StringBuilder
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '\\' && i + 1 < v.length && v.charAt(i + 1) == 'u') {
        sb += Integer.parseInt(v.substring(i + 2, i + 6), 16).toChar; i += 6
      } else if (c == '\\' && i + 1 < v.length && v.charAt(i + 1) == 'U') {
        sb.appendAll(Character.toChars(
          Integer.parseInt(v.substring(i + 2, i + 10), 16))); i += 10
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  private def literal(s: String, p0: Int): (Lit, Int) = {
    val q = s.charAt(p0)
    val sb = new StringBuilder
    var i = p0 + 1
    while (i < s.length && s.charAt(i) != q) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => sb += '\n'; case 't' => sb += '\t'; case 'r' => sb += '\r'
          case 'b' => sb += '\b'; case 'f' => sb += '\f'
          case '"' => sb += '"'; case '\'' => sb += '\''
          case '\\' => sb += '\\'
          case 'u' =>
            sb += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar
            i += 4
          case 'U' =>
            sb.appendAll(Character.toChars(
              Integer.parseInt(s.substring(i + 2, i + 10), 16)))
            i += 8
          case c => sb += c
        }
        i += 2
      } else { sb += s.charAt(i); i += 1 }
    }
    require(i < s.length, s"unterminated literal in TSV field: $s")
    val lex = sb.toString
    val next = i + 1
    if (next < s.length && s.charAt(next) == '@') {
      var end = next + 1
      while (end < s.length && (s.charAt(end).isLetterOrDigit ||
        s.charAt(end) == '-')) end += 1
      (Lit.tagged(lex, s.substring(next + 1, end)), end)
    } else if (next + 1 < s.length && s.charAt(next) == '^' &&
        s.charAt(next + 1) == '^') {
      val (dt, end) = iri(s, ws(s, next + 2))
      (Lit(lex, dt.value, null), end)
    } else (Lit(lex, XSD.string, null), next)
  }

  /** Bare abbreviations the REC allows: integer / decimal / double
    * numbers, true / false. */
  private def bare(s: String, p0: Int): (Lit, Int) = {
    var end = p0
    while (end < s.length && !Character.isWhitespace(s.charAt(end))) end += 1
    val tok = s.substring(p0, end)
    val dt =
      if (tok == "true" || tok == "false") XSD.boolean
      else if (tok.matches("[+-]?[0-9]+")) XSD.integer
      else if (tok.matches("[+-]?[0-9]*\\.[0-9]+")) XSD.decimal
      else if (tok.matches(
        "[+-]?(?:[0-9]+\\.?[0-9]*|\\.[0-9]+)[eE][+-]?[0-9]+")) XSD.double
      else throw new IllegalArgumentException(
        s"cannot parse TSV term: '$tok'")
    (Lit(tok, dt, null), end)
  }

  private def quoted(s: String, p0: Int): (QuotedTriple, Int) = {
    val (sub, p1) = term(s, p0 + 2)
    val (pred, p2) = term(s, p1)
    val (obj, p3) = term(s, p2)
    val p = ws(s, p3)
    require(s.startsWith(">>", p), s"unterminated quoted triple: $s")
    val predIri = pred match {
      case i: Iri => i
      case other => throw new IllegalArgumentException(
        s"quoted-triple predicate must be an IRI, got: $other")
    }
    (QuotedTriple(sub, predIri, obj), p + 2)
  }
}
