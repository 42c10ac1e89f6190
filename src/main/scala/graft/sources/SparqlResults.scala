package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.{functions => F}
import graft.rdf.Terms
import graft.rdf.XSD

/** SPARQL query-result serializers in the four W3C interchange formats:
  *
  *  - CSV / TSV — "SPARQL 1.1 Query Results CSV and TSV Formats" REC
  *  - JSON      — "SPARQL 1.1 Query Results JSON Format" REC
  *  - XML       — "SPARQL Query Results XML Format (Second Edition)" REC
  *
  * The write-side twin of the protocol SOURCE (`sources/sparql/
  * SparqlSource.scala` decodes `application/sparql-results+json`): with
  * both, this library can sit on either end of the SPARQL protocol —
  * read a remote endpoint's results, or serve its own. The reference
  * delegates this surface to rdflib's result serializers
  * (`gastrodon/__init__.py:513-523` returns raw rdflib results).
  *
  * Input is a TERM-STRUCT frame — `Engine.selectRaw`'s output, one
  * [[Terms.termType]] column per projected variable, null = unbound —
  * NOT the display-projected `select` frame (whose native types have
  * already dropped datatype/lang distinctions these formats encode).
  *
  * Scale posture: CSV and TSV lines are pure Column expressions
  * (whole-stage codegen, no UDFs); JSON and XML documents stream
  * per-partition like the distributed Turtle writer. Every `write*`
  * part file is a STANDALONE-VALID document of that format holding its
  * partition's solutions (CSV/TSV parts repeat the header row) — the
  * result set is the union of the parts' solutions, so a consumer
  * reads the directory file-by-file; nothing materializes on the
  * driver. The `csv`/`tsv`/`json`/`xml` string forms are the
  * small-result display/endpoint-reply path and DO collect.
  */
object SparqlResults {

  // ------------------------------------------------------- term encoders

  /** TSV per the REC: terms in Turtle syntax — IRIs bracketed, literals
    * quoted with `@lang` / `^^<dt>` (xsd:string stays bare), blank nodes
    * `_:label`, quoted triples `<< ... >>`. Backslash, quote, tab,
    * newline, CR escape as Turtle ECHARs (tab MUST escape — it is the
    * field separator). Unbound → empty field. */
  private def tsvTerm(t: Column): Column =
    F.when(t.isNull, F.lit("")).otherwise(Terms.ntText(t))

  /** CSV per the REC: the term's LEXICAL form only — IRIs bare, no
    * quotes/datatype/lang on literals, blank nodes `_:label` (quoted
    * triples render as Turtle-star text, the only faithful single
    * string). RFC 4180 field quoting: a field containing quote, comma,
    * CR or LF is wrapped in quotes with inner quotes doubled. */
  private def csvTerm(t: Column): Column = {
    val raw = F.when(t.isNull, F.lit(""))
      .when(Terms.isBlank(t), F.concat(F.lit("_:"), Terms.value(t)))
      .when(Terms.isQuoted(t), Terms.quotedText(t))
      .otherwise(Terms.value(t)) // IRI and literal: bare lexical form
    F.when(raw.rlike("[\",\n\r]"),
      F.concat(F.lit("\""), F.regexp_replace(raw, "\"", "\"\""), F.lit("\"")))
      .otherwise(raw)
  }

  private def vars(df: DataFrame): Seq[String] = df.columns.toSeq

  /** The CSV data line for one solution of `df` (no line end) — the
    * codegen'd Column behind [[csv]]/[[writeCsv]], public so results can
    * be piped line-wise into any other sink without collecting. */
  def csvLineOf(df: DataFrame): Column =
    F.concat_ws(",", vars(df).map(c => csvTerm(F.col(c))): _*)

  /** The TSV data line for one solution of `df` — see [[csvLineOf]]. */
  def tsvLineOf(df: DataFrame): Column =
    F.concat_ws("\t", vars(df).map(c => tsvTerm(F.col(c))): _*)

  /** One CSV data line per row (RFC 4180: fields comma-joined; the REC
    * mandates CRLF ends — the text sink supplies LF, so lines carry a
    * trailing CR). */
  private def csvLine(df: DataFrame): Column =
    F.concat(csvLineOf(df), F.lit("\r"))

  private def tsvLine(df: DataFrame): Column = tsvLineOf(df)

  private def csvHeader(df: DataFrame): String =
    vars(df).mkString(",") + "\r"
  private def tsvHeader(df: DataFrame): String =
    vars(df).map("?" + _).mkString("\t")

  // --------------------------------------------- JSON / XML row encoders
  // Row-based (used inside mapPartitions and the driver-side string
  // forms): JSON requires \uXXXX escapes for ALL control characters and
  // XML needs entity escapes — neither is expressible as a bounded
  // regexp_replace chain, and a scalar term is a few bytes of work, so
  // the per-partition closure costs what the codegen'd path would.

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def xstr(s: String): String = s.flatMap {
    case '&' => "&amp;"; case '<' => "&lt;"; case '>' => "&gt;"
    case '"' => "&quot;"
    // XML §2.11 line-end normalization folds a raw \r (or \r\n) to \n
    // on ANY conforming reparse — only a char ref survives (the same
    // fix RdfXml.esc needed; found again here by ResultsRoundTripSpec)
    case '\r' => "&#xD;"
    case c if c < ' ' && c != '\t' && c != '\n' =>
      // XML 1.0 cannot carry these at all (not even as &#x..;) — failing
      // beats silently emitting a document every parser rejects; the
      // JSON and TSV forms \u-escape the same data losslessly
      throw new IllegalArgumentException(
        f"control character U+${c.toInt}%04X is not representable in " +
          "results-XML — use the JSON or TSV form for this result set")
    case c => c.toString
  }

  /** RDF term → the JSON binding-value object. A quoted triple uses the
    * SPARQL 1.2 results extension `{"type": "triple", "value":
    * {subject, predicate, object}}`. */
  private def jsonTerm(t: graft.rdf.RdfTerm): String = t match {
    case graft.rdf.Iri(v) => s"""{"type":"uri","value":${jstr(v)}}"""
    case graft.rdf.Blank(l) => s"""{"type":"bnode","value":${jstr(l)}}"""
    case graft.rdf.QuotedTriple(s, p, o) =>
      s"""{"type":"triple","value":{"subject":${jsonTerm(s)},"predicate":${jsonTerm(p)},"object":${jsonTerm(o)}}}"""
    case l: graft.rdf.Lit =>
      val base = s"""{"type":"literal","value":${jstr(l.lex)}"""
      if (l.lang != null) base + s""","xml:lang":${jstr(l.lang)}}"""
      else if (l.dt != null && l.dt != XSD.string)
        base + s""","datatype":${jstr(l.dt)}}"""
      else base + "}"
  }

  /** One `{"var": {...}, ...}` binding object; unbound vars absent. */
  private def jsonBinding(names: Seq[String], row: Row): String =
    names.indices.flatMap { i =>
      if (row.isNullAt(i)) None
      else Some(s"${jstr(names(i))}:${jsonTerm(Terms.rowTerm(row.getStruct(i)))}")
    }.mkString("{", ",", "}")

  private def xmlLitAttrs(dt: String, lang: String): String =
    if (lang != null) s""" xml:lang="${xstr(lang)}""""
    else if (dt != null && dt != XSD.string) s""" datatype="${xstr(dt)}""""
    else ""

  /** RDF term → the results-XML term element. A quoted triple is
    * `<triple><subject>…</subject><predicate>…</predicate>
    * <object>…</object></triple>`, the SPARQL 1.2 extension the XML
    * decoder already reads; the old Turtle-star-text degrade came back
    * as a plain literal (found by ResultsRoundTripSpec). */
  private def xmlTerm(t: graft.rdf.RdfTerm): String = t match {
    case graft.rdf.Iri(v) => s"<uri>${xstr(v)}</uri>"
    case graft.rdf.Blank(l) => s"<bnode>${xstr(l)}</bnode>"
    case graft.rdf.Lit(lex, dt, lang) =>
      s"<literal${xmlLitAttrs(dt, lang)}>${xstr(lex)}</literal>"
    case graft.rdf.QuotedTriple(s, p, o) =>
      s"<triple><subject>${xmlTerm(s)}</subject>" +
        s"<predicate>${xmlTerm(p)}</predicate>" +
        s"<object>${xmlTerm(o)}</object></triple>"
  }

  private def xmlResult(names: Seq[String], row: Row): String =
    names.indices.flatMap { i =>
      if (row.isNullAt(i)) None
      else Some(
        s"""<binding name="${xstr(names(i))}">${xmlTerm(Terms.rowTerm(row.getStruct(i)))}</binding>""")
    }.mkString("<result>", "", "</result>")

  private def jsonHead(names: Seq[String]): String =
    s"""{"head":{"vars":[${names.map(jstr).mkString(",")}]},"results":{"bindings":["""
  private val jsonTail = "]}}"

  private def xmlHead(names: Seq[String]): String =
    """<?xml version="1.0"?><sparql xmlns="http://www.w3.org/2005/sparql-results#"><head>""" +
      names.map(n => s"""<variable name="${xstr(n)}"/>""").mkString +
      "</head><results>"
  private val xmlTail = "</results></sparql>"

  // -------------------------------------------------- driver-side strings

  /** Full CSV document (small results — collects). */
  def csv(df: DataFrame): String =
    (csvHeader(df) +: df.select(csvLine(df)).collect().map(_.getString(0)))
      .mkString("", "\n", "\n")

  /** Full TSV document (small results — collects). */
  def tsv(df: DataFrame): String =
    (tsvHeader(df) +: df.select(tsvLine(df)).collect().map(_.getString(0)))
      .mkString("", "\n", "\n")

  /** Full `application/sparql-results+json` document (small results —
    * collects). */
  def json(df: DataFrame): String = {
    val names = vars(df)
    df.collect().map(jsonBinding(names, _))
      .mkString(jsonHead(names), ",", jsonTail)
  }

  /** Full `application/sparql-results+xml` document (small results —
    * collects). */
  def xml(df: DataFrame): String = {
    val names = vars(df)
    df.collect().map(xmlResult(names, _))
      .mkString(xmlHead(names), "", xmlTail)
  }

  /** ASK result as results-JSON / results-XML. */
  def askJson(b: Boolean): String = s"""{"head":{},"boolean":$b}"""
  def askXml(b: Boolean): String =
    """<?xml version="1.0"?><sparql xmlns="http://www.w3.org/2005/sparql-results#"><head/><boolean>""" +
      b + "</boolean></sparql>"

  // -------------------------------------------------- distributed writers

  private implicit val strEnc: Encoder[String] = Encoders.STRING

  /** Distributed CSV sink: each part file is a standalone CSV results
    * document (header + its partition's solutions). */
  def writeCsv(df: DataFrame, path: String): Unit = {
    val header = csvHeader(df)
    df.select(csvLine(df)).as[String]
      .mapPartitions(it => Iterator(header) ++ it)
      .write.mode("overwrite").text(path)
  }

  /** Distributed TSV sink: same per-part contract as [[writeCsv]]. */
  def writeTsv(df: DataFrame, path: String): Unit = {
    val header = tsvHeader(df)
    df.select(tsvLine(df)).as[String]
      .mapPartitions(it => Iterator(header) ++ it)
      .write.mode("overwrite").text(path)
  }

  /** Distributed results-JSON sink: each part file is a standalone
    * results-JSON document; the result set is the union of the parts'
    * `bindings` arrays. */
  def writeJson(df: DataFrame, path: String): Unit = {
    val names = vars(df)
    val head = jsonHead(names)
    df.mapPartitions { it =>
      val bindings = it.map(jsonBinding(names, _)).zipWithIndex
        .map { case (b, i) => if (i == 0) b else "," + b }
      Iterator(head) ++ bindings ++ Iterator(jsonTail)
    }.write.mode("overwrite").text(path)
  }

  /** Distributed results-XML sink: same per-part contract as
    * [[writeJson]]. */
  def writeXml(df: DataFrame, path: String): Unit = {
    val names = vars(df)
    val head = xmlHead(names)
    df.mapPartitions { it =>
      Iterator(head) ++ it.map(xmlResult(names, _)) ++ Iterator(xmlTail)
    }.write.mode("overwrite").text(path)
  }

  // -------------------------------------------------- distributed reader

  /** Read a directory of standalone result documents (the [[writeJson]]
    * / [[writeXml]] / [[writeTsv]] / [[writeCsv]] per-part contract, or
    * any files in those formats) back into a term-struct DataFrame with
    * one column per var. Each file decodes independently on an executor
    * through the same streaming decoders the protocol source uses
    * ([[graft.sources.sparql.ResultDecoders]]), format sniffed from the
    * leading bytes (`{` JSON, `<` XML, `?` TSV header, else CSV); the
    * result set is the union of the files' solutions. */
  def read(spark: org.apache.spark.sql.SparkSession, path: String,
      vars: Seq[String]): DataFrame = {
    val names = vars.toArray
    val schema = org.apache.spark.sql.types.StructType(
      names.map(v => org.apache.spark.sql.types.StructField(
        v, Terms.termType, nullable = true)))
    val rows = spark.sparkContext
      .wholeTextFiles(path + "/part-*")
      .flatMap { case (_, content) =>
        val in = new java.io.ByteArrayInputStream(
          content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val dec = graft.sources.sparql.ResultDecoders(
          sniffType(content), in, names)
        new Iterator[Row] {
          private var advanced = false
          private var has = false
          def hasNext: Boolean = {
            if (!advanced) { has = dec.next(); advanced = true }
            if (!has) dec.close()
            has
          }
          def next(): Row = {
            if (!hasNext) throw new NoSuchElementException
            advanced = false
            val ir = dec.get()
            Row.fromSeq(names.indices.map { i =>
              if (ir.isNullAt(i)) null
              else {
                val t = ir.getStruct(i, 4)
                def s(j: Int) =
                  if (t.isNullAt(j)) null else t.getUTF8String(j).toString
                Row(t.getByte(0), s(1), s(2), s(3))
              }
            })
          }
        }
      }
    spark.createDataFrame(rows, schema)
  }

  /** Media type for [[read]]'s per-file dispatch, from leading content. */
  private def sniffType(content: String): String = {
    val c = content.dropWhile(_.isWhitespace).headOption.getOrElse(' ')
    c match {
      case '{' => "application/sparql-results+json"
      case '<' => "application/sparql-results+xml"
      case '?' => "text/tab-separated-values"
      case _ => "text/csv"
    }
  }
}
