package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import graft.rdf._

/** Distributed N-Triples reader/writer.
  *
  * N-Triples is line-delimited → trivially parallel: `spark.read.text`
  * splits the file across partitions and each line parses independently
  * (the reference loads its 30,318-triple DBpedia fixture this way via
  * rdflib — notebooks/local/DBpedia_Schema_Queries.ipynb cell 4; gz is
  * handled transparently by Spark's codec). This is the 100 TB ingest path:
  * a pure narrow map, no shuffle, no driver involvement.
  */
object NTriples {

  /** Scan an IRIREF body from the '<' at `lt` to its '>': unescapes UCHAR
    * (`\uXXXX` / `\UXXXXXXXX` — the only escapes the IRIREF production
    * allows) and rejects the characters the grammar excludes from IRIs
    * (controls, space, and `<"{}|^` + backtick + backslash), plus relative
    * IRIs — N-Triples admits absolute IRIs only (RDF 1.1 N-Triples §2.1).
    * One pass, no regex: this sits on the per-line 100 TB ingest path.
    * Returns (iri, posAfterGt). */
  private def readIriRef(s: String, lt: Int): (String, Int) = {
    val sb = new StringBuilder
    var i = lt + 1
    var closed = false
    while (i < s.length && !closed) {
      s.charAt(i) match {
        case '>' => closed = true; i += 1
        case '\\' =>
          require(i + 1 < s.length, s"unterminated IRI escape: $s")
          s.charAt(i + 1) match {
            case 'u' =>
              sb.appendAll(Character.toChars(checkedIriCp(hex(s, i + 2, 4), s)))
              i += 6
            case 'U' =>
              sb.appendAll(Character.toChars(checkedIriCp(hex(s, i + 2, 8), s)))
              i += 10
            case c => sys.error(s"IRIs allow only \\u/\\U escapes, got \\$c")
          }
        case c if c <= ' ' || "<\"{}|^`".indexOf(c) >= 0 =>
          sys.error(s"character '$c' (0x${c.toInt.toHexString}) is not allowed raw in an IRI")
        case c => sb += c; i += 1
      }
    }
    require(closed, s"unterminated IRI starting at col $lt")
    val iri = sb.toString
    val colon = iri.indexOf(':')
    require(colon > 0 && iri.charAt(0).isLetter &&
      iri.substring(1, colon).forall(c => c.isLetterOrDigit ||
        c == '+' || c == '-' || c == '.'),
      s"N-Triples IRIs must be absolute: <$iri>")
    (iri, i)
  }

  /** The IRIREF exclusion set applies to the DECODED code point too: a
    * UCHAR escape cannot smuggle in a space, a '>', a backslash, … that
    * the grammar forbids raw (REC N-Triples §2.1 — IRIREF excludes
    * #x00-#x20 and `<>"{}|^\`` plus '\' in either form). And since
    * [[write]] writes IRIs raw, accepting ` ` here would emit an IRI
    * the reader itself rejects — a broken round trip. */
  private def checkedIriCp(cp: Int, line: String): Int = {
    require(cp > 0x20 && "<>\"{}|^`\\".indexOf(cp) < 0,
      s"escaped code point 0x${cp.toHexString} is excluded from IRIs: $line")
    cp
  }

  private def hex(s: String, from: Int, n: Int): Int = {
    require(from + n <= s.length, "truncated \\u escape")
    var v = 0
    var i = from
    while (i < from + n) {
      val d = Character.digit(s.charAt(i), 16)
      require(d >= 0, s"bad \\u escape digit '${s.charAt(i)}'")
      v = (v << 4) | d
      i += 1
    }
    v
  }

  /** LANGTAG / RDF 1.2 LANG_DIR shape: `[a-zA-Z]+('-'[a-zA-Z0-9]+)*`
    * with an optional `--ltr` / `--rtl` base-direction suffix. */
  private val LangTag =
    "[a-zA-Z]+(?:-[a-zA-Z0-9]+)*(?:--(?:ltr|rtl))?".r

  private def isBnodeChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_' || c == '-' || c == '.' ||
      c == '·'

  /** Parse one N-Triples term starting at `pos`; returns (term, nextPos).
    * Hand-rolled for per-line speed (no regex backtracking). */
  private[sources] def parseTerm(s: String, pos0: Int): (Row, Int) = {
    var pos = pos0
    while (pos < s.length && (s.charAt(pos) == ' ' || s.charAt(pos) == '\t')) pos += 1
    s.charAt(pos) match {
      case '<' if pos + 1 < s.length && s.charAt(pos + 1) == '<' =>
        // RDF 1.2 quoted triple `<< s p o >>` as a TERM (N-Triples-star).
        // The quoted grammar mirrors the statement grammar: subject is
        // IRI / bnode / nested quote (never a literal), predicate an IRI
        // (QuotedTriple's constructor enforces the latter).
        val (qs, p1) = parseTerm(s, pos + 2)
        require(qs.getByte(0) != Terms.KIND_LIT,
          s"a quoted triple cannot have a literal subject: $s")
        val (qp, p2) = parseTerm(s, p1)
        val (qo, p3) = parseTerm(s, p2)
        var end = p3
        while (end < s.length && Character.isWhitespace(s.charAt(end))) end += 1
        require(end + 1 < s.length && s.charAt(end) == '>' &&
          s.charAt(end + 1) == '>', s"unterminated quoted triple: $s")
        val packed = Terms.packString(QuotedTriple(
          Terms.rowTerm(qs), Terms.rowTerm(qp), Terms.rowTerm(qo)))
        (Row(Terms.KIND_TRIPLE, packed, null, null), end + 2)
      case '<' =>
        val (iri, end) = readIriRef(s, pos)
        (Row(Terms.KIND_IRI, iri, null, null), end)
      case '_' =>
        require(pos + 1 < s.length && s.charAt(pos + 1) == ':',
          s"'_' must start a blank-node label (_:...): $s")
        var end = pos + 2
        while (end < s.length && isBnodeChar(s.charAt(end))) end += 1
        // labels may contain INTERNAL dots but never end with one —
        // a trailing '.' is the statement terminator (`_:b.` = _:b + DOT)
        while (end > pos + 2 && s.charAt(end - 1) == '.') end -= 1
        require(end > pos + 2, s"empty blank-node label: $s")
        val label = s.substring(pos + 2, end)
        require(label.charAt(0).isLetterOrDigit || label.charAt(0) == '_',
          s"blank-node label must start with a letter, digit, or '_': _:$label")
        (Row(Terms.KIND_BLANK, label, null, null), end)
      case '"' =>
        var i = pos + 1
        val sb = new StringBuilder
        while (s.charAt(i) != '"') {
          if (s.charAt(i) == '\\') {
            s.charAt(i + 1) match {
              case 'n' => sb += '\n'; case 't' => sb += '\t'; case 'r' => sb += '\r'
              case 'b' => sb += '\b'; case 'f' => sb += '\f'; case '\'' => sb += '\''
              case '"' => sb += '"'; case '\\' => sb += '\\'
              case 'u' => sb += hex(s, i + 2, 4).toChar
                i += 4
              case 'U' =>
                sb.appendAll(Character.toChars(hex(s, i + 2, 8)))
                i += 8
              case c => sys.error(s"'\\$c' is not an N-Triples string escape")
            }
            i += 2
          } else { sb += s.charAt(i); i += 1 }
        }
        val lex = sb.toString
        val next = i + 1
        if (next < s.length && s.charAt(next) == '@') {
          var end = next + 1
          while (end < s.length && { val c = s.charAt(end)
            (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
              (c >= '0' && c <= '9') || c == '-' }) end += 1
          val tag = s.substring(next + 1, end)
          require(LangTag.matches(tag), s"ill-formed language tag @$tag")
          // N-Triples 1.2: `--ltr`/`--rtl` suffix → rdf:dirLangString
          val dt = if (tag.contains("--")) RDF.dirLangString else RDF.langString
          (Row(Terms.KIND_LIT, lex, dt, tag), end)
        } else if (next + 1 < s.length && s.charAt(next) == '^' && s.charAt(next + 1) == '^') {
          require(next + 2 < s.length && s.charAt(next + 2) == '<',
            s"'^^' must be followed by a datatype IRI: $s")
          val (dt, dtEnd) = readIriRef(s, next + 2)
          (Row(Terms.KIND_LIT, lex, dt, null), dtEnd)
        } else (Row(Terms.KIND_LIT, lex, XSD.string, null), next)
    }
  }

  def parseLine(line: String): Option[Row] = {
    val t = line.trim
    if (t.isEmpty || t.startsWith("#")) None
    else {
      val (s, p1) = parseTerm(t, 0)
      val (p, p2) = parseTerm(t, p1)
      val (o, p3) = parseTerm(t, p2)
      requireStatement(t, s, p, p3)
      Some(Row(s, p, o))
    }
  }

  /** Statement-level grammar checks, shared with [[NQuads]]: the subject
    * is an IRI, blank node, or (N-Triples 1.2) quoted triple — never a
    * literal; the predicate is an IRI; and the statement ends with '.'
    * followed by nothing but whitespace or a comment. The terminator
    * check is what rejects a fourth term (a quad in a .nt file), a
    * missing dot, and trailing garbage — without it, corrupt data
    * truncates silently. */
  private[sources] def requireStatement(t: String, s: Row, p: Row,
      after: Int): Unit = {
    require(s.getByte(0) != Terms.KIND_LIT, s"literal subject: $t")
    require(p.getByte(0) == Terms.KIND_IRI, s"predicate must be an IRI: $t")
    var i = after
    while (i < t.length && (t.charAt(i) == ' ' || t.charAt(i) == '\t')) i += 1
    require(i < t.length && t.charAt(i) == '.',
      if (i < t.length) s"expected the terminating '.' after the object, " +
        s"found '${t.charAt(i)}' (extra term?): $t"
      else s"statement must end with '.': $t")
    i += 1
    while (i < t.length && (t.charAt(i) == ' ' || t.charAt(i) == '\t')) i += 1
    require(i >= t.length || t.charAt(i) == '#',
      s"trailing content after '.': $t")
  }

  /** [[parseLine]] with the documented failure contract: a malformed
    * line raises ONE exception type naming the line (strict — the
    * default, so corrupt data cannot silently vanish), or is dropped
    * when `lenient` (crawl-scale ingest where a bad line must not kill
    * a 1000-executor job). The hand-rolled [[parseTerm]] fails fast
    * with whatever low-level error the corruption hits first; this
    * wrapper is the boundary that turns that into policy. */
  def parseLineChecked(line: String, lenient: Boolean): Option[Row] =
    try parseLine(line)
    catch {
      case e if scala.util.control.NonFatal(e) =>
        if (lenient) None
        else throw new graft.GraftException(
          s"malformed N-Triples line: $line", e)
    }

  /** Structured-Streaming N-Triples ingest: watches `path` (a directory
    * that new .nt / .nt.gz files land in — the shape of a continuously
    * arriving crawl export) and yields an UNBOUNDED streaming triples
    * DataFrame with the same strict/lenient line contract as [[read]]:
    * strict fails the stream naming the malformed line, lenient drops it.
    * Same 100 TB posture as the batch reader — a line-parallel narrow
    * map, no shuffle, no driver involvement per micro-batch.
    *
    * Unlike [[read]] this does NOT dedup (set semantics over an unbounded
    * stream would grow state forever): bound it downstream with
    * `withWatermark(...).dropDuplicatesWithinWatermark(...)` keyed on
    * (s, p, o), or merge into a graph store per micro-batch with
    * `foreachBatch`. */
  def readStream(spark: SparkSession, path: String,
      lenient: Boolean = false,
      sourceOptions: Map[String, String] = Map.empty)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rowEnc = org.apache.spark.sql.Encoders.row(Terms.tripleType)
    // sourceOptions forwards Spark file-source knobs the long-running
    // ingest loop needs: maxFilesPerTrigger bounds one micro-batch's
    // size (and with it the merge's memory), cleanSource=delete/archive
    // keeps the landing directory — which the source re-LISTS every
    // trigger — from growing without bound over months of ticks
    spark.readStream.options(sourceOptions).text(path).as[String]
      .flatMap(parseLineChecked(_, lenient))(rowEnc)
  }

  /** Read .nt / .nt.gz into a triples DataFrame. Strict by default —
    * a malformed line fails the read with the offending line in the
    * message; `lenient = true` skips malformed lines instead. */
  def read(spark: SparkSession, path: String,
      lenient: Boolean = false): RdfGraph = {
    val lines = spark.read.textFile(path)
    val rows = lines.rdd.flatMap(parseLineChecked(_, lenient))
    val df = spark.createDataFrame(rows, Terms.tripleType)
      .dropDuplicates("s", "p", "o")
    RdfGraph(df, RdfGraph.defaultPrefixes)
  }

  /** Distributed N-Triples sink (one line per triple): [[NQuads.write]]
    * of the default graph, whose lines are N-Triples lines. N-Triples
    * has no quad syntax, so a quad store writes its DEFAULT graph only
    * — the same boundary as the Turtle serializer. */
  def write(g: RdfGraph, path: String): Unit =
    NQuads.write(RdfGraph(g.defaultGraph, g.prefixes), path)
}
