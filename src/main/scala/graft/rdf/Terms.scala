package graft.rdf

import org.apache.spark.sql.{Column, Row, functions => F}
import org.apache.spark.sql.types._

/** RDF term model for the graft engine.
  *
  * The scalar type system mirrors the reference's rdflib terms
  * (gastrodon/__init__.py:21,28 — URIRef/BNode/Literal with optional
  * datatype and language tag) re-expressed as a Spark struct column so the
  * whole engine stays columnar / codegen-friendly:
  *
  * {{{
  *   struct(kind: byte, value: string, dt: string, lang: string)
  * }}}
  *
  *  - kind:  0 = IRI, 1 = blank node, 2 = literal
  *  - value: full IRI / blank label / lexical form
  *  - dt:    datatype IRI, ALWAYS set for literals (plain literals are
  *           xsd:string per RDF 1.1, lang-tagged are rdf:langString) so term
  *           equality is plain struct equality; null for IRI/blank.
  *  - lang:  language tag or null.
  */
sealed trait RdfTerm extends Serializable {
  def n3(): String
}
final case class Iri(value: String) extends RdfTerm {
  def n3(): String = s"<$value>"
}
final case class Blank(label: String) extends RdfTerm {
  def n3(): String = s"_:$label"
}
final case class Lit(lex: String, dt: String, lang: String) extends RdfTerm {
  def n3(): String = {
    val esc = Lit.escape(lex)
    if (lang != null) s""""$esc"@$lang"""
    else if (dt == XSD.string) s""""$esc""""
    else s""""$esc"^^<$dt>"""
  }
}
/** RDF-star quoted triple (SPARQL 1.2 / RDF 1.2 WG drafts): a triple
  * used as a TERM — `<< :s :p :o >> :certainty 0.9`. Columnar
  * representation: kind 3 with `value` holding the packed component
  * encoding ([[Terms.packString]]) so the existing 4-field term struct
  * carries it unchanged; `TRIPLE`/`SUBJECT`/`PREDICATE`/`OBJECT`
  * (de)compose it columnar-ly. The predicate must be an IRI; subject
  * and object nest freely (including further quoted triples). */
final case class QuotedTriple(s: RdfTerm, p: RdfTerm, o: RdfTerm)
    extends RdfTerm {
  require(p.isInstanceOf[Iri], s"quoted-triple predicate must be an IRI: $p")
  def n3(): String = s"<< ${s.n3()} ${p.n3()} ${o.n3()} >>"
}
object Lit {
  def plain(lex: String): Lit = Lit(lex, XSD.string, null)
  def tagged(lex: String, lang: String): Lit = Lit(lex,
    if (lang.contains("--")) RDF.dirLangString else RDF.langString, lang)
  def typed(lex: String, dt: String): Lit = Lit(lex, dt, null)
  def escape(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case '"'  => "\\\""
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c    => c.toString
  }
}

/** Explicit URI wrapper for query bindings — the analogue of the
  * reference's `GastrodonURI` (gastrodon/__init__.py:54-75), which wraps a
  * shortened display string around the full URI so pasting a displayed
  * value back into a query substitutes the URI, not a string literal.
  * Binding a `GraftUri` always substitutes an IRI, bypassing the
  * QName-shape heuristic in `Engine.resolveTerm`; binding `Lit.plain(s)`
  * is the symmetric escape hatch that forces a literal for strings that
  * happen to look like QNames. */
final case class GraftUri(uri: String) {
  override def toString: String = uri
}

object XSD {
  val ns = "http://www.w3.org/2001/XMLSchema#"
  val string = ns + "string"
  val integer = ns + "integer"
  val int = ns + "int"
  val long = ns + "long"
  val short = ns + "short"
  val byte_ = ns + "byte"
  val nonNegativeInteger = ns + "nonNegativeInteger"
  val decimal = ns + "decimal"
  val double = ns + "double"
  val float = ns + "float"
  val boolean = ns + "boolean"
  val dateTime = ns + "dateTime"
  val date = ns + "date"
  /** Datatypes whose values compare numerically (SPARQL operator mapping). */
  val numeric: Set[String] =
    Set(integer, int, long, short, byte_, nonNegativeInteger, decimal,
      double, float)
  val integral: Set[String] =
    Set(integer, int, long, short, byte_, nonNegativeInteger)
}

object RDF {
  val ns = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  val langString = ns + "langString"
  /** RDF 1.2 directional language-tagged string. Columnar encoding:
    * the `lang` field carries `tag--dir` (`"en--ltr"`), exactly the
    * Turtle/N-Triples 1.2 LANGTAG surface syntax — `--` cannot occur
    * inside a BCP47 tag, so the split is unambiguous, `Lit.n3()`
    * serializes it for free, and term equality (same lang AND same
    * direction) stays plain struct equality. */
  val dirLangString = ns + "dirLangString"
  val typ = ns + "type"
  val Seq_ = ns + "Seq"
  val Bag = ns + "Bag"
  val Alt = ns + "Alt"
  val first = ns + "first"
  val rest = ns + "rest"
  val nil = ns + "nil"
  /** Container membership predicate prefix rdf:_1, rdf:_2, … (the reference
    * extracts the index with SUBSTR(STR(?p), 45) — gastrodon/__init__.py:427;
    * 44 = ns.length, SPARQL SUBSTR is 1-based). */
  val memberPrefix = ns + "_"
  /** member(i): 0-based index → rdf:_{i+1} (gastrodon/__init__.py:885-893) */
  def member(i: Int): Iri = Iri(memberPrefix + (i + 1))
}

object RDFS {
  val ns = "http://www.w3.org/2000/01/rdf-schema#"
  val label = ns + "label"
  val member = ns + "member"
  val subClassOf = ns + "subClassOf"
  val subPropertyOf = ns + "subPropertyOf"
  val domain = ns + "domain"
  val range = ns + "range"
  val ContainerMembershipProperty = ns + "ContainerMembershipProperty"
}

object OWL {
  val ns = "http://www.w3.org/2002/07/owl#"
  val sameAs = ns + "sameAs"
}

object Terms {
  final val KIND_IRI: Byte = 0
  final val KIND_BLANK: Byte = 1
  final val KIND_LIT: Byte = 2
  final val KIND_TRIPLE: Byte = 3 // RDF-star quoted triple (packed value)

  /** Columnar representation of one RDF term. */
  val termType: StructType = StructType(Seq(
    StructField("kind", ByteType, nullable = false),
    StructField("value", StringType, nullable = false),
    StructField("dt", StringType, nullable = true),
    StructField("lang", StringType, nullable = true)))

  /** Triple table schema T(s, p, o). */
  val tripleType: StructType = StructType(Seq(
    StructField("s", termType, nullable = false),
    StructField("p", termType, nullable = false),
    StructField("o", termType, nullable = false)))

  // ---- column constructors -------------------------------------------------

  private def mk(kind: Column, value: Column, dt: Column, lang: Column): Column =
    F.struct(kind.cast(ByteType).as("kind"), value.as("value"),
      dt.cast(StringType).as("dt"), lang.cast(StringType).as("lang"))

  val nullStr: Column = F.lit(null).cast(StringType)

  /** IRI term from a string column (or literal). */
  def iri(value: Column): Column = mk(F.lit(KIND_IRI), value, nullStr, nullStr)
  def iri(value: String): Column = iri(F.lit(value))

  def blank(label: Column): Column = mk(F.lit(KIND_BLANK), label, nullStr, nullStr)

  /** Typed literal from a lexical column. */
  def lit(lex: Column, dt: String): Column =
    mk(F.lit(KIND_LIT), lex.cast(StringType), F.lit(dt), nullStr)
  def plainLit(lex: Column): Column = lit(lex, XSD.string)
  def langLit(lex: Column, lang: Column): Column =
    mk(F.lit(KIND_LIT), lex.cast(StringType), F.lit(RDF.langString), lang)

  /** Literal term from a native-typed column, choosing the xsd datatype
    * from the Spark type (mirrors _castPythonToLiteral,
    * gastrodon/__init__.py:807-809). */
  def fromNative(c: Column, t: DataType): Column = t match {
    case ByteType | ShortType | IntegerType | LongType => lit(c, XSD.integer)
    case FloatType | DoubleType  => lit(c, XSD.double)
    case _: DecimalType          => lit(c, XSD.decimal)
    case BooleanType             => lit(c, XSD.boolean)
    case TimestampType           => lit(F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss.SSS"), XSD.dateTime)
    case DateType                => lit(c, XSD.date)
    case _                       => plainLit(c)
  }

  /** Scala term value → Column (for constants in compiled plans). */
  def termCol(t: RdfTerm): Column = t match {
    case Iri(v)        => iri(v)
    case Blank(l)      => blank(F.lit(l))
    case Lit(lex, dt, null) => lit(F.lit(lex), dt)
    case Lit(lex, _, lang)  => langLit(F.lit(lex), F.lit(lang))
    case q: QuotedTriple =>
      mk(F.lit(KIND_TRIPLE), F.lit(packString(q)), nullStr, nullStr)
  }

  /** Scala term value → its term-struct Row (local fixtures, driver-side
    * constants). */
  def termRow(t: RdfTerm): Row = t match {
    case Iri(v)             => Row(KIND_IRI, v, null, null)
    case Blank(l)           => Row(KIND_BLANK, l, null, null)
    case Lit(lex, dt, lang) => Row(KIND_LIT, lex, dt, lang)
    case q: QuotedTriple    => Row(KIND_TRIPLE, packString(q), null, null)
  }

  /** Term-struct Row → Scala term value: the inverse of [[termRow]]. */
  def rowTerm(r: Row): RdfTerm = r.getByte(0) match {
    case KIND_IRI    => Iri(r.getString(1))
    case KIND_BLANK  => Blank(r.getString(1))
    case KIND_TRIPLE => unpackString(r.getString(1))
    case _           => Lit(r.getString(1), r.getString(2), r.getString(3))
  }

  // ---- RDF-star quoted-triple encoding --------------------------------------
  //
  // A quoted triple packs its nine component fields (s.kind, s.value,
  // s.dt, s.lang, p.value, o.kind, o.value, o.dt, o.lang) into ONE
  // string, percent-escaped ('%'→"%25", U+001F→"%1F") and joined with
  // U+001F, so the existing (kind, value, dt, lang) struct carries it
  // with no schema change and struct equality/grouping/shuffling keep
  // working (the encoding is canonical). Nested quoted triples recurse:
  // an inner triple's packed string is just another escaped field.
  // nulls (dt/lang of non-literals) encode as "" — never a valid dt or
  // BCP47 tag, so the mapping is unambiguous.

  private final val QT_SEP = "\u001F"

  private def qtEsc(s: String): String =
    s.replace("%", "%25").replace(QT_SEP, "%1F")
  private def qtUnesc(s: String): String =
    s.replace("%1F", QT_SEP).replace("%25", "%")

  private def fieldsOf(t: RdfTerm): (Byte, String, String, String) = t match {
    case Iri(v) => (KIND_IRI, v, null, null)
    case Blank(l) => (KIND_BLANK, l, null, null)
    case Lit(lex, dt, lang) => (KIND_LIT, lex, dt, lang)
    case q: QuotedTriple => (KIND_TRIPLE, packString(q), null, null)
  }

  /** Canonical packed encoding of a quoted triple (driver side). */
  def packString(q: QuotedTriple): String = {
    val (sk, sv, sd, sl) = fieldsOf(q.s)
    val (ok, ov, od, ol) = fieldsOf(q.o)
    val pv = q.p.asInstanceOf[Iri].value
    Seq(sk.toString, sv, sd, sl, pv, ok.toString, ov, od, ol)
      .map(f => qtEsc(if (f == null) "" else f)).mkString(QT_SEP)
  }

  /** Packed string → quoted triple (driver side: display, serializers). */
  def unpackString(v: String): QuotedTriple = {
    val f = v.split(QT_SEP, -1).map(qtUnesc)
    require(f.length == 9, s"malformed quoted-triple encoding: $v")
    def mkTerm(k: String, value: String, dt: String, lang: String): RdfTerm =
      k.toByte match {
        case KIND_IRI => Iri(value)
        case KIND_BLANK => Blank(value)
        case KIND_TRIPLE => unpackString(value)
        case _ => Lit(value, if (dt.isEmpty) XSD.string else dt,
          if (lang.isEmpty) null else lang)
      }
    QuotedTriple(mkTerm(f(0), f(1), f(2), f(3)), Iri(f(4)),
      mkTerm(f(5), f(6), f(7), f(8)))
  }

  def isQuoted(c: Column): Column = kind(c) === KIND_TRIPLE

  private def qtEscC(c: Column): Column =
    F.replace(F.replace(c, F.lit("%"), F.lit("%25")),
      F.lit(QT_SEP), F.lit("%1F"))
  private def qtUnescC(c: Column): Column =
    F.replace(F.replace(c, F.lit("%1F"), F.lit(QT_SEP)),
      F.lit("%25"), F.lit("%"))

  /** TRIPLE(s, p, o): three term structs → one quoted-triple term.
    * Errors (null) when any component is unbound or p is not an IRI. */
  def packQuoted(s: Column, p: Column, o: Column): Column = {
    def f(c: Column): Column = qtEscC(F.coalesce(c.cast(StringType), F.lit("")))
    val packed = F.concat_ws(QT_SEP,
      f(kind(s)), f(value(s)), f(dt(s)), f(lang(s)),
      f(value(p)),
      f(kind(o)), f(value(o)), f(dt(o)), f(lang(o)))
    F.when(s.isNull || p.isNull || o.isNull || !isIri(p),
      F.lit(null).cast(termType))
      .otherwise(mk(F.lit(KIND_TRIPLE), packed, nullStr, nullStr))
  }

  private def qtField(t: Column, i: Int): Column =
    qtUnescC(F.element_at(F.split(value(t), QT_SEP, -1), i))
  private def qtTermAt(t: Column, base: Int): Column = {
    val k = qtField(t, base).cast(ByteType)
    val v = qtField(t, base + 1)
    val d = qtField(t, base + 2)
    val l = qtField(t, base + 3)
    mk(k, v,
      F.when(d === "", nullStr).otherwise(d),
      F.when(l === "", nullStr).otherwise(l))
  }

  /** SUBJECT / PREDICATE / OBJECT over a quoted-triple term (null for
    * anything that is not one). */
  def quotedSubject(t: Column): Column =
    F.when(isQuoted(t), qtTermAt(t, 1)).otherwise(F.lit(null).cast(termType))
  def quotedPredicate(t: Column): Column =
    F.when(isQuoted(t), iri(qtField(t, 5))).otherwise(F.lit(null).cast(termType))
  def quotedObject(t: Column): Column =
    F.when(isQuoted(t), qtTermAt(t, 6)).otherwise(F.lit(null).cast(termType))

  /** Display form of a quoted-triple term: `<< s p o >>` with one level
    * of nesting rendered columnar-ly; deeper nests fall back to the
    * component's lexical (driver-side display uses the exact recursive
    * [[unpackString]] path instead). */
  def quotedN3(c: Column): Column = {
    def termN3(t: Column): Column =
      F.when(t.isNull, F.lit("UNDEF"))
        .when(isIri(t), F.concat(F.lit("<"), value(t), F.lit(">")))
        .when(isBlank(t), F.concat(F.lit("_:"), value(t)))
        .when(isQuoted(t), F.concat(F.lit("<< "), value(t), F.lit(" >>")))
        .when(lang(t).isNotNull,
          F.concat(F.lit("\""), value(t), F.lit("\"@"), lang(t)))
        .when(dt(t) === XSD.string,
          F.concat(F.lit("\""), value(t), F.lit("\"")))
        .otherwise(F.concat(F.lit("\""), value(t), F.lit("\"^^<"), dt(t),
          F.lit(">")))
    F.concat(F.lit("<< "), termN3(quotedSubject(c)), F.lit(" "),
      termN3(quotedPredicate(c)), F.lit(" "), termN3(quotedObject(c)),
      F.lit(" >>"))
  }

  /** Exact recursive Turtle-star text of a quoted-triple term — ECHAR
    * escapes on component literals, unlimited nesting; the
    * display-oriented [[quotedN3]] guarantees neither. */
  def quotedText(t: Column): Column =
    graft.expressions.ColumnBridge.column(graft.expressions.QuotedN3Text(
      graft.expressions.ColumnBridge.expression(value(t))))

  /** The ECHAR escapes of a literal's lexical form ([[Lit.escape]]),
    * backslash first. */
  private val echars = Seq("\\" -> "\\\\", "\"" -> "\\\"",
    "\n" -> "\\n", "\r" -> "\\r", "\t" -> "\\t")

  /** N-Triples text of a term column, byte-equal to `RdfTerm.n3()`:
    * `<iri>`, `_:label`, a literal quoted with ECHAR escapes plus
    * `@lang` or `^^<dt>` (xsd:string stays bare), and a quoted triple's
    * [[quotedText]]. NULL for an unbound term. The N-Quads writer, the
    * canonical N-Quads lines and the TSV results format render with it. */
  def ntText(t: Column): Column = {
    val lex = echars.foldLeft(value(t)) { case (c, (raw, esc)) =>
      F.replace(c, F.lit(raw), F.lit(esc))
    }
    F.when(isIri(t), F.concat(F.lit("<"), value(t), F.lit(">")))
      .when(isBlank(t), F.concat(F.lit("_:"), value(t)))
      .when(isQuoted(t), quotedText(t))
      .when(isLiteral(t), F.concat(F.lit("\""), lex, F.lit("\""),
        F.when(lang(t).isNotNull, F.concat(F.lit("@"), lang(t)))
          .when(dt(t).isNotNull && dt(t) =!= XSD.string,
            F.concat(F.lit("^^<"), dt(t), F.lit(">")))
          .otherwise(F.lit(""))))
  }

  // ---- field accessors -----------------------------------------------------

  def kind(c: Column): Column = c.getField("kind")
  def value(c: Column): Column = c.getField("value")
  def dt(c: Column): Column = c.getField("dt")
  def lang(c: Column): Column = c.getField("lang")

  def isIri(c: Column): Column = kind(c) === KIND_IRI
  def isBlank(c: Column): Column = kind(c) === KIND_BLANK
  def isLiteral(c: Column): Column = kind(c) === KIND_LIT

  /** Partition-encoding of a graph-name term column (the GraphStore
    * quad layout's `__g` partition value, shared with the compiler's
    * scan pruning): default graph → "d", IRI graph → "i:"+iri, blank
    * graph name → "b:"+label. A plain string so it can be a parquet
    * partition column and a pushable partition filter. */
  val GPART_COL = "__g"
  val GPART_DEFAULT = "d"
  def gPartition(g: Column): Column =
    F.when(g.isNull, GPART_DEFAULT).otherwise(F.concat(
      F.when(kind(g) === KIND_BLANK, "b:").otherwise("i:"), value(g)))

  /** True when the term is a literal with a numeric xsd datatype. */
  def isNumeric(c: Column): Column =
    isLiteral(c) && dt(c).isin(XSD.numeric.toSeq.map(F.lit): _*)

  /** Numeric value of a term (null when not numeric). */
  def numValue(c: Column): Column =
    F.when(isNumeric(c), value(c).cast(DoubleType))

  // ---- SPARQL operator semantics -------------------------------------------

  /** SPARQL `=`: numeric literals compare by value, everything else by
    * RDF-term identity (struct equality — dt canonicalization makes plain
    * literal == xsd:string literal hold by construction). */
  def termEq(a: Column, b: Column): Column =
    F.when(isNumeric(a) && isNumeric(b), numValue(a) === numValue(b))
      .otherwise(a === b)

  def termNe(a: Column, b: Column): Column = !termEq(a, b)

  /** SPARQL `<`/`<=` per the §17.3 operator mapping: defined ONLY for
    * numeric pairs (by value), string pairs (simple/xsd:string,
    * fn:compare codepoint order), boolean pairs (false < true), and
    * dateTime/date pairs (timeline order — lexical compare would get
    * mixed-offset dateTimes wrong). Every other combination — IRIs,
    * blanks, lang-tagged strings, mixed datatypes — is a TYPE ERROR
    * (null), so FILTER drops the row; the §15.1 total order is for
    * ORDER BY only ([[orderKeys]]), never for `<`. */
  private def ltKind(c: Column): Column =
    F.when(isNumeric(c), 1)
      .when(isLiteral(c) && dt(c) === XSD.string, 2)
      .when(isLiteral(c) && dt(c) === XSD.boolean, 3)
      .when(isLiteral(c) && dt(c) === XSD.dateTime, 4)
      .when(isLiteral(c) && dt(c) === XSD.date, 5)
      .otherwise(0)
  private def termOrd(op: (Column, Column) => Column)(
      a: Column, b: Column): Column = {
    val k = ltKind(a)
    F.when(k =!= ltKind(b), F.lit(null).cast(BooleanType))
      .when(k === 1, op(numValue(a), numValue(b)))
      .when(k === 2, op(value(a), value(b)))
      .when(k === 3, op(value(a) === "true", value(b) === "true"))
      .when(k === 4, op(value(a).cast(TimestampType),
        value(b).cast(TimestampType)))
      .when(k === 5, op(value(a).cast(DateType), value(b).cast(DateType)))
      .otherwise(F.lit(null).cast(BooleanType))
  }
  def termLt(a: Column, b: Column): Column = termOrd(_ < _)(a, b)
  def termLe(a: Column, b: Column): Column = termOrd(_ <= _)(a, b)
  def termGt(a: Column, b: Column): Column = termLt(b, a)
  def termGe(a: Column, b: Column): Column = termLe(b, a)

  /** Effective boolean value (SPARQL 17.2.2): boolean literal → its value,
    * numeric → != 0, string → non-empty; other terms → null (type error,
    * row is dropped by FILTER). */
  def ebv(c: Column): Column = {
    val d = dt(c)
    F.when(!isLiteral(c), F.lit(null).cast(BooleanType))
      .when(d === XSD.boolean, value(c) === "true")
      .when(isNumeric(c), value(c).cast(DoubleType) =!= 0.0)
      .when(d === XSD.string || d === RDF.langString ||
        d === RDF.dirLangString, F.length(value(c)) > 0)
      .otherwise(F.lit(null).cast(BooleanType))
  }

  /** ORDER BY total order (SPARQL 15.1): unbound < blank < IRI < literal;
    * numeric literals by value, others by lexical form. Returned as a list
    * of sort-key columns to pass to orderBy. */
  def orderKeys(c: Column): Seq[Column] = Seq(
    // SPARQL §15.1 term-kind order: unbound < blank < IRI < literal
    // (NOT the storage kind encoding, which has IRI=0 before blank=1)
    F.when(c.isNull, -1)
      .when(isBlank(c), 0)
      .when(isIri(c), 1)
      .when(isLiteral(c), 2)
      .otherwise(3), // quoted triples after literals (SPARQL 1.2 draft)
    F.when(isNumeric(c), numValue(c)),       // numerics by value (nulls first)
    value(c))
}
