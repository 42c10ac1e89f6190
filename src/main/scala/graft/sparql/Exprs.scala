package graft.sparql

import org.apache.spark.sql.{Column, functions => F}
import org.apache.spark.sql.types._
import graft.rdf._
import graft.rdf.Terms._
import Ast._

/** SPARQL expression → Spark Column compiler.
  *
  * Two value domains: `asTerm` yields a term-struct Column (for
  * BIND/projection), `asBool` yields a three-valued BooleanType Column (for
  * FILTER / IF / logical connectives). Boolean-returning builtins compile
  * straight to native booleans so Catalyst can push them down; a
  * term-valued expression used in boolean context goes through the SPARQL
  * effective-boolean-value rules (Terms.ebv).
  *
  * Everything here is `org.apache.spark.sql.functions` composition — no
  * UDFs — so the whole FILTER/BIND surface stays inside whole-stage codegen.
  */
final class ExprCompiler(env: String => Option[Column]) {

  private def nullTerm: Column = F.lit(null).cast(Terms.termType)

  def term(e: Expr): Column = e match {
    case ExVar(v) => env(v).getOrElse(nullTerm)
    case ExTerm(t) => termCol(t)
    case ExOr(_, _) | ExAnd(_, _) | ExNot(_) | ExCmp(_, _, _) |
         ExIn(_, _, _) => boolTerm(bool(e))
    case ExArith(op, l, r) => arith(op, term(l), term(r))
    case ExNegNum(x) =>
      arith("-", termCol(Lit.typed("0", XSD.integer)), term(x))
    case ExCall(name, args) => call(name, args)
    case ExAgg(_, _, _, _) =>
      throw new IllegalStateException(
        "aggregate must be rewritten before expression compilation")
    case ExExists(_, _) =>
      throw new UnsupportedOperationException(
        "EXISTS is only supported at FILTER top level")
  }

  def bool(e: Expr): Column = e match {
    case ExOr(l, r) => bool(l) || bool(r)
    case ExAnd(l, r) => bool(l) && bool(r)
    case ExNot(x) => !bool(x)
    case ExCmp(op, l, r) =>
      val (a, b) = (term(l), term(r))
      op match {
        case "=" => termEq(a, b)
        case "!=" => termNe(a, b)
        case "<" => termLt(a, b)
        case "<=" => termLe(a, b)
        case ">" => termGt(a, b)
        case ">=" => termGe(a, b)
      }
    case ExIn(x, list, neg) =>
      val t = term(x)
      val anyEq = list.map(i => termEq(t, term(i))).reduceOption(_ || _)
        .getOrElse(F.lit(false))
      if (neg) !anyEq else anyEq
    case ExCall(name, args) if ExprCompiler.boolBuiltins(name) =>
      boolCall(name, args)
    case other => ebv(term(other))
  }

  private def boolTerm(b: Column): Column =
    F.when(b.isNull, nullTerm).otherwise(
      mkLit(F.when(b, "true").otherwise("false"), XSD.boolean))

  private def mkLit(lex: Column, dt: String): Column =
    F.struct(F.lit(KIND_LIT).cast(ByteType).as("kind"),
      lex.cast(StringType).as("value"), F.lit(dt).as("dt"), nullStr.as("lang"))

  private def mkLitKeepLang(lex: Column, src: Column): Column =
    F.struct(F.lit(KIND_LIT).cast(ByteType).as("kind"),
      lex.cast(StringType).as("value"), dt(src).as("dt"), lang(src).as("lang"))

  private def mkIri(v: Column): Column = Terms.iri(v)

  private def intTerm(c: Column): Column = mkLit(c.cast(LongType), XSD.integer)
  private def dblTerm(c: Column): Column = mkLit(c.cast(DoubleType), XSD.double)
  private def strTerm(c: Column): Column = mkLit(c, XSD.string)

  /** xsd:decimal term with a canonical lexical: exact decimal
    * arithmetic upstream (never binary floating point), trailing zeros
    * trimmed, at least one fractional digit ("2.0", "25.5"). */
  private def decTerm(c: Column): Column = {
    val s0 = c.cast(DecimalType(38, 18)).cast(StringType)
    val s1 = F.regexp_replace(s0, F.lit("(\\.\\d*?)0+$"), F.lit("$1"))
    mkLit(F.regexp_replace(s1, F.lit("\\.$"), F.lit(".0")), XSD.decimal)
  }

  /** Numeric arithmetic with integer preservation: when both operands are
    * integral literals and the op is not division, stay in LongType
    * (exact); otherwise compute in DoubleType (SPARQL numeric promotion).
    * Division follows the XPath operator mapping the spec imports:
    * dividing non-double numerics by zero is an ERROR (unbound), while
    * xsd:double/xsd:float division by zero is ±INF/NaN. */
  private def arith(op: String, a: Column, b: Column): Column = {
    val bothInt = dt(a).isin(XSD.integral.toSeq.map(F.lit): _*) &&
      dt(b).isin(XSD.integral.toSeq.map(F.lit): _*)
    val anyDouble = dt(a).isin(XSD.double, XSD.float) ||
      dt(b).isin(XSD.double, XSD.float)
    val la = value(a).cast(LongType); val lb = value(b).cast(LongType)
    val da = numValue(a); val db = numValue(b)
    def applyL(x: Column, y: Column) = op match {
      case "+" => x + y; case "-" => x - y; case "*" => x * y
    }
    def applyD(x: Column, y: Column) = op match {
      case "+" => x + y; case "-" => x - y; case "*" => x * y
      case "/" => x / y
    }
    // a null operand struct (unbound var upstream) is an error, not a
    // null-valued result term
    val invalid = a.isNull || b.isNull || !isNumeric(a) || !isNumeric(b)
    val result =
      if (op == "/")
        F.when(!anyDouble && db === 0.0, nullTerm) // integer/decimal ÷ 0
          .otherwise(dblTerm(applyD(da, db)))
      else F.when(bothInt, intTerm(applyL(la, lb)))
        .otherwise(dblTerm(applyD(da, db)))
    F.when(invalid, nullTerm).otherwise(result)
  }

  /** A string literal per §17.4.3.1.1: simple/xsd:string (plain
    * literals are normalized to xsd:string at parse) or langString.
    * Datatyped literals like xsd:integer are NOT string arguments —
    * passing one to a binary string builtin is an error. */
  private def isStringLit(c: Column): Column =
    isLiteral(c) && (dt(c) === XSD.string || dt(c) === RDF.langString ||
      dt(c) === RDF.dirLangString)

  /** SPARQL §17.4.3.1.1 argument compatibility for the binary string
    * builtins: (plain/xsd:string, plain/xsd:string), (lang, plain), or
    * both the SAME language tag. Anything else — including a tag only
    * on arg2 or a non-string datatype — is an error. */
  private def strCompatible(a: Column, b: Column): Column =
    isStringLit(a) && isStringLit(b) &&
      (lang(b).isNull || (lang(a).isNotNull && lang(a) === lang(b)))

  private def str(e: Expr): Column = value(term(e))

  private def boolCall(name: String, args: Seq[Expr]): Column = name match {
    case "BOUND" => term(args.head).isNotNull
    case "ISIRI" | "ISURI" => isIri(term(args.head))
    case "ISBLANK" => Terms.isBlank(term(args.head))
    case "ISLITERAL" => isLiteral(term(args.head))
    case "ISNUMERIC" => isNumeric(term(args.head))
    // SPARQL 1.2: language presence tests; error on non-literals
    case "HASLANG" =>
      val t = term(args.head)
      F.when(!isLiteral(t), F.lit(null).cast(BooleanType))
        .otherwise(dt(t) === RDF.langString || dt(t) === RDF.dirLangString)
    case "HASLANGDIR" =>
      val t = term(args.head)
      F.when(!isLiteral(t), F.lit(null).cast(BooleanType))
        .otherwise(dt(t) === RDF.dirLangString)
    case "SAMETERM" => term(args.head) === term(args(1))
    case "ISTRIPLE" => Terms.isQuoted(term(args.head))
    case "CONTAINS" => strBinary(args, _.contains(_))
    case "STRSTARTS" => strBinary(args, _.startsWith(_))
    case "STRENDS" => strBinary(args, _.endsWith(_))
    case "REGEX" =>
      val pat = if (args.length > 2)
        F.concat(F.lit("(?"), str(args(2)), F.lit(")"), str(args(1)))
      else str(args(1))
      F.regexp_like(str(args.head), pat)
    case "LANGMATCHES" =>
      val l = F.lower(str(args.head)); val range = F.lower(str(args(1)))
      F.when(range === "*", l =!= "").otherwise(
        l === range || l.startsWith(F.concat(range, F.lit("-"))))
  }

  /** Binary string predicate with the §17.4.3.1.1 compatibility gate:
    * incompatible arguments are an ERROR (null boolean → FILTER drops
    * the row, boolTerm leaves the BIND variable unbound). */
  private def strBinary(args: Seq[Expr],
      f: (Column, Column) => Column): Column = {
    val (a, b) = (term(args.head), term(args(1)))
    F.when(!strCompatible(a, b), F.lit(null).cast(BooleanType))
      .otherwise(f(value(a), value(b)))
  }

  private def call(name: String, args: Seq[Expr]): Column = name match {
    case b if ExprCompiler.boolBuiltins(b) => boolTerm(boolCall(b, args))
    case "STR" => strTerm(str(args.head))
    case "LANG" =>
      // SPARQL 1.2: LANG of a directional string is the bare tag — the
      // encoded `--dir` suffix strips (`--` can't occur inside BCP47)
      strTerm(F.coalesce(
        F.split(lang(term(args.head)), "--").getItem(0), F.lit("")))
    case "LANGDIR" =>
      // "ltr"/"rtl" for rdf:dirLangString, "" for any other literal,
      // error (null term) for non-literals — SPARQL 1.2 §17
      val t = term(args.head)
      F.when(!isLiteral(t), F.lit(null).cast(Terms.termType))
        .otherwise(strTerm(F.when(dt(t) === RDF.dirLangString,
          F.split(lang(t), "--").getItem(1)).otherwise(F.lit(""))))
    case "STRLANGDIR" =>
      // dirLangString constructor; an invalid direction is an error
      val dir = F.lower(str(args(2)))
      F.when(!dir.isin("ltr", "rtl"), F.lit(null).cast(Terms.termType))
        .otherwise(F.struct(F.lit(KIND_LIT).cast(ByteType).as("kind"),
          str(args.head).as("value"), F.lit(RDF.dirLangString).as("dt"),
          F.concat(str(args(1)), F.lit("--"), dir).as("lang")))
    case "DATATYPE" => mkIri(dt(term(args.head)))
    case "IRI" | "URI" => mkIri(str(args.head))
    case "BNODE" =>
      F.struct(F.lit(KIND_BLANK).cast(ByteType).as("kind"),
        F.concat(F.lit("fb"), F.expr("uuid()")).as("value"),
        nullStr.as("dt"), nullStr.as("lang"))
    case "STRLEN" => intTerm(F.length(str(args.head)))
    // SPARQL 1.2 quoted-triple constructors/accessors: TRIPLE errors on
    // unbound components or a non-IRI predicate; the accessors error on
    // non-quoted input (all via NULL term structs)
    case "TRIPLE" =>
      Terms.packQuoted(term(args.head), term(args(1)), term(args(2)))
    case "SUBJECT" => Terms.quotedSubject(term(args.head))
    case "PREDICATE" => Terms.quotedPredicate(term(args.head))
    case "OBJECT" => Terms.quotedObject(term(args.head))
    case "UCASE" => mkLitKeepLang(F.upper(str(args.head)), term(args.head))
    case "LCASE" => mkLitKeepLang(F.lower(str(args.head)), term(args.head))
    case "CONCAT" if args.isEmpty =>
      // CONCAT() is grammatical (ExpressionList may be NIL) and yields
      // the empty simple literal per §17.4.3.12
      strTerm(F.lit(""))
    case "CONCAT" =>
      // §17.4.3.12: all args share one language tag → tagged result;
      // otherwise a simple literal (mixed/absent tags drop the tag)
      val ts = args.map(term)
      val langs = ts.map(lang)
      val allSameLang = langs.map(_.isNotNull).reduce(_ && _) &&
        langs.tail.foldLeft(F.lit(true))((acc, l) => acc && l === langs.head)
      val lex = F.concat(ts.map(value): _*)
      F.struct(F.lit(KIND_LIT).cast(ByteType).as("kind"),
        lex.cast(StringType).as("value"),
        F.when(allSameLang && langs.head.contains("--"), RDF.dirLangString)
          .when(allSameLang, RDF.langString).otherwise(XSD.string).as("dt"),
        F.when(allSameLang, langs.head).otherwise(nullStr).as("lang"))
    case "SUBSTR" =>
      val s = str(args.head)
      val start = numValue(term(args(1))).cast(IntegerType)
      val len = if (args.length > 2)
        numValue(term(args(2))).cast(IntegerType) else F.lit(Int.MaxValue)
      mkLitKeepLang(s.substr(start, len), term(args.head))
    case "STRBEFORE" =>
      // §17.4.3.4: incompatible args error; a match keeps arg1's
      // language/datatype; NO match is a SIMPLE empty literal
      val (a, b) = (term(args.head), term(args(1)))
      val s = value(a); val sub = value(b)
      val pos = F.instr(s, sub) // 1-based, 0 = absent
      F.when(!strCompatible(a, b), nullTerm)
        .when(pos > 0, mkLitKeepLang(s.substr(F.lit(1), pos - 1), a))
        .otherwise(strTerm(F.lit("")))
    case "STRAFTER" =>
      val (a, b) = (term(args.head), term(args(1)))
      val s = value(a); val sub = value(b)
      val pos = F.instr(s, sub)
      F.when(!strCompatible(a, b), nullTerm)
        .when(pos > 0,
          mkLitKeepLang(s.substr(pos + F.length(sub), F.length(s)), a))
        .otherwise(strTerm(F.lit("")))
    case "REPLACE" =>
      val flags = if (args.length > 3)
        F.concat(F.lit("(?"), str(args(3)), F.lit(")"), str(args(1)))
      else str(args(1))
      mkLitKeepLang(F.regexp_replace(str(args.head), flags, str(args(2))),
        term(args.head))
    case "ENCODE_FOR_URI" =>
      strTerm(F.regexp_replace(F.url_encode(str(args.head)), F.lit("\\+"), F.lit("%20")))
    case "ABS" => numUnary(args.head, F.abs, F.abs)
    case "CEIL" => numUnary(args.head, identity, c => F.ceil(c).cast(DoubleType))
    case "FLOOR" => numUnary(args.head, identity, c => F.floor(c).cast(DoubleType))
    case "ROUND" => numUnary(args.head, identity, c => F.round(c, 0))
    case "YEAR" => intTerm(F.year(ts(args.head)))
    case "MONTH" => intTerm(F.month(ts(args.head)))
    case "DAY" => intTerm(F.dayofmonth(ts(args.head)))
    case "HOURS" => intTerm(F.hour(ts(args.head)))
    case "MINUTES" => intTerm(F.minute(ts(args.head)))
    case "SECONDS" => intTerm(F.second(ts(args.head)))
    case "TZ" => strTerm(F.lit("Z"))
    case "NOW" =>
      mkLit(F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSS"),
        XSD.dateTime)
    case "UUID" => mkIri(F.concat(F.lit("urn:uuid:"), F.expr("uuid()")))
    case "STRUUID" => strTerm(F.expr("uuid()"))
    case "MD5" => strTerm(F.md5(str(args.head).cast(BinaryType)))
    case "SHA1" => strTerm(F.sha1(str(args.head).cast(BinaryType)))
    case "SHA256" => strTerm(F.sha2(str(args.head).cast(BinaryType), 256))
    case "SHA384" => strTerm(F.sha2(str(args.head).cast(BinaryType), 384))
    case "SHA512" => strTerm(F.sha2(str(args.head).cast(BinaryType), 512))
    case "COALESCE" => F.coalesce(args.map(term): _*)
    case "IF" =>
      // an ERROR condition is an error result (not the else branch)
      val c = bool(args.head)
      F.when(c.isNull, nullTerm).when(c, term(args(1)))
        .otherwise(term(args(2)))
    case "STRLANG" =>
      F.struct(F.lit(KIND_LIT).cast(ByteType).as("kind"),
        str(args.head).as("value"), F.lit(RDF.langString).as("dt"),
        str(args(1)).as("lang"))
    case "STRDT" =>
      F.struct(F.lit(KIND_LIT).cast(ByteType).as("kind"),
        str(args.head).as("value"), str(args(1)).as("dt"), nullStr.as("lang"))
    case "RAND" => dblTerm(F.rand())
    // xsd casts (ExCall with full datatype IRI)
    case XSD.integer | XSD.int | XSD.long =>
      intTerm(value(term(args.head)).cast(DoubleType).cast(LongType))
    case XSD.double | XSD.float => dblTerm(numOrParse(args.head))
    case XSD.decimal => mkLit(numOrParse(args.head), XSD.decimal)
    case XSD.string => strTerm(str(args.head))
    case XSD.boolean =>
      boolTerm(F.when(str(args.head).isin("true", "1"), F.lit(true))
        .when(str(args.head).isin("false", "0"), F.lit(false)))
    case XSD.dateTime => mkLit(str(args.head), XSD.dateTime)
    case other =>
      throw new UnsupportedOperationException(s"function <$other> not implemented")
  }

  private def numOrParse(e: Expr): Column = value(term(e)).cast(DoubleType)

  private def ts(e: Expr): Column =
    F.to_timestamp(F.regexp_replace(str(e), F.lit("T"), F.lit(" ")))

  /** Numeric unary preserving integer-ness: intF applied when integral,
    * dblF otherwise. */
  private def numUnary(e: Expr, intF: Column => Column,
      dblF: Column => Column): Column = {
    val t = term(e)
    val integral = dt(t).isin(XSD.integral.toSeq.map(F.lit): _*)
    F.when(!isNumeric(t), nullTerm)
      .when(integral, intTerm(intF(value(t).cast(LongType))))
      .otherwise(dblTerm(dblF(numValue(t))))
  }

  // ------------------------------------------------------------- aggregates

  /** The group's distinct numeric TERMS (SUM/AVG DISTINCT §18.5.1:
    * Distinct(M) dedupes solutions, i.e. by sameTerm — full struct
    * equality — never by numeric value). collect_set drops the nulls
    * the `when` leaves for non-numeric elements (those already tripped
    * the group error flag). */
  private def distinctNumericTerms(t: Column): Column =
    F.collect_set(F.when(isNumeric(t) && numValue(t).isNotNull, t))

  /** Per-lane folds over a distinct-term set. The explicit result casts
    * keep the accumulator type fixed across iterations (decimal `+`
    * would otherwise drift precision under Spark's promotion rules). */
  private def foldLong(terms: Column): Column =
    F.aggregate(terms, F.lit(0L), (acc, x) => acc +
      F.when(x.getField("dt").isin(XSD.integral.toSeq.map(F.lit): _*),
        x.getField("value").cast(LongType)).otherwise(0L))
  private def foldDec(terms: Column): Column =
    F.aggregate(terms, F.lit(0).cast(DecimalType(38, 18)), (acc, x) =>
      (acc + F.when(
        x.getField("dt").isin(XSD.integral.toSeq.map(F.lit): _*) ||
          x.getField("dt") === F.lit(XSD.decimal),
        x.getField("value").cast(DecimalType(38, 18)))
        .otherwise(F.lit(0).cast(DecimalType(38, 18))))
        .cast(DecimalType(38, 18)))
  private def foldDbl(terms: Column): Column =
    F.aggregate(terms, F.lit(0.0), (acc, x) => acc + numValue(x))

  /** Compile an aggregate to a single (possibly composite) agg Column
    * producing a term struct. Integer exactness: SUM/MIN/MAX over all-
    * integral groups stay in LongType. */
  def agg(a: ExAgg): Column = {
    def t = term(a.arg.get)
    a.fn match {
      case "COUNT" =>
        val c = a.arg match {
          case None => F.count(F.lit(1))
          case Some(e) =>
            if (a.distinct) F.countDistinct(term(e)) else F.count(term(e))
        }
        intTerm(c)
      case "SUM" =>
        // §18.5.1 Sum via op:numeric-add over the multiset with
        // EVALUATION ERRORS REMOVED (SPARQL 1.2 §18.5.1.2 makes the
        // removal explicit; it is also what makes COUNT(?x) skip
        // unbound): an unbound element simply drops out, while a BOUND
        // non-numeric or invalid-lexical value makes op:numeric-add —
        // and so the whole group — error (variable left unbound); the
        // empty remainder sums to 0. Type promotion: all-integral →
        // xsd:integer, integral+decimal → xsd:decimal (exact decimal
        // arithmetic), any double/float → xsd:double.
        val integral = dt(t).isin(XSD.integral.toSeq.map(F.lit): _*)
        val isDec = dt(t) === F.lit(XSD.decimal)
        val err = F.max(F.when(
          t.isNotNull && (!isNumeric(t) || numValue(t).isNull), 1)
          .otherwise(0))
        val anyDbl = F.max(
          F.when(isNumeric(t) && !integral && !isDec, 1).otherwise(0))
        val anyDec = F.max(F.when(isDec, 1).otherwise(0))
        if (a.distinct) {
          // §18.5.1: Distinct(M) removes duplicate SOLUTIONS — dedup is
          // by RDF TERM (sameTerm), not numeric value: {"1"^^xsd:integer,
          // "1.0"^^xsd:decimal} sums to 2.0, and "01"^^xsd:integer /
          // "1"^^xsd:integer are distinct terms. collect_set over the
          // term struct IS term-distinctness; the per-lane sums fold
          // over that set (the distinct set is what ANY distinct
          // aggregate must materialize — Spark's own sum_distinct
          // holds the same set in its hash relation).
          val terms = distinctNumericTerms(t)
          F.when(err === 1, F.lit(null).cast(Terms.termType))
            .when(anyDbl === 1, dblTerm(foldDbl(terms)))
            .when(anyDec === 1, decTerm(foldDec(terms)))
            .otherwise(intTerm(foldLong(terms)))
        } else {
          val sumL = F.sum(F.when(integral, value(t).cast(LongType)).otherwise(0L))
          val sumDec = F.sum(F.when(integral || isDec,
            value(t).cast(DecimalType(38, 18)))
            .otherwise(F.lit(0).cast(DecimalType(38, 18))))
          val sumD = F.sum(F.when(isNumeric(t), numValue(t)).otherwise(0.0))
          F.when(err === 1, F.lit(null).cast(Terms.termType))
            .when(anyDbl === 1, dblTerm(sumD))
            .when(anyDec === 1, decTerm(sumDec))
            .otherwise(intTerm(F.coalesce(sumL, F.lit(0L))))
        }
      case "AVG" =>
        // §18.5.1.5 Avg(M) = "0"^^xsd:integer when Card(M) = 0 (like
        // SUM/COUNT); unbound elements are REMOVED (error-removal, as
        // in SUM above); a BOUND non-numeric input is an error
        // (unbound); integral/decimal inputs produce an exact
        // xsd:decimal, doubles a double.
        val integral = dt(t).isin(XSD.integral.toSeq.map(F.lit): _*)
        val isDec = dt(t) === F.lit(XSD.decimal)
        val err = F.max(F.when(
          t.isNotNull && (!isNumeric(t) || numValue(t).isNull), 1)
          .otherwise(0))
        val anyDbl = F.max(
          F.when(isNumeric(t) && !integral && !isDec, 1).otherwise(0))
        // DISTINCT: Avg(Distinct M) = Sum(Distinct M)/Card(Distinct M)
        // — both range over the distinct TERMS (sameTerm dedup, like
        // SUM(DISTINCT) above)
        val distTerms = distinctNumericTerms(t)
        val n =
          if (a.distinct) F.size(distTerms).cast(LongType)
          else F.count(F.when(t.isNotNull, 1))
        val sumDec =
          if (a.distinct) foldDec(distTerms)
          else F.sum(F.when(integral || isDec,
            value(t).cast(DecimalType(38, 18)))
            .otherwise(F.lit(0).cast(DecimalType(38, 18))))
        val avgDbl =
          if (a.distinct) foldDbl(distTerms) / n
          else F.avg(numValue(t))
        F.when(err === 1, F.lit(null).cast(Terms.termType))
          .when(n === 0, intTerm(F.lit(0L)))
          .when(anyDbl === 1, dblTerm(avgDbl))
          .otherwise(decTerm(sumDec / n))
      case "MIN" | "MAX" =>
        // §18.5.1.7/8: Min/Max order with the `<` OPERATOR, so they are
        // defined exactly on its comparability lanes (numeric, string,
        // boolean, dateTime/date — the Terms.termLt classes): unbound
        // elements drop out (error removal), an empty remainder or any
        // bound value outside one shared lane is a type error → the
        // variable stays unbound. The old lexical fallback compared
        // IRIs/mixed types by string and returned an xsd:string literal
        // of an IRI's text — both wrong.
        val isMin = a.fn == "MIN"
        val integral = dt(t).isin(XSD.integral.toSeq.map(F.lit): _*)
        def pick(c: Column) = if (isMin) F.min(c) else F.max(c)
        val lane =
          F.when(t.isNull, F.lit(null).cast(IntegerType))
            .when(isNumeric(t) && numValue(t).isNotNull, 1)
            .when(isLiteral(t) && dt(t) === XSD.string, 2)
            .when(isLiteral(t) && dt(t) === XSD.boolean, 3)
            .when(isLiteral(t) && dt(t) === XSD.dateTime &&
              value(t).cast(TimestampType).isNotNull, 4)
            .when(isLiteral(t) && dt(t) === XSD.date &&
              value(t).cast(DateType).isNotNull, 5)
            .otherwise(0)
        val loLane = F.min(lane) // aggregates skip null (unbound) rows
        val hiLane = F.max(lane)
        val numL = pick(F.when(integral, value(t).cast(LongType)))
        val numD = pick(F.when(isNumeric(t), numValue(t)))
        val anyNonInt = F.max(F.when(isNumeric(t) && !integral, 1).otherwise(0))
        val strLex = pick(F.when(lane === 2, value(t)))
        val boolLex = pick(F.when(lane === 3, value(t))) // "false" < "true"
        // timeline order with a deterministic lexical tie-break (equal
        // instants under different offsets), original lexical returned
        val dtLex = pick(F.when(lane === 4, F.struct(
          value(t).cast(TimestampType).as("k"), value(t).as("lex"))))
          .getField("lex")
        val dLex = pick(F.when(lane === 5, F.struct(
          value(t).cast(DateType).as("k"), value(t).as("lex"))))
          .getField("lex")
        F.when(loLane.isNull || loLane =!= hiLane || loLane === 0,
            F.lit(null).cast(Terms.termType))
          .when(loLane === 1 && anyNonInt === 0, intTerm(numL))
          .when(loLane === 1, dblTerm(numD))
          .when(loLane === 2, strTerm(strLex))
          .when(loLane === 3, mkLit(boolLex, XSD.boolean))
          .when(loLane === 4, mkLit(dtLex, XSD.dateTime))
          .otherwise(mkLit(dLex, XSD.date))
      case "SAMPLE" => F.first(t, ignoreNulls = true)
      case "GROUP_CONCAT" =>
        val sep = a.separator.getOrElse(" ")
        val vals =
          if (a.distinct) F.collect_set(value(t)) else F.collect_list(value(t))
        strTerm(F.array_join(F.array_sort(vals), sep))
    }
  }
}

object ExprCompiler {
  val boolBuiltins: Set[String] = Set("BOUND", "ISIRI", "ISURI", "ISBLANK",
    "ISLITERAL", "ISNUMERIC", "SAMETERM", "CONTAINS", "STRSTARTS", "STRENDS",
    "REGEX", "LANGMATCHES", "ISTRIPLE", "HASLANG", "HASLANGDIR")

  /** Does the expression (transitively) contain an aggregate? */
  def hasAgg(e: Expr): Boolean = e match {
    case ExAgg(_, _, _, _) => true
    case ExOr(l, r) => hasAgg(l) || hasAgg(r)
    case ExAnd(l, r) => hasAgg(l) || hasAgg(r)
    case ExNot(x) => hasAgg(x)
    case ExCmp(_, l, r) => hasAgg(l) || hasAgg(r)
    case ExArith(_, l, r) => hasAgg(l) || hasAgg(r)
    case ExNegNum(x) => hasAgg(x)
    case ExIn(x, list, _) => hasAgg(x) || list.exists(hasAgg)
    case ExCall(_, args) => args.exists(hasAgg)
    case _ => false
  }
}
