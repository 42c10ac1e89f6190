package graft.sources

import scala.collection.mutable

import com.fasterxml.jackson.core.{JsonFactory, JsonParser => JParser}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.SparkSession

import graft.rdf._

/** JSON-LD 1.1 reader / writer (W3C REC `json-ld11` and the
  * `json-ld11-api` Deserialize-to-RDF algorithms), completing the
  * format family next to Turtle/TriG, N-Triples/N-Quads and RDF/XML.
  * The reference exposes JSON-LD through rdflib's plugin-format
  * round trip (`gastrodon/__init__.py:418` parses any rdflib-supported
  * serialization); here it is a native source.
  *
  * Reader = fused expansion + Deserialize-JSON-LD-to-RDF over a Jackson
  * tree. Supported surface (documented subset, errors are loud):
  *  - `@context`: inline objects / arrays / `null` reset; `@base`,
  *    `@vocab`, `@language`, `@version`; term definitions as strings or
  *    `{@id, @type, @language, @container, @reverse, @prefix}`;
  *    keyword aliases; compact IRIs (terms defined as simple strings
  *    act as prefixes, 1.0-style; expanded definitions only with
  *    `@prefix: true`).
  *  - node objects: `@id` (IRI / compact IRI / `_:` label), `@type`,
  *    nested node objects and references, `@reverse` (key and term
  *    definitions), `@graph` (top-level default graph and named
  *    graphs), `@included`, `@index` (ignored per the API spec).
  *  - values: native JSON typing (string → `xsd:string`, boolean →
  *    `xsd:boolean`, integral number → `xsd:integer`, fractional →
  *    `xsd:double` in XSD canonical form), value objects
  *    `{@value, @type | @language}`, type coercion incl. `@id` /
  *    `@vocab`, default and term `@language`, `@list` / `@set` and the
  *    `@list`, `@language`, `@index` containers.
  *  - containers: `@list`, `@set`, `@index`, `@language`, the 1.1
  *    `@id` / `@type` maps, and `@graph` containers (simple, `@id`
  *    and `@index` graph maps — §4.9).
  *  - SCOPED contexts: property-scoped (processed at each use site,
  *    propagating into nested nodes, the 1.1 default) and type-scoped
  *    (activated by `@type` values in lexical order, reverting on the
  *    next node object per the non-propagation default); `@propagate`
  *    overrides both ways (§4.1.9).
  *  - `@nest` keys (and aliases): purely syntactic grouping, entries
  *    expand onto the parent node; term-definition `@nest` members are
  *    validated (must expand to `@nest`) and otherwise inert here —
  *    they only steer grouping during compaction, which this engine's
  *    serializer does not perform with user contexts.
  *  - remote context REFERENCES resolve against a caller-supplied
  *    OFFLINE map of pre-fetched documents (`contexts` parameter);
  *    an unmapped reference fails loudly — the engine itself never
  *    retrieves anything, matching the zero-egress posture of the
  *    other sources.
  *  - `@type: @json` literals (`rdf:JSON` with RFC 8785/JCS canonical
  *    lexicals, embedded back as native JSON on write); non-integral
  *    numbers inside them are rejected (JCS needs the ECMAScript
  *    number formatter).
  *  - NOT supported (loud `JsonLdParseException`, never silent):
  *    unmapped remote contexts.
  *
  * Writers, split like the other formats:
  *  - [[serialize]] — driver-side COMPACTED document (display/export
  *    contract, like `Turtle.serialize` / `RdfXml.serialize`): the
  *    graph's prefix map becomes `@context`, IRIs compact against it,
  *    subjects group into one node object each, named graphs nest as
  *    graph objects.
  *  - [[write]] — distributed EXPANDED-form sink: subjects co-locate
  *    via a hash repartition and every part file is a standalone-valid
  *    JSON-LD document (a top-level array of node objects with full
  *    IRIs, no context needed) whose graphs union to the store — the
  *    same per-part contract as the Turtle/RDF-XML writers, with
  *    [[read]] folding the parts back under one blank-node scope in
  *    name-sorted order (concatenation semantics, see
  *    `Sidecar.readParts`).
  *
  * Quoted triples (RDF-star) have no REC JSON-LD syntax and are
  * rejected by both writers, like RDF/XML.
  */
object JsonLd {

  final class JsonLdParseException(msg: String) extends RuntimeException(msg)

  private def err(msg: String): Nothing = throw new JsonLdParseException(msg)

  private def mapper(): ObjectMapper = {
    val f = new JsonFactory()
    // duplicate keys in one object are a JSON-LD error, not last-wins
    f.enable(JParser.Feature.STRICT_DUPLICATE_DETECTION)
    new ObjectMapper(f)
  }

  private val Keywords = Set(
    "@base", "@container", "@context", "@direction", "@graph", "@id",
    "@import", "@included", "@index", "@json", "@language", "@list",
    "@nest", "@none", "@prefix", "@propagate", "@protected", "@reverse",
    "@set", "@type", "@value", "@version", "@vocab")

  // ------------------------------------------------------------- context

  /** One term definition. `iri == null` marks a term explicitly mapped
    * to `null` (its uses drop). `lang` is three-valued: `None` = no
    * mapping, `Some(None)` = `"@language": null` override,
    * `Some(Some(tag))` = a tag. */
  private final case class TermDef(
      iri: String,
      tpe: Option[String] = None,
      lang: Option[Option[String]] = None,
      container: Set[String] = Set.empty,
      reverse: Boolean = false,
      prefix: Boolean = false,
      /** Property-scoped `@context` (raw JSON) — processed against the
        * active context each time the term is used as a property. */
      scoped: Option[JsonNode] = None)

  private final case class Ctx(
      base: String,
      vocab: Option[String],
      lang: Option[String],
      terms: Map[String, TermDef],
      /** Set when a TYPE-scoped context was applied: the context to
        * restore for nested node objects (type-scoped contexts do not
        * propagate, json-ld11 §4.1.9). Property-scoped and inline
        * contexts clear it (they do propagate). */
      previous: Option[Ctx] = None,
      /** Caller-supplied OFFLINE context documents (IRI → raw JSON):
        * a context reference resolves here or fails loudly — the
        * engine never fetches. Constant through one parse. */
      docs: Map[String, String] = Map.empty)

  private def initialCtx(docBase: String, docs: Map[String, String]): Ctx =
    Ctx(docBase, None, None, Map.empty, docs = docs)

  private def processContext(active: Ctx, value: JsonNode,
      docBase: String, loading: Set[String] = Set.empty): Ctx = {
    if (value == null || value.isNull)
      return initialCtx(docBase, active.docs)
    if (value.isArray) {
      var c = active
      value.forEach { v => c = processContext(c, v, docBase, loading) }
      return c
    }
    if (value.isTextual) {
      // a context REFERENCE: resolved against the caller-supplied
      // offline document map — never fetched (zero-egress posture)
      val iri = IriRef.resolve(active.base, value.asText)
      if (loading.contains(iri))
        err(s"cyclic context reference: <$iri>")
      active.docs.get(iri).orElse(active.docs.get(value.asText)) match {
        case None => err(
          s"context <$iri> is not in the supplied offline context map " +
            "(this engine performs no document retrieval at parse " +
            "time — pre-fetch it and pass it via `contexts`)")
        case Some(docText) =>
          val doc = try mapper().readTree(docText) catch { case e: Exception =>
            err(s"context document <$iri> is malformed JSON: ${e.getMessage}")
          }
          val inner = doc match {
            case o: ObjectNode => o.get("@context")
            case _ => null
          }
          if (inner == null) err(
            s"context document <$iri> has no top-level @context member")
          return processContext(active, inner, docBase, loading + iri)
      }
    }
    if (!value.isObject) err(s"@context must be an object, array or null")
    val obj = value.asInstanceOf[ObjectNode]

    var base = active.base
    var vocab = active.vocab
    var lang = active.lang
    Option(obj.get("@base")).foreach { b =>
      if (b.isNull) base = ""
      else if (b.isTextual)
        base =
          if (IriRef.isAbsolute(b.asText)) b.asText
          else IriRef.resolve(base, b.asText)
      else err("@base must be an IRI string or null")
    }
    Option(obj.get("@vocab")).foreach { v =>
      if (v.isNull) vocab = None
      else if (v.isTextual) {
        val t = v.asText
        vocab = Some(
          if (IriRef.isAbsolute(t) || t.startsWith("_:")) t
          else IriRef.resolve(vocab.getOrElse(base), t))
      } else err("@vocab must be an IRI string or null")
    }
    Option(obj.get("@language")).foreach { l =>
      if (l.isNull) lang = None
      else if (l.isTextual) lang = Some(l.asText)
      else err("@language in a context must be a string or null")
    }
    Option(obj.get("@version")).foreach { v =>
      if (!v.isNumber || v.asDouble != 1.1) err("@version must be 1.1")
    }

    val defs = mutable.Map[String, TermDef]() ++ active.terms
    val defined = mutable.Map[String, Boolean]()

    def createTerm(term: String): Unit = {
      if (defined.getOrElse(term, false) || !obj.has(term) ||
          term.startsWith("@")) return
      if (defined.get(term).contains(false))
        err(s"cyclic IRI mapping through term '$term'")
      defined(term) = false
      if (term.isEmpty) err("the empty string is not a valid term")
      val v = obj.get(term)

      // recursively define any term/prefix the value depends on FIRST,
      // then expand against the up-to-date definitions (a snapshot
      // taken before the recursion would miss them)
      def expandWithLocal(value: String, vocabMode: Boolean): String = {
        if (!Keywords.contains(value)) {
          createTerm(value)
          val colon = value.indexOf(':')
          if (colon > 0) createTerm(value.substring(0, colon))
        }
        expandIri(Ctx(base, vocab, lang, defs.toMap), value,
          vocabMode, docRel = false)
      }

      val td: TermDef =
        if (v.isNull) TermDef(iri = null)
        else if (v.isTextual) {
          val iri = expandWithLocal(v.asText, vocabMode = true)
          if (iri == null)
            err(s"term '$term' expands to null (no @vocab for '${v.asText}')")
          // simple string definitions are prefix-usable (JSON-LD 1.0
          // behavior, still how 1.1 treats gen-delim-terminated terms)
          TermDef(iri, prefix = true)
        } else if (v.isObject) {
          val o = v.asInstanceOf[ObjectNode]
          o.fieldNames.forEachRemaining { k =>
            if (!Set("@id", "@type", "@language", "@container", "@reverse",
                "@prefix", "@context", "@nest").contains(k))
              err(s"unsupported key '$k' in the definition of term '$term'")
          }
          // term-definition @nest (json-ld11 §9.15.1): names the nest key
          // the term is grouped under when COMPACTING; expansion (toRdf,
          // this reader) is unchanged, but the value must be valid —
          // "@nest" itself or a term that expands to @nest
          Option(o.get("@nest")).foreach { nv =>
            if (!nv.isTextual) err(s"term '$term': @nest must be a string")
            val nx = nv.asText
            if (nx != "@nest" &&
                expandWithLocal(nx, vocabMode = true) != "@nest")
              err(s"term '$term': @nest value '$nx' must expand to @nest")
          }
          val reverse = o.has("@reverse")
          val idNode = if (reverse) o.get("@reverse") else o.get("@id")
          val iri =
            if (idNode != null && idNode.isNull) null
            else if (idNode != null) {
              if (!idNode.isTextual) err(s"term '$term': @id must be a string")
              expandWithLocal(idNode.asText, vocabMode = true)
            } else {
              // no @id: the term itself expands (compact IRI or @vocab)
              val colon = term.indexOf(':')
              if (colon > 0) expandWithLocal(term, vocabMode = true)
              else vocab match {
                case Some(vo) => vo + term
                case None => err(
                  s"term '$term' has no @id and no @vocab is in scope")
              }
            }
          if (reverse && iri == null)
            err(s"reverse term '$term' cannot map to null")
          val tpe = Option(o.get("@type")).map { t =>
            if (!t.isTextual) err(s"term '$term': @type must be a string")
            val tx = t.asText
            if (tx == "@id" || tx == "@vocab" || tx == "@json") tx
            else {
              val e = expandWithLocal(tx, vocabMode = true)
              if (e == null || !(IriRef.isAbsolute(e) || e.startsWith("_:")))
                err(s"term '$term': @type must expand to an absolute IRI")
              e
            }
          }
          val lng = Option(o.get("@language")).map { l =>
            if (l.isNull) None
            else if (l.isTextual) Some(l.asText)
            else err(s"term '$term': @language must be a string or null")
          }
          val containers: Set[String] = Option(o.get("@container")).map { c =>
            val items =
              if (c.isTextual) Seq(c.asText)
              else if (c.isArray) {
                val b = Seq.newBuilder[String]
                c.forEach(i => b += (if (i.isTextual) i.asText
                  else err(s"term '$term': bad @container entry")))
                b.result()
              } else err(s"term '$term': @container must be string or array")
            items.foreach {
              case "@list" | "@set" | "@index" | "@language" | "@id" |
                   "@type" | "@graph" => ()
              case other => err(
                s"term '$term': @container $other is not supported " +
                  "(supported: @list, @set, @index, @language, @id, " +
                  "@type, @graph)")
            }
            if (items.contains("@list") && items.size > 1)
              err(s"term '$term': @list combines with no other container")
            if (items.contains("@graph") &&
                !items.forall(Set("@graph", "@set", "@id", "@index")))
              err(s"term '$term': @graph combines only with @id, @index, @set")
            if (items.contains("@graph") && items.contains("@id") &&
                items.contains("@index"))
              err(s"term '$term': @graph takes @id or @index, not both")
            items.toSet
          }.getOrElse(Set.empty)
          if (reverse && containers.exists(c => c != "@set" && c != "@index"))
            err(s"reverse term '$term' only supports @set/@index containers")
          val prefixFlag = Option(o.get("@prefix")).exists { p =>
            if (!p.isBoolean) err(s"term '$term': @prefix must be a boolean")
            p.asBoolean
          }
          TermDef(iri, tpe, lng, containers, reverse, prefixFlag,
            scoped = Option(o.get("@context")))
        } else err(s"invalid term definition for '$term'")

      defs(term) = td
      defined(term) = true
    }

    obj.fieldNames.forEachRemaining { k =>
      if (!k.startsWith("@")) createTerm(k)
      else if (!Set("@base", "@vocab", "@language", "@version",
          "@propagate").contains(k))
        err(s"unsupported context keyword $k")
    }
    val propagate = Option(obj.get("@propagate")).map { p =>
      if (!p.isBoolean) err("@propagate must be a boolean")
      p.asBoolean
    }
    val result = Ctx(base, vocab, lang, defs.toMap)
    // @propagate: false (json-ld11 §4.1.9): the context applies to the
    // CURRENT node object only — nested node objects revert to the
    // active context, via the same previous-pointer mechanism as the
    // type-scoped non-propagation default
    if (propagate.contains(false))
      result.copy(previous = Some(active.copy(previous = None)))
    else result
  }

  /** Does a scoped-context VALUE explicitly declare `@propagate: true`?
    * (Overrides the type-scoped non-propagation default, §4.1.9.) */
  private def declaresPropagate(sc: JsonNode): Boolean = sc match {
    case o: ObjectNode =>
      Option(o.get("@propagate")).exists(p => p.isBoolean && p.asBoolean)
    case _ => false
  }

  /** IRI expansion (json-ld11-api §5.2): keyword pass-through, term
    * lookup, compact IRI, then @vocab (vocab mode) or base resolution
    * (document-relative mode); null = dropped. `local` hooks recursive
    * term creation during context processing. */
  private def expandIri(ctx: Ctx, value: String, vocabMode: Boolean,
      docRel: Boolean): String = {
    if (value == null) return null
    if (Keywords.contains(value)) return value
    // plain terms resolve only in VOCAB mode (json-ld11-api §5.2 step
    // 4): an `@id` value that happens to equal a term is still a
    // document-relative IRI reference, not the term
    if (vocabMode) ctx.terms.get(value) match {
      case Some(td) => return td.iri // null for null-mapped terms
      case None => ()
    }
    val colon = value.indexOf(':')
    if (colon > 0) {
      val pfx = value.substring(0, colon)
      val sfx = value.substring(colon + 1)
      if (pfx == "_" || sfx.startsWith("//")) return value
      ctx.terms.get(pfx) match {
        case Some(td) if td.iri != null && td.prefix => return td.iri + sfx
        case _ => return value // absolute IRI with a real scheme
      }
    }
    if (vocabMode && ctx.vocab.isDefined) ctx.vocab.get + value
    else if (docRel) {
      val r = IriRef.resolve(ctx.base, value)
      if (r.isEmpty) null else r
    } else null
  }

  // ----------------------------------------------------- number lexicals

  /** XSD canonical double lexical form ("1.1E1" for 11.0), the
    * json-ld11-api §5.8 number serialization: %1.15E then trim. */
  private[graft] def canonicalDouble(d: Double): String = {
    if (d.isNaN) return "NaN"
    if (d.isPosInfinity) return "INF"
    if (d.isNegInfinity) return "-INF"
    val s = String.format(java.util.Locale.ROOT, "%1.15E", Double.box(d))
    val Array(m0, e0) = s.split("E")
    var m = m0
    while (m.endsWith("0")) m = m.substring(0, m.length - 1)
    if (m.endsWith(".")) m += "0"
    val e = e0.replaceFirst("^\\+", "").replaceFirst("^(-?)0+(?=\\d)", "$1")
    m + "E" + e
  }

  /** RFC 8785 (JCS) canonical JSON for `rdf:JSON` literal lexicals:
    * object keys sorted by UTF-16 code units, no whitespace, minimal
    * string escapes, integers plain. Non-integral numbers need the
    * ECMAScript shortest-round-trip formatter, which this engine does
    * not implement — they are REJECTED loudly rather than canonicalized
    * wrongly. */
  private[graft] def jcs(n: JsonNode): String = {
    val sb = new StringBuilder
    def str(x: String): Unit = {
      sb += '"'
      x.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case '\b' => sb ++= "\\b"
        case '\f' => sb ++= "\\f"
        case '\n' => sb ++= "\\n"
        case '\r' => sb ++= "\\r"
        case '\t' => sb ++= "\\t"
        case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(v: JsonNode): Unit = {
      if (v.isNull) sb ++= "null"
      else if (v.isBoolean) sb ++= (if (v.asBoolean) "true" else "false")
      else if (v.isNumber) {
        if (!v.isIntegralNumber || v.bigIntegerValue.abs
            .compareTo(java.math.BigInteger.valueOf(1L << 53)) > 0)
          err("non-integral (or >2^53) numbers inside @json values are " +
            "not supported (JCS requires the ECMAScript number formatter)")
        sb ++= v.bigIntegerValue.toString
      } else if (v.isTextual) str(v.asText)
      else if (v.isArray) {
        sb += '['
        var first = true
        v.forEach { e => if (!first) sb += ','; first = false; go(e) }
        sb += ']'
      } else if (v.isObject) {
        sb += '{'
        val keys = {
          val b = Seq.newBuilder[String]
          v.fieldNames.forEachRemaining(b += _)
          b.result().sorted // UTF-16 code-unit order = String ordering
        }
        var first = true
        keys.foreach { k =>
          if (!first) sb += ','
          first = false
          str(k); sb += ':'; go(v.get(k))
        }
        sb += '}'
      } else err(s"cannot canonicalize JSON value $v")
    }
    go(n)
    sb.toString
  }

  // ------------------------------------------------------- deserializer

  /** Shared mutable state for one logical document (or one name-sorted
    * directory of parts — blank-node labels scope across parts, like
    * the concatenation semantics of `Sidecar.readParts`). */
  private final class ToRdf {
    val out = mutable.ArrayBuffer[(RdfTerm, RdfTerm, RdfTerm, Option[RdfTerm])]()
    val prefixes = mutable.Map[String, String]()
    private var bn = 0
    private val byLabel = mutable.Map[String, Blank]()
    def fresh(): Blank = { bn += 1; Blank(s"jb$bn") }
    def bnode(idValue: String): Blank = {
      val label = idValue.stripPrefix("_:")
      byLabel.getOrElseUpdate(label,
        if (label.nonEmpty && !label.startsWith("jb") &&
            label.matches("[A-Za-z0-9_][A-Za-z0-9_.\\-]*") &&
            !label.endsWith(".")) Blank(label)
        else fresh())
    }
    def emit(s: RdfTerm, p: RdfTerm, o: RdfTerm, g: Option[RdfTerm]): Unit =
      out += ((s, p, o, g))
  }

  private def asArray(n: JsonNode): Seq[JsonNode] =
    if (n == null) Nil
    else if (n.isArray) {
      val b = Seq.newBuilder[JsonNode]; n.forEach(b += _); b.result()
    } else Seq(n)

  /** Literal from a native JSON scalar under an optional coercing
    * datatype (json-ld11-api "object to RDF conversion"). */
  private def nativeLit(n: JsonNode, dt: Option[String],
      lang: Option[String]): Lit = {
    if (n.isTextual) {
      dt match {
        case Some(d) => Lit.typed(n.asText, d)
        case None => lang match {
          case Some(l) => Lit.tagged(n.asText, l)
          case None => Lit.plain(n.asText)
        }
      }
    } else if (n.isBoolean) {
      Lit.typed(if (n.asBoolean) "true" else "false",
        dt.getOrElse(XSD.ns + "boolean"))
    } else if (n.isNumber) {
      val double = !n.isIntegralNumber ||
        dt.contains(XSD.ns + "double") || Math.abs(n.asDouble) >= 1e21
      if (double) Lit.typed(canonicalDouble(n.asDouble),
        dt.getOrElse(XSD.ns + "double"))
      else Lit.typed(n.bigIntegerValue.toString,
        dt.getOrElse(XSD.ns + "integer"))
    } else err(s"cannot convert $n to an RDF literal")
  }

  /** A `{"@value": …}` object to a literal (or None when `@value` is
    * null). Keys are pre-expanded by the caller; the datatype in
    * `@type` expands against the active context (it may be a term or
    * compact IRI, e.g. `"xsd:date"`). */
  private def valueObject(fields: Seq[(String, JsonNode)],
      ctx: Ctx): Option[RdfTerm] = {
    val m = fields.toMap
    m.keys.foreach {
      case "@value" | "@type" | "@language" | "@index" | "@direction" => ()
      case k => err(s"invalid key $k in a value object")
    }
    val v = m("@value")
    if (v.isNull) return None
    val jsonTyped = m.get("@type").exists(t => t.isTextual &&
      expandIri(ctx, t.asText, vocabMode = true, docRel = false) == "@json")
    if (jsonTyped) {
      if (m.contains("@language"))
        err("a value object cannot carry both @type and @language")
      return Some(Lit.typed(jcs(v), RDF.ns + "JSON"))
    }
    if (v.isObject || v.isArray) err("@value must be a JSON scalar")
    val tpe = m.get("@type").map { t =>
      if (!t.isTextual) err("@type of a value object must be a string")
      val e = expandIri(ctx, t.asText, vocabMode = true, docRel = true)
      if (e == null || !IriRef.isAbsolute(e))
        err(s"@type of a value object must expand to an absolute IRI: " +
          t.asText)
      e
    }
    val lang = m.get("@language").map { l =>
      if (!l.isTextual) err("@language must be a string")
      if (!v.isTextual) err("@language applies only to string values")
      l.asText
    }
    if (tpe.isDefined && lang.isDefined)
      err("a value object cannot carry both @type and @language")
    // @direction (JSON-LD 1.1) → RDF 1.2 rdf:dirLangString, encoded as
    // the `tag--dir` lang form the rest of the engine shares
    val dir = m.get("@direction").map { d =>
      if (!d.isTextual || !Set("ltr", "rtl")(d.asText))
        err("""@direction must be "ltr" or "rtl"""")
      if (tpe.isDefined) err("@direction cannot combine with @type")
      if (lang.isEmpty) err("@direction requires @language here " +
        "(rdf:dirLangString carries a language tag; i18n-datatype " +
        "mode is not supported)")
      d.asText
    }
    Some(lang match {
      case Some(l) =>
        Lit.tagged(v.asText, l + dir.map("--" + _).getOrElse(""))
      case None => nativeLit(v, tpe, None)
    })
  }

  private def rdfList(items: Seq[RdfTerm], st: ToRdf,
      g: Option[RdfTerm]): RdfTerm =
    items.foldRight[RdfTerm](Iri(RDF.ns + "nil")) { (item, rest) =>
      val node = st.fresh()
      st.emit(node, Iri(RDF.ns + "first"), item, g)
      st.emit(node, Iri(RDF.ns + "rest"), rest, g)
      node
    }

  /** One value in object position → an RDF term (emitting any nested
    * node's triples). `td` carries the active term's coercions. */
  private def termOf(n: JsonNode, ctx: Ctx, td: TermDef, st: ToRdf,
      g: Option[RdfTerm]): Option[RdfTerm] = {
    if (n == null || n.isNull) return None
    // @type: @json — the WHOLE value (scalar, object or array) becomes
    // one rdf:JSON literal in JCS canonical form
    if (td.tpe.contains("@json"))
      return Some(Lit.typed(jcs(n), RDF.ns + "JSON"))
    if (!n.isObject && !n.isArray) {
      // scalar under the term's coercion
      td.tpe match {
        case Some("@id") | Some("@vocab") =>
          if (!n.isTextual) err("@type: @id coerces only string values")
          val iri = expandIri(ctx, n.asText, td.tpe.contains("@vocab"),
            docRel = true)
          return Option(iri).map(i => if (i.startsWith("_:")) st.bnode(i)
            else Iri(i))
        case Some(dt) => return Some(nativeLit(n, Some(dt), None))
        case None =>
          val lang = td.lang match {
            case Some(l) => l // term override, possibly the null override
            case None => ctx.lang
          }
          return Some(nativeLit(n, None, lang))
      }
    }
    if (n.isArray) err("nested bare arrays are not valid JSON-LD")
    val obj = n.asInstanceOf[ObjectNode]
    val ctx2 = Option(obj.get("@context"))
      .map(processContext(ctx, _, ctx.base)).getOrElse(ctx)
    val fields = expandKeys(obj, ctx2)
    val keys = fields.map(_._1).toSet
    if (keys.contains("@value")) return valueObject(fields, ctx2)
    if (keys.contains("@list")) {
      if (keys.exists(k => k != "@list" && k != "@index" && k != "@context"))
        err("a list object allows only @list and @index")
      val items = asArray(fields.toMap.apply("@list"))
        .flatMap(termOf(_, ctx2, td.copy(container = Set.empty), st, g))
      return Some(rdfList(items, st, g))
    }
    if (keys.contains("@set")) {
      if (keys.exists(k => k != "@set" && k != "@index" && k != "@context"))
        err("a set object allows only @set and @index")
      val items = asArray(fields.toMap.apply("@set"))
        .flatMap(termOf(_, ctx2, td, st, g))
      if (items.size > 1) err("a @set in single-value position must " +
        "hold at most one value (use it under the property directly)")
      return items.headOption
    }
    Some(nodeObject(obj, ctx, g, st)) // re-processes @context itself
  }

  /** Expand an object's keys against the context; keyword aliases
    * resolve here. Returns (expandedKey → value) in document order with
    * the ORIGINAL key's term definition recoverable via `ctx.terms`. */
  private def expandKeys(obj: ObjectNode,
      ctx: Ctx): Seq[(String, JsonNode)] = {
    val b = Seq.newBuilder[(String, JsonNode)]
    obj.fields.forEachRemaining { e =>
      if (e.getKey != "@context") {
        val k = expandIri(ctx, e.getKey, vocabMode = true, docRel = false)
        if (k != null) b += ((k, e.getValue))
      }
    }
    b.result()
  }

  /** Deserialize one node object, emitting its triples; returns its
    * subject term. */
  private def nodeObject(obj: ObjectNode, outer: Ctx, g: Option[RdfTerm],
      st: ToRdf): RdfTerm = {
    // a non-propagating (type-scoped) context reverts on the next node
    // object — except a pure node REFERENCE, whose @id still expands
    // under it (json-ld11-api expansion step 8)
    val isNodeRef = {
      var only = true
      obj.fieldNames.forEachRemaining { k =>
        if (expandIri(outer, k, vocabMode = true, docRel = false) != "@id")
          only = false
      }
      only && obj.size > 0
    }
    val outerEff =
      if (isNodeRef) outer else outer.previous.getOrElse(outer)
    val ctx0 = Option(obj.get("@context"))
      .map(processContext(outerEff, _, outerEff.base)).getOrElse(outerEff)

    // TYPE-scoped contexts (§4.1.9): a scoped context on a term used as
    // a value of @type activates for THIS node, in lexical order of the
    // raw type strings, and does not propagate (previous = ctx0)
    val rawTypes = {
      val b = Seq.newBuilder[String]
      obj.fields.forEachRemaining { e =>
        if (e.getKey != "@context" &&
            expandIri(ctx0, e.getKey, vocabMode = true,
              docRel = false) == "@type")
          asArray(e.getValue).foreach(t => if (t.isTextual) b += t.asText)
      }
      b.result()
    }
    val ctx = rawTypes.sorted.foldLeft(ctx0) { (c, t) =>
      c.terms.get(t).flatMap(_.scoped) match {
        case Some(sc) =>
          val applied = processContext(c, sc, c.base)
          // a type-scoped context declaring @propagate: true stays in
          // effect for nested node objects (§4.1.9 override)
          if (declaresPropagate(sc)) applied.copy(previous = None)
          else applied.copy(previous = Some(ctx0.copy(previous = None)))
        case None => c
      }
    }
    // surface prefix-shaped top-level terms for display round trips
    ctx.terms.foreach { case (t, td) =>
      if (td != null && td.iri != null && td.prefix && !t.contains(':') &&
          (td.iri.endsWith("/") || td.iri.endsWith("#")))
        st.prefixes.getOrElseUpdate(t, td.iri)
    }

    // original keys in document order, paired with their expansion
    val origKeys = {
      val b = Seq.newBuilder[(String, String, JsonNode)]
      obj.fields.forEachRemaining { e =>
        if (e.getKey != "@context") {
          val k = expandIri(ctx, e.getKey, vocabMode = true, docRel = false)
          if (k != null) b += ((e.getKey, k, e.getValue))
        }
      }
      b.result()
    }
    val byExpanded = origKeys.groupBy(_._2)

    byExpanded.keys.foreach {
      case k if k == "@value" || k == "@list" || k == "@set" =>
        err(s"$k cannot appear in a node object")
      case _ => ()
    }

    val id: RdfTerm = byExpanded.get("@id") match {
      case Some(Seq((_, _, v))) =>
        if (!v.isTextual) err("@id must be a string")
        val raw = v.asText
        if (raw.startsWith("_:")) st.bnode(raw)
        else {
          val iri = expandIri(ctx, raw, vocabMode = false, docRel = true)
          if (iri == null) st.fresh()
          else if (iri.startsWith("_:")) st.bnode(iri)
          else Iri(iri)
        }
      case Some(_) => err("duplicate @id (via aliases)")
      case None => st.fresh()
    }

    for ((_, _, v) <- byExpanded.getOrElse("@type", Nil);
         t <- asArray(v)) {
      if (!t.isTextual) err("@type values must be strings")
      val iri = expandIri(ctx, t.asText, vocabMode = true, docRel = true)
      if (iri != null)
        st.emit(id, Iri(RDF.ns + "type"),
          if (iri.startsWith("_:")) st.bnode(iri) else Iri(iri), g)
    }

    for ((_, _, v) <- byExpanded.getOrElse("@reverse", Nil)) {
      if (!v.isObject) err("@reverse must be a map of properties")
      val rctx = ctx
      v.fields.forEachRemaining { e =>
        val p = expandIri(rctx, e.getKey, vocabMode = true, docRel = false)
        if (p != null && !Keywords.contains(p) && !p.startsWith("_:")) {
          val td = rctx.terms.getOrElse(e.getKey, TermDef(p))
          asArray(e.getValue).foreach { item =>
            if (!item.isObject) err("@reverse values must be node objects")
            termOf(item, rctx, td, st, g).foreach { o =>
              if (o.isInstanceOf[Lit]) err("@reverse value cannot be a literal")
              st.emit(o, Iri(p), id, g)
            }
          }
        }
      }
    }

    def keyOf(item: JsonNode, kw: String): Boolean =
      item.isObject && {
        var has = false
        item.fieldNames.forEachRemaining(k =>
          if (expandIri(ctx, k, vocabMode = true, docRel = false) == kw)
            has = true)
        has
      }
    for ((_, _, v) <- byExpanded.getOrElse("@graph", Nil)) {
      // a node that carries @id + @graph names a graph; a bare @graph
      // (the document-level wrapper) stays in the active graph
      val target = if (byExpanded.contains("@id")) Some(id) else g
      asArray(v).foreach { item =>
        // free-floating LIST objects drop in toRdf (expansion removes
        // value/list objects with no enclosing property) — without the
        // skip their rdf:first/rest scaffolding would leak; bare
        // scalars and value objects already yield no triples here
        if (!keyOf(item, "@list")) termOf(item, ctx, TermDef(null), st, target)
      }
    }
    for ((_, _, v) <- byExpanded.getOrElse("@included", Nil))
      asArray(v).foreach { item =>
        // §4.7: @included carries NODE objects only
        if (!item.isObject || keyOf(item, "@value") || keyOf(item, "@list"))
          err("@included entries must be node objects")
        termOf(item, ctx, TermDef(null), st, g)
      }

    def processProp(orig: String, expanded: String, v: JsonNode): Unit = {
      if (expanded == "@nest") {
        // @nest (json-ld11 §4.3.3): a purely syntactic grouping — the
        // nest object's entries expand as if they sat on the PARENT
        // node (nest objects may nest further; value objects may not)
        asArray(v).foreach { item =>
          if (!item.isObject) err("@nest values must be maps")
          val inner = Seq.newBuilder[(String, String, JsonNode)]
          item.fields.forEachRemaining { e =>
            if (e.getKey != "@context") {
              val k = expandIri(ctx, e.getKey, vocabMode = true,
                docRel = false)
              if (k != null) inner += ((e.getKey, k, e.getValue))
            }
          }
          val fields = inner.result()
          if (fields.exists(_._2 == "@value"))
            err("a nest object cannot be a value object")
          fields.foreach { case (io, ie, iv) => processProp(io, ie, iv) }
        }
      } else if (!expanded.startsWith("@") && !expanded.startsWith("_:") &&
          IriRef.isAbsolute(expanded)) {
        val p = Iri(expanded)
        val td = ctx.terms.getOrElse(orig, TermDef(expanded))
        // property-scoped context: processed against the ACTIVE context
        // at each use site (json-ld11 §4.1.8)
        val vctx = td.scoped.map(processContext(ctx, _, ctx.base))
          .getOrElse(ctx)
        def one(item: JsonNode): Unit =
          termOf(item, vctx, td, st, g).foreach { o =>
            if (td.reverse) {
              if (o.isInstanceOf[Lit])
                err(s"reverse property $orig cannot take a literal")
              st.emit(o, p, id, g)
            } else st.emit(id, p, o, g)
          }
        if (td.tpe.contains("@json")) {
          if (td.reverse) err(s"reverse property $orig cannot take literals")
          st.emit(id, p, Lit.typed(jcs(v), RDF.ns + "JSON"), g)
        } else if (td.container.contains("@language")) {
          if (!v.isObject) err(s"$orig: a language map must be an object")
          v.fields.forEachRemaining { e =>
            val lang = e.getKey
            asArray(e.getValue).foreach { s =>
              if (!s.isTextual) err(s"$orig: language-map values are strings")
              val lit = if (lang == "@none") Lit.plain(s.asText)
                else Lit.tagged(s.asText, lang)
              if (td.reverse) err(s"reverse property $orig cannot take literals")
              st.emit(id, p, lit, g)
            }
          }
        } else if (td.container.contains("@graph")) {
          // graph containers (json-ld11 §4.9): each value becomes the
          // CONTENT of a named graph; the property relates the node to
          // the graph's name — a fresh blank node, or the map key
          // under @container [@graph, @id] ("@none" → fresh bnode);
          // [@graph, @index] keys are indexes and drop in to-RDF
          if (td.reverse)
            err(s"reverse property $orig cannot take a graph container")
          def graphOf(gname: RdfTerm, item: JsonNode): Unit = {
            st.emit(id, p, gname, g)
            termOf(item, vctx, td.copy(container = Set.empty), st,
              Some(gname))
          }
          if (td.container.contains("@id")) {
            if (!v.isObject) err(s"$orig: a graph-id map must be an object")
            v.fields.forEachRemaining { e =>
              val gname: RdfTerm =
                if (e.getKey == "@none") st.fresh()
                else {
                  val i = expandIri(vctx, e.getKey, vocabMode = false,
                    docRel = true)
                  if (i == null) st.fresh()
                  else if (i.startsWith("_:")) st.bnode(i)
                  else Iri(i)
                }
              asArray(e.getValue).foreach(graphOf(gname, _))
            }
          } else if (td.container.contains("@index")) {
            if (!v.isObject) err(s"$orig: a graph-index map must be an object")
            v.fields.forEachRemaining(e =>
              asArray(e.getValue).foreach(graphOf(st.fresh(), _)))
          } else asArray(v).foreach(graphOf(st.fresh(), _))
        } else if (td.container.contains("@index")) {
          if (!v.isObject) err(s"$orig: an index map must be an object")
          v.fields.forEachRemaining(e => asArray(e.getValue).foreach(one))
        } else if (td.container.contains("@id")) {
          // id map (JSON-LD 1.1 §4.6.7): each key becomes the node's
          // @id unless the node carries its own; "@none" injects none
          if (!v.isObject) err(s"$orig: an id map must be an object")
          v.fields.forEachRemaining { e =>
            asArray(e.getValue).foreach { item =>
              if (!item.isObject) err(s"$orig: id-map values are node objects")
              val node = item.deepCopy[ObjectNode]()
              val hasId = expandKeys(node, vctx).exists(_._1 == "@id")
              if (e.getKey != "@none" && !hasId) {
                val id = expandIri(vctx, e.getKey, vocabMode = false,
                  docRel = true)
                if (id != null) node.put("@id", id)
              }
              one(node)
            }
          }
        } else if (td.container.contains("@type")) {
          // type map (§4.6.8): each key adds an rdf:type to the node;
          // "@none" adds none
          if (!v.isObject) err(s"$orig: a type map must be an object")
          v.fields.forEachRemaining { e =>
            asArray(e.getValue).foreach { item =>
              val node: ObjectNode = item match {
                case o: ObjectNode => o.deepCopy[ObjectNode]()
                case s if s.isTextual =>
                  // a bare string is a node reference: {"@id": s}
                  val o = JsonNodeFactory.instance.objectNode()
                  o.put("@id", s.asText); o
                case _ => err(s"$orig: type-map values are node objects")
              }
              if (e.getKey != "@none") {
                val t = expandIri(vctx, e.getKey, vocabMode = true,
                  docRel = true)
                if (t != null) {
                  val existing = Option(node.get("@type")).toSeq
                    .flatMap(asArray)
                  val arr = node.putArray("@type")
                  arr.add(t)
                  existing.foreach(x => arr.add(x))
                }
              }
              one(node)
            }
          }
        } else if (td.container.contains("@list")) {
          val items = v match {
            case o: ObjectNode if o.has("@list") => // explicit list object
              asArray(o.get("@list"))
            case _ => asArray(v)
          }
          val terms = items.flatMap(
            termOf(_, vctx, td.copy(container = Set.empty), st, g))
          st.emit(id, p, rdfList(terms, st, g), g)
        } else asArray(v).foreach { item =>
          item match {
            case o: ObjectNode if o.has("@set") =>
              asArray(o.get("@set")).foreach(one)
            case _ => one(item)
          }
        }
      }
    }
    for ((orig, expanded, v) <- origKeys) processProp(orig, expanded, v)
    id
  }

  // -------------------------------------------------------------- parse

  /** Parse one JSON-LD document to quads (graph `None` = default).
    * `contexts` maps context IRIs to their PRE-FETCHED raw JSON —
    * the offline resolution path for documents that reference remote
    * contexts (the engine itself never retrieves anything). */
  def parseQuads(json: String, base: String = "",
      contexts: Map[String, String] = Map.empty)
      : Seq[(RdfTerm, RdfTerm, RdfTerm, Option[RdfTerm])] = {
    val st = new ToRdf
    parseInto(json, base, st, contexts)
    st.out.toSeq.distinct
  }

  /** Triples of the default graph plus all named graphs flattened —
    * for callers that want a plain graph view. */
  def parseTriples(json: String, base: String = "",
      contexts: Map[String, String] = Map.empty)
      : Seq[(RdfTerm, RdfTerm, RdfTerm)] =
    parseQuads(json, base, contexts).map { case (s, p, o, _) => (s, p, o) }

  private def parseInto(json: String, base: String, st: ToRdf,
      contexts: Map[String, String]): Unit = {
    val root =
      try mapper().readTree(json)
      catch { case e: Exception =>
        err(s"malformed JSON: ${e.getMessage}")
      }
    if (root == null) err("empty document")
    val ctx = initialCtx(base, contexts)
    root match {
      case a: ArrayNode =>
        a.forEach {
          case o: ObjectNode => nodeObject(o, ctx, None, st)
          case other => err(s"top-level array entries must be node " +
            s"objects, got $other")
        }
      case o: ObjectNode => nodeObject(o, ctx, None, st)
      case other => err(s"a JSON-LD document is an object or array, got $other")
    }
  }

  /** Parse into an [[RdfGraph]] (quad store if any named graph appears,
    * plain triple graph otherwise); prefix-shaped context terms carry
    * over for display. */
  def parse(json: String, spark: SparkSession, base: String = "",
      contexts: Map[String, String] = Map.empty): RdfGraph = {
    val st = new ToRdf
    parseInto(json, base, st, contexts)
    graphOf(spark, st)
  }

  private def graphOf(spark: SparkSession, st: ToRdf): RdfGraph = {
    val quads = st.out.toSeq.distinct
    if (quads.exists(_._4.isDefined))
      RdfGraph.fromQuads(spark, quads, st.prefixes.toMap)
    else
      RdfGraph.fromTriples(spark, quads.map { case (s, p, o, _) => (s, p, o) },
        st.prefixes.toMap)
  }

  /** Read a file, or a [[write]]-produced directory of part files,
    * back into a graph. Directory parts fold in name order into ONE
    * blank-node scope (concatenation semantics — a labeled bnode split
    * across parts stays one node; see `Sidecar.readParts`). */
  def read(spark: SparkSession, path: String, base: String = "",
      contexts: Map[String, String] = Map.empty): RdfGraph = {
    val st = new ToRdf
    Sidecar.readParts(spark.sparkContext.hadoopConfiguration, path)
      .foreach(parseInto(_, base, st, contexts))
    graphOf(spark, st)
  }

  // -------------------------------------------------------- serializers

  /** Compact an IRI against the prefix map (longest namespace wins);
    * suffixes that would not re-expand (a "//" start) stay full. */
  private def compact(iri: String, prefixes: Seq[(String, String)]): String =
    prefixes.collectFirst {
      case (pfx, ns) if iri.startsWith(ns) && iri.length > ns.length &&
          !iri.substring(ns.length).startsWith("//") =>
        pfx + ":" + iri.substring(ns.length)
    }.getOrElse(iri)

  private val CanonicalInt = "^-?(0|[1-9][0-9]*)$".r

  /** One literal/IRI row-struct field → a compacted JSON value node. */
  private def valueNode(r: org.apache.spark.sql.Row, nf: JsonNodeFactory,
      prefixes: Seq[(String, String)], full: Boolean): JsonNode = {
    r.getByte(0) match {
      case Terms.KIND_IRI =>
        val o = nf.objectNode()
        o.put("@id", if (full) r.getString(1) else compact(r.getString(1), prefixes))
        o
      case Terms.KIND_BLANK =>
        val o = nf.objectNode(); o.put("@id", "_:" + r.getString(1)); o
      case Terms.KIND_LIT =>
        val lex = r.getString(1); val dt = r.getString(2)
        val lang = r.getString(3)
        if (lang != null) {
          val o = nf.objectNode()
          o.put("@value", lex)
          // dirLangString: the encoded `tag--dir` splits back into the
          // JSON-LD 1.1 @language + @direction pair
          val dd = lang.indexOf("--")
          if (dd >= 0) {
            o.put("@language", lang.substring(0, dd))
            o.put("@direction", lang.substring(dd + 2))
          } else o.put("@language", lang)
          o
        } else if (dt == XSD.string) nf.textNode(lex)
        else if (dt == XSD.ns + "boolean" && (lex == "true" || lex == "false"))
          nf.booleanNode(lex == "true")
        else if (dt == XSD.ns + "integer" && CanonicalInt.matches(lex))
          nf.numberNode(new java.math.BigInteger(lex))
        else {
          // canonical rdf:JSON literals embed as native JSON under
          // @type: @json; anything else (incl. a non-canonical JSON
          // lexical) stays an ordinary typed value object, which
          // round-trips unchanged
          val asJson =
            if (dt == RDF.ns + "JSON")
              (try Some(mapper().readTree(lex)) catch {
                case _: Exception => None
              }).filter(pn => try jcs(pn) == lex catch {
                case _: Exception => false
              })
            else None
          asJson match {
            case Some(pn) =>
              val o = nf.objectNode()
              o.set[JsonNode]("@value", pn.deepCopy[JsonNode]())
              o.put("@type", "@json")
              o
            case None =>
              val o = nf.objectNode()
              o.put("@value", lex)
              o.put("@type", if (full) dt else compact(dt, prefixes))
              o
          }
        }
      case Terms.KIND_TRIPLE =>
        throw new IllegalArgumentException(
          "quoted triples have no JSON-LD serialization")
      case other =>
        throw new IllegalArgumentException(s"unknown term kind $other")
    }
  }

  /** Node object for one subject's triples (pre-sorted by p, o). */
  private def nodeOf(s: org.apache.spark.sql.Row,
      ts: Seq[org.apache.spark.sql.Row], nf: JsonNodeFactory,
      prefixes: Seq[(String, String)], full: Boolean): ObjectNode = {
    val node = nf.objectNode()
    s.getByte(0) match {
      case Terms.KIND_IRI =>
        node.put("@id", if (full) s.getString(1)
          else compact(s.getString(1), prefixes))
      case Terms.KIND_BLANK => node.put("@id", "_:" + s.getString(1))
      case _ => throw new IllegalArgumentException(
        "only IRI/blank subjects serialize to JSON-LD")
    }
    val (typeRows, propRows) = ts.partition { r =>
      val p = r.getStruct(1)
      p.getByte(0) == Terms.KIND_IRI && p.getString(1) == RDF.ns + "type" &&
        r.getStruct(2).getByte(0) == Terms.KIND_IRI
    }
    if (typeRows.nonEmpty) {
      val types = typeRows.map(r => if (full) r.getStruct(2).getString(1)
        else compact(r.getStruct(2).getString(1), prefixes)).distinct
      if (types.size == 1) node.put("@type", types.head)
      else {
        val a = node.putArray("@type"); types.foreach(a.add)
      }
    }
    propRows.groupBy(_.getStruct(1).getString(1)).toSeq.sortBy(_._1)
      .foreach { case (pIri, rows) =>
        val key = if (full) pIri else compact(pIri, prefixes)
        val vals = rows.map(r => valueNode(r.getStruct(2), nf, prefixes, full))
        // explicit type arg: set[T <: JsonNode] infers T=Nothing in
        // statement position and then CCEs at runtime
        if (vals.size == 1) node.set[JsonNode](key, vals.head)
        else { val a = node.putArray(key); vals.foreach(v => a.add(v)) }
      }
    node
  }

  /** Full compacted JSON-LD document (driver-side display/export path —
    * collects with a total order; [[write]] is the distributed twin).
    * The graph's prefixes become `@context`; subjects group to one
    * node object each; named graphs nest as graph objects after the
    * default graph's nodes. */
  def serialize(g: RdfGraph): String = {
    val nf = JsonNodeFactory.instance
    // JSON-LD forbids the empty string as a context term, so a Turtle
    // default-namespace binding (prefix "") cannot ride along — drop it
    // from both the emitted context and the compaction table (IRIs in
    // that namespace serialize expanded)
    val named = g.prefixes.filter(_._1.nonEmpty)
    val prefixes = named.toSeq.sortBy(-_._2.length)
    val doc = nf.objectNode()
    val ctx = doc.putObject("@context")
    named.toSeq.sortBy(_._1).foreach { case (p, ns) => ctx.put(p, ns) }
    val graphArr = doc.putArray("@graph")

    def nodesInto(arr: ArrayNode, rows: Seq[org.apache.spark.sql.Row]): Unit =
      rows.groupBy(_.getStruct(0)).toSeq
        .sortBy { case (s, _) => (s.getByte(0), s.getString(1)) }
        .foreach { case (s, ts) =>
          arr.add(nodeOf(s, ts, nf, prefixes, full = false))
        }

    if (g.isQuads) {
      val all = g.triples.orderBy("g.value", "s.value", "p.value", "o.value")
        .collect().toSeq
      nodesInto(graphArr, all.filter(_.isNullAt(3)).map(r =>
        org.apache.spark.sql.Row(r.getStruct(0), r.getStruct(1), r.getStruct(2))))
      all.filter(!_.isNullAt(3)).groupBy(_.getStruct(3)).toSeq
        .sortBy { case (gt, _) => (gt.getByte(0), gt.getString(1)) }
        .foreach { case (gt, rows) =>
          val go = nf.objectNode()
          go.put("@id", gt.getByte(0) match {
            case Terms.KIND_IRI => compact(gt.getString(1), prefixes)
            case Terms.KIND_BLANK => "_:" + gt.getString(1)
            case _ => throw new IllegalArgumentException("bad graph name")
          })
          val ga = go.putArray("@graph")
          nodesInto(ga, rows.map(r => org.apache.spark.sql.Row(
            r.getStruct(0), r.getStruct(1), r.getStruct(2))))
          graphArr.add(go)
        }
    } else {
      nodesInto(graphArr,
        g.triples.orderBy("s.value", "p.value", "o.value").collect().toSeq)
    }
    mapper().writerWithDefaultPrettyPrinter().writeValueAsString(doc) + "\n"
  }

  // --------------------------------------------- user-context compaction

  /** Environment for compaction under a USER context: term candidates
    * per IRI, prefix-capable terms, and the active context for
    * VERIFYING that every compact form re-expands to what it encodes
    * (ambiguous forms fall back to the full IRI — round-trip safety
    * beats brevity). */
  private final class CompactEnv(val ctx: Ctx) {
    val byIri: Map[String, Seq[(String, TermDef)]] = ctx.terms.toSeq
      .collect {
        case (t, td) if td != null && td.iri != null && !td.reverse &&
          !Keywords.contains(td.iri) && td.scoped.isEmpty => (t, td)
      }.groupBy(_._2.iri).view.mapValues(_.sortBy(_._1)).toMap
    val prefixes: Seq[(String, String)] = ctx.terms.toSeq.collect {
      case (t, td) if td != null && td.iri != null && td.prefix &&
        td.scoped.isEmpty => (t, td.iri)
    }.sortBy(-_._2.length)

    /** Property/@type position: coercion-free term, else @vocab
      * suffix, else compact IRI, else full — each candidate verified
      * by re-expansion. */
    def vocabForm(iri: String): String = {
      val term = byIri.getOrElse(iri, Nil).collectFirst {
        case (t, td) if td.tpe.isEmpty && td.lang.isEmpty &&
          td.container.isEmpty => t
      }
      val vocabSfx = ctx.vocab.collect {
        case v if iri.startsWith(v) && iri.length > v.length =>
          iri.substring(v.length)
      }
      val cpt = Some(compact(iri, prefixes)).filter(_ != iri)
      (term.toSeq ++ vocabSfx.toSeq ++ cpt.toSeq)
        .find(f => expandIri(ctx, f, vocabMode = true, docRel = false) == iri)
        .getOrElse(iri)
    }

    /** `@id` position: compact IRI or full (terms/@vocab never expand
      * here). */
    def idForm(iri: String): String =
      Some(compact(iri, prefixes))
        .filter(f => f != iri &&
          expandIri(ctx, f, vocabMode = false, docRel = false) == iri)
        .getOrElse(iri)
  }

  /** One object term under a (possibly coercing) chosen term. */
  private def compactValue(r: org.apache.spark.sql.Row, td: Option[TermDef],
      env: CompactEnv, nf: JsonNodeFactory): JsonNode = {
    val kind = r.getByte(0)
    td match {
      case Some(d) if d.tpe.contains("@id") && kind != Terms.KIND_LIT =>
        nf.textNode(if (kind == Terms.KIND_BLANK) "_:" + r.getString(1)
          else env.idForm(r.getString(1)))
      case Some(d) if d.tpe.exists(t => t != "@id" && t != "@vocab") &&
          kind == Terms.KIND_LIT && r.getString(2) == d.tpe.get &&
          r.getString(3) == null =>
        val lex = r.getString(1)
        if (d.tpe.get == XSD.ns + "integer" && CanonicalInt.matches(lex))
          nf.numberNode(new java.math.BigInteger(lex))
        else if (d.tpe.get == XSD.ns + "boolean" &&
            (lex == "true" || lex == "false")) nf.booleanNode(lex == "true")
        else nf.textNode(lex)
      case Some(d) if d.lang.exists(_.isDefined) &&
          kind == Terms.KIND_LIT && r.getString(3) == d.lang.get.get =>
        nf.textNode(r.getString(1))
      case _ =>
        // plain rendering with user-context compaction; a default
        // @language in the context forces explicit value objects for
        // plain strings (a bare string would re-parse tagged)
        kind match {
          case Terms.KIND_IRI =>
            val o = nf.objectNode(); o.put("@id", env.idForm(r.getString(1))); o
          case Terms.KIND_BLANK =>
            val o = nf.objectNode(); o.put("@id", "_:" + r.getString(1)); o
          case Terms.KIND_LIT =>
            val lex = r.getString(1); val dt = r.getString(2)
            val lang = r.getString(3)
            if (lang != null) {
              if (env.ctx.lang.contains(lang)) nf.textNode(lex)
              else {
                val o = nf.objectNode()
                o.put("@value", lex)
                val dd = lang.indexOf("--")
                if (dd >= 0) {
                  o.put("@language", lang.substring(0, dd))
                  o.put("@direction", lang.substring(dd + 2))
                } else o.put("@language", lang)
                o
              }
            } else if (dt == XSD.string) {
              if (env.ctx.lang.isEmpty) nf.textNode(lex)
              else { val o = nf.objectNode(); o.put("@value", lex); o }
            } else if (dt == XSD.ns + "boolean" &&
                (lex == "true" || lex == "false") && env.ctx.lang.isEmpty)
              nf.booleanNode(lex == "true")
            else if (dt == XSD.ns + "integer" && CanonicalInt.matches(lex) &&
                env.ctx.lang.isEmpty)
              nf.numberNode(new java.math.BigInteger(lex))
            else {
              val o = nf.objectNode()
              o.put("@value", lex)
              o.put("@type", env.vocabForm(dt))
              o
            }
          case _ => throw new IllegalArgumentException(
            "quoted triples have no JSON-LD serialization")
        }
    }
  }

  /** Choose a coercing term for a property given ALL its values (a
    * coercion must hold for every value or the key falls back to the
    * plain form). */
  private def chooseTerm(iri: String, objs: Seq[org.apache.spark.sql.Row],
      env: CompactEnv): Option[(String, TermDef)] = {
    def allIriish = objs.forall(_.getByte(0) != Terms.KIND_LIT)
    def allTyped(dt: String) = objs.forall(o =>
      o.getByte(0) == Terms.KIND_LIT && o.getString(2) == dt &&
        o.getString(3) == null)
    def allTagged(l: String) = objs.forall(o =>
      o.getByte(0) == Terms.KIND_LIT && o.getString(3) == l)
    env.byIri.getOrElse(iri, Nil).collectFirst {
      case (t, td) if td.container.isEmpty &&
          td.tpe.contains("@id") && allIriish => (t, td)
      case (t, td) if td.container.isEmpty && td.lang.isEmpty &&
          td.tpe.exists(x => x != "@id" && x != "@vocab" &&
            allTyped(x)) => (t, td)
      case (t, td) if td.container.isEmpty && td.tpe.isEmpty &&
          td.lang.exists(_.exists(allTagged)) => (t, td)
    }
  }

  /** Compacted document under a USER-SUPPLIED context (the API-level
    * `compact` verb; [[serialize]] is the prefix-only convenience).
    * The context may be a bare context object or a `{"@context": ...}`
    * wrapper, with remote references resolved from `contexts` like the
    * reader. Term COERCIONS apply when they hold for every value of a
    * property (`@type: @id` renders IRIs as strings, datatype terms as
    * bare lexicals, language terms as bare strings); every compact
    * form is verified by re-expansion, so `parse(compact(g, ctx)) == g`
    * by construction. List containers and scoped-context terms are not
    * used for compaction (their activation would change nested
    * semantics). */
  def compact(g: RdfGraph, contextJson: String,
      contexts: Map[String, String] = Map.empty): String = {
    val nf = JsonNodeFactory.instance
    val userCtx = try mapper().readTree(contextJson) catch {
      case e: Exception => err(s"malformed context JSON: ${e.getMessage}")
    }
    val ctxValue = userCtx match {
      case o: ObjectNode if o.has("@context") => o.get("@context")
      case other => other
    }
    val env = new CompactEnv(
      processContext(initialCtx("", contexts), ctxValue, ""))

    def nodeOfU(s: org.apache.spark.sql.Row,
        ts: Seq[org.apache.spark.sql.Row]): ObjectNode = {
      val node = nf.objectNode()
      s.getByte(0) match {
        case Terms.KIND_IRI => node.put("@id", env.idForm(s.getString(1)))
        case Terms.KIND_BLANK => node.put("@id", "_:" + s.getString(1))
        case _ => throw new IllegalArgumentException(
          "only IRI/blank subjects serialize to JSON-LD")
      }
      val (typeRows, propRows) = ts.partition { r =>
        val p = r.getStruct(1)
        p.getByte(0) == Terms.KIND_IRI && p.getString(1) == RDF.ns + "type" &&
          r.getStruct(2).getByte(0) == Terms.KIND_IRI
      }
      if (typeRows.nonEmpty) {
        val types = typeRows
          .map(r => env.vocabForm(r.getStruct(2).getString(1))).distinct
        if (types.size == 1) node.put("@type", types.head)
        else { val a = node.putArray("@type"); types.foreach(a.add) }
      }
      propRows.groupBy(_.getStruct(1).getString(1)).toSeq.sortBy(_._1)
        .foreach { case (pIri, rows) =>
          val objs = rows.map(_.getStruct(2))
          val chosen = chooseTerm(pIri, objs, env)
          val key = chosen.map(_._1).getOrElse(env.vocabForm(pIri))
          val vals = objs.map(compactValue(_, chosen.map(_._2), env, nf))
          if (vals.size == 1) node.set[JsonNode](key, vals.head)
          else { val a = node.putArray(key); vals.foreach(v => a.add(v)) }
        }
      node
    }

    val doc = nf.objectNode()
    doc.set[JsonNode]("@context", ctxValue)
    val graphArr = doc.putArray("@graph")
    def nodesInto(arr: ArrayNode, rows: Seq[org.apache.spark.sql.Row]): Unit =
      rows.groupBy(_.getStruct(0)).toSeq
        .sortBy { case (s, _) => (s.getByte(0), s.getString(1)) }
        .foreach { case (s, ts) => arr.add(nodeOfU(s, ts)) }

    if (g.isQuads) {
      val all = g.triples.orderBy("g.value", "s.value", "p.value", "o.value")
        .collect().toSeq
      nodesInto(graphArr, all.filter(_.isNullAt(3)).map(r =>
        org.apache.spark.sql.Row(r.getStruct(0), r.getStruct(1),
          r.getStruct(2))))
      all.filter(!_.isNullAt(3)).groupBy(_.getStruct(3)).toSeq
        .sortBy { case (gt, _) => (gt.getByte(0), gt.getString(1)) }
        .foreach { case (gt, rows) =>
          val go = nf.objectNode()
          go.put("@id", gt.getByte(0) match {
            case Terms.KIND_IRI => env.idForm(gt.getString(1))
            case Terms.KIND_BLANK => "_:" + gt.getString(1)
            case _ => throw new IllegalArgumentException("bad graph name")
          })
          val ga = go.putArray("@graph")
          nodesInto(ga, rows.map(r => org.apache.spark.sql.Row(
            r.getStruct(0), r.getStruct(1), r.getStruct(2))))
          graphArr.add(go)
        }
    } else {
      nodesInto(graphArr,
        g.triples.orderBy("s.value", "p.value", "o.value").collect().toSeq)
    }
    mapper().writerWithDefaultPrettyPrinter().writeValueAsString(doc) + "\n"
  }

  /** Distributed JSON-LD sink in EXPANDED form over the shared part
    * layout ([[PartFiles]]): every part file is a standalone-valid
    * JSON-LD document (a top-level array of node objects with full
    * IRIs — no context, so the parts need no shared header) whose union
    * is the store. Named-graph rows wrap as `{"@id": g, "@graph": [node]}`
    * graph objects (same-@id graph objects union on read). */
  def write(g: RdfGraph, path: String, numPartitions: Int = 0): Unit =
    PartFiles.write(g.triples, path, numPartitions,
      open = Some("["), sep = ",", close = Some("]")) { rows =>
      val nf = JsonNodeFactory.instance
      val head = rows.head
      val node = nodeOf(head.getStruct(0), rows, nf, Nil, full = true)
      val wrapped: JsonNode =
        if (head.isNullAt(3)) node
        else {
          val gt = head.getStruct(3)
          val go = nf.objectNode()
          go.put("@id", gt.getByte(0) match {
            case Terms.KIND_IRI => gt.getString(1)
            case Terms.KIND_BLANK => "_:" + gt.getString(1)
            case _ => throw new IllegalArgumentException("bad graph name")
          })
          go.putArray("@graph").add(node)
          go
        }
      blockWriter.writeValueAsString(wrapped)
    }

  private lazy val blockWriter = new ObjectMapper()
}
