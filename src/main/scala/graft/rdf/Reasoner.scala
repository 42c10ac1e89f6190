package graft.rdf

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.Fixpoints

/** Forward-chaining RDF reasoning at corpus scale.
  *
  * Two materialization operators the reference gets from hand-written
  * SPARQL UPDATE loops (notebooks/local/Inference_Over_RDF_Containers
  * .ipynb cells 17-33 run INSERT WHERE to a fixpoint one rule at a
  * time; rdflib users reach the same closures via owlrl):
  *
  *  - [[rdfsClosure]] — the ρdf fragment of RDFS entailment (rules
  *    rdfs2/3/5/7/9/11 over subClassOf / subPropertyOf / domain /
  *    range; Muñoz, Pérez & Gutierrez, "Minimal deductive systems for
  *    RDF", ESWC 2007), the closure that makes `?x rdf:type ?c` match
  *    superclass queries.
  *  - [[smushSameAs]] — owl:sameAs smushing: rewrite every subject /
  *    object to a canonical representative of its sameAs component,
  *    the KG half of entity deduplication.
  *
  * Scale posture (the WebPIE observation — Urbani et al., "OWL
  * reasoning with WebPIE", ESWC 2010): at 100 TB the INSTANCE data is
  * huge but the SCHEMA (the subClassOf / subPropertyOf / domain /
  * range triples) is ontology-sized — thousands of rows, not
  * billions. So the only iterated fixpoints here run on the schema
  * subset ([[graft.Fixpoints.closure]], path doubling, ⌈log₂
  * diameter⌉ rounds), and the closed hierarchies are then applied to
  * the full triple scan as ONE broadcast join per rule — rule order
  * (7 → 2/3 → 9) makes a single stratified pass complete, never an
  * instance-sized fixpoint. sameAs components iterate too, but on the
  * sameAs EDGE set (the alias pairs), not the corpus:
  * [[graft.Fixpoints.components]], the connected-components pass
  * near-duplicate grouping uses (O(log diameter) rounds).
  */
object Reasoner {
  import Terms._

  private def predIs(iri: String) =
    F.col("p.kind") === KIND_IRI && F.col("p.value") === iri

  /** Materialize the ρdf closure of `g`'s default graph: the input
    * graph plus every triple the rules below entail, set semantics.
    *
    *  - rdfs5 / rdfs11 — subPropertyOf / subClassOf are transitive
    *  - rdfs7  — `p ⊑ q  ∧  s p o  ⊢  s q o`
    *  - rdfs2  — `domain(p) = C  ∧  s p o  ⊢  s rdf:type C`
    *  - rdfs3  — `range(p) = C  ∧  s p o  ⊢  o rdf:type C` (o not a
    *    literal — a literal can't be a subject)
    *  - rdfs9  — `C ⊑ D  ∧  s rdf:type C  ⊢  s rdf:type D`
    *
    * Stratification: the schema (subClassOf / domain / range edges) is
    * read AFTER rule 7 runs, so a property declared `⊑ rdfs:subClassOf`
    * (schema-in-data) still feeds the class hierarchy. The one corner a
    * single pass cannot close — properties `⊑ rdfs:subPropertyOf`
    * itself — is out of contract, as in WebPIE §4.1 (rerun to taste).
    *
    * On a quad store the closure reads and extends the DEFAULT graph;
    * named graphs pass through untouched. Source metadata (vertical
    * index, star tables, stats) drops like any UPDATE. */
  def rdfsClosure(g: RdfGraph): RdfGraph = {
    val triples = g.defaultGraph

    // the (a, b) closure of a hierarchy's `p` edges; asserted self-loops
    // are dropped, a cycle still derives them
    def star(from: DataFrame, p: String) = Fixpoints.closure(
      from.where(predIs(p)).select(F.col("s").as("a"), F.col("o").as("b"))
        .where(!(F.col("a") <=> F.col("b"))))
      .localCheckpoint(true)

    // rdfs5: closed property hierarchy (schema-sized fixpoint).
    val spStar = star(triples, RDFS.subPropertyOf)

    // rdfs7 over the full instance scan: ONE broadcast join.
    val derived7 = triples
      .join(F.broadcast(spStar), F.col("p") === F.col("a"))
      .select(F.col("s"), F.col("b").as("p"), F.col("o"))
    val base = triples.union(derived7)

    // Schema read post-7 (see stratification note above).
    val scStar = star(base, RDFS.subClassOf)
    val dom = base.where(predIs(RDFS.domain))
      .select(F.col("s").as("dp"), F.col("o").as("dc")).distinct()
    val rng = base.where(predIs(RDFS.range))
      .select(F.col("s").as("rp"), F.col("o").as("rc")).distinct()

    val typeIri = iri(RDF.typ)
    // rdfs2 / rdfs3: one broadcast join each over base.
    val derived2 = base.join(F.broadcast(dom), F.col("p") === F.col("dp"))
      .select(F.col("s"), typeIri.as("p"), F.col("dc").as("o"))
    val derived3 = base.join(F.broadcast(rng), F.col("p") === F.col("rp"))
      .where(F.col("o.kind") =!= KIND_LIT)
      .select(F.col("o").as("s"), typeIri.as("p"), F.col("rc").as("o"))

    // rdfs9 over ALL type triples (asserted + just derived).
    val types = base.where(predIs(RDF.typ)).select("s", "p", "o")
      .union(derived2).union(derived3)
    val derived9 = types
      .join(F.broadcast(scStar), F.col("o") === F.col("a"))
      .select(F.col("s"), typeIri.as("p"), F.col("b").as("o"))

    val subClassIri = iri(RDFS.subClassOf)
    val subPropIri = iri(RDFS.subPropertyOf)
    val derived = derived7
      .union(derived2).union(derived3).union(types).union(derived9)
      .union(scStar.select(F.col("a").as("s"), subClassIri.as("p"),
        F.col("b").as("o")))
      .union(spStar.select(F.col("a").as("s"), subPropIri.as("p"),
        F.col("b").as("o")))
    g.insert(derived)
  }

  /** [[rdfsClosure]] iterated to a fixpoint (or `rounds`, whichever
    * first) — the completeness knob for the one corner a single
    * stratified pass documents as out of contract: ontologies whose
    * SCHEMA is itself derived, e.g. a property declared
    * `⊑ rdfs:subPropertyOf` (so pass 1 derives new `subPropertyOf`
    * edges that only feed rule 7 on pass 2). Each pass is the full
    * WebPIE-shaped closure above; growth is monotone under set
    * semantics, so an unchanged default-graph count IS the fixpoint.
    * Most ontologies converge on pass 1 (the default single-pass call)
    * and pay one extra count here; `rounds` caps runaway schemas the
    * way the inner fixpoints cap at 64 doublings. Loud error if the
    * cap is hit still growing — silent under-derivation is the failure
    * mode this knob exists to remove. */
  def rdfsClosure(g: RdfGraph, rounds: Int): RdfGraph = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var cur = rdfsClosure(g)
    var prevCount = cur.defaultGraph.count()
    var i = 1
    var fixed = false
    while (!fixed && i < rounds) {
      // checkpoint between passes: each pass stacks ~6 joins of plan,
      // and the next pass re-reads the whole frame many times
      val next = rdfsClosure(cur.copy(triples = Fixpoints.fresh(cur.triples)))
      val nextCount = next.defaultGraph.count()
      fixed = nextCount == prevCount
      cur = next
      prevCount = nextCount
      i += 1
    }
    if (!fixed && i == rounds && rounds > 1) {
      // one more count-only probe so a capped run can't silently
      // under-derive: if the last pass still grew, say so
      val probe = rdfsClosure(cur).defaultGraph.count()
      if (probe != prevCount) throw new IllegalArgumentException(
        s"rdfsClosure did not reach a fixpoint within $rounds rounds " +
          s"(still deriving new triples; raise rounds)")
    }
    cur
  }

  /** Canonicalization map of the owl:sameAs components of `g`'s
    * default graph: one row per non-canonical node, (node term →
    * canonical term), where the canonical representative is the
    * component's LEAST term under the struct order (kind, value, dt,
    * lang) — deterministic under any partitioning. The components are
    * [[graft.Fixpoints.components]] over the non-literal sameAs pairs. */
  def sameAsMap(g: RdfGraph): DataFrame =
    Fixpoints.components(g.defaultGraph.where(predIs(OWL.sameAs))
        .where(F.col("o.kind") =!= KIND_LIT)
        .select(F.col("s").as("a"), F.col("o").as("b")))
      .where(!(F.col("n") <=> F.col("c")))

  /** owl:sameAs smushing: rewrite every subject and object of `g`'s
    * default graph to its component's canonical term ([[sameAsMap]])
    * and drop the owl:sameAs triples themselves (post-rewrite they are
    * all self-loops). Predicates are left alone — rewriting predicate
    * position is OWL-Full territory no production smusher enters.
    * Literals are untouched (they never join the alias map).
    *
    * Scale shape: the alias map is shuffled-joined twice (s, then o) —
    * at entity-resolution scale it need not fit in memory; Catalyst /
    * AQE picks broadcast when it does. Named graphs pass through
    * untouched; source metadata drops like any UPDATE. */
  def smushSameAs(g: RdfGraph): RdfGraph = {
    val m = sameAsMap(g).localCheckpoint(true)
    val kept = g.defaultGraph.where(!predIs(OWL.sameAs))
    val sm = m.select(F.col("n").as("__sn"), F.col("c").as("__sc"))
    val om = m.select(F.col("n").as("__on"), F.col("c").as("__oc"))
    val rewritten = kept
      .join(sm, F.col("s") === F.col("__sn"), "left")
      .join(om, F.col("o") === F.col("__on"), "left")
      .select(F.coalesce(F.col("__sc"), F.col("s")).as("s"),
        F.col("p"),
        F.coalesce(F.col("__oc"), F.col("o")).as("o"))
      .dropDuplicates("s", "p", "o")
    if (!g.isQuads)
      g.copy(triples = rewritten,
        predIndex = Map.empty, starTables = Nil, predObjTypes = Map.empty,
        predNat = Map.empty, predCounts = Map.empty)
    else {
      val named = g.triples.drop(Terms.GPART_COL)
        .where(F.col("g").isNotNull)
      val dflt = rewritten.withColumn("g",
        F.lit(null).cast(Terms.termType))
      g.copy(triples = named.unionByName(dflt),
        predIndex = Map.empty, starTables = Nil, predObjTypes = Map.empty,
        predNat = Map.empty, predCounts = Map.empty)
    }
  }
}
