package graft.rdf

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

/** A versioned RDF graph: an immutable triples DataFrame with set semantics
  * (duplicate insertion is idempotent — the reference demonstrates this at
  * notebooks/local/RDFContainers.ipynb cell 15 where asserting the same
  * triple three times leaves len(graph)==1), plus the prefix/namespace
  * environment (rdflib NamespaceManager parity,
  * gastrodon/__init__.py:179-204).
  *
  * SPARQL UPDATE produces a NEW RdfGraph (DataFrames are immutable); the
  * endpoint holds the current version in a var so notebook-style
  * forward-chaining inference loops (Inference_Over_RDF_Containers cells
  * 17-33) stay cheap: union + dropDuplicates, optionally cached.
  *
  * Scale posture: triples stay distributed; `size` is the only action.
  * At 100 TB the DataFrame would be parquet-backed and partitioned by
  * predicate (S2RDF-style vertical partitioning) — see Tables.scala.
  */
/** Property-table ("star") relation: one wide DataFrame with a subject
  * column "s" plus one term-struct column per predicate. Subject-star BGPs
  * whose constant predicates all live in one star table compile to a
  * SINGLE scan with zero joins — the classic property-table optimization
  * for RDF on columnar stores. `preds` maps predicate IRI → column name.
  *
  * `natives` maps predicate IRI → the RAW source column (also present in
  * `df`) for literal-valued predicates. Filters translated onto a native
  * column are data-source-pushable (parquet min/max + dictionary skip),
  * which the string-lexical term struct never is. */
final case class StarTable(preds: Map[String, String], df: DataFrame,
    natives: Map[String, String] = Map.empty,
    /** Raw single-column subject key (col name, IRI template): subjects of
      * every row are `tmpl + key`. Lets BGP joins run on the raw key and
      * build the IRI struct post-join. None for composite-key tables. */
    keyNat: Option[(String, String)] = None,
    /** FK predicate IRI → (raw FK column, target IRI template): objects
      * are `tmpl + col`. Same native-join purpose as keyNat. */
    fkNat: Map[String, (String, String)] = Map.empty)

/** Native-key metadata of one vertical-partition relation: when set, the
  * relation's DataFrame carries raw key columns `__sk` / `__ok` (LongType)
  * such that s.value == sTmpl + __sk and o.value == oTmpl + __ok. BGP
  * joins on such variables run on the longs — the term struct is built
  * after the join, so the shuffle never carries synthesized IRI strings. */
final case class PredNat(sTmpl: Option[String], oTmpl: Option[String])

/** Static description of the objects a predicate can have — schema
  * metadata a relational direct mapping knows exactly (each source column
  * maps to ONE datatype, each FK to IRIs). Lets the display boundary
  * derive column types from the query plan instead of running a
  * type-sniffing pass over the data (Display.toDisplay). */
sealed trait PredObjType extends Serializable
case object IriObj extends PredObjType
final case class LitObj(dt: String) extends PredObjType

final case class RdfGraph(triples: DataFrame, prefixes: Map[String, String],
    /** S2RDF-style vertical partitioning: predicate IRI → (s,o) DataFrame.
      * When present, constant-predicate triple patterns scan ONLY the
      * relevant two-column relation (filters/projection push to the
      * source), instead of filtering the full exploded triple table. The
      * index is dropped on UPDATE (it describes the pre-update state). */
    predIndex: Map[String, DataFrame] = Map.empty,
    /** Property tables for star-join elimination (one per source table
      * when the graph is a relational direct mapping). Dropped on UPDATE
      * like predIndex. */
    starTables: Seq[StarTable] = Nil,
    /** Predicate IRI → exact set of object types (see PredObjType). Only
      * populated by schema-typed sources (Tables direct mapping), where
      * subjects are guaranteed to be IRIs. Dropped on UPDATE — an INSERT
      * may introduce objects the schema didn't promise.
      *
      * INVARIANT a populating source must honor: non-empty predObjTypes
      * asserts the graph's terms are exactly IRIs, blank nodes and
      * literals as described — NO quoted-triple (RDF-star) terms. The
      * static display path relies on it to omit the (large) RDF-star
      * rendering branch; a star-capable source must leave this empty so
      * queries take the sniffing path, whose quoted-presence check is
      * exact. */
    predObjTypes: Map[String, Set[PredObjType]] = Map.empty,
    /** Native-key metadata for predIndex relations (see PredNat). Only
      * predicates whose relation carries `__sk`/`__ok` columns appear.
      * Dropped on UPDATE with the rest of the source metadata. */
    predNat: Map[String, PredNat] = Map.empty,
    /** Predicate cardinality statistics: IRI → triple count. The
      * S2RDF-style statistics the BGP join-order heuristic consumes
      * (smallest estimated pattern first): exact at Turtle/NT load
      * (counted during the parse), persisted in the GraphStore's
      * `_stats.json` sidecar, row counts per table for the relational
      * direct mapping. Purely an optimizer hint — absent or stale stats
      * change plans, never results. Dropped on UPDATE like the rest of
      * the source metadata. */
    predCounts: Map[String, Long] = Map.empty) {

  def spark: SparkSession = triples.sparkSession

  /** A quad store: triples carry a `g` term-struct column naming the
    * graph (null = default graph). Built by [[RdfGraph.fromQuads]]; the
    * compiler scopes scans by `g` for GRAPH / FROM / FROM NAMED. */
  def isQuads: Boolean = triples.columns.contains("g")

  /** The default graph as (s, p, o): the rows whose `g` is null on a
    * quad store, every row of a triple store. The view of the formats
    * without quad syntax (Turtle, N-Triples, RDF/XML) and of the
    * node-centric walks (decollect, peel/DESCRIBE, reasoning). */
  private[graft] def defaultGraph: DataFrame =
    (if (isQuads) triples.where(F.col("g").isNull) else triples)
      .select("s", "p", "o")

  /** Number of triples (set cardinality). */
  def size: Long = triples.count()

  /** Insert triples (set semantics). Incoming triples without a `g`
    * column land in a quad store's DEFAULT graph (g null). */
  def insert(newTriples: DataFrame): RdfGraph = {
    // the GraphStore partition helper (__g) describes the on-disk
    // layout only — a merged frame no longer matches it, so it drops
    val base = triples.drop(Terms.GPART_COL)
    // Round-robin the new triples so the union below never claims its
    // children's hash partitioning (Spark's spark.sql.unionOutputPartitioning).
    // With that claim no exchange sits between the union and the joins
    // and dedups above it; once AQE coalesced one child's shuffle, the
    // union fell back to concatenating its children (twice the
    // partitions) and a join above failed with "Can't zip RDDs with
    // unequal numbers of partitions" a few updates after a lineage
    // truncation. The shuffle moves only the inserted rows.
    val incoming = newTriples.drop(Terms.GPART_COL)
      .repartition(triples.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    val merged =
      if (!isQuads) base.unionByName(incoming).dropDuplicates("s", "p", "o")
      else base.unionByName(incoming, allowMissingColumns = true)
        .dropDuplicates("s", "p", "o", "g")
    copy(triples = merged,
      predIndex = Map.empty, starTables = Nil, predObjTypes = Map.empty,
      predNat = Map.empty, predCounts = Map.empty)
  }

  /** Delete triples. On a quad store a `g`-less delete removes from the
    * DEFAULT graph only (SPARQL UPDATE's unnamed-graph semantics).
    *
    * `predObjTypes` SURVIVES a delete: the metadata describes what
    * object types a predicate CAN have, and removing rows can only
    * shrink the actual set — every static display decision derived from
    * the superset stays sound (the singleton rule compares against all
    * possible signatures). A continuously-deleting store therefore
    * keeps the zero-pass static display path instead of paying the
    * sniffing execution per query. The content-derived structures
    * (vertical index, star tables, native keys, counts) still drop —
    * they describe the pre-delete rows. */
  def delete(gone: DataFrame): RdfGraph = {
    val remaining =
      if (!isQuads) triples.join(gone, Seq("s", "p", "o"), "left_anti")
      else if (gone.columns.contains("g")) {
        // null-safe on g: default-graph rows (g null) must match each
        // other, which a plain equi-join never does
        val rr = gone.select(F.col("s").as("rs"), F.col("p").as("rp"),
          F.col("o").as("ro"), F.col("g").as("rg"))
        triples.join(rr, F.col("s") === F.col("rs") &&
          F.col("p") === F.col("rp") && F.col("o") === F.col("ro") &&
          F.col("g") <=> F.col("rg"), "left_anti")
      }
      else triples.join(gone,
        triples("s") === gone("s") && triples("p") === gone("p") &&
          triples("o") === gone("o") && triples("g").isNull, "left_anti")
    copy(triples = remaining,
      predIndex = Map.empty, starTables = Nil,
      predNat = Map.empty, predCounts = Map.empty)
  }

  def withPrefix(prefix: String, ns: String): RdfGraph =
    copy(prefixes = prefixes + (prefix -> ns))

  /** Promote a triples-only store to a quad store whose current content
    * is the default graph — the entry ticket for named-graph UPDATE
    * (GRAPH templates, WITH/USING, LOAD … INTO GRAPH, ADD/MOVE/COPY) on
    * a store loaded from a triples-only source. A no-op on quad stores.
    * The single-graph fast paths (vertical index, star tables) are
    * dropped — quad-scoped scans bypass them anyway; the predicate
    * statistics stay (they remain exact: all rows land in the default
    * graph). */
  def asQuadStore: RdfGraph =
    if (isQuads) this
    else copy(
      triples = triples.withColumn("g", F.lit(null).cast(Terms.termType)),
      predIndex = Map.empty, starTables = Nil, predObjTypes = Map.empty,
      predNat = Map.empty)

  def cache(): RdfGraph = { triples.cache(); this }
  def unpersist(): RdfGraph = { triples.unpersist(); this }

  private[rdf] def collectQuads(): Seq[Canon.Quad] = {
    import Terms.rowTerm
    triples.collect().toSeq.map { r =>
      (rowTerm(r.getStruct(0)), rowTerm(r.getStruct(1)),
        rowTerm(r.getStruct(2)),
        if (isQuads && !r.isNullAt(3)) rowTerm(r.getStruct(3)) else null)
    }
  }

  /** Canonical N-Quads form (RDFC-1.0, [[Canon]]): deterministic
    * `c14nN` blank-node labels, sorted lines — equal strings ⇔
    * isomorphic datasets. Driver-side by the same small-graph contract
    * as `ttl()`/`serialize`. */
  def canonicalNQuads(): String = Canon.canonicalNQuads(collectQuads())

  /** Set difference BY TERM IDENTITY, distributed: triples/quads of
    * this graph absent from `other`, and vice versa — two shuffle-side
    * anti-joins, no driver materialization. Blank nodes compare by
    * LABEL (the graphs share a label space, e.g. two revisions of one
    * store); for structural comparison under bnode bijection use
    * [[isomorphic]] (driver-side, bounded graphs). */
  def diff(other: RdfGraph): (DataFrame, DataFrame) = {
    require(isQuads == other.isQuads,
      "diff requires two triple stores or two quad stores")
    def anti(l: DataFrame, r: DataFrame): DataFrame =
      if (!isQuads) l.join(r, Seq("s", "p", "o"), "left_anti")
      else {
        // null-safe on g: default-graph rows (g null) must match each
        // other, which a plain equi-join never does
        val rr = r.select(F.col("s").as("rs"), F.col("p").as("rp"),
          F.col("o").as("ro"), F.col("g").as("rg"))
        l.join(rr, F.col("s") === F.col("rs") && F.col("p") === F.col("rp")
          && F.col("o") === F.col("ro") && F.col("g") <=> F.col("rg"),
          "left_anti")
      }
    (anti(triples, other.triples), anti(other.triples, triples))
  }

  /** Structural equality under blank-node bijection (what the
    * reference gets from rdflib's `compare.isomorphic`). */
  def isomorphic(other: RdfGraph): Boolean =
    Canon.isomorphic(collectQuads(), other.collectQuads())

  /** SHA-256 content address of the canonical form — stable under any
    * relabeling or statement reordering. Driver-side by the same
    * small-graph contract as `canonicalNQuads`; the scale path is
    * [[datasetHashDistributed]]. */
  def datasetHash(): String = Canon.datasetHash(collectQuads())

  /** [[datasetHash]] for stores whose ground rows must never touch the
    * driver: SHA-256 folded over the sorted distributed canonical
    * lines ([[Canon.distributedHash]]) — byte-equal to `datasetHash`,
    * O(1) driver memory, only the blank-node component collects. */
  def datasetHashDistributed(): String = Canon.distributedHash(this)

  /** Parallel Merkle content address ([[Canon.merkleHash]]) — a
    * different address space from [[datasetHash]] (not byte-equal to
    * `sha256(canonical document)`), but fully parallel: per-segment
    * digests run distributed, only ≤`fanout` digest lines fold on the
    * driver. Stable under relabeling, reordering, and repartitioning;
    * the address to use when the store is too big for the serial
    * whole-document fold. */
  def merkleHash(fanout: Int = 4096): String = Canon.merkleHash(this, fanout)

  /** All IRIs appearing in any position (all_uri,
    * gastrodon/__init__.py:821-834) — including graph names on a quad
    * store. */
  def allUris: DataFrame = {
    import Terms._
    val positions =
      if (isQuads) F.array(F.col("s"), F.col("p"), F.col("o"), F.col("g"))
      else F.array(F.col("s"), F.col("p"), F.col("o"))
    triples
      .select(F.explode(positions).as("t"))
      .where(F.col("t").isNotNull && isIri(F.col("t")))
      .select(value(F.col("t")).as("uri"))
      .distinct()
  }
}

object RdfGraph {
  /** Well-known prefixes bound by default (rdflib binds rdf/rdfs/xsd/owl). */
  val defaultPrefixes: Map[String, String] = Map(
    "rdf" -> RDF.ns,
    "rdfs" -> RDFS.ns,
    "xsd" -> XSD.ns,
    "owl" -> "http://www.w3.org/2002/07/owl#")

  def empty(spark: SparkSession): RdfGraph =
    RdfGraph(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Terms.tripleType),
      defaultPrefixes)

  /** Build a graph from local Scala triples (tests, tiny fixtures). */
  def fromTriples(spark: SparkSession, ts: Seq[(RdfTerm, RdfTerm, RdfTerm)],
      prefixes: Map[String, String] = Map.empty): RdfGraph = {
    import org.apache.spark.sql.Row
    import Terms.termRow
    val rows = ts.map { case (s, p, o) => Row(termRow(s), termRow(p), termRow(o)) }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Terms.tripleType)
      .dropDuplicates("s", "p", "o")
    // exact predicate statistics come free at parse time
    val counts = ts.distinct.groupBy(_._2).collect {
      case (Iri(p), g) => p -> g.size.toLong
    }
    RdfGraph(df, defaultPrefixes ++ prefixes, predCounts = counts)
  }

  /** Quad store from a DataFrame of term structs `s, p, o, g` (g null =
    * default graph) — e.g. four columns built with `Terms.termCol` /
    * IRI-synthesis over any relational source, or a quads parquet read.
    * GRAPH / FROM / FROM NAMED then scope queries by `g`. */
  def fromQuadFrame(quads: DataFrame,
      prefixes: Map[String, String] = Map.empty): RdfGraph = {
    require(Seq("s", "p", "o", "g").forall(quads.columns.contains),
      s"quad frame needs s, p, o, g columns, got ${quads.columns.mkString(", ")}")
    RdfGraph(quads.select("s", "p", "o", "g").dropDuplicates("s", "p", "o", "g"),
      defaultPrefixes ++ prefixes)
  }

  /** Build a quad store from local Scala quads (tests, tiny fixtures);
    * graph name None = default graph. */
  def fromQuads(spark: SparkSession,
      qs: Seq[(RdfTerm, RdfTerm, RdfTerm, Option[RdfTerm])],
      prefixes: Map[String, String] = Map.empty): RdfGraph = {
    import org.apache.spark.sql.Row
    import Terms.termRow
    val rows = qs.map { case (s, p, o, g) =>
      Row(termRow(s), termRow(p), termRow(o), g.map(termRow).orNull)
    }
    val schema = org.apache.spark.sql.types.StructType(
      Terms.tripleType.fields :+ org.apache.spark.sql.types.StructField(
        "g", Terms.termType, nullable = true))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
      .dropDuplicates("s", "p", "o", "g")
    RdfGraph(df, defaultPrefixes ++ prefixes)
  }
}
