package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.types._
import graft.rdf._

/** Relational → RDF mapping for the driver's TESTDATA tables (a direct
  * R2RML-style "direct mapping"): each row becomes a resource
  * `urn:graft:<table>/<key>`, each column a triple with predicate
  * `urn:graft:p/<column>`, each foreign key an object-property triple
  * linking to the target resource, plus one rdf:type triple.
  *
  * This is how the SPARQL operator surface is exercised (and DuckDB-oracle
  * checked) over the same parquet the oracle reads.
  *
  * Scale posture: the conversion is a single narrow projection + explode —
  * no shuffle, no driver materialization; at 100 TB it runs as a streaming
  * scan and would be written back partitioned by predicate (S2RDF vertical
  * partitioning) so per-predicate BGP scans prune to one partition.
  */
object Tables {
  val base = "urn:graft:"
  def cls(table: String): String = base + "class/" + table
  def pred(column: String): String = base + "p/" + column
  def subj(table: String): String = base + table + "/"

  /** key columns per table; composite for lineitem. */
  val keys: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"),
    "nation" -> Seq("n_nationkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey"),
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic data;
    // the 4-tuple is — row identity must be collision-free or BGP joins
    // over per-column triples fan out
    "lineitem" -> Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id"),
    "documents" -> Seq("doc_id"))

  /** FK column → referenced table. */
  val fks: Map[String, Map[String, String]] = Map(
    "nation" -> Map("n_regionkey" -> "region"),
    "customer" -> Map("c_nationkey" -> "nation"),
    "supplier" -> Map("s_nationkey" -> "nation"),
    "orders" -> Map("o_custkey" -> "customer"),
    "lineitem" -> Map("l_orderkey" -> "orders", "l_partkey" -> "part",
      "l_suppkey" -> "supplier")
  ).withDefaultValue(Map.empty)

  /** Read one TESTDATA table. `events.ts` has shipped as both parquet
    * TIMESTAMP(NANOS) (which Spark only reads as long via the legacy
    * conf) and plain TIMESTAMP(MICROS); normalize whatever the file
    * carries to TIMESTAMP_NTZ by inspecting the read schema — nanos come
    * in as long and convert with integer division (a double division
    * would lose precision above 2^53), tz-adjusted timestamps cast to
    * NTZ, NTZ passes through. A bucketized copy registered by
    * [[bucketize]] takes precedence — its scan reports HashPartitioning
    * on the bucket key, so downstream native-key joins co-locate with no
    * exchange. */
  def read(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val bt = bucketized.get((spark, sfDir, table))
    if (bt != null) spark.table(bt)
    else if (table == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$sfDir/$table.parquet")
      df.schema("ts").dataType match {
        case LongType => // NANOS read as raw long: ns → µs → tz-naive
          df.withColumn("ts",
            F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
        case TimestampType => // tz-adjusted: keep wall-clock, drop the tz
          df.withColumn("ts", F.col("ts").cast(TimestampNTZType))
        case _ => df // already TIMESTAMP_NTZ (or a future compatible type)
      }
    } else spark.read.parquet(s"$sfDir/$table.parquet")
  }

  // --------------------------------------------------- bucketed co-location
  //
  // At 100 TB the dim side of a fact⋈dim chain can outgrow broadcast; the
  // remaining strategy is sort-merge, and the shuffle it implies is avoided
  // only when both sides are PRE-BUCKETED on their join keys (the classic
  // TPC-H physical design: lineitem by l_orderkey, orders by o_orderkey).
  // `bucketize` registers bucketed+sorted catalog copies; `read` then
  // prefers them, and because the engine's native-key companions (`__nk:`)
  // are plain aliases of these raw key columns, Spark's alias-aware output
  // partitioning carries the bucketing through the vertical projections to
  // the join — zero Exchange (BucketedJoinSpec pins this).

  /** The one physical bucket key per table — each table's hottest
    * equi-join column (primary key for dims, the orders FK for the
    * composite-keyed lineitem). */
  val bucketKey: Map[String, String] = Map(
    "region" -> "r_regionkey", "nation" -> "n_nationkey",
    "customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey", "events" -> "event_id",
    "documents" -> "doc_id")

  /** (session, dir, table) → active bucketed catalog table name. */
  private val bucketized = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), String]()

  private def bucketTableName(spark: SparkSession, sfDir: String,
      table: String, buckets: Int): String = {
    // the name carries the data dir, the bucket count AND a source
    // content tag (per-file length + mtime), so a different dir, a
    // re-bucketize with a new count, or a REGENERATED source file never
    // silently reuses a stale catalog copy
    val src = new org.apache.hadoop.fs.Path(s"$sfDir/$table.parquet")
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val contentTag =
      if (!fs.exists(src)) "missing"
      else {
        val it = fs.listFiles(src, true)
        val acc = new StringBuilder(sfDir)
        while (it.hasNext) {
          val f = it.next()
          acc.append('|').append(f.getPath.getName).append(':')
            .append(f.getLen).append(':').append(f.getModificationTime)
        }
        acc.toString
      }
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(contentTag.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    s"graft_bucketed_${tag}_b${buckets}_$table"
  }

  /** Write + register bucketed copies of `tables` (same `buckets` count
    * everywhere so any pair co-locates). One-time shuffle per table;
    * every subsequent `read` resolves to the bucketed scan. */
  def bucketize(spark: SparkSession, sfDir: String, buckets: Int,
      tables: String*): Unit =
    tables.foreach { t =>
      val key = bucketKey(t)
      val bt = bucketTableName(spark, sfDir, t, buckets)
      if (!spark.catalog.tableExists(bt)) {
        // deregister first so the write reads the parquet source, not a
        // previously bucketized copy of itself
        bucketized.remove((spark, sfDir, t))
        read(spark, sfDir, t).write.mode("overwrite")
          .bucketBy(buckets, key).sortBy(key).saveAsTable(bt)
      }
      bucketized.put((spark, sfDir, t), bt)
    }

  /** Deregister (the catalog tables stay until the session ends). */
  def unbucketize(spark: SparkSession, sfDir: String, tables: String*): Unit =
    tables.foreach(t => bucketized.remove((spark, sfDir, t)))

  /** Morton-interleaved column over 2-4 integral columns — see
    * [[graft.expressions.ZorderKey]]. Inputs must be non-negative;
    * [[writeZordered]] handles the scaling. */
  def zorderKey(cols: Column*): Column =
    graft.expressions.ColumnBridge.column(graft.expressions.ZorderKey(
      cols.map(graft.expressions.ColumnBridge.expression)))

  /** Write `df` as parquet laid out in Z-order on `cols` — the
    * multi-dimensional data-skipping layout: each column min-max scales
    * to the Morton bit budget (one tiny stats aggregate), rows
    * range-partition AND sort by the interleaved key, so parquet
    * footer min/max stats cluster in EVERY listed dimension and a scan
    * filtered on ANY of them (or a box over several) skips most
    * files/row groups. A single-column sort gives better skipping on
    * that one column and none on the others; Z-order trades a bit of
    * the first dimension for skipping on all of them — the right
    * layout for a fact table queried along several axes at 100 TB.
    *
    * Cost: one pass for min/max, one range-exchange + in-partition
    * sort, the same shape as any sorted write. Query side needs no
    * special reader — plain filters prune via the parquet stats.
    * File-boundary placement follows the range partitioner's sampling,
    * so the layout (not the data) may vary between runs. NULL in any
    * z-column sorts first (key NULL). */
  def writeZordered(df: DataFrame, cols: Seq[String], path: String,
      numFiles: Int = 0): Unit = {
    require(cols.size >= 2 && cols.size <= 4,
      s"zorder needs 2-4 columns, got ${cols.size}")
    val bits = 64 / cols.size
    val maxScaled = (1L << bits) - 1
    val aggs = cols.flatMap(c => Seq(F.min(F.col(c)).cast("long"),
      F.max(F.col(c)).cast("long")))
    val stats = df.agg(aggs.head, aggs.tail: _*).head()
    val scaled = cols.zipWithIndex.map { case (c, i) =>
      val lo = if (stats.isNullAt(2 * i)) 0L else stats.getLong(2 * i)
      val hi = if (stats.isNullAt(2 * i + 1)) 0L else stats.getLong(2 * i + 1)
      val span = math.max(1L, hi - lo)
      // 128-bit-safe linear scale: subtract AND multiply in decimal so
      // neither (v-lo) nor the product can wrap for any long range
      ((F.col(c).cast(DecimalType(38, 0)) - lo) * maxScaled /
        span).cast("long")
    }
    val keyed = df.withColumn("__z", zorderKey(scaled: _*))
    val parts = if (numFiles > 0) keyed.repartitionByRange(numFiles, F.col("__z"))
      else keyed.repartitionByRange(F.col("__z"))
    parts.sortWithinPartitions("__z").drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Subject-IRI string expression for a row of `table`. */
  def subjectCol(table: String): Column = {
    val ks = keys(table).map(k => F.col(k).cast(StringType))
    val parts = ks.tail.foldLeft(ks.head)((a, b) => F.concat(a, F.lit("-"), b))
    F.concat(F.lit(subj(table)), parts)
  }

  /** Lexical form used for literal objects (stable across engines). */
  private def lexical(c: Column, t: DataType): Column = t match {
    case TimestampType | TimestampNTZType =>
      F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    case _ => c.cast(StringType)
  }

  /** One table → triples DataFrame with schema Terms.tripleType. */
  def triples(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    import Terms._
    val df = read(spark, sfDir, table)
    val s = iri(subjectCol(table))
    val fkMap = fks(table)
    val colTriples: Seq[Column] = df.schema.fields.toSeq.flatMap { f =>
      val obj = f.dataType match {
        case t @ (TimestampType | TimestampNTZType) =>
          lit(lexical(F.col(f.name), t), XSD.dateTime)
        case t => fromNative(F.col(f.name), t)
      }
      val litTriple = F.struct(s.as("s"), iri(pred(f.name)).as("p"), obj.as("o"))
      val fkTriple = fkMap.get(f.name).map { target =>
        F.struct(s.as("s"), iri(pred(f.name.stripSuffix("key") + "_ref")).as("p"),
          iri(F.concat(F.lit(subj(target)), F.col(f.name).cast(StringType))).as("o"))
      }
      Seq(litTriple) ++ fkTriple
    }
    val typeTriple = F.struct(s.as("s"), iri(RDF.typ).as("p"),
      iri(cls(table)).as("o"))
    df.select(F.explode(F.array((colTriples :+ typeTriple): _*)).as("t"))
      .select(F.col("t.s").as("s"), F.col("t.p").as("p"), F.col("t.o").as("o"))
      .where(F.col("o").isNotNull && F.col("o.value").isNotNull)
  }

  /** Vertical-partition index for one table: predicate IRI → (s,o)
    * relation, each a direct projection of the parquet scan — Catalyst
    * prunes the read to exactly the columns used (S2RDF partitioning,
    * the 100 TB layout).
    *
    * Single-key tables additionally expose the RAW key columns `__sk`
    * (subject key) and, for FK predicates, `__ok` (object key) as
    * LongType, described by the returned PredNat — BGP joins run on these
    * longs instead of the synthesized IRI strings, so join shuffles carry
    * 8-byte keys and broadcast/pushdown work on the original parquet
    * columns. rdf:type relations stay native-free (they union across
    * tables with different keys). */
  def predIndex(spark: SparkSession, sfDir: String, table: String)
      : Seq[(String, DataFrame, PredNat)] = {
    import Terms._
    val df = read(spark, sfDir, table)
    val s = iri(subjectCol(table))
    val fkMap = fks(table)
    // raw subject key only for single-column INTEGRAL keys (composite keys
    // would need a synthesized combined key — not worth it: nothing
    // FK-references the composite-key table, so its subjects never join
    // natively; non-integral keys don't round-trip through the cast, so
    // the s.value == sTmpl + __sk invariant would silently break)
    val sKey: Option[Column] = keys(table) match {
      case Seq(k) if isIntegral(df.schema(k).dataType) =>
        Some(F.col(k).cast(LongType).as("__sk"))
      case _ => None
    }
    val sNat = sKey.map(_ => subj(table))
    val colRels = df.schema.fields.toSeq.flatMap { f =>
      val obj = f.dataType match {
        case t @ (TimestampType | TimestampNTZType) =>
          lit(lexical(F.col(f.name), t), XSD.dateTime)
        case t => fromNative(F.col(f.name), t)
      }
      val colRel = (pred(f.name),
        df.select(Seq(s.as("s")) ++ sKey ++ Seq(obj.as("o")): _*)
          .where(F.col("o.value").isNotNull),
        PredNat(sNat, None))
      val fkRel = fkMap.get(f.name).map { target =>
        val oKey =
          if (isIntegral(f.dataType))
            Seq(F.col(f.name).cast(LongType).as("__ok")) else Nil
        (pred(f.name.stripSuffix("key") + "_ref"),
          df.select(Seq(s.as("s")) ++ sKey ++ Seq(
            iri(F.concat(F.lit(subj(target)), F.col(f.name).cast(StringType))).as("o")) ++
            oKey: _*)
            .where(F.col(f.name).isNotNull),
          PredNat(sNat, if (oKey.nonEmpty) Some(subj(target)) else None))
      }
      Seq(colRel) ++ fkRel
    }
    colRels :+ ((RDF.typ, df.select(s.as("s"), iri(cls(table)).as("o")),
      PredNat(None, None)))
  }

  /** Property table for star-join elimination: ONE wide relation per
    * source table — subject + a term-struct column per predicate. A
    * subject-star BGP whose predicates all come from this table compiles
    * to a single parquet scan (Catalyst prunes to the referenced columns)
    * with no self-joins at all. */
  def starTable(spark: SparkSession, sfDir: String, table: String): StarTable = {
    import Terms._
    val df = read(spark, sfDir, table)
    val s = iri(subjectCol(table))
    val fkMap = fks(table)
    val cols = scala.collection.mutable.LinkedHashMap[String, Column]()
    df.schema.fields.foreach { f =>
      val obj = f.dataType match {
        case t @ (TimestampType | TimestampNTZType) =>
          lit(lexical(F.col(f.name), t), XSD.dateTime)
        case t => fromNative(F.col(f.name), t)
      }
      cols(pred(f.name)) = obj
      fkMap.get(f.name).foreach { target =>
        cols(pred(f.name.stripSuffix("key") + "_ref")) =
          iri(F.concat(F.lit(subj(target)), F.col(f.name).cast(StringType)))
      }
    }
    cols(RDF.typ) = iri(cls(table))
    val names = cols.keys.zipWithIndex.map { case (p, i) => p -> s"c$i" }.toMap
    // keep the raw literal columns in the wide relation: filters the
    // compiler can translate onto them push down to the parquet scan
    // (min/max + dictionary skipping), which the lexical term struct
    // blocks (double->string->double cast chain)
    val natives = df.schema.fields.collect {
      case f if !f.dataType.isInstanceOf[StructType] => pred(f.name) -> f.name
    }.toMap
    val wide = df.select(
      (s.as("s") +:
        cols.map { case (p, c) => c.as(names(p)) }.toSeq) ++
        df.schema.fields.map(f => F.col(f.name)).toSeq: _*)
    val keyNat = keys(table) match {
      case Seq(k) if isIntegral(df.schema(k).dataType) => Some(k -> subj(table))
      case _ => None
    }
    val fkNat = fkMap.collect {
      case (col, target) if isIntegral(df.schema(col).dataType) =>
        pred(col.stripSuffix("key") + "_ref") -> (col, subj(target))
    }
    StarTable(names, wide, natives, keyNat, fkNat)
  }

  /** Integral Spark types whose long cast round-trips through the string
    * form (the native-key invariant s.value == tmpl + key requires it). */
  private def isIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** The xsd datatype `fromNative` will stamp on literals of this Spark
    * type (Timestamps go through `lexical` with xsd:dateTime). */
  private def nativeDt(t: DataType): String = t match {
    case ByteType | ShortType | IntegerType | LongType => XSD.integer
    case FloatType | DoubleType => XSD.double
    case _: DecimalType => XSD.decimal
    case BooleanType => XSD.boolean
    case TimestampType | TimestampNTZType => XSD.dateTime
    case DateType => XSD.date
    case _ => XSD.string
  }

  /** Predicate → exact object types for one table (schema metadata — lets
    * the display boundary type columns statically, Display.toDisplay). */
  def predObjTypes(spark: SparkSession, sfDir: String, table: String)
      : Map[String, Set[PredObjType]] = {
    val df = read(spark, sfDir, table)
    val fkMap = fks(table)
    val cols = df.schema.fields.flatMap { f =>
      val lit = pred(f.name) -> Set[PredObjType](LitObj(nativeDt(f.dataType)))
      val fk = fkMap.get(f.name).map(_ =>
        pred(f.name.stripSuffix("key") + "_ref") -> Set[PredObjType](IriObj))
      Seq(lit) ++ fk
    }
    (cols :+ (RDF.typ -> Set[PredObjType](IriObj))).toMap
  }

  /** Union of several tables as one graph, with the vertical-partition
    * index and property tables attached. rdf:type relations from multiple
    * tables are unioned. */
  def graph(spark: SparkSession, sfDir: String, tables: String*): RdfGraph = {
    val df = tables.map(triples(spark, sfDir, _)).reduce(_ unionByName _)
    val rels = tables.flatMap(predIndex(spark, sfDir, _))
    // Exact predicate row counts (every predicate of a direct-mapped
    // table has at most one triple per row): one metadata-cheap
    // count(*) per table at build time, memoized with the graph. These
    // feed the BGP/path join-order heuristic AND the build-side
    // steering (broadcast vs shuffle_hash) — a byte estimate of a
    // narrow fact-table projection under-reports by 10-100×, which is
    // how a 6M-row scan ended up broadcast at sf1 (r12 watch item).
    val counts: Map[String, Long] = {
      val perTable = tables.map(t => t -> read(spark, sfDir, t).count()).toMap
      tables.flatMap(t =>
        predIndex(spark, sfDir, t).map(_._1 -> perTable(t))).toMap
    }
    // Native keys only survive for predicates from exactly one table: a
    // multi-table predicate (rdf:type) unions relations with different key
    // columns, so the raw-key invariant doesn't hold across branches.
    val idx = rels.groupBy(_._1).map {
      case (p, Seq((_, rel, _))) => p -> rel
      case (p, group) => p -> group.map(_._2.select("s", "o")).reduce(_ unionByName _)
    }
    val nat = rels.groupBy(_._1).collect {
      case (p, Seq((_, _, pn))) if pn.sTmpl.isDefined || pn.oTmpl.isDefined =>
        p -> pn
    }
    val stars = tables.map(starTable(spark, sfDir, _))
    val objTypes = tables.map(predObjTypes(spark, sfDir, _))
      .reduce { (a, b) =>
        (a.keySet ++ b.keySet).map(k =>
          k -> (a.getOrElse(k, Set.empty) ++ b.getOrElse(k, Set.empty))).toMap
      }
    RdfGraph(df, RdfGraph.defaultPrefixes, idx, stars, objTypes, nat,
      predCounts = counts)
  }
}
