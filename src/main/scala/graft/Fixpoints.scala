package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession, functions => F}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types._
import graft.rdf.RdfTerm
import graft.rdf.Terms.{termRow, termType}

/** The engine's iterated graph fixpoints, each written once:
  *
  *  - [[closure]] — transitive closure by path doubling. The SPARQL
  *    compiler runs it for a `+`/`*` path with both endpoints free
  *    (`Compiler.doublingClosure`); the RDFS reasoner runs it on the
  *    subPropertyOf and subClassOf hierarchies (`Reasoner.rdfsClosure`).
  *  - [[reach]] — the closure from a seed set, as a BFS. The SPARQL
  *    compiler runs it for a `+`/`*` path with a bound endpoint
  *    (`Compiler.closure`); DESCRIBE and peel run it as a `*` walk over
  *    the edges whose object is blank (`Engine.cbd`).
  *  - [[components]] — connected components by min-label propagation
  *    with pointer doubling. Near-duplicate grouping
  *    (`pipeline.Dedup.dedupGroups`) and owl:sameAs smushing
  *    (`Reasoner.sameAsMap`) both read their groups off it.
  *
  * The doubling loops converge in O(log diameter) rounds and cut lineage
  * every round with [[fresh]].
  *
  * It also holds the bounded fetch, [[collectBounded]] under
  * [[LocalMax]], that [[reach]] walks on the driver. The n-gram, CDC and
  * MinHash pair stages of `pipeline.Dedup` use the same fetch and bound
  * to group a broadcast-sized corpus on the driver.
  */
private[graft] object Fixpoints {

  /** Guard on the rounds of either doubling loop. Round k covers every
    * path of up to 2^k hops, so the bound is never reached on a real
    * graph. */
  private val MaxRounds = 64

  /** `df` checkpointed (eagerly, executor-local) and re-read through a
    * fresh LogicalRDD. The checkpoint cuts lineage; the re-read mints new
    * attribute ids and drops the constraints the checkpointed plan
    * carries. A frame derived from a self-join of X would otherwise keep
    * X's attributes in its constraints, and a later `X.union(it)` trips
    * Catalyst's union constraint rewrite (`UnionBase.rewriteConstraints`
    * NoSuchElementException). An alias projection does not isolate
    * those constraints; only a fresh LogicalRDD does. The re-encoding
    * runs over already-checkpointed rows. */
  def fresh(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(true)
    df.sparkSession.createDataFrame(c.rdd, c.schema)
  }

  /** Transitive closure of the (a, b) edges: every pair joined by a path
    * of one or more edges, as distinct (a, b) rows. Each round joins the
    * accumulated closure with itself, so a diameter-d graph converges in
    * ⌈log₂ d⌉ rounds instead of d. Self-loops are kept: an edge `x → x`
    * and a cycle through `x` both give (x, x); a caller that wants no
    * input self-loops filters its edges first. */
  def closure(edges: DataFrame): DataFrame = {
    var closure = edges.select("a", "b").distinct().localCheckpoint(true)
    var grew = true
    var i = 0
    while (grew && i < MaxRounds) {
      val doubled = closure.alias("x")
        .join(closure.alias("y"), F.col("x.b") === F.col("y.a"))
        .select(F.col("x.a").as("a"), F.col("y.b").as("b"))
      val next = fresh(doubled.join(closure, Seq("a", "b"), "left_anti")
        .distinct())
      grew = !next.isEmpty
      if (grew) closure = closure.union(next)
      i += 1
    }
    closure
  }

  /** Bound of the driver-side work: for the walk of [[reach]], seeds,
    * rows fetched per BFS level, nodes reached and result pairs, past
    * which it runs as Spark frames (checkpointed frontier); for the
    * pair stages of `pipeline.Dedup`, the documents fetched, past which
    * they run as Spark frames (shuffled posting lists). */
  val LocalMax = 10000

  /** The terms as a local relation (one term-struct column `n`): a seed
    * set that [[reach]] reads on the driver with no job. */
  def seedFrame(spark: SparkSession, terms: Seq[RdfTerm]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(terms.map(t => Row(termRow(t))): _*),
      StructType(Seq(StructField("n", termType))))

  /** At most `LocalMax + 1` rows of `df` on the driver, in one job, as
    * internal rows: each partition stops reading at that many and ships
    * its rows as UnsafeRow bytes, as `collect()` does, and the driver
    * keeps the partitions' rows as they arrive, up to that many.
    * (`limit(n).collect()` scans partitions in rounds, one job each,
    * while the first partitions hold fewer than n rows.) A local
    * relation (a [[seedFrame]]), projected or not, is read on the driver
    * with no job. */
  private[graft] def collectBounded(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    qe.optimizedPlan match {
      case _: LocalRelation => qe.executedPlan.executeCollect()
      case _ =>
        val n = LocalMax + 1
        val width = df.schema.length
        val kept = mutable.ArrayBuffer[InternalRow]()
        df.sparkSession.sparkContext.runJob(qe.toRdd, (it: Iterator[InternalRow]) => {
          val bytes = new ByteArrayOutputStream()
          val out = new DataOutputStream(bytes)
          val buf = new Array[Byte](4096)
          var i = 0
          while (i < n && it.hasNext) {
            val r = it.next().asInstanceOf[UnsafeRow]
            out.writeInt(r.getSizeInBytes)
            r.writeToStream(out, buf)
            i += 1
          }
          out.writeInt(-1)
          out.flush()
          bytes.toByteArray
        }, (_: Int, part: Array[Byte]) => {
          val in = new DataInputStream(new ByteArrayInputStream(part))
          var size = in.readInt()
          while (size >= 0 && kept.length < n) {
            val b = new Array[Byte](size)
            in.readFully(b)
            val r = new UnsafeRow(width)
            r.pointTo(b, size)
            kept += r
            size = in.readInt()
          }
        })
        kept.toArray
    }
  }

  /** [[collectBounded]] decoded to external rows. */
  private def collectRows(df: DataFrame): Array[Row] = {
    val toRow = ExpressionEncoder(df.schema).resolveAndBind().createDeserializer()
    collectBounded(df).map(toRow)
  }

  /** The closure from a seed set, as distinct (ps, po) term pairs: po is
    * reached from the seed ps (a value of the term-struct column `n` of
    * `seeds`) by one or more of the (ps, po) `edges`, or by zero with
    * `includeZero`.
    *
    * It is a BFS with the frontier on the driver: one bounded collect of
    * the seeds, then one filtered collect of the edges leaving the
    * frontier per level, deduplicated against the reached nodes locally
    * (gastrodon walks one HTTP query per node instead,
    * gastrodon/__init__.py:736-743). When `edgeCount`, an upper bound on
    * the edge rows, is within [[LocalMax]], the edges come back whole in
    * the seeds' job and the levels are walked on the driver: one job in
    * all. The pairs come back as a local relation, so the query using
    * them runs no job for them. Past [[LocalMax]] — a stale count
    * included — the same BFS runs on Spark frames, checkpointed per
    * level to cut lineage. */
  def reach(seeds: DataFrame, edges: DataFrame, includeZero: Boolean,
      edgeCount: Option[Long]): DataFrame =
    localReach(seeds, edges, includeZero, edgeCount)
      .getOrElse(frontierReach(seeds, edges, includeZero))

  /** [[reach]] on the driver, or None past [[LocalMax]]: every reached
    * node's out-edges are fetched once, then each seed's closure is read
    * off the fetched adjacency. */
  private def localReach(seed: DataFrame, edges: DataFrame,
      includeZero: Boolean, edgeCount: Option[Long]): Option[DataFrame] = {
    // seed rows are the ones with a null `po` (no edge has one)
    val small = edgeCount.exists(_ <= LocalMax)
    val fetched = collectRows(
      if (small) seed.select(F.col("n").as("ps"), F.lit(null).cast(termType).as("po"))
        .unionByName(edges.select("ps", "po"))
      else seed.select(F.col("n").as("ps")))
    if (fetched.length > LocalMax) return None
    val (seedRows, edgeRows) = fetched.partition(r => !small || r.isNullAt(1))
    val seeds = seedRows.filterNot(_.isNullAt(0)).map(_.getStruct(0)).distinct.toSeq
    val byPs = if (small) Some(edgeRows.groupBy(_.getStruct(0))) else None
    // the edges leaving a frontier; a Spark job per level unless whole.
    // The job filters on the lexical value alone (a flat string IN
    // list); the exact term match is made on the driver
    def leaving(frontier: Seq[Row]): Array[Row] = byPs match {
      case Some(m) => frontier.flatMap(m.getOrElse(_, Array.empty[Row])).toArray
      case None => collectRows(edges
        .where(F.col("ps.value").isin(frontier.map(_.getString(1)).distinct: _*))
        .select("ps", "po"))
    }
    val adj = mutable.HashMap[Row, mutable.ArrayBuffer[Row]]()
    val visited = mutable.HashSet[Row](seeds: _*)
    var frontier = seeds
    while (frontier.nonEmpty) {
      val rows = leaving(frontier)
      if (rows.length > LocalMax) return None
      val inFrontier = frontier.toSet
      val next = mutable.ArrayBuffer[Row]()
      rows.foreach { r =>
        val (a, b) = (r.getStruct(0), r.getStruct(1))
        if (inFrontier(a)) {
          adj.getOrElseUpdate(a, mutable.ArrayBuffer()) += b
          if (visited.add(b)) next += b
        }
      }
      if (visited.size > LocalMax) return None
      frontier = next.toSeq
    }
    val pairs = mutable.ArrayBuffer[Row]()
    seeds.foreach { s0 =>
      val reached = mutable.LinkedHashSet[Row]()
      if (includeZero) reached += s0
      var level: Seq[Row] = Seq(s0)
      while (level.nonEmpty) {
        level = level.flatMap(n => adj.getOrElse(n, Nil)).filter(reached.add)
      }
      reached.foreach(n => pairs += Row(s0, n))
      if (pairs.length > LocalMax) return None
    }
    Some(seed.sparkSession.createDataFrame(java.util.Arrays.asList(pairs.toSeq: _*),
      StructType(Seq(StructField("ps", termType), StructField("po", termType)))))
  }

  /** [[reach]] as Spark frames: BFS over (seed, node) pairs, the frontier
    * and the reached set checkpointed every level. It ends on an empty
    * frontier: each level adds only pairs not reached before. */
  private def frontierReach(seed: DataFrame, edges: DataFrame,
      includeZero: Boolean): DataFrame = {
    val e = edges.localCheckpoint(true)
    val seedPairs = seed.select(F.col("n").as("src"), F.col("n")).distinct()
      .localCheckpoint(true)
    var reached = if (includeZero) seedPairs else seedPairs.limit(0)
    var frontier = seedPairs
    while (!frontier.isEmpty) {
      val next = frontier.join(e, frontier("n") === e("ps"))
        .select(frontier("src"), e("po").as("n")).distinct()
        .join(reached, Seq("src", "n"), "left_anti")
        .localCheckpoint(true)
      reached = reached.union(next).localCheckpoint(true)
      frontier = next
    }
    reached.select(F.col("src").as("ps"), F.col("n").as("po"))
  }

  /** Connected components of the undirected graph of the (a, b) pairs:
    * (n, c) for every node of a pair, c = the least node of its
    * component under Spark's ordering of the column type (for a term
    * struct: kind, value, dt, lang). The result does not depend on the
    * partitioning.
    *
    * Each round is two joins and a min-aggregate: a node takes the least
    * label among its own, its neighbours' and its label's label (pointer
    * doubling), so a chain of 1000 closes in about 10 rounds, not 1000.
    * Labels only decrease, so a sum over them changes on every round
    * until the fixpoint: one small aggregate per round detects it. The
    * sum is exact (a decimal) for integral ids and a sum of 64-bit
    * hashes otherwise (a collision on a changing round has probability
    * about 2⁻⁶⁴). */
  def components(pairs: DataFrame): DataFrame = {
    val edges = pairs.select("a", "b")
      .union(pairs.select(F.col("b").as("a"), F.col("a").as("b")))
      .localCheckpoint(false)
    var labels = edges
      .select(F.col("a").as("n"), F.least(F.col("a"), F.col("b")).as("c"))
      .groupBy("n").agg(F.min("c").as("c"))
      .localCheckpoint(true)
    def checksum(df: DataFrame): java.math.BigDecimal = {
      val m = df.schema("c").dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          F.sum(F.col("c").cast(DecimalType(38, 0)))
        case _ => F.sum(F.xxhash64(F.col("c")).cast(DecimalType(38, 0)))
      }
      df.agg(F.coalesce(m, F.lit(java.math.BigDecimal.ZERO)
        .cast(DecimalType(38, 0)))).collect()(0).getDecimal(0)
    }
    var prev = checksum(labels)
    var changed = true
    var i = 0
    while (changed && i < MaxRounds) {
      val viaNeighbor = edges.join(labels, edges("b") === labels("n"))
        .select(edges("a").as("n"), F.col("c"))
      val viaLabel = labels.alias("x").join(labels.alias("y"),
          F.col("x.c") === F.col("y.n"))
        .select(F.col("x.n").as("n"), F.col("y.c").as("c"))
      labels = fresh(labels.union(viaNeighbor).union(viaLabel)
        .groupBy("n").agg(F.min("c").as("c")))
      val cur = checksum(labels)
      changed = cur.compareTo(prev) != 0
      prev = cur
      i += 1
    }
    labels
  }
}
