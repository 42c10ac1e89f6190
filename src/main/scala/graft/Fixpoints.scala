package graft

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.types._

/** The engine's two iterated graph fixpoints, each written once:
  *
  *  - [[closure]] — transitive closure by path doubling. The SPARQL
  *    compiler runs it for a `+`/`*` path with both endpoints free
  *    (`Compiler.doublingClosure`); the RDFS reasoner runs it on the
  *    subPropertyOf and subClassOf hierarchies (`Reasoner.rdfsClosure`).
  *  - [[components]] — connected components by min-label propagation
  *    with pointer doubling. Near-duplicate grouping
  *    (`pipeline.Dedup.dedupGroups`) and owl:sameAs smushing
  *    (`Reasoner.sameAsMap`) both read their groups off it.
  *
  * Both converge in O(log diameter) rounds and cut lineage every round
  * with [[fresh]].
  */
private[graft] object Fixpoints {

  /** Guard on the rounds of either loop. Round k covers every path of up
    * to 2^k hops, so the bound is never reached on a real graph. */
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
