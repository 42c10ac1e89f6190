package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.types._

/** Deterministic k-means over embedding columns — the clustering
  * primitive behind semantic dedup, diversity sampling, and
  * domain-discovery over a pretraining corpus, and the coarse quantizer
  * of every IVF index ([[Similarity.IvfIndex]], [[IvfPq]]).
  *
  * Exactness contract (the [[Graphs.pageRank]] discipline applied to
  * geometry): components quantize ONCE to non-negative scaled integers
  * — `floor((x + offset) · 10⁶)`, the offset making every value
  * positive so integer division is floor division in every engine, and
  * a uniform shift changing no distance and no mean — then every
  * distance is an exact integer, every centroid update an integer
  * sum/division, and ties break to the lowest centroid index. Results
  * are bit-identical across partitionings, cluster sizes, and engines;
  * a SQL oracle unrolls the iterations exactly.
  *
  * Scale shape: per iteration, assignment is a NARROW pass (k codegen'd
  * fold-over-vector distance columns + an argmin — no join: centroids
  * ride as literals), and the update is one explode + map-side-combined
  * (cluster, pos) integer SUM collecting k·d rows. Iterations are
  * fixed: curation wants a stable partition, not convergence-to-ε.
  */
object Clustering {
  private val Scale = 1000000L

  /** Quantized non-negative integer view of a float/double vector. */
  private[graft] def quantize(vec: Column, offset: Double): Column =
    F.transform(vec,
      x => F.floor((x.cast(DoubleType) + offset) * Scale).cast(LongType))

  /** Fixed-iteration Lloyd's k-means. Init = the vectors of the `k`
    * smallest ids (deterministic; callers wanting k-means++ quality can
    * pre-shuffle ids by a hash). `offset` must make every component
    * non-negative (|x| bound; 2.0 covers unit-normalized embeddings).
    * An emptied cluster keeps its previous centroid.
    *
    * Returns (idCol, cluster) for every input row, assigned against the
    * final centroids. */
  def kmeans(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 2, offset: Double = 2.0): DataFrame =
    kmeansFit(df, idCol, vecCol, k, iters, offset)._1

  /** [[kmeans]] plus the FINAL integer centroids — what a coarse
    * quantizer needs to rank probe lists deterministically
    * ([[Similarity.IvfIndex.fit]]): with the centroids exact integers,
    * the probe ranking is exact integer arithmetic too, and the whole
    * IVF query restates in a SQL oracle.
    *
    * Before the first distance, one aggregate reads the global min and
    * max of the quantized components: when `d·(max − min)²` exceeds a
    * long, an integer distance could overflow — a silent wrap outside
    * ANSI mode, an overflow error in it — so the fit is refused naming
    * `offset`. */
  def kmeansFit(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 2, offset: Double = 2.0): (DataFrame, Array[Seq[Long]]) = {
    require(k >= 1 && k <= 4096, s"k must be in [1,4096], got $k")
    require(iters >= 1 && iters <= 100, s"iters must be in [1,100], got $iters")
    val base = df.select(F.col(idCol).as("id"),
        quantize(F.col(vecCol), offset).as("q"))
      .localCheckpoint(false)
    checkRange(base, offset)

    var centroids: Array[Seq[Long]] = base.orderBy(F.col("id")).limit(k)
      .select(F.col("q")).collect()
      .map(_.getSeq[Long](0))
    require(centroids.nonEmpty, "kmeans needs at least one row")

    var it = 0
    while (it < iters) {
      val stats = assign(base, centroids)
        .select(F.col("cluster"), F.posexplode(F.col("q")).as(Seq("pos", "v")))
        .groupBy("cluster", "pos")
        .agg(F.sum(F.col("v")).as("s"), F.count(F.lit(1)).as("n"))
        .collect()
      val next = centroids.map(_.toArray) // empty cluster → previous
      stats.foreach { r =>
        val (c, p) = (r.getInt(0), r.getInt(1))
        next(c)(p) = r.getLong(2) / r.getLong(3) // non-negative → floor
      }
      centroids = next.map(_.toSeq)
      it += 1
    }
    (assign(base, centroids).select(F.col("id").as(idCol),
      F.col("cluster").cast(LongType).as("cluster")), centroids)
  }

  /** Refuse a fit whose integer distances could overflow a long: each
    * squared component difference is at most `(max − min)²`, since every
    * centroid is a mean of quantized values. */
  private def checkRange(base: DataFrame, offset: Double): Unit = {
    val q = F.col("q")
    val r = base.agg(F.min(F.array_min(q)), F.max(F.array_max(q)), F.max(F.size(q))).head()
    if (!r.isNullAt(0)) {
      val (lo, hi, d) = (r.getLong(0), r.getLong(1), r.getInt(2))
      val span = BigInt(hi) - BigInt(lo)
      if (span * span * d > BigInt(Long.MaxValue))
        throw new IllegalArgumentException(
          s"k-means input out of range for offset $offset: quantized " +
            s"components span [$lo, $hi] in $d dims, so a squared " +
            "distance overflows a long; keep |x| <= offset")
    }
  }

  /** Driver-side twin of [[quantize]] (for quantizing a query vector
    * against a fitted model — same floor((x+offset)·10⁶) contract). */
  private[pipeline] def quantizeLocal(vec: Seq[Float],
      offset: Double): Seq[Long] =
    vec.map(x => math.floor((x.toDouble + offset) * Scale).toLong)

  /** Narrow assignment: k exact integer distances + lowest-index argmin
    * via a lexicographic least over (dist, index) structs. */
  private def assign(base: DataFrame, centroids: Array[Seq[Long]]): DataFrame = {
    val cands = centroids.zipWithIndex.map { case (c, j) =>
      val d = F.aggregate(
        F.zip_with(F.col("q"), F.typedlit(c), (a, b) => (a - b) * (a - b)),
        F.lit(0L), (acc, x) => acc + x)
      F.struct(d.as("d"), F.lit(j).as("j"))
    }
    val best =
      if (cands.length == 1) cands.head else F.least(cands.toIndexedSeq: _*)
    base.withColumn("cluster", best.getField("j"))
  }
}
