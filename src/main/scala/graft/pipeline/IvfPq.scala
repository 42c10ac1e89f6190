package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.types._
import graft.sources.Sidecar
import graft.sources.Sidecar.Json

/** IVF-PQ: the inverted-file coarse quantizer ([[Similarity.IvfIndex]],
  * exact integer k-means) composed with product-quantized RESIDUAL
  * codes ([[Pq]]) — the standard billion-scale ANN layout (Jégou et al.
  * 2011; FAISS `IndexIVFPQ`). Why both: IVF prunes the SCAN (a probe
  * reads `nprobe` of `nlist` partition directories), PQ shrinks the
  * BYTES (a row scanned is `m` small ints, not 4·d floats), and
  * residual encoding (vector − its list centroid) keeps the codebooks
  * tight because within-list offsets are far smaller than absolute
  * positions.
  *
  * Query shape: rank the `nlist` centroids driver-side (tiny), build
  * one exact-integer ADC table per probed list from the query's
  * RESIDUAL against that list's centroid, scan each probed list's codes
  * narrowly (`PqAdc` lookups inside whole-stage codegen, partition-
  * pruned when loaded from a [[IvfPqIndex#save]]d layout), take the
  * `k·refineFactor` best by ADC, and optionally REFINE those few
  * candidates with exact cosine against the original vectors (a
  * broadcast-able id join — candidates number in the hundreds, not the
  * corpus). With full probe and refine on, results equal brute force
  * exactly (IvfPqSpec pins it); partial probe trades recall for scan,
  * refine cleans up PQ's distance error. */
object IvfPq {

  /** A fitted index: `codes` = (id, __list, __code) — NO vectors — plus
    * the coarse centroids and the residual PQ model. */
  final class IvfPqIndex private[pipeline] (
      val codes: DataFrame,
      val centers: Seq[Seq[Float]],
      val pq: Pq.Model,
      val id: String) {
    def persist(): IvfPqIndex = { codes.persist(); this }
    def unpersist(): IvfPqIndex = { codes.unpersist(); this }

    /** Persist partitioned by list (the [[Similarity.IvfIndex#save]]
      * pattern): a probe on the loaded index is a partition-pruned read
      * of `nprobe` directories of m-int codes. */
    def save(path: String): Unit = {
      codes.write.mode("overwrite").partitionBy("__list").parquet(path)
      Sidecar.save(codes.sparkSession, path, IvfPq.SIDECAR,
        "id" -> id, "m" -> pq.m, "k" -> pq.k, "subDim" -> pq.subDim,
        "offset" -> pq.offset, "centers" -> centers,
        "codebooks" -> pq.codebooks)
    }
  }

  private[pipeline] val SIDECAR = "_ivfpq_meta.json"

  /** Load a [[IvfPqIndex#save]]d index; the codes scan stays lazy and
    * partition-aware. */
  def load(spark: SparkSession, path: String): IvfPqIndex = {
    val (id, centers, pq) =
      Sidecar.load(spark, path, SIDECAR, "an IVF-PQ index") { j =>
        (j.str("id"), j.arr("centers").map(_.floats),
          Pq.Model(j.int("m"), j.int("k"), j.int("subDim"),
            j.double("offset"), j.arr("codebooks").map(_.arr.map(_.longs))))
      }
    new IvfPqIndex(spark.read.parquet(path), centers, pq, id)
  }

  /** Residual of `vec` against its list's centroid, in float (both
    * sides use this one definition, so row and query agree). */
  private def residual(vec: Column, list: Column,
      centers: Seq[Seq[Float]]): Column =
    F.zip_with(vec, F.element_at(F.typedlit(centers),
        list.cast(IntegerType) + 1),
      (x, c) => (x.cast(FloatType) - c).cast(FloatType))

  /** Fit: the coarse IVF quantizer ([[Similarity.IvfIndex.fit]] — exact
    * integer k-means over every row), then the deterministic integer PQ
    * on the RESIDUALS, then one narrow encode pass. Every stage restates
    * in a SQL oracle. `coarseOffset` is the k-means quantization shift
    * (2.0 for unit vectors); `offset` bounds |residual| for the PQ stage
    * (4.0 covers unit vectors vs unit centroids). */
  def fit(corpus: DataFrame, id: String, vec: String, nlist: Int = 16,
      m: Int = 8, k: Int = 256, pqIters: Int = 2,
      coarseIters: Int = 2, coarseOffset: Double = 2.0,
      offset: Double = 4.0): IvfPqIndex = {
    val coarse = Similarity.IvfIndex.fit(corpus, id, vec, nlist,
      coarseIters, coarseOffset)
    // integer centroid → float center: c/10⁶ − offset, double-rounded
    // to float — one deterministic IEEE conversion both engines share
    val centers = coarse.centers.map(_.map(c =>
      (c.toDouble / 1000000.0 - coarseOffset).toFloat).toSeq).toSeq
    val withRes = coarse.assigned.withColumn("__res",
      residual(F.col(vec), F.col("__list"), centers))
    val pq = Pq.fit(withRes, id, "__res", m, k, pqIters, offset)
    val codes = withRes.select(F.col(id), F.col("__list"),
      Pq.encode(pq, F.col("__res")).as("__code"))
    new IvfPqIndex(codes, centers, pq, id)
  }

  /** Approximate top-k by ADC over the `nprobe` nearest lists. Each
    * probed list gets its own exact-integer ADC table (query residual
    * vs THAT centroid); scans are per-list filters (partition-pruned on
    * a loaded index) unioned, then TakeOrdered. Returns (id, dist).
    * Refinement is [[topKRefined]]. */
  def topK(index: IvfPqIndex, query: Seq[Float], k: Int,
      nprobe: Int = 4): DataFrame = {
    val probes = rankLists(index, query).take(math.min(nprobe,
      index.centers.length))
    val scans = probes.map { l =>
      val qres = query.zip(index.centers(l)).map { case (q, c) => q - c }
      index.codes.where(F.col("__list") === l)
        .select(F.col(index.id),
          Pq.adc(index.pq, qres, F.col("__code")).as("dist"))
    }
    scans.reduce(_.unionByName(_))
      .where(F.col("dist").isNotNull)
      .orderBy(F.col("dist"), F.col(index.id))
      .limit(k)
  }

  /** [[topK]] + exact-cosine refinement: take `k·refineFactor` by ADC,
    * join those few ids back to `corpus` (broadcast the candidates),
    * re-rank by true cosine. Full probe + refine ⇒ equals brute force. */
  def topKRefined(index: IvfPqIndex, corpus: DataFrame, vec: String,
      query: Seq[Float], k: Int, nprobe: Int = 4,
      refineFactor: Int = 4): DataFrame = {
    val cand = topK(index, query, k * refineFactor, nprobe)
      .select(F.col(index.id))
    val q = F.typedlit(query)
    corpus.join(F.broadcast(cand), index.id)
      .select(F.col(index.id),
        Similarity.cosine(F.col(vec), q).as("cosine"))
      .orderBy(F.col("cosine").desc, F.col(index.id))
      .limit(k)
  }

  /** Centroid ranking for a query — driver-side, nlist is tiny. */
  private def rankLists(index: IvfPqIndex, query: Seq[Float]): Seq[Int] =
    index.centers.zipWithIndex.sortBy { case (c, _) =>
      c.zip(query).map { case (a, b) =>
        val d = a.toDouble - b.toDouble; d * d
      }.sum
    }.map(_._2)
}
