package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.types._
import graft.sources.Sidecar
import graft.sources.Sidecar.Json

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — a single narrow scan + TakeOrdered,
  * exact, O(n·d) per query. Scale path: sign-bit LSH bucketing (random
  * hyperplanes derived deterministically from an md5 seed recipe, no RNG
  * state to ship) or IVF-style seed partitioning — both turn top-k into a
  * bucket scan, trading recall for a ~buckets× scan reduction.
  */
object Similarity {

  /** Cosine similarity — evaluated by the native
    * [[graft.expressions.CosineSim]] expression (one allocation-free
    * pass over both vectors inside whole-stage codegen); bit-identical
    * to its composed form (PipelineSpec parity). */
  def cosine(a: Column, b: Column): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.CosineSim(
        graft.expressions.ColumnBridge.expression(a),
        graft.expressions.ColumnBridge.expression(b)))

  /** Exact brute-force top-k by cosine against one query vector.
    * `orderBy(desc).limit(k)` plans as TakeOrderedAndProject: per-partition
    * top-k then a k-row merge on the driver — no full sort, no shuffle of
    * the corpus. */
  def bruteForceTopK(corpus: DataFrame, id: String, vec: String,
      query: Seq[Float], k: Int): DataFrame = {
    val q = F.typedlit(query)
    corpus.select(F.col(id), cosine(F.col(vec), q).as("cosine"))
      .orderBy(F.col("cosine").desc, F.col(id))
      .limit(k)
  }

  /** Sign-bit LSH bucket id: for each of `planes` hyperplanes, the sign of
    * the projection; packed into a long. Vectors in the same bucket are
    * likely cosine-close (random-hyperplane LSH). `planeOffset` selects an
    * independent hyperplane family — offset by 64·t for hash table t, so
    * multi-table LSH (the standard recall lever: OR across L independent
    * tables) needs no RNG state, just a different offset.
    *
    * Evaluated by the native [[graft.expressions.SignBits]] expression —
    * one read of the vector, `planes` accumulators, whole-stage codegen;
    * bit-identical to its composed form (PipelineSpec parity). */
  def signBits(vec: Column, planes: Int, planeOffset: Int = 0): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.SignBits(
        graft.expressions.ColumnBridge.expression(vec), planes, planeOffset))

  /** Query-side LSH buckets, computed ON THE DRIVER — the same native
    * [[graft.expressions.SignBits.pack]] loop the corpus side runs, on a
    * float ArrayData wrapper, so buckets match bit-for-bit with zero
    * Spark jobs (the query vector is a handful of floats). */
  private[graft] def queryBuckets(query: Seq[Float], planes: Int,
      tables: Int): Array[Long] = {
    val ad = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      query.toArray)
    Array.tabulate(tables)(t =>
      graft.expressions.SignBits.pack(ad, isFloat = true, planes, 64 * t))
  }

  /** Probe target buckets for one table: the query's own bucket plus each
    * Hamming-1 neighbor when `probes > 1` (1-bit multi-probe). */
  private def probeTargets(qb: Long, planes: Int, probes: Int): Seq[Long] =
    if (probes <= 1) Seq(qb)
    else qb +: (0 until planes).map(p => qb ^ (1L << p))

  /** LSH-bucketed approximate top-k WITHOUT an index: one pass over the
    * corpus that computes all tables·planes projections per row (native
    * [[graft.expressions.SignBits]]) to decide bucket membership, then
    * exact cosine + TakeOrdered on the survivors. The hash stage is the
    * dominant cost — ~tables·planes/d of a brute-force scan per row —
    * so this form only beats [[bruteForceTopK]] when d ≫ tables·planes;
    * for repeated queries build an [[LshIndex]] once and probe it
    * partition-pruned instead. Recall ≈ 1 − (1 − p_table)^tables. */
  def lshTopK(corpus: DataFrame, id: String, vec: String,
      query: Seq[Float], k: Int, planes: Int = 6, probes: Int = 1,
      tables: Int = 1): DataFrame = {
    val qb = queryBuckets(query, planes, tables)
    val pred = (0 until tables).map { t =>
      signBits(F.col(vec), planes, 64 * t)
        .isin(probeTargets(qb(t), planes, probes): _*)
    }.reduce(_ || _)
    val q = F.typedlit(query)
    corpus.where(pred)
      .select(F.col(id), cosine(F.col(vec), q).as("cosine"))
      .orderBy(F.col("cosine").desc, F.col(id))
      .limit(k)
  }

  /** LSH top-k against a PRE-FIT [[LshIndex]]: the query hashes on the
    * driver ([[queryBuckets]], zero jobs) and the scan touches only the
    * probed (table, bucket) partitions of a [[LshIndex.save]]d index — a
    * partition-pruned read of ~tables·probes buckets, NOT a corpus scan
    * (RecallSpec pins PartitionFilters). Candidates dedupe across tables
    * (a tiny shuffle over the survivors), then exact cosine + top-k.
    * Results are identical to the index-free [[lshTopK]] at equal
    * (planes, tables, probes). */
  def lshTopK(index: LshIndex, query: Seq[Float], k: Int,
      probes: Int): DataFrame = {
    val qb = queryBuckets(query, index.planes, index.tables)
    val pred = (0 until index.tables).map { t =>
      F.col("__tbl") === t &&
        F.col("__bucket").isin(probeTargets(qb(t), index.planes, probes): _*)
    }.reduce(_ || _)
    val q = F.typedlit(query)
    index.bucketed.where(pred)
      .select(F.col(index.id), F.col(index.vec))
      .dropDuplicates(index.id) // a row may surface from several tables
      .select(F.col(index.id), cosine(F.col(index.vec), q).as("cosine"))
      .orderBy(F.col("cosine").desc, F.col(index.id))
      .limit(k)
  }

  /** Fit-once multi-table LSH index for [[lshTopK]]: the corpus with its
    * per-table sign-bit bucket materialized ONCE (one row per row×table),
    * so queries never recompute hyperplane projections over the corpus —
    * the write-time analogue the IVF path already had ([[IvfIndex]]).
    *
    * Storage is tables× the corpus (inherent to multi-table LSH — each
    * table IS an independent hash table); [[save]] partitions by
    * (table, bucket), i.e. at most tables·2^planes directories — sized
    * for the moderate-planes regime (planes ≲ 12). A probe reads
    * tables·probes directories. */
  final class LshIndex private[pipeline] (
      /** id, vec, `__tbl` (int), `__bucket` (long) — one row per table. */
      val bucketed: DataFrame,
      val id: String, val vec: String, val planes: Int, val tables: Int) {
    /** Pin the bucketed corpus (in-memory analogue of [[save]]). */
    def persist(): LshIndex = { bucketed.persist(); this }
    def unpersist(): LshIndex = { bucketed.unpersist(); this }

    /** Persist the index partitioned by (table, bucket) plus a JSON
      * sidecar, so a loaded probe is a partition-pruned read. */
    def save(path: String): Unit = {
      bucketed.write.mode("overwrite").partitionBy("__tbl", "__bucket")
        .parquet(path)
      Sidecar.save(bucketed.sparkSession, path, LshIndex.SIDECAR,
        "id" -> id, "vec" -> vec, "planes" -> planes, "tables" -> tables,
        "hash" -> LshIndex.HASH_FAMILY)
    }
  }

  object LshIndex {
    private[pipeline] val SIDECAR = "_lsh_meta.json"
    /** Stamp of the hyperplane derivation recipe. Bucket ids are only
      * comparable between indexes built with the SAME recipe, so load()
      * rejects a mismatch instead of silently probing wrong partitions
      * (the failure mode when the family changed from xxhash64 to
      * md5-seeded planes: an old index would return near-empty top-k). */
    private[pipeline] val HASH_FAMILY = "md5-planes-v1"

    /** Hash every corpus row into its per-table bucket — one narrow map
      * per table, no shuffle; the projections run once here instead of
      * once per query. */
    def fit(corpus: DataFrame, id: String, vec: String, planes: Int = 6,
        tables: Int = 1): LshIndex = {
      require(planes >= 1 && planes <= 62,
        s"planes must be in [1,62], got $planes")
      require(tables >= 1, s"tables must be >= 1, got $tables")
      val bucketed = (0 until tables).map { t =>
        corpus.select(F.col(id), F.col(vec), F.lit(t).as("__tbl"),
          signBits(F.col(vec), planes, 64 * t).as("__bucket"))
      }.reduce(_ unionByName _)
      new LshIndex(bucketed, id, vec, planes, tables)
    }

    /** Load a [[LshIndex#save]]d index; the scan stays lazy and
      * partition-aware. */
    def load(spark: org.apache.spark.sql.SparkSession, path: String): LshIndex = {
      val (id, vec, planes, tables, hash) =
        Sidecar.load(spark, path, SIDECAR, "an LSH index") { j =>
          (j.str("id"), j.str("vec"), j.int("planes"), j.int("tables"),
            j.str("hash"))
        }
      require(hash == HASH_FAMILY,
        s"LSH index at $path was built with hash family '$hash'; " +
          s"this build probes with '$HASH_FAMILY' — re-fit the index")
      new LshIndex(spark.read.parquet(path), id, vec, planes, tables)
    }
  }

  /** IVF (inverted-file) approximate top-k against a PRE-FIT [[IvfIndex]]:
    * the query runs zero fitting jobs. The quantized query ranks the
    * integer centroids by EXACT integer distance on the driver (nlist is
    * tiny; ties go to the lowest list), then only the `nprobe` nearest
    * lists are scanned — a partition-pruned read on a [[IvfIndex#save]]d
    * index — for exact cosine + TakeOrdered. */
  def ivfTopK(index: IvfIndex, query: Seq[Float], k: Int,
      nprobe: Int = 4): DataFrame = {
    val qq = Clustering.quantizeLocal(query, index.offset)
    val probeLists = index.centers.zipWithIndex.map { case (c, j) =>
      (c.zip(qq).map { case (a, b) => val d = a - b; d * d }.sum, j)
    }.sorted.take(nprobe).map(_._2.toLong).toSeq
    val q = F.typedlit(query)
    index.assigned.where(F.col("__list").isin(probeLists: _*))
      .select(F.col(index.id), cosine(F.col(index.vec), q).as("cosine"))
      .orderBy(F.col("cosine").desc, F.col(index.id))
      .limit(k)
  }

  /** One-shot convenience: fit + single query. For repeated queries fit
    * the index once ([[IvfIndex.fit]]) — refitting the quantizer per
    * query is the one thing an IVF index must never do. */
  def ivfTopK(corpus: DataFrame, id: String, vec: String,
      query: Seq[Float], k: Int, nlist: Int, nprobe: Int): DataFrame =
    ivfTopK(IvfIndex.fit(corpus, id, vec, nlist), query, k, nprobe)

  /** Fit-once IVF index, queried via [[ivfTopK]]: every corpus vector's
    * coarse list, plus the final integer centroids of [[Clustering]]'s
    * exact k-means (smallest-id init, fixed iterations). Assignment,
    * centroids and probe ranking are exact integer arithmetic, so a
    * whole IVF query restates in a SQL oracle and is bit-identical
    * across engines and partitionings. */
  final class IvfIndex private[pipeline] (
      /** corpus + `__list` (long) — the coarse-quantizer cell id. */
      val assigned: DataFrame,
      /** Final integer centroids, in the quantized space of `offset`. */
      val centers: Array[Seq[Long]],
      val offset: Double, val id: String, val vec: String) {
    /** Pin the assignment (in-memory analogue of [[save]]). */
    def persist(): IvfIndex = { assigned.persist(); this }
    def unpersist(): IvfIndex = { assigned.unpersist(); this }

    /** Persist the index: the assignment written PARTITIONED BY `__list`
      * (one directory per inverted list), plus a JSON sidecar with the
      * integer centroids, the quantization offset and the column names.
      * A probe against the loaded index is then a partition-pruned read
      * — `nprobe` directories' row groups, not a corpus scan (RecallSpec
      * pins PartitionFilters). */
    def save(path: String): Unit = {
      assigned.write.mode("overwrite").partitionBy("__list").parquet(path)
      Sidecar.save(assigned.sparkSession, path, IvfIndex.SIDECAR,
        "id" -> id, "vec" -> vec, "centers" -> centers.toSeq,
        "offset" -> offset)
    }
  }

  object IvfIndex {
    private[pipeline] val SIDECAR = "_ivf_centers.json"

    /** Load a [[IvfIndex#save]]d index. The assignment scan stays lazy
      * and partition-aware; centroids come from the sidecar. */
    def load(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
      val (id, vec, centers, offset) =
        Sidecar.load(spark, path, SIDECAR, "an IVF index") { j =>
          (j.str("id"), j.str("vec"), j.arr("centers").map(_.longs),
            j.double("offset"))
        }
      new IvfIndex(spark.read.parquet(path), centers.toArray, offset, id, vec)
    }

    /** Observability for tests: total quantizer fits ever run — queries
      * against a fitted index must not move it. */
    val fits = new java.util.concurrent.atomic.AtomicLong

    /** Fit the coarse quantizer ONCE — [[Clustering.kmeansFit]] over
      * every row, `iters` fixed Lloyd's steps — and keep each vector's
      * final list. Components quantize as `floor((x + offset)·10⁶)`:
      * with `|x| ≤ offset` every quantized value is non-negative and
      * the centroid update is an exact floor division (2.0 covers
      * unit-normalized embeddings); an input whose integer distances
      * could overflow a long is refused naming `offset`. The scale
      * deployment [[IvfIndex#save]]s the index partitioned by `__list`
      * so a probe becomes a partition-pruned scan; locally `persist()`
      * serves the same role. */
    def fit(corpus: DataFrame, id: String, vec: String, nlist: Int = 16,
        iters: Int = 2, offset: Double = 2.0): IvfIndex = {
      fits.incrementAndGet()
      val (assignedIds, centers) =
        Clustering.kmeansFit(corpus, id, vec, nlist, iters, offset)
      val assigned = corpus.join(
        assignedIds.withColumnRenamed("cluster", "__list"), id)
      new IvfIndex(assigned, centers, offset, id, vec)
    }
  }

  /** Symmetric per-vector int8 scalar quantization: embeddings shrink 4×
    * (the standard storage/IO lever before ANN at 100 TB — scan 25 TB
    * instead of 100). The per-vector scale rides along; reconstruction
    * error is bounded by scale/2 per component. Narrow map, no shuffle.
    * Returns struct(q: array<tinyint>, scale: double). */
  def quantizeInt8(vec: Column): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.QuantizeInt8(
        graft.expressions.ColumnBridge.expression(vec)))

  /** Inverse of [[quantizeInt8]]: approximate float reconstruction. */
  def dequantizeInt8(qv: Column): Column =
    F.transform(qv.getField("q"),
      x => x.cast(DoubleType) * qv.getField("scale"))

  /** All-pairs k-NN join (each left row → top-k right rows by cosine) via
    * multi-table LSH co-bucketing with CAPPED right-side posting lists —
    * never a bucket×bucket join. Shape:
    *
    *  1. right side: per table, exact bucket → posting list of at most
    *     `maxBucket` ids (the bounded-memory [[
    *     graft.expressions.CollectSmallest]] aggregate), so a degenerate
    *     bucket contributes O(maxBucket) candidates, not O(|bucket|²);
    *  2. left side: per table, own bucket + each Hamming-1 neighbor
    *     (1-bit multi-probe — the recall lever on the query side);
    *  3. candidates = postings ⋈ lists on (table, bucket), exploded and
    *     deduped — per left row at most tables·(planes+1)·maxBucket,
    *     a constant independent of corpus size;
    *  4. exact cosine on candidates, window top-k per left id (bounded
    *     input per key — no quadratic intermediate).
    *
    * Recall/cost knobs: more `tables` buys recall linearly in cost; more
    * `planes` shrinks buckets (finer candidates, lower recall per table).
    * For the exact small-side case broadcast the right side and use
    * bruteForce per-row instead. */
  def knnJoin(left: DataFrame, right: DataFrame, idL: String, idR: String,
      vecL: String, vecR: String, k: Int, planes: Int = 12,
      tables: Int = 4, maxBucket: Int = 256): DataFrame = {
    require(planes >= 1 && planes <= 62, s"planes must be in [1,62], got $planes")
    val l = left.select(F.col(idL).as("lid"), F.col(vecL).as("lv"))
      .localCheckpoint(false)
    val r = right.select(F.col(idR).as("rid"), F.col(vecR).as("rv"))
      .localCheckpoint(false)
    val rLists = (0 until tables).map { t =>
      r.select(F.col("rid"), F.lit(t).as("tbl"),
        signBits(F.col("rv"), planes, 64 * t).as("bucket"))
    }.reduce(_ unionByName _)
      .groupBy("tbl", "bucket")
      .agg(Dedup.smallestIds(r.schema("rid").dataType, F.col("rid"),
        maxBucket).as("rids"))
    val lPost = (0 until tables).map { t =>
      val b = signBits(F.col("lv"), planes, 64 * t)
      val probeBuckets = F.array((b +: (0 until planes).map(p =>
        b.bitwiseXOR(F.lit(1L << p)))): _*)
      l.select(F.col("lid"), F.lit(t).as("tbl"),
        F.explode(probeBuckets).as("bucket"))
    }.reduce(_ unionByName _)
    val cands = lPost.join(rLists, Seq("tbl", "bucket"))
      .select(F.col("lid"), F.explode(F.col("rids")).as("rid"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lid").orderBy(F.col("cosine").desc, F.col("rid"))
    cands.join(l, "lid").join(r, "rid")
      .withColumn("cosine", cosine(F.col("lv"), F.col("rv")))
      .withColumn("__rank", F.row_number().over(w))
      .where(F.col("__rank") <= k)
      .select(F.col("lid"), F.col("rid"), F.col("cosine"))
  }

  /** ColBERT-style late-interaction score of a doc's token-embedding
    * matrix against a query's: Σ over query vectors of the best cosine
    * over the doc's vectors ([[graft.expressions.MaxSim]] — one
    * allocation-free codegen'd loop, narrow). */
  def maxSim(docVecs: Column, queryVecs: Column): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.MaxSim(
        graft.expressions.ColumnBridge.expression(docVecs),
        graft.expressions.ColumnBridge.expression(queryVecs)))

  /** Multi-vector (late-interaction) top-k retrieval: MaxSim-score
    * every document's token-embedding matrix against the query matrix
    * in one narrow scan, top-k via TakeOrderedAndProject, ties broken
    * by id. The retrieval model between single-vector cosine and
    * cross-encoders — still corpus-scannable at 100 TB because the
    * score is a per-row fold, not a join. */
  def maxSimTopK(corpus: DataFrame, id: String, vecs: String,
      query: Seq[Seq[Float]], k: Int): DataFrame = {
    require(query.nonEmpty, "query needs at least one vector")
    val q = F.typedlit(query)
    corpus.select(F.col(id), maxSim(F.col(vecs), q).as("score"))
      .orderBy(F.col("score").desc, F.col(id))
      .limit(k)
  }

  /** Hard-negative mining for contrastive/retriever training: for each
    * (query id, query vector), the `k` corpus items MOST similar to the
    * query that are NOT its labeled positives — the near-misses a
    * contrastive loss learns the most from (in-batch random negatives
    * are too easy). Returns (qid, id, cosine, rank), rank 1..k per
    * query, deterministic (ties by id; positives excluded BEFORE
    * ranking, so rank k is always the k-th true negative).
    *
    * Exact by construction: the query batch broadcasts (training
    * batches are small) and the corpus is scanned ONCE for all queries
    * — one narrow scan + per-query TakeOrdered via window, no
    * corpus-sized shuffle beyond the rank partition. For query sets at
    * corpus scale use [[knnJoin]] (LSH) and anti-join positives
    * downstream instead. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame,
      positives: DataFrame, k: Int,
      qid: String = "qid", qvec: String = "qvec",
      cid: String = "id", cvec: String = "vec"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val scored = corpus.crossJoin(F.broadcast(queries))
      .select(F.col(qid), F.col(cid),
        cosine(F.col(cvec), F.col(qvec)).as("cosine"))
    val nonPos = scored.join(
      positives.select(F.col(qid), F.col(cid)),
      Seq(qid, cid), "left_anti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(qid).orderBy(F.col("cosine").desc, F.col(cid))
    nonPos.withColumn("rank", F.row_number().over(w))
      .where(F.col("rank") <= k)
  }

  /** Fit-once binary-code index for [[binaryTopK]]: the corpus with
    * its 1-bit code materialized ONCE next to the vector, so a query's
    * Hamming scan is a COLUMN-PRUNED read of (id, code) — 8 bytes per
    * 64 dims off disk, never the float column — and only the `rerank`
    * survivors' vectors are read back through an id-pushdown filter.
    * The write-time discipline of [[IvfIndex]]/[[LshIndex]]/TextIndex
    * applied to the binary path. */
  final class BinaryIndex private[pipeline] (
      /** id, vec, `__code` (array<long>). */
      val coded: DataFrame,
      val id: String, val vec: String) {
    def persist(): BinaryIndex = { coded.persist(); this }
    def unpersist(): BinaryIndex = { coded.unpersist(); this }

    def save(path: String): Unit = {
      coded.write.mode("overwrite").parquet(path)
      Sidecar.save(coded.sparkSession, path, BinaryIndex.SIDECAR,
        "id" -> id, "vec" -> vec)
    }
  }

  object BinaryIndex {
    private[pipeline] val SIDECAR = "_binary_meta.json"

    /** One narrow map — the quantization runs once here instead of
      * once per query. */
    def fit(corpus: DataFrame, id: String, vec: String): BinaryIndex =
      new BinaryIndex(corpus.select(F.col(id), F.col(vec),
        binaryQuantize(F.col(vec)).as("__code")), id, vec)

    def load(spark: org.apache.spark.sql.SparkSession,
        path: String): BinaryIndex = {
      val (id, vec) = Sidecar.load(spark, path, SIDECAR, "a binary index") {
        j => (j.str("id"), j.str("vec"))
      }
      new BinaryIndex(spark.read.parquet(path), id, vec)
    }
  }

  /** [[binaryTopK]] against a fitted index: pass 1 scans ONLY
    * (id, code) — parquet column pruning keeps the floats on disk —
    * and keeps the `rerank` Hamming-closest ids (collected: a k-sized
    * list); pass 2 re-reads just those rows' vectors through an
    * id-pushdown filter and ranks them by exact cosine. Identical
    * results to the index-free path (ties broken by id in both
    * stages). */
  def binaryTopK(index: BinaryIndex, query: Seq[Float], k: Int,
      rerank: Int): DataFrame = {
    require(k >= 1 && rerank >= k, s"need rerank >= k >= 1, got k=$k rerank=$rerank")
    val qCode = graft.expressions.BinarySign.packLocal(query)
    val cands = index.coded
      .select(F.col(index.id),
        hammingDist(F.col("__code"), F.typedlit(qCode.toSeq)).as("__h"))
      .orderBy(F.col("__h"), F.col(index.id))
      .limit(rerank)
      .select(index.id)
      .collect().map(_.get(0))
    index.coded
      .where(F.col(index.id).isInCollection(cands.toSeq))
      .select(F.col(index.id),
        cosine(F.col(index.vec), F.typedlit(query)).as("cosine"))
      .orderBy(F.col("cosine").desc, F.col(index.id))
      .limit(k)
  }

  /** 1-bit binary code of an embedding column — ⌈d/64⌉ longs, bit per
    * dimension set iff the component is > 0
    * ([[graft.expressions.BinarySign]]): 32× smaller than float32, and
    * Hamming distance between codes approximates angular distance. */
  def binaryQuantize(vec: Column): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.BinarySign(
        graft.expressions.ColumnBridge.expression(vec)))

  /** Hamming distance between two binary codes (equal word counts):
    * Σ popcount(xor) over the words — codegen'd builtins, no UDF. */
  def hammingDist(a: Column, b: Column): Column =
    F.aggregate(
      F.zip_with(a, b, (x, y) =>
        F.call_function("bit_count", x.bitwiseXOR(y)).cast(LongType)),
      F.lit(0L), (acc, x) => acc + x)

  /** Binary-quantized top-k: scan the 1-bit codes (8 bytes per 64 dims
    * instead of 256 — the scan reads ~3% of the float data), keep the
    * `rerank` Hamming-closest candidates via TakeOrderedAndProject, and
    * re-rank ONLY those with exact cosine. Deterministic: both stages
    * tie-break on id. With `rerank ≥ corpus size` the result equals
    * [[bruteForceTopK]] exactly (every row survives to the exact
    * stage); at realistic `rerank` (e.g. 10·k) recall follows the
    * sign-bit concentration bound — RecallSpec-style pins live in
    * PipelineSpec. The code column can also be precomputed/persisted
    * once (`binaryQuantize` in the table write) so the scan never
    * touches the float column at all. */
  def binaryTopK(corpus: DataFrame, id: String, vec: String,
      query: Seq[Float], k: Int, rerank: Int = 100): DataFrame = {
    require(k >= 1 && rerank >= k, s"need rerank >= k >= 1, got k=$k rerank=$rerank")
    val qCode = graft.expressions.BinarySign.packLocal(query)
    val cands = corpus
      .withColumn("__h",
        hammingDist(binaryQuantize(F.col(vec)), F.typedlit(qCode.toSeq)))
      .orderBy(F.col("__h"), F.col(id))
      .limit(rerank)
    cands.select(F.col(id), cosine(F.col(vec), F.typedlit(query)).as("cosine"))
      .orderBy(F.col("cosine").desc, F.col(id))
      .limit(k)
  }
}
