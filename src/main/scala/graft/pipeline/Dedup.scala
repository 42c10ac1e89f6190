package graft.pipeline

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, functions => F}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import graft.expressions.{SmallestPairs, SortedIntersectCount}
import graft.sources.Sidecar
import graft.sources.Sidecar.Json

/** Deduplication operators for training-data pipelines, each designed as a
  * distributed dataflow that survives 100× scale-up:
  *
  *  - exact:        hash-groupBy — one shuffle on a 128-bit digest
  *  - MinHash+LSH:  shingle → signature (narrow) → band explode → bucket
  *                  groupBy (shuffle on band key) → in-bucket candidate
  *                  pairs → exact-Jaccard verify. Never computes O(n²).
  *  - SimHash:      64-bit locality hash (narrow map) → bucket on hash
  *  - n-gram Jaccard: common-shingle blocking join → exact verify
  *  - embedding cosine: sign-bit LSH bucketing → in-bucket cosine verify
  *
  * All hash functions are Spark's xxhash64 (seeded per-row deterministic),
  * so results are stable across runs and cluster sizes.
  *
  * On a corpus small enough to broadcast, the MinHash and n-gram pair
  * stages fetch the hashed documents in one bounded job and group them on
  * the driver ([[localPairs]]); the result is the frame path's.
  */
object Dedup {

  /** Exact dedup groups: digest the key column, keep the minimum id as the
    * canonical representative. One shuffle; group count == distinct count. */
  def exactGroups(df: DataFrame, id: String, key: String): DataFrame =
    df.groupBy(F.md5(F.col(key)).as("digest"))
      .agg(F.count(F.lit(1)).as("n"), F.min(F.col(id)).as("keep_id"))

  /** Drop exact duplicates of `key`, keeping the row with the smallest id.
    * (dropDuplicates would keep an arbitrary row — not reproducible.) */
  def exactDedup(df: DataFrame, id: String, key: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(F.col(key)).orderBy(F.col(id))
    df.withColumn("__rn", F.row_number().over(w))
      .where(F.col("__rn") === 1).drop("__rn")
  }

  /** Incremental exact dedup: the rows of `incoming` whose `key` does
    * NOT already occur in `seen` — "dedupe today's crawl against the
    * corpus you already have". Semantics are the plain anti-join (the
    * oracle restates it as `WHERE digest NOT IN seen`), but the plan is
    * the 100 TB shape: a bloom filter over the SEEN keys (one pass, a
    * mergeable sketch aggregate, built driver-side) pre-filters the
    * incoming scan NARROWLY, so bloom-negative rows — at a healthy
    * daily-crawl overlap, almost everything — pass with NO join and NO
    * shuffle at all; only bloom-positive candidates (true duplicates +
    * `fpp` of the rest) pay the exact md5 anti-join that removes false
    * positives. No false negatives exist, so the result is bit-exact
    * whatever `fpp` is.
    *
    * Duplicates WITHIN `incoming` are deliberately kept (use
    * [[exactDedup]] for that); this operator answers only "is it new
    * vs `seen`". NULL keys on either side are inert: a null is a
    * duplicate of nothing, so null-key incoming rows are always kept
    * and null-key seen rows exclude nothing (the oracle spells this
    * out — plain `NOT IN` would instead drop every row the moment a
    * null appears). The filter is sized for the seen side's row count
    * (one count job), so it holds `fpp` and its bytes, which travel in
    * every task of the query, grow with the seen side alone. */
  def dedupAgainstSeen(incoming: DataFrame, seen: DataFrame,
      key: String = "text", fpp: Double = 0.01): DataFrame = {
    val k = F.xxhash64(F.col(key))
    // stat.bloomFilter NPEs on a zero-row aggregate; an empty seen side
    // means nothing can be a duplicate — probe a filter with no entries
    val seenKeys = seen.select(k.as("__k"))
    val n = seenKeys.count()
    val bloom =
      if (n == 0) org.apache.spark.util.sketch.BloomFilter.create(1L, fpp)
      else seenKeys.stat.bloomFilter("__k", n, fpp)
    val bytes = {
      val baos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(baos)
      baos.toByteArray
    }
    val maybe = graft.expressions.ColumnBridge.column(
      graft.expressions.BloomMightContain(
        graft.expressions.ColumnBridge.expression(k), bytes))
    // definite-new rows: narrow, never shuffle; candidates: exact
    // 128-bit digest anti-join against seen to drop bloom fps
    val fresh = incoming.where(!maybe)
    val survivors = incoming.where(maybe)
      .join(seen.select(F.md5(F.col(key)).as("__d")),
        F.md5(F.col(key)) === F.col("__d"), "left_anti")
    fresh.unionByName(survivors)
  }

  /** k-word shingles of a text column (distinct). PERF SHAPE: the
    * windows are k-1 zip_withs over shifted slices — slicing the token
    * array inside a per-element lambda re-evaluates the whole tokenize
    * per shingle (O(tokens²) on one pathological document; the same
    * capture the r15 straggler audit removed from wordNgrams — and the
    * hazard the composed shingle-hash reference form warns about). */
  def shingles(text: Column, k: Int = 3): Column = {
    val t = TextAnalysis.tokens(text)
    val g = F.greatest(F.size(t) - (k - 1), F.lit(0))
    val joined = (1 until k).foldLeft(F.slice(t, F.lit(1), g)) { (acc, j) =>
      F.zip_with(acc, F.slice(t, F.lit(1 + j), g),
        (a, b) => F.concat(a, F.lit(" "), b))
    }
    F.array_distinct(
      F.when(F.size(t) >= k, joined)
        .otherwise(F.array(F.array_join(t, " "))))
  }

  /** 64-bit hashes of the k-word shingle set WITHOUT materializing the
    * shingle strings: each token is hashed once, a shingle hash combines
    * the k token hashes. Equal shingles ⇒ equal hashes; collisions are
    * ~n²/2⁶⁴. Evaluated by the native
    * [[graft.expressions.ShingleHashes]] expression (one JVM loop inside
    * whole-stage codegen); PipelineSpec pins it to its composed form. */
  def shingleHashes(text: Column, k: Int = 3): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.ShingleHashes(
        graft.expressions.ColumnBridge.expression(F.split(text, " ")), k))

  /** MinHash signature column over a shingle-hash array — NARROW: the
    * native [[graft.expressions.MinHashSig]] loop computes all seeded
    * minima per row, no explode and no per-document reassembly shuffle
    * (the previous explode+MIN-aggregate shape paid one exchange to work
    * around codegen-hostile lambda pipelines; a native expression needs
    * neither). Hash family is bit-identical (PipelineSpec parity).
    *
    * Input contract: `sh` elements non-null, array non-empty (what
    * [[shingleHashes]] produces). Null elements are skipped; an empty
    * array yields the all-Long.MaxValue sentinel signature — callers that
    * band signatures must drop empty sets first (as
    * [[minhashCandidatesFromShingles]] does). */
  def minhashSigColumn(sh: Column, numHashes: Int): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.MinHashSig(
        graft.expressions.ColumnBridge.expression(sh), numHashes))

  /** (rid, sig) MinHash signatures — narrow map, zero shuffles. */
  def minhashSignatures(df: DataFrame, id: String, text: String,
      k: Int, numHashes: Int): DataFrame =
    df.select(F.col(id).as("rid"),
      minhashSigColumn(shingleHashes(F.col(text), k), numHashes).as("sig"))

  /** Per-group "smallest `cap` ids" aggregation column, for id lists
    * that are not expanded to pairs (k-NN candidates): the bounded
    * [[graft.expressions.CollectSmallest]] aggregate for long ids (O(cap)
    * memory per group no matter the skew), sort+slice for other id types
    * (whole-group buffer; fine at moderate skew). Pair sites use
    * [[cappedPairs]]. */
  private[pipeline] def smallestIds(ridType: org.apache.spark.sql.types.DataType,
      rid: Column, cap: Int): Column = ridType match {
    case LongType => graft.expressions.ColumnBridge.column(
      graft.expressions.CollectSmallest(
        graft.expressions.ColumnBridge.expression(rid), cap)
        .toAggregateExpression())
    case _ => F.slice(F.array_sort(F.collect_list(rid)), 1, cap)
  }

  /** Candidate duplicate pairs via MinHash LSH banding: rows sharing any
    * band of the signature land in one bucket; pairs are generated only
    * within buckets (groupBy on the band key — the one shuffle).
    *
    * `maxBucket` caps a bucket's population before the self-join: a
    * degenerate corpus (thousands of identical documents) would otherwise
    * emit |bucket|²/2 pairs from ONE bucket. Only the first `maxBucket`
    * members by id generate pairs; the overflow rows are counted in the
    * pipeline's Spark metrics (the window filter) rather than silently
    * vanishing — identical docs beyond the cap are still caught by
    * [[exactGroups]], which is the right tool for exact mass duplicates. */
  def minhashCandidates(df: DataFrame, id: String, text: String,
      k: Int = 3, numHashes: Int = 32, bands: Int = 8,
      maxBucket: Int = 256): DataFrame =
    minhashCandidatesFromShingles(
      df.select(F.col(id).as("rid"), shingleHashes(F.col(text), k).as("sh")),
      numHashes, bands, maxBucket)

  /** Candidates from a precomputed (rid, sh) shingle-hash relation — lets
    * the full dedup pipeline tokenize/shingle each document ONCE and share
    * the (checkpointed) result between banding and verification.
    *
    * Input contract: `sh` elements are non-null ([[shingleHashes]] never
    * emits null slots). Empty shingle sets are filtered out here — an
    * empty set has no content to match on, and its all-sentinel signature
    * would otherwise band every empty document into one shared bucket. */
  def minhashCandidatesFromShingles(sh: DataFrame,
      numHashes: Int = 32, bands: Int = 8, maxBucket: Int = 256): DataFrame = {
    // narrow signature computation — the banding groupBy below is the
    // frame path's ONLY shuffle (a broadcast-sized corpus groups its
    // buckets on the driver instead, see [[minhashDedupPairs]])
    val sigs = sh.where(F.size(F.col("sh")) > 0).select(F.col("rid"),
      minhashSigColumn(F.col("sh"), numHashes).as("sig"))
    val banded = bandedRows(sigs, numHashes, bands)
    // ONE shuffle to per-bucket posting lists capped to the `maxBucket`
    // smallest ids, pairs expanded locally ([[cappedPairs]], the shape
    // every pair site shares). The cap bounds a degenerate bucket's
    // pair fan-out at maxBucket²/2 (never |bucket|²); exact
    // mass-duplicates beyond the cap are still caught by
    // [[exactGroups]], the right tool for them.
    cappedPairs(banded, maxBucket, "band", "bucket")
  }

  /** The band buckets of a signature column, as an array indexed by
    * band: bucket b is `hash(b, sig[b·rows, (b+1)·rows))`. The ONE
    * banding recipe: [[bandedRows]] posexplodes it for the self-join
    * path, the cross-corpus path and [[MinHashSeenIndex.fit]] (bucket
    * values are rid-independent, so rows banded at index-build time join
    * rows banded at query time exactly), and the driver-side pair path
    * of [[minhashDedupPairs]] reads it as is. */
  private def bandBuckets(sig: Column, numHashes: Int, bands: Int): Column = {
    val rows = numHashes / bands
    F.transform(F.sequence(F.lit(0), F.lit(bands - 1)),
      b => F.hash(b, F.slice(sig, b * rows + 1, F.lit(rows))))
  }

  /** (rid, band, bucket) banding rows of a (rid, sig) signature frame. */
  private def bandedRows(sigs: DataFrame,
      numHashes: Int, bands: Int): DataFrame =
    sigs.select(F.col("rid"), F.posexplode(
      bandBuckets(F.col("sig"), numHashes, bands)).as(Seq("band", "bucket")))

  /** The one candidate-pair step of every blocking dedup: group a
    * (rid, keys…) posting relation by `keys` — the one shuffle — cap
    * each posting list to its `cap` smallest rids (duplicates kept),
    * expand it locally into the ordered pairs (e_i, e_j), i < j, and
    * dedup pairs found via several lists. Returns (id1, id2).
    *
    * Long rids take the fused bounded aggregate
    * ([[graft.expressions.SmallestPairs]]): O(cap) buffer per list no
    * matter the skew, pairs emitted once from the buffer. Other rid
    * types fall back to sort+slice (whole-list buffer, one slice per
    * exploded element) with the same pair set. The cross-list
    * `distinct` cannot move into the lists: whether a pair survives one
    * list's cap depends on that list's other rows. [[localPairs]] is the
    * same step on the driver, for a broadcast-sized corpus. */
  private def cappedPairs(postings: DataFrame, cap: Int,
      keys: String*): DataFrame = {
    val lists = postings.groupBy(keys.map(F.col): _*)
    val pairs = postings.schema("rid").dataType match {
      case LongType =>
        lists.agg(graft.expressions.ColumnBridge.column(
            graft.expressions.SmallestPairs(
              graft.expressions.ColumnBridge.expression(F.col("rid")),
              cap).toAggregateExpression()).as("prs"))
          .select(F.explode(F.col("prs")).as("pr"))
          .select(F.col("pr.id1").as("id1"), F.col("pr.id2").as("id2"))
      case ridType =>
        lists.agg(smallestIds(ridType, F.col("rid"), cap).as("rids"))
          .where(F.size(F.col("rids")) >= 2)
          .select(F.posexplode(F.col("rids")).as(Seq("i", "id1")), F.col("rids"))
          .select(F.col("id1"), F.explode(F.slice(F.col("rids"),
            F.col("i") + 2, F.size(F.col("rids")))).as("id2"))
    }
    pairs.distinct()
  }

  /** Exact Jaccard similarity of two shingle-set columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = F.size(F.array_intersect(a, b)).cast(DoubleType)
    val union = F.size(F.array_union(a, b)).cast(DoubleType)
    F.when(union > 0, inter / union).otherwise(F.lit(0.0))
  }

  /** The (rid, sh) relation of the set-overlap family: each document's
    * id and its element set, sorted here once with the native
    * `sort_array` (the elements are non-null longs, so the order is the
    * one `array_sort` gives, without its interpreted comparator lambda).
    * Both verifications merge the sorted sets as built. */
  private def sortedSets(df: DataFrame, rid: Column, set: Column): DataFrame =
    df.select(rid.as("rid"), F.sort_array(set).as("sh"))

  /** Exact-Jaccard verification of candidate pairs against a (rid, sh)
    * relation of SORTED sets ([[sortedSets]]): each pair attaches its two
    * sides with two plain equi-joins, and the Jaccard comes from one
    * allocation-free two-pointer merge
    * ([[graft.expressions.SortedIntersectCount]]; |A∪B| is arithmetic
    * from the sizes). The corpus relation is tiny next to the candidate
    * set (each doc fans out to many pairs), so both joins broadcast at
    * bench scale — the whole verify is NARROW — and at cluster scale AQE
    * falls back to two shuffle joins that move each array once per
    * CANDIDATE side, half of what a pair-keyed array regroup shuffles
    * (measured at 10x: the regroup shape spent ~80% of the query's wall
    * shipping shingle arrays through the pair shuffle). */
  private def verifiedJaccard(cands: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame = {
    val s1 = sh.select(F.col("rid").as("id1"), F.col("sh").as("sh1"))
    val s2 = sh.select(F.col("rid").as("id2"), F.col("sh").as("sh2"))
    val inter = graft.expressions.ColumnBridge.column(
      graft.expressions.SortedIntersectCount(
        graft.expressions.ColumnBridge.expression(F.col("sh1")),
        graft.expressions.ColumnBridge.expression(F.col("sh2"))))
      .cast(DoubleType)
    val union =
      (F.size(F.col("sh1")) + F.size(F.col("sh2"))).cast(DoubleType) - inter
    cands.join(s1, "id1").join(s2, "id2")
      .withColumn("jaccard",
        F.when(union > 0, inter / union).otherwise(F.lit(0.0)))
      .where(F.col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  private val pairType = StructType(Seq(
    StructField("id1", LongType, nullable = false),
    StructField("id2", LongType, nullable = false),
    StructField("jaccard", DoubleType)))

  /** The verified pairs of a broadcast-sized corpus, grouped on the
    * driver, or None, which sends the caller to its frame path. `fetch`
    * holds one row per document: (rid, sh: sorted set, …).
    *
    * The gate is the test Spark applies before it broadcasts a relation:
    * the optimizer's size estimate of `input` within
    * `spark.sql.autoBroadcastJoinThreshold` (negative: never). It costs
    * no job, so a large corpus never pays for a wasted fetch. Then the
    * ids must be longs, and one bounded fetch
    * ([[graft.Fixpoints.collectBounded]]) must return at most
    * [[graft.Fixpoints.LocalMax]] rows with unique non-null ids (the
    * frame path's joins on rid pair a repeated id with each copy).
    *
    * `keys` sees every fetched row first (the n-gram path counts
    * document frequencies), then names each row's posting keys. The rest
    * is [[cappedPairs]] and [[verifiedJaccard]] on the driver: posting
    * lists capped to the `cap` smallest ids, the ordered pair expansion
    * of [[graft.expressions.SmallestPairs]], the cross-list dedup, and
    * the exact Jaccard by [[graft.expressions.SortedIntersectCount]]. The
    * pairs come back as a local relation, so using them runs no job for
    * them — the trade [[graft.Fixpoints.reach]] makes. */
  private def localPairs(input: DataFrame, fetch: DataFrame, cap: Int,
      threshold: Double)(
      keys: Array[InternalRow] => InternalRow => Iterator[Long]): Option[DataFrame] = {
    val limit = input.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (limit < 0 || input.queryExecution.optimizedPlan.stats.sizeInBytes > limit ||
        fetch.schema("rid").dataType != LongType ||
        fetch.schema("sh").dataType != ArrayType(LongType, containsNull = false)) return None
    val rows = graft.Fixpoints.collectBounded(fetch)
    if (rows.length > graft.Fixpoints.LocalMax || rows.exists(_.isNullAt(0))) return None
    val sets = mutable.LongMap[InternalRow]()
    rows.foreach(r => sets.update(r.getLong(0), r))
    if (sets.size != rows.length) return None
    val keyOf = keys(rows)
    val lists = mutable.LongMap[mutable.ArrayBuilder.ofLong]()
    rows.foreach { r =>
      keyOf(r).foreach(k => lists.getOrElseUpdate(k, new mutable.ArrayBuilder.ofLong) += r.getLong(0))
    }
    val cands = mutable.HashSet[(Long, Long)]()
    lists.valuesIterator.foreach { list =>
      val ids = list.result()
      java.util.Arrays.sort(ids)
      SmallestPairs.foreachPair(ids, math.min(ids.length, cap))((a, b) => cands += ((a, b)))
    }
    val pairs = cands.toArray.sorted.flatMap { case (a, b) =>
      val (sa, sb) = (sets(a).getArray(1), sets(b).getArray(1))
      val inter = SortedIntersectCount.count(sa, sb).toDouble
      val union = (sa.numElements() + sb.numElements()).toDouble - inter
      val j = if (union > 0) inter / union else 0.0
      if (j >= threshold) Some(Row(a, b, j)) else None
    }
    Some(input.sparkSession.createDataFrame(java.util.Arrays.asList(pairs: _*), pairType))
  }

  /** MinHash LSH near-dup pairs, verified with exact Jaccard ≥ threshold.
    * Returns (id1, id2, jaccard).
    *
    * A broadcast-sized corpus ([[localPairs]]) is fetched in one job —
    * each document's id, sorted shingle-hash set and band buckets — and
    * its buckets are grouped on the driver. Otherwise the frame path runs
    * ([[minhashCandidatesFromShingles]], then [[verifiedJaccard]]). */
  def minhashDedupPairs(df: DataFrame, id: String, text: String,
      threshold: Double = 0.8, k: Int = 3,
      numHashes: Int = 32, bands: Int = 8, maxBucket: Int = 256): DataFrame = {
    // ONE tokenization/shingling pass per path: the fetch computes the
    // buckets from it; the frame path checkpoint-shares it between the
    // banding side and both verification joins
    val sh = sortedSets(df, F.col(id), shingleHashes(F.col(text), k))
    val fetch = sh.select(F.col("rid"), F.col("sh"),
      F.when(F.size(F.col("sh")) > 0, bandBuckets(
        minhashSigColumn(F.col("sh"), numHashes), numHashes, bands)).as("buckets"))
    localPairs(df, fetch, maxBucket, threshold) { _ => r =>
      if (r.isNullAt(2)) Iterator.empty
      else {
        // (band, bucket) packed in one long key
        val b = r.getArray(2)
        Iterator.tabulate(b.numElements())(i => (i.toLong << 32) | (b.getInt(i) & 0xffffffffL))
      }
    }.getOrElse {
      val cached = sh.localCheckpoint(false)
      val cands = minhashCandidatesFromShingles(cached, numHashes, bands, maxBucket)
      // verify over HASHED shingle sets: Jaccard of 64-bit hashes equals
      // Jaccard of the strings up to hash collisions (~n²/2⁶⁴), and the
      // verification join shuffles longs instead of shingle strings
      verifiedJaccard(cands, cached, threshold)
    }
  }

  /** Fuzzy INCREMENTAL dedup pairs: MinHash-LSH near-dup pairs BETWEEN
    * `incoming` and `seen` — the fuzzy twin of [[dedupAgainstSeen]],
    * answering "which new documents are near-rewrites of something the
    * corpus already has". Returns (incoming_id, seen_id, jaccard ≥
    * threshold); within-corpus pairs on either side are deliberately
    * excluded (run [[minhashDedupPairs]] per corpus for those).
    *
    * Scale shape: identical to [[minhashDedupPairs]] — the corpora are
    * tagged in the low id bit (`id·2 + tag`, sign-safe) so ONE banding
    * pass, ONE capped posting-list shuffle, and one verify join serve
    * both sides on the native long-id path; cross-corpus candidates are
    * a parity filter on the pair list. */
  def minhashPairsAgainstSeen(incoming: DataFrame, seen: DataFrame,
      id: String, text: String, threshold: Double = 0.8, k: Int = 3,
      numHashes: Int = 32, bands: Int = 8, maxBucket: Int = 256): DataFrame = {
    val shIn = sortedSets(incoming, F.col(id).cast(LongType) * 2 + 1,
      shingleHashes(F.col(text), k))
    val shSeen = sortedSets(seen, F.col(id).cast(LongType) * 2,
      shingleHashes(F.col(text), k))
    val sh = shIn.unionByName(shSeen).localCheckpoint(false)
    val cands = minhashCandidatesFromShingles(sh, numHashes, bands, maxBucket)
      .where(F.col("id1").bitwiseAND(F.lit(1L)) =!=
        F.col("id2").bitwiseAND(F.lit(1L)))
    val odd1 = F.col("id1").bitwiseAND(F.lit(1L)) === 1L
    verifiedJaccard(cands, sh, threshold)
      .select(
        F.shiftright(F.when(odd1, F.col("id1")).otherwise(F.col("id2")), 1)
          .as("incoming_id"),
        F.shiftright(F.when(odd1, F.col("id2")).otherwise(F.col("id1")), 1)
          .as("seen_id"),
        F.col("jaccard"))
  }

  /** Persisted MinHash index over a stored corpus — the fix for
    * [[minhashPairsAgainstSeen]]'s one scale flaw: that path
    * re-tokenizes, re-shingles, and re-signs the ENTIRE seen corpus on
    * every incoming batch, which at a 100 TB stored corpus dominates a
    * daily ingestion run. Fit once instead: persist the corpus's
    * sorted shingle-hash sets (for exact-Jaccard verification, which
    * then sorts only the batch's side) and its
    * pre-banded (band, bucket, rid) rows (for candidate blocking); a
    * batch then computes signatures only for ITSELF and joins the
    * stored postings — zero per-query work proportional to corpus
    * tokenization. Results are bit-identical to the recompute path
    * (IncrementalDedupSpec pins it): bucket values are rid-independent,
    * so rows banded at build time join rows banded at query time
    * exactly, and the cap orders tagged ids the same way. */
  final class MinHashSeenIndex private[pipeline] (
      private[graft] val shingles: DataFrame, // (rid, sh), sh sorted
      private[graft] val bandRows: DataFrame, // (rid, band, bucket)
      val k: Int, val numHashes: Int, val bands: Int) {

    /** Persist both relations + a parameter sidecar, which records that
      * the stored shingle sets are sorted. */
    def save(path: String): Unit = {
      shingles.write.mode("overwrite").parquet(s"$path/shingles")
      bandRows.write.mode("overwrite").parquet(s"$path/bands")
      Sidecar.save(shingles.sparkSession, path, MinHashSeenIndex.SIDECAR,
        "k" -> k, "numHashes" -> numHashes, "bands" -> bands,
        "sorted" -> true)
    }
  }

  object MinHashSeenIndex {
    private[pipeline] val SIDECAR = "_minhash_index_meta.json"

    /** Build the index: one narrow shingle+signature pass over the
      * corpus, banding rows expanded (no shuffle — the shuffles happen
      * at query time, against each batch). Long ids required (the
      * tag-bit query path shifts them). */
    def fit(df: DataFrame, id: String, text: String, k: Int = 3,
        numHashes: Int = 32, bands: Int = 8): MinHashSeenIndex = {
      val sh = sortedSets(df, F.col(id).cast(LongType),
        shingleHashes(F.col(text), k))
      val sigs = sh.where(F.size(F.col("sh")) > 0).select(F.col("rid"),
        minhashSigColumn(F.col("sh"), numHashes).as("sig"))
      new MinHashSeenIndex(sh, bandedRows(sigs, numHashes, bands),
        k, numHashes, bands)
    }

    /** Reload an index persisted by [[MinHashSeenIndex.save]]. An index
      * whose sidecar does not record `sorted` holds its shingle sets in
      * first-occurrence order; they are sorted here, once. */
    def load(spark: org.apache.spark.sql.SparkSession,
        path: String): MinHashSeenIndex = {
      val (k, numHashes, bands, sorted) =
        Sidecar.load(spark, path, SIDECAR, "a MinHash index") { j =>
          (j.int("k"), j.int("numHashes"), j.int("bands"),
            j.has("sorted") && j.bool("sorted"))
        }
      val stored = spark.read.parquet(s"$path/shingles")
      new MinHashSeenIndex(
        if (sorted) stored else sortedSets(stored, F.col("rid"), F.col("sh")),
        spark.read.parquet(s"$path/bands"), k, numHashes, bands)
    }
  }

  /** [[minhashPairsAgainstSeen]] against a PRE-FIT [[MinHashSeenIndex]]:
    * same result, but the seen corpus contributes stored postings and
    * shingle sets instead of being re-processed per batch. Returns
    * (incoming_id, seen_id, jaccard ≥ threshold). */
  def minhashPairsAgainstIndex(index: MinHashSeenIndex,
      incoming: DataFrame, id: String, text: String,
      threshold: Double = 0.8, maxBucket: Int = 256): DataFrame = {
    val shIn = sortedSets(incoming, F.col(id).cast(LongType) * 2 + 1,
        shingleHashes(F.col(text), index.k))
      .localCheckpoint(false) // banding + verify both read it
    val sigsIn = shIn.where(F.size(F.col("sh")) > 0).select(F.col("rid"),
      minhashSigColumn(F.col("sh"), index.numHashes).as("sig"))
    val banded = bandedRows(sigsIn, index.numHashes, index.bands)
      .unionByName(index.bandRows.select(
        (F.col("rid") * 2).as("rid"), F.col("band"), F.col("bucket")))
    val cands = cappedPairs(banded, maxBucket, "band", "bucket")
      .where(F.col("id1").bitwiseAND(F.lit(1L)) =!=
        F.col("id2").bitwiseAND(F.lit(1L)))
    val shAll = shIn.unionByName(index.shingles.select(
      (F.col("rid") * 2).as("rid"), F.col("sh")))
    val odd1 = F.col("id1").bitwiseAND(F.lit(1L)) === 1L
    verifiedJaccard(cands, shAll, threshold)
      .select(
        F.shiftright(F.when(odd1, F.col("id1")).otherwise(F.col("id2")), 1)
          .as("incoming_id"),
        F.shiftright(F.when(odd1, F.col("id2")).otherwise(F.col("id1")), 1)
          .as("seen_id"),
        F.col("jaccard"))
  }

  /** Rows of `incoming` that are NOT near-duplicates of anything in
    * `seen` (the fuzzy companion to [[dedupAgainstSeen]]'s exact pass;
    * real incremental ingestion runs both). One anti-join over the
    * (small) matched-id list. */
  def fuzzyDedupAgainstSeen(incoming: DataFrame, seen: DataFrame,
      id: String, text: String, threshold: Double = 0.8, k: Int = 3,
      numHashes: Int = 32, bands: Int = 8, maxBucket: Int = 256): DataFrame =
    incoming.join(
      minhashPairsAgainstSeen(incoming, seen, id, text, threshold, k,
        numHashes, bands, maxBucket)
        .select(F.col("incoming_id").as(id)).distinct(),
      Seq(id), "left_anti")

  /** 64-bit SimHash over tokens: per-bit vote of token hashes, sign →
    * bit. Near-dups share the hash (or differ in few bits). Narrow map,
    * evaluated by the native [[graft.expressions.SimHash64]] Catalyst
    * expression (a tight JVM loop inside whole-stage codegen — the
    * functions-composed form allocates two 64-element arrays per TOKEN).
    * Both forms produce identical hashes (PipelineSpec pins it). */
  def simhash(text: Column): Column = simhash(text, md5Tokens = false)

  /** [[simhash]] with a choice of token hash: xxhash64 (default — the
    * fast production path) or md5-prefix (`md5Tokens = true` — each
    * token's 64 bits are the first 8 bytes of its md5, i.e.
    * `('0x' || substr(md5(tok), 1, 16))::UBIGINT` in DuckDB/ANSI
    * terms). The md5 mode exists so a SQL oracle can restate the full
    * simhash; bit distributions and banding behavior are equivalent. */
  def simhash(text: Column, md5Tokens: Boolean): Column =
    // child is a bare split (codegen'd); the expression skips the empty
    // slots itself, so no filter-HOF (CodegenFallback) enters the plan
    graft.expressions.ColumnBridge.column(
      graft.expressions.SimHash64(
        graft.expressions.ColumnBridge.expression(F.split(text, " ")),
        md5Tokens))

  /** SimHash dedup groups: rows with IDENTICAL simhash — the cheap exact
    * bucket. Near-dups that differ in a few bits need the banded variant
    * [[simhashNearDupPairs]]. */
  def simhashGroups(df: DataFrame, id: String, text: String,
      md5Tokens: Boolean = false): DataFrame =
    df.select(F.col(id).as("rid"),
        simhash(F.col(text), md5Tokens).as("simhash"))
      .groupBy("simhash")
      .agg(F.count(F.lit(1)).as("n"), F.min("rid").as("keep_id"))

  /** SimHash near-dup pairs with Hamming distance ≤ `maxBits`, found by
    * band blocking with `maxBits + 1` bands (pigeonhole: fewer differing
    * bits than bands forces EXACT agreement on at least one band), so
    * candidates come from band-bucket self-joins (one shuffle on the
    * band key, never all-pairs) and are verified with a popcount of the
    * XOR. The default `maxBits = 3` gives the classic 4×16-bit split;
    * larger radii derive more, narrower bands (recall stays complete,
    * buckets get coarser). `maxBucket` caps degenerate buckets like the
    * MinHash path. */
  def simhashNearDupPairs(df: DataFrame, id: String, text: String,
      maxBits: Int = 3, maxBucket: Int = 256,
      md5Tokens: Boolean = false): DataFrame =
    hammingNearDupPairs(
      df.select(F.col(id).as("rid"),
        simhash(F.col(text), md5Tokens).as("sh")),
      maxBits, maxBucket)

  /** Perceptual near-duplicate IMAGE pairs: 64-bit aHash/dHash
    * ([[Multimodal.imageHash]]) + the same pigeonhole-complete Hamming
    * banding the text SimHash path uses — re-encoded, re-scaled, or
    * lightly edited copies of an image hash within a few bits of each
    * other, and the banded self-join finds them with ONE shuffle on the
    * band key, never all-pairs. Undecodable rows (corrupt bytes, tiny
    * tracking pixels) drop out before the shuffle instead of clustering
    * into a null bucket. Returns (id1, id2, hamming ≤ maxBits). */
  def imageNearDupPairs(df: DataFrame, id: String, bytes: String,
      kind: String = "dhash", maxBits: Int = 3,
      maxBucket: Int = 256): DataFrame =
    hammingNearDupPairs(
      df.select(F.col(id).as("rid"),
          Multimodal.imageHash(F.col(bytes), kind).as("sh"))
        .where(F.col("sh").isNotNull),
      maxBits, maxBucket)

  /** Cross-corpus Hamming pairs: near-dups BETWEEN `incoming` and
    * `seen` under any 64-bit hash column — the incremental twin of
    * [[hammingNearDupPairs]], completing the against-seen family
    * ([[dedupAgainstSeen]] exact, [[minhashPairsAgainstSeen]] fuzzy
    * text) for SimHash text and perceptual image hashes. Same
    * tag-in-the-low-id-bit shape as the MinHash path: ONE banding pass
    * and one capped bucket shuffle serve both corpora, cross-corpus
    * pairs drop out by parity. `hasher` maps a frame to (rid, sh) —
    * e.g. simhash or [[Multimodal.imageHash]]; null hashes must be
    * dropped by the hasher. Returns (incoming_id, seen_id, hamming). */
  def hammingPairsAgainstSeen(incoming: DataFrame, seen: DataFrame,
      hasher: DataFrame => DataFrame, maxBits: Int = 3,
      maxBucket: Int = 256): DataFrame = {
    val hIn = hasher(incoming).select(
      (F.col("rid").cast(LongType) * 2 + 1).as("rid"), F.col("sh"))
    val hSeen = hasher(seen).select(
      (F.col("rid").cast(LongType) * 2).as("rid"), F.col("sh"))
    val odd1 = F.col("id1").bitwiseAND(F.lit(1L)) === 1L
    hammingNearDupPairs(hIn.unionByName(hSeen), maxBits, maxBucket)
      .where(F.col("id1").bitwiseAND(F.lit(1L)) =!=
        F.col("id2").bitwiseAND(F.lit(1L)))
      .select(
        F.shiftright(F.when(odd1, F.col("id1")).otherwise(F.col("id2")), 1)
          .as("incoming_id"),
        F.shiftright(F.when(odd1, F.col("id2")).otherwise(F.col("id1")), 1)
          .as("seen_id"),
        F.col("hamming"))
  }

  /** Rows of `incoming` whose IMAGE is not a near-duplicate of anything
    * in `seen` — daily-crawl incremental image dedup
    * ([[hammingPairsAgainstSeen]] over [[Multimodal.imageHash]], then
    * one anti-join on the matched ids). Undecodable rows are kept, as
    * in [[imageDedup]]. */
  def imageDedupAgainstSeen(incoming: DataFrame, seen: DataFrame,
      id: String, bytes: String, kind: String = "dhash",
      maxBits: Int = 3, maxBucket: Int = 256): DataFrame = {
    def hasher(df: DataFrame): DataFrame =
      df.select(F.col(id).as("rid"),
          Multimodal.imageHash(F.col(bytes), kind).as("sh"))
        .where(F.col("sh").isNotNull)
    incoming.join(
      hammingPairsAgainstSeen(incoming, seen, hasher, maxBits, maxBucket)
        .select(F.col("incoming_id").as(id)).distinct(),
      Seq(id), "left_anti")
  }

  /** Perceptual near-duplicate AUDIO pairs: the loudness-envelope hash
    * ([[Multimodal.audioHash]]) through the same pigeonhole-complete
    * Hamming banding as text SimHash and image dHash — near-dup
    * detection now spans all three modalities with ONE shared banding
    * core. Undecodable/short rows drop before the shuffle. Returns
    * (id1, id2, hamming ≤ maxBits). */
  def audioNearDupPairs(df: DataFrame, id: String, bytes: String,
      maxBits: Int = 3, maxBucket: Int = 256): DataFrame =
    hammingNearDupPairs(
      df.select(F.col(id).as("rid"),
          Multimodal.audioHash(F.col(bytes)).as("sh"))
        .where(F.col("sh").isNotNull),
      maxBits, maxBucket)

  /** Near-duplicate VIDEO pairs — the fourth modality through the one
    * shared Hamming banding core: perceptual video hashes
    * ([[Multimodal.videoHash]] — temporally averaged dHash, so
    * re-encodes and frame-rate changes of the same footage land within
    * a few bits) banded and popcount-verified exactly like the text
    * SimHash / image / audio paths. Undecodable rows drop (they can't
    * be shown to duplicate anything). */
  def videoNearDupPairs(df: DataFrame, id: String, bytes: String,
      maxBits: Int = 3, maxBucket: Int = 256): DataFrame =
    hammingNearDupPairs(
      df.select(F.col(id).as("rid"),
          Multimodal.videoHash(F.col(bytes)).as("sh"))
        .where(F.col("sh").isNotNull),
      maxBits, maxBucket)

  /** Perceptual IMAGE dedup end to end: [[imageNearDupPairs]] →
    * connected components ([[dedupGroups]]) → keep each group's
    * smallest id — the image twin of the text near-dup stage in
    * [[Curation.curate]]. Rows whose bytes don't hash (corrupt,
    * sub-grid) are KEPT: an undecodable blob can't be shown to
    * duplicate anything, and dropping it is the triage gate's call,
    * not dedup's. */
  def imageDedup(df: DataFrame, id: String, bytes: String,
      kind: String = "dhash", maxBits: Int = 3,
      maxBucket: Int = 256): DataFrame =
    dropGroupNonMins(df, id,
      imageNearDupPairs(df, id, bytes, kind, maxBits, maxBucket))

  /** Chunk-level BINARY dedup end to end: [[binaryNearDupPairs]] →
    * connected components → keep each group's smallest id — the blob
    * twin of [[imageDedup]]. Blobs below the chunking floor share no
    * chunks and are kept (they can't be shown near-duplicate). */
  def binaryDedup(df: DataFrame, id: String, bin: String,
      threshold: Double = 0.5, avgBits: Int = 10,
      maxDocsPerChunk: Int = 256): DataFrame =
    dropGroupNonMins(df, id,
      binaryNearDupPairs(df, id, bin, threshold, avgBits, maxDocsPerChunk))

  /** The banding core shared by [[simhashNearDupPairs]] (text) and
    * [[imageNearDupPairs]] (pixels): pairs within Hamming distance
    * `maxBits` of any 64-bit hash column. `hashed` must have columns
    * (rid, sh: long); null hashes are the caller's job to drop. */
  def hammingNearDupPairs(hashed: DataFrame,
      maxBits: Int, maxBucket: Int): DataFrame = {
    require(maxBits >= 0 && maxBits < 32,
      s"maxBits must be in [0, 32), got $maxBits")
    val nBands = maxBits + 1
    // band i covers bits [i*64/nBands, (i+1)*64/nBands) — an even split
    // of the 64 bits with the remainder spread across bands
    val bands = (0 until nBands).map { b =>
      val lo = b * 64 / nBands
      val width = (b + 1) * 64 / nBands - lo
      val mask = if (width == 64) -1L else (1L << width) - 1L
      (b, lo, mask)
    }
    val banded = hashed
      .select(F.col("rid"), F.col("sh"), F.explode(F.array(
        bands.map { case (b, lo, mask) => F.struct(
          F.lit(b).as("band"),
          F.shiftright(F.col("sh"), lo).bitwiseAND(F.lit(mask))
            .as("bits"))
        }: _*)).as("bb"))
      .select(F.col("rid"), F.col("sh"),
        F.col("bb.band").as("band"), F.col("bb.bits").as("bits"))
    // one shuffle to band buckets; pairs expand locally from the capped
    // member list (ascending by rid), then popcount-verified. Long ids
    // use the bounded-buffer aggregate (O(cap) memory under any skew);
    // other id types fall back to sort+slice of the whole group.
    val members = hashed.schema("rid").dataType match {
      case LongType => graft.expressions.ColumnBridge.column(
        graft.expressions.CollectSmallestPairs(
          graft.expressions.ColumnBridge.expression(F.col("rid")),
          graft.expressions.ColumnBridge.expression(F.col("sh")),
          maxBucket).toAggregateExpression())
      // NOTE: unlike the native aggregate (duplicate key = no-op), this
      // fallback keeps duplicate rids; identical under the banding
      // invariant of one row per rid per bucket
      case _ => F.slice(F.array_sort(
        F.collect_list(F.struct(F.col("rid"), F.col("sh")))), 1, maxBucket)
    }
    banded.groupBy("band", "bits")
      .agg(members.as("ms"))
      .where(F.size(F.col("ms")) >= 2)
      .select(F.posexplode(F.col("ms")).as(Seq("i", "m1")), F.col("ms"))
      .select(F.col("m1"), F.explode(
        F.slice(F.col("ms"), F.col("i") + 2, F.size(F.col("ms")))).as("m2"))
      .select(F.col("m1.rid").as("id1"), F.col("m2.rid").as("id2"),
        F.call_function("bit_count",
          F.col("m1.sh").bitwiseXOR(F.col("m2.sh"))).cast("int").as("hamming"))
      .where(F.col("hamming") <= maxBits)
      .distinct()
  }

  /** n-gram Jaccard near-dup pairs with prefix-filtered shingle blocking:
    * candidates are rows sharing a shingle inside each other's
    * rarest-first PREFIX (see [[setJaccardPairs]] — complete for the
    * threshold by the prefix-filter theorem), then exact-verified.
    *
    * `maxDocsPerShingle` caps the residual blocking fan-out: a prefix
    * shingle still shared by d documents (d identical docs) would emit
    * d²/2 candidate pairs by itself. Only the first cap members (by id)
    * of each shingle's posting list block on it — a document-frequency
    * cut, the standard guard for inverted-index blocking. */
  def ngramJaccardPairs(df: DataFrame, id: String, text: String,
      threshold: Double = 0.6, k: Int = 3,
      maxDocsPerShingle: Int = 256): DataFrame =
    setJaccardPairs(df, sortedSets(df, F.col(id), shingleHashes(F.col(text), k)),
      maxDocsPerShingle, threshold)

  /** Shared candidate+verify tail of the set-overlap dedup family: a
    * (rid, sh: sorted array<long>) frame of the documents of `input` →
    * prefix-filtered, df-capped posting lists on the set elements →
    * exact Jaccard verification. Serves [[ngramJaccardPairs]] (shingle
    * sets) and [[binaryNearDupPairs]] (CDC chunk-hash sets).
    *
    * A broadcast-sized corpus ([[localPairs]]) is fetched in one job and
    * grouped on the driver: document frequencies, each document's
    * prefix, its posting lists. Otherwise the frame path runs: the
    * df aggregate and a per-document rank window pick the prefixes, one
    * shuffle groups the posting lists ([[cappedPairs]]: fused for long
    * ids, sort+slice for other id types), and [[verifiedJaccard]]
    * checks the pairs. Both paths pick the same prefixes and the same
    * capped lists, so they return the same pairs.
    *
    * Candidate generation uses AllPairs/PPJoin prefix filtering
    * (Chaudhuri et al. 2006; Xiao et al. 2008): for Jaccard(A,B) ≥ t
    * the two sets MUST share an element inside each one's prefix — the
    * first |S| − ⌈t·|S|⌉ + 1 elements when sets are ordered by
    * ascending global document frequency (rarest first, element value
    * as tie-break). Posting only prefixes keeps the index complete for
    * the threshold while removing the stopword blow-up: a shingle like
    * "the" appears in nearly every document's SET but almost no
    * document's PREFIX, so the all-to-all candidate wave that made raw
    * shingle blocking quadratic at 10× data never forms. Lossless by
    * the prefix-filter theorem — the exact verification decides
    * membership; this only prunes candidates. */
  private def setJaccardPairs(input: DataFrame, sh: DataFrame,
      maxDocsPerKey: Int, threshold: Double): DataFrame = {
    localPairs(input, sh, maxDocsPerKey, threshold) { rows =>
      val freq = mutable.LongMap.withDefault[Long](_ => 0L)
      rows.foreach { r =>
        if (!r.isNullAt(1)) r.getArray(1).toLongArray().foreach(e => freq(e) += 1)
      }
      r =>
        if (r.isNullAt(1)) Iterator.empty
        else {
          // the set ascends, so (df, position) order is (df, element)
          // order: one primitive sort of df·2³² + position
          val set = r.getArray(1)
          val n = set.numElements()
          val order = Array.tabulate(n)(i => (freq(set.getLong(i)) << 32) | i)
          java.util.Arrays.sort(order)
          val prefix = math.min(n - math.ceil(threshold * n).toLong + 1, n)
          Iterator.tabulate(prefix.toInt)(j => set.getLong(order(j).toInt))
        }
    }.getOrElse {
      val cached = sh.localCheckpoint(false)
      val w = org.apache.spark.sql.expressions.Window
      val elems = cached.select(F.col("rid"), F.size(F.col("sh")).as("n"),
        F.explode(F.col("sh")).as("k"))
      // Document frequency attaches only for SHARED elements (df >= 2):
      // singletons — the long tail of any real corpus — all tie at df 1,
      // so a left join against the df>=2 survivors ranks identically
      // while shrinking the join's build side by the singleton share
      // (usually enough for a broadcast, removing a full shuffle of the
      // exploded element set; the df aggregate itself stays map-combined).
      val freq = elems.groupBy("k").agg(F.count(F.lit(1)).as("kf"))
        .where(F.col("kf") >= 2)
      val ranked = elems.join(freq, Seq("k"), "left")
        .withColumn("kfx", F.coalesce(F.col("kf"), F.lit(1L)))
        .withColumn("rnk", F.row_number().over(
          w.partitionBy("rid").orderBy(F.col("kfx"), F.col("k"))))
        .where(F.col("rnk") <=
          F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1)
      val cands = cappedPairs(ranked, maxDocsPerKey, "k")
      verifiedJaccard(cands, cached, threshold)
    }
  }

  /** Content-defined chunk structs of a binary column
    * ([[graft.expressions.CdcChunks]] — FastCDC gear-hash boundaries,
    * (offset, length, hash) per chunk). */
  def cdcChunks(bin: Column, avgBits: Int = 10): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.CdcChunks(
        graft.expressions.ColumnBridge.expression(bin), avgBits))

  /** Near-duplicate BINARY blobs via content-defined chunking: two
    * versions of a file share most CDC chunks no matter where bytes
    * were inserted (boundaries re-align after an edit — the property
    * fixed-size blocking lacks), so the chunk-hash sets overlap and
    * the standard posting-list machinery finds the pairs: one
    * df-capped shuffle on chunk hash, exact Jaccard verification of
    * the hash sets. The binary twin of [[ngramJaccardPairs]] — same
    * plan, chunks instead of shingles. Returns (id1, id2, jaccard),
    * id1 < id2. */
  def binaryNearDupPairs(df: DataFrame, id: String, bin: String,
      threshold: Double = 0.5, avgBits: Int = 10,
      maxDocsPerChunk: Int = 256): DataFrame = {
    setJaccardPairs(df, sortedSets(df, F.col(id),
        F.array_distinct(F.transform(cdcChunks(F.col(bin), avgBits),
          c => c.getField("hash")))),
      maxDocsPerChunk, threshold)
  }

  /** Collapse verified near-dup PAIRS into canonical GROUPS: the
    * connected components of the pair graph
    * ([[graft.Fixpoints.components]], min-label propagation with pointer
    * doubling, O(log diameter) rounds; a chain of 1000 closes in about 10
    * rounds, which RecallSpec pins with a job listener). Returns
    * (rid, grp) for every id appearing in a pair, grp = the component's
    * smallest id (the canonical representative to keep). */
  def dedupGroups(pairs: DataFrame, id1: String = "id1",
      id2: String = "id2"): DataFrame =
    graft.Fixpoints.components(
        pairs.select(F.col(id1).as("a"), F.col(id2).as("b")))
      .select(F.col("n").as("rid"), F.col("c").as("grp"))

  /** The rows of `df` that survive near-dup `pairs` (over its `id`
    * column): each connected component ([[dedupGroups]]) keeps its
    * smallest id, every other member drops. Rows in no pair are kept. */
  private[pipeline] def dropGroupNonMins(df: DataFrame, id: String,
      pairs: DataFrame): DataFrame = {
    val losers = dedupGroups(pairs)
      .where(F.col("grp") =!= F.col("rid"))
      .select(F.col("rid").as(id))
    df.join(losers, Seq(id), "left_anti")
  }

  /** Benchmark decontamination: corpus documents sharing at least
    * `minHits` k-gram shingles with ANY benchmark/eval document
    * (the standard 13-gram overlap procedure). Returns (rid, hits), one
    * row per flagged corpus row; `hits` counts the row's distinct
    * shingles that occur in the benchmark. A document sharing no
    * shingle is never flagged, whatever `minHits`, and neither is a
    * NULL text.
    *
    * Scale shape: this is a search of each document against a small
    * fixed query set, not a join of two corpora. The benchmark's
    * shingle set is fetched once ([[contaminationHits]], one job) and
    * every corpus row probes it in place — one narrow projection +
    * filter per corpus partition, no explode, no join, no shuffle. */
  def contamination(corpus: DataFrame, id: String, text: String,
      benchmark: DataFrame, benchText: String, k: Int = 13,
      minHits: Int = 1): DataFrame =
    corpus.select(F.col(id).as("rid"),
        contaminationHits(F.col(text), benchmark, benchText, k).as("hits"))
      .where(F.col("hits") >= math.max(minHits, 1))

  /** Per-row count of the distinct k-gram shingles of `text` that occur in
    * any document of `benchmark` (NULL for a NULL text). Fetches the
    * benchmark's shingle hashes in one `collect()` — the driver then
    * holds the set a broadcast of it would have held — and merges them
    * into one sorted, duplicate-free array that the native
    * [[graft.expressions.SortedSetHits]] probe carries into the plan.
    * Benchmark rows with a NULL text contribute nothing. */
  private[pipeline] def contaminationHits(text: Column, benchmark: DataFrame,
      benchText: String, k: Int): Column = {
    import benchmark.sparkSession.implicits._
    val hashes = shingleHashes(F.col(benchText), k)
    val set = benchmark.where(hashes.isNotNull).select(hashes).as[Array[Long]]
      .collect().flatten.distinct.sorted
    graft.expressions.ColumnBridge.column(graft.expressions.SortedSetHits(
      graft.expressions.ColumnBridge.expression(shingleHashes(text, k)), set))
  }

  /** Positional k-token window hashes (one per window START, no dedup) —
    * [[graft.expressions.SpanHashes]], the positional sibling of
    * [[shingleHashes]]. */
  def spanHashes(text: Column, k: Int): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.SpanHashes(
        graft.expressions.ColumnBridge.expression(F.split(text, " ")), k))

  /** Span-level exact-substring deduplication (the ExactSubstr procedure
    * of Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"): any token span of at least `minLen` tokens that
    * occurs elsewhere in the corpus is removed, keeping only its FIRST
    * occurrence in (id, position) order. Unlike document-level dedup
    * this cuts the duplicated PASSAGE out of otherwise-distinct
    * documents — boilerplate paragraphs, licence blocks, syndicated
    * article bodies. Documents rebuild from their surviving tokens
    * (single-space joined); `clean_text` is appended to df's columns.
    *
    * Dataflow (the distributed form of the paper's suffix array): every
    * window start emits (hash, id, pos) — [[spanHashes]] is one
    * allocation-free native loop, O(n·minLen) long ops, no strings —
    * then ONE corpus-wide aggregate on the window hash finds each
    * window's first occurrence (map-side combined; only hashes seen
    * twice survive the filter), the join back reuses that partitioning,
    * and a per-doc regroup collects duplicated starts. The rebuild is a
    * narrow filter: token `i` survives unless a duplicated start `p`
    * covers it (`p ≤ i < p+minLen`). A pathologically self-repetitive
    * document (every window duplicated) is capped at `maxSpans`
    * duplicated starts per doc — removal degrades (extra copies may
    * survive) but the rebuild stays O(n·maxSpans), never O(n²).
    *
    * Window-hash equality stands in for span equality exactly as in
    * [[contamination]]: xxhash64 collisions at ~n²/2⁶⁴ are negligible
    * next to the dedup's own approximation. */
  def dedupSpans(df: DataFrame, id: String, text: String,
      minLen: Int = 50, maxSpans: Int = 8192): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val occ = df.select(F.col(id).as("__id"),
      F.posexplode(spanHashes(F.col(text), minLen)).as(Seq("__pos", "__h")))
    val firstOcc = occ.groupBy(F.col("__h").as("__hh"))
      .agg(F.min(F.struct(F.col("__id"), F.col("__pos"))).as("__first"),
        F.count(F.lit(1)).as("__cnt"))
      .where(F.col("__cnt") > 1)
    val dupStarts = occ.join(firstOcc, F.col("__h") === F.col("__hh"))
      .where(F.struct(F.col("__id"), F.col("__pos")) =!= F.col("__first"))
      .groupBy("__id")
      .agg(F.slice(F.array_sort(F.collect_set(F.col("__pos"))),
        1, maxSpans).as("__starts"))
    val joined = df.join(dupStarts, df(id) === dupStarts("__id"), "left_outer")
    val starts = F.coalesce(F.col("__starts"),
      F.array().cast(ArrayType(IntegerType)))
    val toks = TextAnalysis.tokens(F.col(text))
    val kept = F.filter(toks, (_, i) =>
      !F.exists(starts, p => p <= i && i < p + minLen))
    joined.select(df.columns.map(df(_)) :+
      F.array_join(kept, " ").as("clean_text"): _*)
  }

  /** Near-dup pairs over an embedding column by cosine ≥ threshold.
    * Candidates come from multi-table sign-bit LSH through the SAME capped
    * posting-list shape as the MinHash/n-gram paths — never a bucket
    * self-join:
    *
    *  1. each row emits, per hash table t (independent hyperplane family,
    *     `Similarity.signBits` offset 64·t), its bucket plus every
    *     Hamming-1 neighbor bucket (symmetric 1-bit multi-probe — two
    *     signatures within Hamming distance 2 still co-occur somewhere);
    *  2. ONE shuffle groups postings into per-(table, bucket) lists of at
    *     most `maxBucket` ids and expands each locally into its pairs,
    *     deduped across tables and probes ([[cappedPairs]]: the bounded
    *     fused aggregate for long ids, sort+slice for other id types), so
    *     a degenerate corpus (everything in one bucket) emits
    *     O(tables·planes·maxBucket²) pairs, never O(n²);
    *  3. vectors re-attach with ONE join (the array-free pair list is the
    *     build side), exact cosine filters to ≥ threshold.
    *
    * Recall/cost knobs: `tables` buys recall linearly in cost, `planes`
    * shrinks buckets (finer candidates, lower per-table recall) —
    * RecallSpec pins measured recall vs the brute-force ground truth.
    * Mass exact duplicates beyond the cap remain [[exactGroups]]' job. */
  def embeddingCosinePairs(df: DataFrame, id: String, vec: String,
      threshold: Double = 0.95, planes: Int = 16, tables: Int = 4,
      maxBucket: Int = 256): DataFrame = {
    require(planes >= 1 && planes <= 62, s"planes must be in [1,62], got $planes")
    val base = df.select(F.col(id).as("rid"), F.col(vec).as("v"))
      .localCheckpoint(false)
    val postings = (0 until tables).map { t =>
      val b = Similarity.signBits(F.col("v"), planes, 64 * t)
      val probeBuckets = F.array((b +: (0 until planes).map(p =>
        b.bitwiseXOR(F.lit(1L << p)))): _*)
      base.select(F.col("rid"), F.lit(t).as("tbl"),
        F.explode(probeBuckets).as("bucket"))
    }.reduce(_ unionByName _)
    val cands = cappedPairs(postings, maxBucket, "tbl", "bucket")
    // one join attaches both vectors (exactly one non-null per role per
    // pair → max picks it), same shape as verifiedJaccard
    cands.select(F.col("id1"), F.col("id2"),
        F.explode(F.array(F.col("id1"), F.col("id2"))).as("rid"))
      .join(base, "rid")
      .groupBy("id1", "id2")
      .agg(F.max(F.when(F.col("rid") === F.col("id1"), F.col("v"))).as("v1"),
        F.max(F.when(F.col("rid") === F.col("id2"), F.col("v"))).as("v2"))
      .withColumn("cosine", Similarity.cosine(F.col("v1"), F.col("v2")))
      .where(F.col("cosine") >= threshold)
      .select("id1", "id2", "cosine")
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023):
    * cluster the embeddings with the exact integer k-means
    * ([[Clustering.kmeans]]) and verify cosine only WITHIN clusters —
    * the partition-then-compare shape that makes embedding dedup
    * tractable when the corpus outgrows LSH recall tuning (clusters are
    * semantically tight, so near-dups co-cluster by construction).
    *
    * Scale posture mirrors [[embeddingCosinePairs]]: per-cluster
    * membership is capped at `maxCluster` ids through [[cappedPairs]]
    * (the bounded fused aggregate for long ids), so a degenerate
    * corpus (everything in one cluster) emits at most maxCluster²/2
    * candidate pairs, never |cluster|²/2. One membership shuffle + the
    * verify join; the k-means stages are documented at
    * [[Clustering.kmeans]]. Deterministic end to end (integer k-means +
    * capped smallest-id membership), so a SQL oracle restates the whole
    * composition. */
  def semanticDedupPairs(df: DataFrame, id: String, vec: String,
      k: Int = 16, iters: Int = 2, threshold: Double = 0.95,
      maxCluster: Int = 256): DataFrame = {
    val assigned = Clustering.kmeans(df, id, vec, k, iters)
    val base = df.select(F.col(id).as("rid"), F.col(vec).as("v"))
      .localCheckpoint(false)
    val members = base
      .join(assigned.select(F.col(id).as("rid"), F.col("cluster")), "rid")
    val cands = cappedPairs(members, maxCluster, "cluster")
    cands.select(F.col("id1"), F.col("id2"),
        F.explode(F.array(F.col("id1"), F.col("id2"))).as("rid"))
      .join(base, "rid")
      .groupBy("id1", "id2")
      .agg(F.max(F.when(F.col("rid") === F.col("id1"), F.col("v"))).as("v1"),
        F.max(F.when(F.col("rid") === F.col("id2"), F.col("v"))).as("v2"))
      .withColumn("cosine", Similarity.cosine(F.col("v1"), F.col("v2")))
      .where(F.col("cosine") >= threshold)
      .select("id1", "id2", "cosine")
  }

  /** Rows surviving semantic dedup: [[semanticDedupPairs]] →
    * connected components → each group keeps its smallest id, the
    * keep-min contract every other dedup stage uses. */
  def semanticDedup(df: DataFrame, id: String, vec: String,
      k: Int = 16, iters: Int = 2, threshold: Double = 0.95,
      maxCluster: Int = 256): DataFrame =
    dropGroupNonMins(df, id,
      semanticDedupPairs(df, id, vec, k, iters, threshold, maxCluster))

  /** Digest-keyed diff between two corpus versions — the dataset-update
    * audit ("what changed between v1 and v2?") every refreshed corpus
    * release needs: one full outer join on id, content compared by md5
    * digest. Returns (id, status) with status ∈ `added` (only in new),
    * `removed` (only in old), `changed` (both, different content),
    * `unchanged`. Digesting is narrow; the join is the one
    * id-keyed shuffle — the minimal cost of any exact diff. NULL text
    * digests NULL: two NULL texts compare `unchanged`, NULL vs text is
    * `changed` (nothing silently equal). */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val o = oldDf.select(F.col(id).as("id"), F.md5(F.col(text)).as("__od"),
      F.lit(true).as("__in_old"))
    val n = newDf.select(F.col(id).as("id"), F.md5(F.col(text)).as("__nd"),
      F.lit(true).as("__in_new"))
    o.join(n, Seq("id"), "full_outer")
      .select(F.col("id"),
        F.when(F.col("__in_old").isNull, "added")
          .when(F.col("__in_new").isNull, "removed")
          .when(F.col("__od") <=> F.col("__nd"), "unchanged")
          .otherwise("changed").as("status"))
  }
}
