package graft

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.pipeline.{Dedup, Similarity}

/** Quantitative recall/quality pins for the approximate (no-DuckDB-oracle)
  * paths, so "green" means VERIFIED against in-engine ground truth, not
  * merely "emitted rows" (VERDICT r6 task 3):
  *
  *  - LSH candidate generation (embedding pairs, knn join, single-query
  *    top-k) vs brute-force cosine ground truth on PLANTED near-duplicates
  *    (the synthetic fixture has no natural pairs above cosine 0.48, so
  *    each test plants jittered copies and measures recall of the planted
  *    truth — a silent recall collapse in the banding/probing logic fails
  *    these bounds immediately);
  *  - MinHash / n-gram candidate pairs vs exact all-pairs Jaccard;
  *  - dedupGroups vs a local union-find (exact group equivalence) plus an
  *    O(log n) job-count ceiling on a 1000-chain (pointer doubling);
  *  - IVF save/load: identical results and a partition-pruned probe plan.
  *
  * All randomness is seeded — bounds are calibrated against the
  * deterministic draw, with slack far above any plausible noise.
  */
class RecallSpec extends SparkSpec {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = Tables.read(spark, dir, "embeddings")
  private lazy val docs = Tables.read(spark, dir, "documents")

  /** base vectors + one jittered near-copy each (cosine ≈ 0.95-0.99):
    * ids 0..n-1 are originals, id+10000 is the planted near-dup. */
  private def plantedVectors(n: Int, eps: Double): DataFrame = {
    val base = emb.orderBy("vec_id").limit(n)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val rnd = new scala.util.Random(7)
    val rows = base.flatMap { case (id, v) =>
      val copy = v.map(x => x + (eps * (rnd.nextDouble() - 0.5) *
        math.max(math.abs(x), 0.05)).toFloat)
      Seq((id, v.toSeq), (id + 10000L, copy.toSeq))
    }
    spark.createDataFrame(rows.toSeq).toDF("vec_id", "embedding")
  }

  /** exact all-pairs cosine ground truth (id1 < id2, cosine >= t). */
  private def bruteCosinePairs(df: DataFrame, t: Double): Set[(Long, Long)] = {
    val a = df.select(F.col("vec_id").as("id1"), F.col("embedding").as("v1"))
    val b = df.select(F.col("vec_id").as("id2"), F.col("embedding").as("v2"))
    a.join(b, F.col("id1") < F.col("id2"))
      .where(Similarity.cosine(F.col("v1"), F.col("v2")) >= t)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("embeddingCosinePairs: recall >= 0.9 vs brute force, precision exact") {
    val planted = plantedVectors(100, 0.4)
    val truth = bruteCosinePairs(planted, 0.9)
    assert(truth.size >= 50, s"fixture drift: only ${truth.size} true pairs")
    val got = Dedup.embeddingCosinePairs(planted, "vec_id", "embedding",
        threshold = 0.9)
      .collect().map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).toSet
    // exact-cosine verification makes every emitted pair true
    assert(got.subsetOf(truth), s"false positives: ${got -- truth}")
    val recall = got.size.toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall (${got.size}/${truth.size})")
  }

  test("embeddingCosinePairs: degenerate one-bucket corpus stays capped") {
    // 2000 IDENTICAL directions — every row lands in the same bucket in
    // every table. The capped posting lists must bound the pair count at
    // O(tables * (planes+1) * cap^2), never O(n^2).
    val n = 2000
    val one = spark.range(n).select(F.col("id").as("vec_id"),
      F.typedlit(Seq.fill(8)(1.0f)).as("embedding"))
    val cap = 16
    val pairs = Dedup.embeddingCosinePairs(one, "vec_id", "embedding",
      threshold = 0.5, planes = 8, tables = 2, maxBucket = cap)
    val cnt = pairs.count()
    assert(cnt > 0)
    // identical vectors: every table/probe holds the same cap smallest
    // ids, so distinct pairs collapse to C(cap, 2)
    assert(cnt <= cap.toLong * (cap - 1) / 2,
      s"$cnt pairs from a degenerate bucket (cap $cap)")
  }

  test("semanticDedupPairs: recall >= 0.9 vs brute force, precision exact") {
    // cluster blocking can only miss a pair when a jittered copy lands
    // across a k-means boundary from its original — rare at this jitter
    val planted = plantedVectors(100, 0.4)
    val truth = bruteCosinePairs(planted, 0.9)
    assert(truth.size >= 50, s"fixture drift: only ${truth.size} true pairs")
    val got = Dedup.semanticDedupPairs(planted, "vec_id", "embedding",
        k = 8, iters = 2, threshold = 0.9, maxCluster = 512)
      .collect().map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).toSet
    // exact-cosine verification within clusters: no false positives
    assert(got.subsetOf(truth), s"false positives: ${got -- truth}")
    val recall = got.size.toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall (${got.size}/${truth.size})")
  }

  test("knnJoin: recall@k >= 0.9 on planted neighborhoods, capped under skew") {
    // 20 query vectors, each with 5 planted near-copies in the corpus —
    // the true top-5 by cosine. Background corpus: 200 fixture vectors
    // (max natural cosine ~0.48, far below the planted ~0.97).
    val base = emb.orderBy("vec_id").limit(220)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val rnd = new scala.util.Random(11)
    val queries = base.take(20).map { case (id, v) => (id, v.toSeq) }
    val plantedCopies = base.take(20).flatMap { case (id, v) =>
      (1 to 5).map { j =>
        val copy = v.map(x => x + (0.3 * (rnd.nextDouble() - 0.5) *
          math.max(math.abs(x), 0.05)).toFloat)
        (id * 100 + j, copy.toSeq)
      }
    }
    val background = base.drop(20).map { case (id, v) => (id + 900000L, v.toSeq) }
    val left = spark.createDataFrame(queries.toSeq).toDF("qid", "qv")
    val right = spark.createDataFrame((plantedCopies ++ background).toSeq)
      .toDF("cid", "cv")
    val got = Similarity.knnJoin(left, right, "qid", "cid", "qv", "cv", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = queries.flatMap { case (id, _) =>
      (1 to 5).map(j => (id, id * 100 + j)) }.toSet
    val recall = (got & truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"knn recall $recall")

    // skew: identical right-side vectors must not produce a quadratic
    // candidate set — posting lists cap at maxBucket per (table, bucket)
    val oneDir = spark.range(3000).select(F.col("id").as("cid"),
      F.typedlit(Seq.fill(8)(1.0f)).as("cv"))
    val q1 = spark.range(1).select(F.col("id").as("qid"),
      F.typedlit(Seq.fill(8)(1.0f)).as("qv"))
    val skew = Similarity.knnJoin(q1, oneDir, "qid", "cid", "qv", "cv",
      k = 10, planes = 6, tables = 2, maxBucket = 32)
    assert(skew.count() == 10)
  }

  test("lshTopK: multi-table probe recovers the planted nearest neighbor") {
    val planted = plantedVectors(100, 0.3).localCheckpoint()
    val misses = (0 until 20).count { i =>
      val q = planted.where(F.col("vec_id") === i)
        .select("embedding").collect()(0).getSeq[Float](0)
      val corpus = planted.where(F.col("vec_id") =!= i)
      val got = Similarity.lshTopK(corpus, "vec_id", "embedding", q, 1,
        planes = 8, probes = 2, tables = 4)
        .collect().map(_.getLong(0)).toSet
      !got.contains(i + 10000L) // the planted copy IS the true nearest
    }
    assert(misses <= 2, s"$misses/20 planted neighbors missed")
  }

  test("IVF save/load: identical results, partition-pruned probe") {
    val corpus = emb.where(F.col("vec_id") =!= 0)
    val q = emb.where(F.col("vec_id") === 0)
      .select("embedding").collect()(0).getSeq[Float](0)
    val idx = Similarity.IvfIndex.fit(corpus, "vec_id", "embedding", nlist = 4)
    val mem = Similarity.ivfTopK(idx, q, 10, nprobe = 2)
      .collect().map(_.getLong(0)).toSeq

    val path = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    idx.save(path)
    val loaded = Similarity.IvfIndex.load(spark, path)
    assert(loaded.centers.length == idx.centers.length)
    val probe = Similarity.ivfTopK(loaded, q, 10, nprobe = 2)
    assert(probe.collect().map(_.getLong(0)).toSeq == mem)
    // the probe plan must prune partitions (read nprobe dirs, not all)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      !plan.contains("PartitionFilters: []"),
      s"probe not partition-pruned:\n$plan")
  }

  test("LSH index save/load: identical to the index-free path, partition-pruned probe") {
    val planted = plantedVectors(100, 0.3).localCheckpoint()
    val q = planted.where(F.col("vec_id") === 3)
      .select("embedding").collect()(0).getSeq[Float](0)
    val corpus = planted.where(F.col("vec_id") =!= 3)
    val (planes, tables, probes) = (8, 4, 2)
    val free = Similarity.lshTopK(corpus, "vec_id", "embedding", q, 10,
      planes = planes, probes = probes, tables = tables)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    val idx = Similarity.LshIndex.fit(corpus, "vec_id", "embedding",
      planes = planes, tables = tables)
    val mem = Similarity.lshTopK(idx, q, 10, probes = probes)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(mem == free, "fitted index must reproduce the index-free results")

    val path = java.nio.file.Files.createTempDirectory("graft_lsh").toString
    idx.save(path)
    val loaded = Similarity.LshIndex.load(spark, path)
    assert(loaded.planes == planes && loaded.tables == tables)
    val probe = Similarity.lshTopK(loaded, q, 10, probes = probes)
    assert(probe.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == free)
    // the probe plan must prune partitions (read the probed buckets'
    // directories, not the corpus) — the write-time fix for the r7
    // full-scan finding
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      !plan.contains("PartitionFilters: []"),
      s"LSH probe not partition-pruned:\n$plan")
    // recall held: the planted near-copy of vec 3 is found
    assert(free.map(_._1).contains(10003L))
  }

  test("LSH index top-k equals the index-free path: duplicated vectors, k = 1, k past the candidates") {
    // ids 0–59 and a copy of each vector under id + 20000: equal cosines,
    // so the id breaks each tie; every row surfaces from up to 4 tables
    val planted = plantedVectors(60, 0.3)
    val corpus = planted.unionByName(
      planted.select((F.col("vec_id") + 20000L).as("vec_id"), F.col("embedding")))
      .localCheckpoint()
    val idx = Similarity.LshIndex.fit(corpus, "vec_id", "embedding",
      planes = 6, tables = 4)
    val qs = planted.orderBy("vec_id").limit(3).select("embedding").collect()
      .map(_.getSeq[Float](0))
    for (q <- qs; probes <- Seq(1, 2)) {
      val free = Similarity.lshTopK(corpus, "vec_id", "embedding", q, 1000,
        planes = 6, probes = probes, tables = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(free.nonEmpty && free.length < corpus.count(), "k past the candidates")
      for (k <- Seq(1, 2, 5, free.length, 1000)) {
        val got = Similarity.lshTopK(idx, q, k, probes)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(got == free.take(k), s"k $k, probes $probes")
      }
    }
  }

  // ---- text near-dup candidate recall vs exact all-pairs Jaccard ----

  /** 40 fixture docs + a mutated copy each (every 33rd token replaced →
    * 3-gram Jaccard ≈ 0.8); doc ids are strings like the real table. */
  private lazy val mutatedDocs: DataFrame = {
    val base = docs.orderBy("doc_id").limit(40)
      .select(F.col("doc_id").cast("string"), F.col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val rows = base.flatMap { case (id, text) =>
      val toks = text.split(" ")
      val mutated = toks.zipWithIndex.map { case (t, i) =>
        if (i % 33 == 32) "XMUTX" else t }.mkString(" ")
      Seq((id, text), (id + "_m", mutated))
    }
    spark.createDataFrame(rows.toSeq).toDF("doc_id", "text").localCheckpoint()
  }

  /** exact Jaccard >= t all-pairs ground truth over 3-gram shingles. */
  private def exactJaccardPairs(t: Double): Set[(String, String)] = {
    val sh = mutatedDocs.select(F.col("doc_id"),
      Dedup.shingleHashes(F.col("text"), 3).as("sh"))
    val a = sh.select(F.col("doc_id").as("id1"), F.col("sh").as("s1"))
    val b = sh.select(F.col("doc_id").as("id2"), F.col("sh").as("s2"))
    a.join(b, F.col("id1") < F.col("id2"))
      .where(Dedup.jaccard(F.array_distinct(F.col("s1")),
        F.array_distinct(F.col("s2"))) >= t)
      .select("id1", "id2").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
  }

  test("minhash pairs: recall >= 0.9 vs exact Jaccard all-pairs") {
    val truth = exactJaccardPairs(0.7)
    assert(truth.size >= 30, s"fixture drift: ${truth.size} true pairs")
    val got = Dedup.minhashDedupPairs(mutatedDocs, "doc_id", "text",
        threshold = 0.7, k = 3, numHashes = 32, bands = 8)
      .collect().map { r =>
        val (x, y) = (r.getString(0), r.getString(1))
        if (x < y) (x, y) else (y, x)
      }.toSet
    assert(got.subsetOf(truth), s"false positives: ${got -- truth}")
    val recall = got.size.toDouble / truth.size
    assert(recall >= 0.9, s"minhash recall $recall (${got.size}/${truth.size})")
  }

  test("ngram pairs: every exact-Jaccard pair is found (shared-shingle recall)") {
    val truth = exactJaccardPairs(0.7)
    val got = Dedup.ngramJaccardPairs(mutatedDocs, "doc_id", "text",
        threshold = 0.7, k = 3)
      .collect().map { r =>
        val (x, y) = (r.getString(0), r.getString(1))
        if (x < y) (x, y) else (y, x)
      }.toSet
    // any pair at Jaccard >= 0.7 shares shingles, so blocking plus exact
    // verification is lossless here (the DF cap only drops corpus-hot
    // shingles, none in an 80-doc fixture)
    assert(got == truth)
  }

  test("dedupGroups equals a local union-find and converges in O(log n) jobs") {
    // chain 0-1-2-...-999: worst-case diameter for label propagation
    val chain = spark.range(999)
      .select(F.col("id").as("id1"), (F.col("id") + 1).as("id2"))
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val groups = Dedup.dedupGroups(chain).collect()
      assert(groups.length == 1000 && groups.forall(_.getLong(1) == 0L))
      Thread.sleep(500) // let queued listener events drain
      // pointer doubling: ~log2(1000) ≈ 10 rounds; each round a handful
      // of jobs (checkpoint + checksum). The old per-neighbor propagation
      // needed ~1000 rounds (>2000 jobs) — pin an order-of-magnitude bar.
      assert(jobs < 150, s"$jobs jobs for a 1000-chain (expected O(log n) rounds)")
    } finally spark.sparkContext.removeSparkListener(listener)

    // group equivalence vs local union-find on an arbitrary pair soup
    val rnd = new scala.util.Random(3)
    val pairs = (0 until 300).map(_ =>
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(p => p._1 != p._2)
    val df = pairs.toDF("id1", "id2")
    val parent = Array.tabulate(120L.toInt)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(id => id -> find(id.toInt).toLong).toMap
    val got = Dedup.dedupGroups(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }
}
