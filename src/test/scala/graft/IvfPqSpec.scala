package graft

import org.apache.spark.sql.{functions => F}
import graft.pipeline.{IvfPq, Pq, Similarity}

/** IVF-PQ composition: exactness at full probe + refine, recall at
  * partial probe, zero query-time refits, save/load round trip with
  * partition-pruned probes, and code compactness. */
class IvfPqSpec extends SparkSpec {

  /** Clustered corpus: `nBlobs` tight unit-ish blobs in d dims. */
  private def blobs(nBlobs: Int, perBlob: Int, d: Int, seed: Int)
      : Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(seed)
    val centers = Seq.fill(nBlobs)(Seq.fill(d)(rnd.nextFloat() * 2 - 1))
    for {
      b <- 0 until nBlobs
      i <- 0 until perBlob
    } yield ((b * perBlob + i).toLong,
      centers(b).map(c => c + (rnd.nextFloat() - 0.5f) * 0.05f))
  }

  test("full probe + refine equals brute force exactly") {
    import spark.implicits._
    val rows = blobs(4, 25, 16, seed = 3)
    val df = rows.toDF("id", "vec")
    val index = IvfPq.fit(df, "id", "vec", nlist = 4, m = 4, k = 16,
      pqIters = 2)
    val query = rows(37)._2
    val got = IvfPq.topKRefined(index, df, "vec", query, k = 10,
        nprobe = 4, refineFactor = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Similarity.bruteForceTopK(df, "id", "vec", query, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
  }

  test("deterministic coarse quantizer: full probe + refine equals brute " +
      "force; rerun is bit-identical") {
    import spark.implicits._
    val rows = blobs(4, 25, 16, seed = 3)
    val df = rows.toDF("id", "vec")
    val query = rows(37)._2
    def run(): Seq[(Long, Double)] = {
      val index = IvfPq.fit(df, "id", "vec", nlist = 4, m = 4, k = 16,
        pqIters = 2)
      IvfPq.topKRefined(index, df, "vec", query, k = 10, nprobe = 4,
          refineFactor = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    val got = run()
    val want = Similarity.bruteForceTopK(df, "id", "vec", query, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
    assert(run() == got, "a refit must be bit-identical")
  }

  test("partial probe keeps recall@10 >= 0.9 on clustered data") {
    import spark.implicits._
    val rows = blobs(8, 40, 16, seed = 17)
    val df = rows.toDF("id", "vec")
    val index = IvfPq.fit(df, "id", "vec", nlist = 8, m = 4, k = 32,
      pqIters = 2).persist()
    val queries = Seq(5, 77, 150, 222, 311).map(i => rows(i)._2)
    val recalls = queries.map { q =>
      val got = IvfPq.topKRefined(index, df, "vec", q, k = 10,
        nprobe = 2, refineFactor = 4).collect().map(_.getLong(0)).toSet
      val want = Similarity.bruteForceTopK(df, "id", "vec", q, 10)
        .collect().map(_.getLong(0)).toSet
      got.intersect(want).size.toDouble / want.size
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.9, s"mean recall $mean from $recalls")
    index.unpersist()
  }

  test("queries against a fitted index never refit the quantizer") {
    import spark.implicits._
    val rows = blobs(3, 20, 8, seed = 29)
    val df = rows.toDF("id", "vec")
    val index = IvfPq.fit(df, "id", "vec", nlist = 3, m = 2, k = 8,
      pqIters = 1)
    val before = Similarity.IvfIndex.fits.get()
    IvfPq.topK(index, rows(5)._2, 5, nprobe = 2).collect()
    IvfPq.topKRefined(index, df, "vec", rows(9)._2, 5, nprobe = 2).collect()
    assert(Similarity.IvfIndex.fits.get() == before)
  }

  test("save/load round-trips the model and prunes probe partitions") {
    import spark.implicits._
    val rows = blobs(4, 20, 16, seed = 41)
    val df = rows.toDF("id", "vec")
    val index = IvfPq.fit(df, "id", "vec", nlist = 4, m = 4, k = 8,
      pqIters = 2)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq").toString + "/idx"
    index.save(dir)
    val loaded = IvfPq.load(spark, dir)
    assert(loaded.pq == index.pq)
    assert(loaded.centers == index.centers)
    val query = rows(11)._2
    val got = IvfPq.topK(loaded, query, 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = IvfPq.topK(index, query, 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want)
    // the probe plan must read only the probed lists' directories
    val plan = IvfPq.topK(loaded, query, 10, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__list"),
      plan)
  }

  test("codes are m ints in range — the 100 TB compression contract") {
    import spark.implicits._
    val rows = blobs(4, 30, 32, seed = 53)
    val index = IvfPq.fit(rows.toDF("id", "vec"), "id", "vec",
      nlist = 4, m = 8, k = 16, pqIters = 1)
    val codes = index.codes.select("__code").collect().map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 16)))
    assert(index.codes.columns.toSeq.sorted == Seq("__code", "__list", "id"))
  }
}
