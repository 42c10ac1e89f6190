package graft

import org.apache.spark.sql.{DataFrame, Row, functions => F}
import org.apache.spark.sql.types.LongType

/** The fused pair-emitting aggregate (SmallestPairs) must emit exactly
  * the pairs the unfused CollectSmallest + posexplode/slice expansion
  * produced — including when the cap binds and when a rid repeats in a
  * list — and every long-id pair site of `pipeline.Dedup` must take it;
  * other id types take the sort+slice fallback with the same pairs. */
class SmallestPairsSpec extends SparkSpec {

  import spark.implicits._

  private def fusedPairs(rows: Seq[(Long, Int)], cap: Int): Set[(Long, Long)] = {
    val df = rows.toDF("rid", "bucket")
    df.groupBy("bucket")
      .agg(graft.expressions.ColumnBridge.column(
        graft.expressions.SmallestPairs(
          graft.expressions.ColumnBridge.expression(F.col("rid")),
          cap).toAggregateExpression()).as("prs"))
      .select(F.explode(F.col("prs")).as("pr"))
      .select(F.col("pr.id1"), F.col("pr.id2"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  /** Reference: cap-smallest ids per bucket (duplicates kept), ordered
    * pairs, distinct across buckets. */
  private def referencePairs(rows: Seq[(Long, Int)], cap: Int): Set[(Long, Long)] =
    rows.groupBy(_._2).values.flatMap { bucket =>
      val ids = bucket.map(_._1).sorted.take(cap)
      for (i <- ids.indices; j <- (i + 1) until ids.length)
        yield (ids(i), ids(j))
    }.toSet

  test("equals the unfused expansion on random buckets, cap binding") {
    val rnd = new scala.util.Random(42)
    val rows = Seq.fill(400)((rnd.nextInt(30).toLong, rnd.nextInt(8)))
      .distinct // unique rid per bucket, the LSH banding contract
    for (cap <- Seq(1, 2, 3, 7, 64)) {
      assert(fusedPairs(rows, cap) === referencePairs(rows, cap),
        s"cap=$cap")
    }
  }

  test("duplicate rids in a bucket keep multiset semantics") {
    // no .distinct: a rid may repeat in a bucket, as it can in an n-gram
    // or CDC posting list; (x, x) pairs and the cap's multiplicity count
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(400)((rnd.nextInt(30).toLong, rnd.nextInt(8)))
    assert(rows.distinct.size < rows.size, "fixture must repeat rids")
    for (cap <- Seq(1, 2, 3, 7, 64)) {
      assert(fusedPairs(rows, cap) === referencePairs(rows, cap),
        s"cap=$cap")
    }
  }

  test("empty and singleton buckets emit no pairs") {
    assert(fusedPairs(Seq((5L, 0)), 16) === Set.empty)
    assert(fusedPairs(Seq((5L, 0), (9L, 1)), 16) === Set.empty)
  }

  // identical texts ⟹ identical signatures ⟹ guaranteed shared
  // buckets: every site MUST emit (1,2), and doc 3 shares nothing
  private def docs = Seq((1L, "aaa bbb ccc ddd eee fff"),
    (2L, "aaa bbb ccc ddd eee fff"),
    (3L, "zzz yyy xxx www vvv uuu")).toDF("doc_id", "text")
  private def vecs = Seq((1L, Seq(0.9f, 0.1f, 0.0f)),
    (2L, Seq(0.9f, 0.1f, 0.0f)),
    (3L, Seq(0.0f, 0.1f, 0.9f))).toDF("doc_id", "v")

  test("minhash pipeline takes the fused aggregate for long ids") {
    // broadcasts off: a corpus this small otherwise groups its n-gram and
    // MinHash pairs on the driver (LocalPairsSpec), not in the aggregate
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try fusedSites() finally spark.conf.set(key, before)
  }

  private def fusedSites(): Unit = {
    // one input per long-id pair site of Dedup, with its expected pairs
    import graft.pipeline.Dedup
    val idx = Dedup.MinHashSeenIndex.fit(
      docs.where(F.col("doc_id") =!= 2L), "doc_id", "text")
    val sites = Seq(
      ("minhashDedupPairs", Dedup.minhashDedupPairs(docs, "doc_id", "text",
        threshold = 0.9, k = 3, numHashes = 16, bands = 4), (1L, 2L)),
      ("ngramJaccardPairs",
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.9),
        (1L, 2L)),
      ("embeddingCosinePairs",
        Dedup.embeddingCosinePairs(vecs, "doc_id", "v", threshold = 0.99),
        (1L, 2L)),
      ("semanticDedupPairs", Dedup.semanticDedupPairs(vecs, "doc_id", "v",
        k = 2, iters = 1, threshold = 0.99), (1L, 2L)),
      // (incoming, seen): incoming doc 2 against the seen index {1, 3}
      ("minhashPairsAgainstIndex", Dedup.minhashPairsAgainstIndex(idx,
        docs.where(F.col("doc_id") === 2L), "doc_id", "text",
        threshold = 0.9), (2L, 1L)))
    for ((name, pairs, want) <- sites) {
      val plan = pairs.queryExecution.optimizedPlan.toString
      assert(plan.contains("smallest_pairs"),
        s"$name: long-id pairs must use the fused pair aggregate")
      assert(!plan.contains("collect_smallest"),
        s"$name: the unfused id-list aggregate must be gone")
      val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set(want), name)
    }
  }

  test("non-long ids take the sort+slice fallback with the same pairs") {
    import graft.pipeline.Dedup
    val rnd = new scala.util.Random(11)
    val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    // near-duplicate families, so both sites find several pairs
    val texts = (0L until 24L).map { i =>
      val base = words.drop((i % 4).toInt) ++ words.take((i % 4).toInt)
      (i, (base :+ s"w${rnd.nextInt(3)}").mkString(" "))
    }
    val vs = (0L until 24L).map { i =>
      (i, Seq(1.0f + (i % 3), 0.01f * (i % 2), (i % 3).toFloat))
    }
    def asStrings(df: DataFrame) =
      df.withColumn("doc_id", F.concat(F.lit("d"), F.col("doc_id")))
    def unordered[A](rows: Array[Row])(f: Any => A) =
      rows.map(r => Set(f(r.get(0)), f(r.get(1)))).toSet
    def check(name: String, long: DataFrame,
        str: DataFrame): Unit = {
      assert(!str.queryExecution.optimizedPlan.toString
        .contains("smallest_pairs"), s"$name: string ids cannot take the aggregate")
      val want = unordered(long.collect())(x => s"d$x")
      assert(want.size > 1, s"$name: fixture must produce pairs")
      assert(unordered(str.collect())(_.toString) === want, name)
    }
    val textDf = texts.toDF("doc_id", "text")
    check("ngramJaccardPairs",
      Dedup.ngramJaccardPairs(textDf, "doc_id", "text", threshold = 0.5),
      Dedup.ngramJaccardPairs(asStrings(textDf), "doc_id", "text",
        threshold = 0.5))
    val vecDf = vs.toDF("doc_id", "v")
    check("embeddingCosinePairs",
      Dedup.embeddingCosinePairs(vecDf, "doc_id", "v", threshold = 0.99),
      Dedup.embeddingCosinePairs(asStrings(vecDf), "doc_id", "v",
        threshold = 0.99))
  }
}
