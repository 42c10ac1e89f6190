package graft

import org.apache.spark.sql.{functions => F}
import graft.pipeline.Clustering

/** Deterministic integer k-means: parity with a local reference, exact
  * tie-breaking, empty-cluster behavior, partitioning invariance, and
  * the narrow assignment plan. */
class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  private val Scale = 1000000L

  test("an input whose integer distances overflow a long is refused, naming offset") {
    // 8 dims of ±1e3 at offset 2.0: quantized components span ~2·10⁹,
    // so 8·span² exceeds Long.MaxValue and a distance would wrap. Under
    // ANSI mode the first assignment would instead fail with an overflow
    // error advising to turn ANSI off, so the guard must run first.
    val rnd = new scala.util.Random(7)
    val rows = (0 until 20).map(i =>
      (i.toLong, Seq.fill(8)(if (rnd.nextBoolean()) 1e3f else -1e3f)))
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.get(key)
    try {
      for (ansi <- Seq("false", "true")) {
        spark.conf.set(key, ansi)
        val e = intercept[IllegalArgumentException](
          Clustering.kmeans(rows.toDF("id", "vec"), "id", "vec", k = 2))
        assert(e.getMessage.contains("offset 2.0"), s"ansi=$ansi: ${e.getMessage}")
      }
    } finally spark.conf.set(key, before)
  }

  /** Local reference: identical quantized algorithm, plain Scala. */
  private def local(rows: Seq[(Long, Seq[Float])], k: Int, iters: Int,
      offset: Double = 2.0): Map[Long, Int] = {
    val q = rows.map { case (id, v) =>
      (id, v.map(x => math.floor((x.toDouble + offset) * Scale).toLong).toArray)
    }.sortBy(_._1)
    var cents = q.take(k).map(_._2.clone())
    def nearest(x: Array[Long]): Int =
      cents.zipWithIndex.map { case (c, j) =>
        (c.zip(x).map { case (a, b) => (a - b) * (a - b) }.sum, j)
      }.min._2
    for (_ <- 0 until iters) {
      val byC = q.groupBy { case (_, x) => nearest(x) }
      cents = cents.zipWithIndex.map { case (prev, j) =>
        byC.get(j) match {
          case None => prev
          case Some(members) =>
            val d = members.head._2.length
            Array.tabulate(d) { p =>
              members.map(_._2(p)).sum / members.size
            }
        }
      }
    }
    q.map { case (id, x) => id -> nearest(x) }.toMap
  }

  test("kmeans equals the local reference on random vectors") {
    val rnd = new scala.util.Random(5)
    val rows = (0L until 200L).map(i =>
      (i, Seq.fill(16)(rnd.nextFloat() * 2 - 1)))
    val got = Clustering.kmeans(rows.toDF("id", "v"), "id", "v",
      k = 5, iters = 3).as[(Long, Long)].collect()
      .map { case (a, b) => a -> b.toInt }.toMap
    assert(got == local(rows, 5, 3))
  }

  test("kmeans separates two obvious blobs") {
    val rows = (0L until 40L).map { i =>
      val c = if (i % 2 == 0) 0.8f else -0.8f
      (i, Seq(c + (i % 5) * 0.001f, c - (i % 3) * 0.001f))
    }
    val got = Clustering.kmeans(rows.toDF("id", "v"), "id", "v",
      k = 2, iters = 3).as[(Long, Long)].collect().toMap
    val even = (0L until 40L by 2).map(got).toSet
    val odd = (1L until 40L by 2).map(got).toSet
    assert(even.size == 1 && odd.size == 1 && even != odd)
  }

  test("identical points tie to the lowest centroid index") {
    // both init centroids are the same point → every row ties → all 0
    val rows = (0L until 10L).map(i => (i, Seq(0.5f, 0.5f)))
    val got = Clustering.kmeans(rows.toDF("id", "v"), "id", "v",
      k = 2, iters = 2).as[(Long, Long)].collect().toMap
    assert(got.values.forall(_ == 0L))
  }

  test("kmeans is bit-identical across partitionings") {
    val rnd = new scala.util.Random(9)
    val rows = (0L until 300L).map(i => (i, Seq.fill(8)(rnd.nextFloat() - 0.5f)))
    def run(parts: Int) =
      Clustering.kmeans(rows.toDF("id", "v").repartition(parts), "id", "v",
        k = 4, iters = 2).as[(Long, Long)].collect().toMap
    assert(run(1) == run(16))
  }

  test("semanticDedupPairs finds near-dups within clusters, keeps min id") {
    // blob A: ids 0-4 nearly identical; blob B: ids 10-12 identical;
    // blobs are orthogonal-ish so they split across clusters
    val rows =
      (0L to 4L).map(i => (i, Seq(0.9f, 0.01f * i, 0.0f, 0.0f))) ++
      (10L to 12L).map(i => (i, Seq(0.0f, 0.0f, 0.9f, 0.02f)))
    val df = rows.toDF("id", "v")
    val pairs = graft.pipeline.Dedup.semanticDedupPairs(df, "id", "v",
      k = 2, iters = 2, threshold = 0.999)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // every intra-blob pair is a near-dup; no cross-blob pair survives
    assert(pairs.forall { case (a, b) => (a <= 4 && b <= 4) || (a >= 10 && b >= 10) })
    assert(pairs.contains((10L, 11L)) && pairs.contains((11L, 12L)))
    val kept = graft.pipeline.Dedup.semanticDedup(df, "id", "v",
      k = 2, iters = 2, threshold = 0.999)
      .select("id").as[Long].collect().toSet
    assert(kept.contains(0L) && kept.contains(10L))
    assert(!kept.contains(11L) && !kept.contains(12L)) // min id survives
  }

  test("semanticDedupPairs caps degenerate one-cluster corpora") {
    // 100 identical vectors, k=1: candidates must respect maxCluster
    val rows = (0L until 100L).map(i => (i, Seq(0.5f, 0.5f)))
    val pairs = graft.pipeline.Dedup.semanticDedupPairs(
      rows.toDF("id", "v"), "id", "v", k = 1, iters = 1,
      threshold = 0.9, maxCluster = 10)
    assert(pairs.count() == 45L) // 10·9/2, not 100·99/2
  }

  test("final assignment is a narrow pass: centroids ride as literals") {
    val rows = (0L until 100L).map(i => (i, Seq(i * 0.01f, -i * 0.01f)))
    val plan = Clustering.kmeans(rows.toDF("id", "v"), "id", "v",
      k = 3, iters = 1).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }
}
