package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import graft.pipeline.Dedup

/** The pair stages of a broadcast-sized corpus group, cap and verify on
  * the driver; everything else takes the frame path. The two paths must
  * return the same (id1, id2, jaccard) rows on the same inputs. A
  * broadcast threshold of -1 forces the frame path. */
class LocalPairsSpec extends SparkSpec {
  import spark.implicits._

  private val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"

  private def framePath[A](body: => A): A = {
    val before = spark.conf.get(thresholdKey)
    spark.conf.set(thresholdKey, "-1")
    try body finally spark.conf.set(thresholdKey, before)
  }

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  private def rows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted

  /** The driver path's rows, checked equal to the frame path's. */
  private def same(what: String)(pairs: => DataFrame): Seq[(Long, Long, Double)] = {
    val local = pairs
    assert(isLocal(local), s"$what: a broadcast-sized corpus takes the driver path")
    val frame = framePath(pairs)
    assert(!isLocal(frame) &&
      frame.queryExecution.optimizedPlan.toString.contains("smallest_pairs"),
      s"$what: threshold -1 takes the frame path")
    val want = rows(frame)
    assert(rows(local) === want, what)
    want
  }

  private val words = (0 until 60).map(i => s"w$i")

  /** Seeded families: a base text, near copies with one or two token
    * edits, `dups` exact copies, plus NULL, empty, and short texts. */
  private def corpus(seed: Int, dups: Int): Seq[(Long, String)] = {
    val rnd = new Random(seed)
    var id = 0L
    def next() = { id += 1; id * 3 } // sparse, so ids are not positions
    val out = Seq.newBuilder[(Long, String)]
    for (_ <- 0 until 12) {
      val base = Seq.fill(6 + rnd.nextInt(20))(words(rnd.nextInt(words.size)))
      out += next() -> base.mkString(" ")
      for (_ <- 0 until rnd.nextInt(4)) {
        val edited = base.updated(rnd.nextInt(base.size), words(rnd.nextInt(words.size)))
        out += next() -> (if (rnd.nextBoolean()) edited :+ "tail" else edited).mkString(" ")
      }
    }
    val dup = Seq.fill(9)(words(rnd.nextInt(words.size))).mkString(" ")
    for (_ <- 0 until dups) out += next() -> dup
    out ++= Seq(next() -> null, next() -> "", next() -> "w1 w2", next() -> "w1 w2",
      next() -> "w3")
    rnd.shuffle(out.result())
  }

  test("n-gram and MinHash pairs: driver path equals frame path across " +
    "thresholds, caps and degenerate texts") {
    for (seed <- Seq(3, 29); t <- Seq(0.5, 0.8, 0.9, 1.0); cap <- Seq(1, 2, 256)) {
      val docs = corpus(seed, dups = 5).toDF("doc_id", "text")
      val ngram = same(s"ngram seed=$seed t=$t cap=$cap")(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = t,
          maxDocsPerShingle = cap))
      val minhash = same(s"minhash seed=$seed t=$t cap=$cap")(
        Dedup.minhashDedupPairs(docs, "doc_id", "text", threshold = t,
          numHashes = 16, bands = 8, maxBucket = cap))
      if (cap == 256) {
        // the five exact copies pair among themselves, at Jaccard 1
        assert(ngram.count(_._3 == 1.0) >= 10 && minhash.count(_._3 == 1.0) >= 10,
          s"seed=$seed t=$t")
      }
    }
  }

  test("CDC chunk sets through binaryNearDupPairs: driver path equals frame path") {
    val rnd = new Random(5)
    def bytes(n: Int) = { val b = new Array[Byte](n); rnd.nextBytes(b); b }
    val bases = Seq.fill(4)(bytes(6000))
    val blobs = bases.zipWithIndex.flatMap { case (b, i) =>
      Seq((10L * i, b), (10L * i + 1, bytes(30) ++ b), (10L * i + 2, b.take(4000)),
        (10L * i + 3, b))
    } ++ Seq((100L, Array.emptyByteArray), (101L, null), (102L, bytes(50)))
    val df = blobs.toDF("doc_id", "data")
    for (t <- Seq(0.5, 0.9); cap <- Seq(1, 2, 256)) {
      val got = same(s"cdc t=$t cap=$cap")(
        Dedup.binaryNearDupPairs(df, "doc_id", "data", threshold = t, avgBits = 8,
          maxDocsPerChunk = cap))
      if (cap == 256) assert(got.exists(_._1 == 0L), s"t=$t: pairs must be found")
    }
  }

  test("repeated or NULL ids take the frame path") {
    val docs = corpus(11, dups = 3)
    val repeated = (docs :+ (docs.head._1 -> "w1 w2 w3 w4 w5")).toDF("doc_id", "text")
    val nullId = spark.createDataFrame(java.util.Arrays.asList(
      (docs.map { case (i, s) => Row(i, s) } :+ Row(null, docs.head._2)): _*),
      new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("text", "string"))
    for ((what, df) <- Seq("repeated" -> repeated, "null" -> nullId)) {
      val pairs = Seq(
        Dedup.ngramJaccardPairs(df, "doc_id", "text", threshold = 0.5),
        Dedup.minhashDedupPairs(df, "doc_id", "text", threshold = 0.5))
      val forced = framePath(Seq(
        Dedup.ngramJaccardPairs(df, "doc_id", "text", threshold = 0.5),
        Dedup.minhashDedupPairs(df, "doc_id", "text", threshold = 0.5)))
      for ((p, f) <- pairs.zip(forced)) {
        assert(p.queryExecution.optimizedPlan.toString.contains("smallest_pairs"),
          s"$what ids must take the frame path")
        assert(rows(p) === rows(f), what)
      }
    }
  }
}
