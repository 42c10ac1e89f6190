package graft

import org.apache.spark.sql.{functions => F}
import graft.pipeline.Dedup

/** Incremental (snapshot-vs-snapshot) exact dedup: bloom-prefiltered
  * anti-join semantics, exactness regardless of fpp, within-batch
  * duplicates kept, and the one-anti-join plan shape. */
class IncrementalDedupSpec extends SparkSpec {

  test("equals plain anti-join semantics on overlapping corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val seenTexts = (0 until 200).map(i => s"seen doc ${rnd.nextInt(80)}")
    val incoming = (0 until 300).map(i =>
      (i.toLong, s"seen doc ${rnd.nextInt(160)}")) // ~half overlap the seen space
    val seenDf = seenTexts.map(Tuple1(_)).toDF("text")
    val incDf = incoming.toDF("doc_id", "text")
    val got = Dedup.dedupAgainstSeen(incDf, seenDf, "text", fpp = 0.05)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val seenSet = seenTexts.toSet
    val want = incoming.filterNot(r => seenSet(r._2)).sorted
    assert(got == want)
  }

  test("keeps within-batch duplicates and survives an empty seen side") {
    import spark.implicits._
    val inc = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "text")
    val empty = Seq.empty[Tuple1[String]].toDF("text")
    val got = Dedup.dedupAgainstSeen(inc, empty, "text")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L, 3L)) // both "a" rows stay: not a batch dedup
    val seen = Seq(Tuple1("a")).toDF("text")
    val got2 = Dedup.dedupAgainstSeen(inc, seen, "text")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got2 == Seq(3L))
  }

  test("null keys are inert: duplicates of nothing, excluders of nothing") {
    import spark.implicits._
    val seen = Seq(Some("a"), None).map(Tuple1(_)).toDF("text")
    val inc = Seq((1L, Some("a")), (2L, None), (3L, Some("b")))
      .toDF("doc_id", "text")
    val got = Dedup.dedupAgainstSeen(inc, seen, "text")
      .collect().map(_.getLong(0)).sorted.toSeq
    // 1 is a real dup; 2 (null) is kept — null matches nothing, and the
    // seen-side null excludes nothing
    assert(got == Seq(2L, 3L))
  }

  test("exact even at absurd fpp: false positives die in the verify join") {
    import spark.implicits._
    val seen = (0 until 50).map(i => Tuple1(s"s$i")).toDF("text")
    val inc = (0 until 100).map(i => (i.toLong, s"n$i")).toDF("doc_id", "text")
    // fpp 0.5 → about half the rows are bloom positives, all of which
    // the anti-join must clear since no text truly overlaps
    val got = Dedup.dedupAgainstSeen(inc, seen, "text", fpp = 0.5)
    assert(got.count() == 100)
  }

  test("the bloom filter is sized for the seen rows: 5 rows carry a few bytes") {
    import spark.implicits._
    val seen = (0 until 5).map(i => Tuple1(s"s$i")).toDF("text")
    val inc = (0 until 20).map(i => (i.toLong, s"n$i")).toDF("doc_id", "text")
    val carried = Dedup.dedupAgainstSeen(inc, seen, "text").queryExecution.analyzed
      .flatMap(_.expressions.flatMap(_.collect {
        case b: graft.expressions.BloomMightContain => b.bloomBytes.length
      }))
    // the bytes of a filter for 5 keys at the default fpp of 0.01
    val want = {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.spark.util.sketch.BloomFilter.create(5L, 0.01).writeTo(out)
      out.size()
    }
    assert(carried.nonEmpty && carried.forall(_ == want), s"$carried vs $want")
    assert(want < 100)
  }

  test("fuzzy incremental pairs find cross-corpus near-dups only") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest to hide from everyone"
    val seen = Seq(
      (10L, base),                          // near-dup source
      (11L, "completely different seen text about cooking pasta with " +
        "tomatoes garlic and fresh basil leaves from the garden")).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, base + " quietly"),              // near-dup of seen 10
      (2L, base + " quietly"),              // also near-dup (and of 1)
      (3L, "totally unrelated incoming text where nothing matches any " +
        "other document in either corpus at all today")).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairsAgainstSeen(incoming, seen,
        "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // cross pairs only: (1,10) and (2,10) — never the within-batch (1,2)
    assert(pairs == Seq((1L, 10L), (2L, 10L)))
    val kept = Dedup.fuzzyDedupAgainstSeen(incoming, seen, "doc_id", "text",
        threshold = 0.8)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(3L))
  }

  test("fuzzy incremental equals exhaustive cross-corpus jaccard") {
    import spark.implicits._
    // near-dup families from shared bases plus a one-token pad: same
    // pad → exact dup (j=1), different pad → j = 37/41 ≈ 0.902; the
    // blocked cross-corpus output must equal brute-force cross jaccard
    val bases = Seq.tabulate(6)(b =>
      Seq.tabulate(40)(i => s"w${b}_$i"))
    val rows = (0L until 60L).map { i =>
      val b = ((i / 2) % 6).toInt // odd and even ids share bases
      (i, (bases(b) :+ s"pad${i % 3}").mkString(" "))
    }
    val incoming = rows.filter(_._1 % 2 == 1).toDF("doc_id", "text")
    val seen = rows.filter(_._1 % 2 == 0).toDF("doc_id", "text")
    val got = Dedup.minhashPairsAgainstSeen(incoming, seen, "doc_id",
        "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // local brute force over 3-shingle sets
    def shingles(t: String): Set[String] =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val want = (for {
      (i1, t1) <- rows if i1 % 2 == 1
      (i2, t2) <- rows if i2 % 2 == 0
      s1 = shingles(t1); s2 = shingles(t2)
      j = s1.intersect(s2).size.toDouble / s1.union(s2).size
      if j >= 0.9
    } yield (i1, i2)).toSet
    assert(want.nonEmpty, "fixture must contain cross near-dups")
    assert(got == want)
  }

  /** Incoming and seen corpora of near-duplicate families, and their
    * cross-corpus pairs at Jaccard 0.9 by the recompute path. */
  private lazy val indexFixture = {
    import spark.implicits._
    val bases = Seq.tabulate(6)(b => Seq.tabulate(40)(i => s"w${b}_$i"))
    val rows = (0L until 60L).map { i =>
      val b = ((i / 2) % 6).toInt
      (i, (bases(b) :+ s"pad${i % 3}").mkString(" "))
    }
    val incoming = rows.filter(_._1 % 2 == 1).toDF("doc_id", "text")
    val seen = rows.filter(_._1 % 2 == 0).toDF("doc_id", "text")
    val want = Dedup.minhashPairsAgainstSeen(incoming, seen, "doc_id",
        "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    (incoming, seen, want)
  }

  test("pre-fit MinHash index equals the recompute path, saved or not") {
    val (incoming, seen, want) = indexFixture
    assert(want.nonEmpty)
    val idx = Dedup.MinHashSeenIndex.fit(seen, "doc_id", "text")
    val got = Dedup.minhashPairsAgainstIndex(idx, incoming, "doc_id",
        "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(got == want) // bit-identical incl. the jaccard doubles
    // save/load round trip: the loaded postings come from parquet, and
    // the query plan does NOT re-shingle the seen corpus
    val dir = java.nio.file.Files
      .createTempDirectory("graft-minhash-index").toString
    idx.save(dir)
    val reloaded = Dedup.MinHashSeenIndex.load(spark, dir)
    val q = Dedup.minhashPairsAgainstIndex(reloaded, incoming,
      "doc_id", "text", threshold = 0.9)
    assert(q.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet == want)
    val plan = q.queryExecution.executedPlan.toString
    // the stored side arrives as parquet scans; only the incoming side
    // computes shingles (hidden in its checkpoint RDD, so the plan
    // shows NO shingle computation at all — and crucially none over
    // the index paths)
    assert(plan.contains(dir), plan.take(2000))
    assert(!plan.toLowerCase.contains("shingle_hashes"), plan.take(2000))
    // the stored sets are sorted at fit time, so the query sorts nothing
    assert(!plan.contains("sort_array"), plan.take(2000))
  }

  test("a MinHash index saved with unsorted sets and no `sorted` field gives the same pairs") {
    import spark.implicits._
    val (incoming, seen, want) = indexFixture
    // the earlier layout: first-occurrence shingle sets, a sidecar of
    // the three parameters only
    val dir = java.nio.file.Files
      .createTempDirectory("graft-minhash-index-v0").toString
    Dedup.MinHashSeenIndex.fit(seen, "doc_id", "text").save(dir)
    seen.select($"doc_id".as("rid"), Dedup.shingleHashes($"text", 3).as("sh"))
      .write.mode("overwrite").parquet(s"$dir/shingles")
    graft.sources.Sidecar.save(spark, dir, "_minhash_index_meta.json",
      "k" -> 3, "numHashes" -> 32, "bands" -> 8)
    val stored = spark.read.parquet(s"$dir/shingles").collect()
    assert(stored.exists { r => val s = r.getSeq[Long](1); s != s.sorted },
      "the fixture stores unsorted sets")
    val q = Dedup.minhashPairsAgainstIndex(
      Dedup.MinHashSeenIndex.load(spark, dir), incoming, "doc_id", "text",
      threshold = 0.9)
    assert(q.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet == want)
  }

  test("plan shape: one anti-join branch, one join-free narrow branch") {
    import spark.implicits._
    // parquet-backed inputs: a LocalRelation would let the optimizer
    // fold the whole thing into a LocalTableScan and hide the shape
    val dir = java.nio.file.Files.createTempDirectory("inc-dedup")
    (0 until 20).map(i => Tuple1(s"s$i")).toDF("text")
      .write.parquet(s"$dir/seen")
    (0 until 20).map(i => (i.toLong, s"n$i")).toDF("doc_id", "text")
      .write.parquet(s"$dir/inc")
    val seen = spark.read.parquet(s"$dir/seen")
    val inc = spark.read.parquet(s"$dir/inc")
    val plan = Dedup.dedupAgainstSeen(inc, seen, "text")
      .queryExecution.executedPlan.toString
    val antiJoins = "LeftAnti".r.findAllIn(plan).length
    assert(antiJoins == 1, s"expected exactly one anti join:\n$plan")
    assert(plan.contains("bloom_might_contain"), plan)
  }

  test("corpusDiff: added/removed/changed/unchanged, null-text contracts") {
    import spark.implicits._
    val oldV = Seq((1L, "same"), (2L, "before"), (3L, "dropped"),
      (5L, null: String), (6L, null: String)).toDF("doc_id", "text")
    val newV = Seq((1L, "same"), (2L, "after"), (4L, "fresh"),
      (5L, null: String), (6L, "text now")).toDF("doc_id", "text")
    val got = graft.pipeline.Dedup.corpusDiff(oldV, newV)
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "added", 5L -> "unchanged", 6L -> "changed"))
  }
}
