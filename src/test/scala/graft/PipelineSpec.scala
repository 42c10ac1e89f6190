package graft

import org.apache.spark.sql.{functions => F}
import graft.pipeline.{Dedup, Similarity, TextAnalysis}

/** Pipeline operators over the driver's documents/embeddings fixtures:
  * ANN variants agree with the exact baseline on easy queries; dedup
  * detects known exact duplicates. */
class PipelineSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = Tables.read(spark, dir, "embeddings")
  private lazy val docs = Tables.read(spark, dir, "documents")

  private lazy val qVec = emb.where(F.col("vec_id") === 0)
    .select("embedding").collect()(0).getSeq[Float](0)
  private lazy val corpus = emb.where(F.col("vec_id") =!= 0)

  test("brute-force top-k is sorted and sized") {
    val r = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", qVec, 5)
      .collect()
    assert(r.length == 5)
    val cos = r.map(_.getDouble(1)).toSeq
    assert(cos == cos.sorted.reverse)
  }

  test("IVF top-k finds the exact top-1 with full probing") {
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", qVec, 5)
      .collect().map(_.getLong(0)).toSeq
    // nprobe == nlist → IVF degenerates to exact search
    val all = Similarity.ivfTopK(corpus, "vec_id", "embedding", qVec, 5,
      nlist = 4, nprobe = 4).collect().map(_.getLong(0)).toSeq
    assert(all == exact)
    // partial probing returns k results with the right shape
    val part = Similarity.ivfTopK(corpus, "vec_id", "embedding", qVec, 5,
      nlist = 4, nprobe = 2).collect()
    assert(part.length == 5)
  }

  test("LSH top-k with full multi-probe overlaps the exact result") {
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", qVec, 10)
      .collect().map(_.getLong(0)).toSet
    val lsh = Similarity.lshTopK(corpus, "vec_id", "embedding", qVec, 10,
      planes = 4, probes = 2).collect().map(_.getLong(0)).toSet
    assert((exact intersect lsh).nonEmpty)
  }

  test("exact dedup groups detect duplicated documents") {
    val groups = Dedup.exactGroups(docs, "doc_id", "text")
    val dupGroups = groups.where(F.col("n") > 1).count()
    val total = docs.count()
    val distinctTexts = docs.select("text").distinct().count()
    assert(groups.count() == distinctTexts)
    assert((dupGroups > 0) == (distinctTexts < total))
  }

  test("IVF index fits once; queries run zero additional fits") {
    val idx = Similarity.IvfIndex.fit(corpus, "vec_id", "embedding", nlist = 4)
    val before = Similarity.IvfIndex.fits.get()
    val r1 = Similarity.ivfTopK(idx, qVec, 5, nprobe = 4).collect()
    val r2 = Similarity.ivfTopK(idx, qVec, 5, nprobe = 4).collect()
    assert(Similarity.IvfIndex.fits.get() == before,
      "querying a fitted IVF index must not re-fit the quantizer")
    assert(r1.map(_.getLong(0)).toSeq == r2.map(_.getLong(0)).toSeq)
    assert(r1.length == 5)
  }

  test("minhash hot-bucket cap bounds identical-document blow-up") {
    import spark.implicits._
    val n = 1000
    val degenerate = (1 to n)
      .map(i => (i.toLong, "the exact same document text repeated many times over"))
      .toDF("doc_id", "text")
    val cap = 64
    val pairs = Dedup.minhashCandidates(degenerate, "doc_id", "text",
      k = 3, numHashes = 32, bands = 8, maxBucket = cap)
    val cnt = pairs.count()
    // without the cap this is n(n-1)/2 ≈ 500k; capped ≤ cap(cap-1)/2
    assert(cnt <= cap.toLong * (cap - 1) / 2, s"got $cnt pairs")
    assert(cnt > 0)
  }

  test("ngram document-frequency cap bounds hot-shingle blow-up") {
    import spark.implicits._
    val n = 500
    val degenerate = (1 to n)
      .map(i => (i.toLong, s"unique token $i but sharing one common tail phrase here"))
      .toDF("doc_id", "text")
    val cap = 32
    val pairs = Dedup.ngramJaccardPairs(degenerate, "doc_id", "text",
      threshold = 0.0, k = 3, maxDocsPerShingle = cap)
    // every doc shares the hot tail shingles; the df-cut keeps each
    // posting list ≤ cap, so candidates stay far below n²/2
    assert(pairs.count() < n.toLong * cap)
  }

  test("simhash banding finds EXACTLY the pairs within the Hamming bound") {
    import spark.implicits._
    // base text + single-token variants: some land within a few simhash
    // bits of the base, some further — the expectation is derived from
    // the measured hashes, so the test pins the banding CONTRACT
    // (4×16-bit bands ⇒ every pair with hamming ≤ 3 shares a band) and
    // the popcount verify, not hash luck.
    val words = (1 to 120).map(i => s"w$i")
    val base = words.mkString(" ")
    val docs2 = ((1 to 40).map { i =>
      (i.toLong, words.updated(i % words.size, s"CHANGED$i").mkString(" "))
    } :+ (0L, base)).toDF("doc_id", "text")
    val hashes = docs2
      .select(F.col("doc_id"), Dedup.simhash(F.col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (for {
      a <- hashes.keys; b <- hashes.keys if a < b
      if java.lang.Long.bitCount(hashes(a) ^ hashes(b)) <= 3
    } yield (a, b)).toSet
    val got = Dedup.simhashNearDupPairs(docs2, "doc_id", "text", maxBits = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"banding recall/precision mismatch: got=$got expected=$expected")
    // the hamming column reflects the true distance
    val withD = Dedup.simhashNearDupPairs(docs2, "doc_id", "text", maxBits = 3)
      .collect()
    withD.foreach { r =>
      val d = java.lang.Long.bitCount(hashes(r.getLong(0)) ^ hashes(r.getLong(1)))
      assert(r.getInt(2) == d)
    }
  }

  test("md5 token mode: oracle-exact bit votes, same banding contract") {
    import spark.implicits._
    // the md5 mode exists so a SQL oracle can replay the simhash: each
    // token's 64 bits must be EXACTLY the big-endian first 8 bytes of
    // its md5 — pin the whole hash against an independent in-test
    // re-computation of the bit votes
    val docs2 = Seq((1L, "alpha beta gamma"), (2L, "alpha beta delta"),
      (3L, "completely different words here"), (4L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    def refSimhash(text: String): Long = {
      val votes = new Array[Int](64)
      text.split(" ").filter(_.nonEmpty).foreach { tok =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(tok.getBytes("UTF-8"))
        var h = 0L
        (0 until 8).foreach(i => h = (h << 8) | (d(i) & 0xffL))
        (0 until 64).foreach(b =>
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1)
      }
      (0 until 64).foldLeft(0L)((acc, b) =>
        if (votes(b) > 0) acc | (1L << b) else acc)
    }
    val got = docs2.select(F.col("doc_id"),
        Dedup.simhash(F.col("text"), md5Tokens = true).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq((1L, "alpha beta gamma"), (2L, "alpha beta delta"),
      (3L, "completely different words here")).foreach { case (id, t) =>
      assert(got(id) == refSimhash(t), s"doc $id md5-simhash mismatch")
    }
    assert(got(1L) == got(4L)) // identical text, identical hash
    // banding contract holds identically in md5 mode: banded == brute
    val words = (1 to 120).map(i => s"w$i")
    val docs3 = ((1 to 40).map { i =>
      (i.toLong, words.updated(i % words.size, s"CHANGED$i").mkString(" "))
    } :+ (0L, words.mkString(" "))).toDF("doc_id", "text")
    val hashes = docs3
      .select(F.col("doc_id"),
        Dedup.simhash(F.col("text"), md5Tokens = true).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (for {
      a <- hashes.keys; b <- hashes.keys if a < b
      if java.lang.Long.bitCount(hashes(a) ^ hashes(b)) <= 3
    } yield (a, b)).toSet
    val banded = Dedup.simhashNearDupPairs(docs3, "doc_id", "text",
        maxBits = 3, md5Tokens = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == expected)
    // and the two modes are different hash families (same contract,
    // different bits) — the production default stays xxh64
    val xxh = docs3.select(Dedup.simhash(F.col("text")).as("sh"))
      .collect().map(_.getLong(0)).toSet
    assert(xxh != hashes.values.toSet)
  }

  test("bucket cap semantics: overflow keeps the smallest ids, pinned exactly") {
    import spark.implicits._
    // 300 identical docs → identical simhash → every band bucket holds
    // all 300 members, over the 256 cap. The bounded buffer keeps the
    // SMALLEST ids per bucket, so the pair set is exactly C(256,2) over
    // ids 1..256 — the same semantics the q_simhash_near oracle replays
    // with row_number() <= cap (at sf0.1 a real band bucket holds 291
    // members, where a brute all-pairs oracle over-counts; found by the
    // 10x-scale verify gate this round).
    val docs = (1 to 300).map(i => (i.toLong, "alpha beta gamma common text"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text",
        maxBits = 3, maxBucket = 256, md5Tokens = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected =
      (for { a <- 1L to 256L; b <- a + 1 to 256L } yield (a, b)).toSet
    assert(pairs == expected,
      s"cap must keep ids 1..256: got ${pairs.size} pairs, " +
        s"max id ${pairs.map(p => math.max(p._1, p._2)).max}")
  }

  test("derived band count keeps recall complete for wider Hamming radii") {
    import spark.implicits._
    // maxBits = 6 ⇒ 7 bands of 9-10 bits; pigeonhole still guarantees
    // every pair within the radius agrees exactly on some band — the
    // recall contract must hold for ANY maxBits, not just the 4×16 split
    val words = (1 to 100).map(i => s"t$i")
    val docs2 = ((1 to 30).map { i =>
      (i.toLong, words.updated(i % words.size, s"DIFF$i")
        .updated((i * 7) % words.size, s"ALT$i").mkString(" "))
    } :+ (0L, words.mkString(" "))).toDF("doc_id", "text")
    val hashes = docs2
      .select(F.col("doc_id"), Dedup.simhash(F.col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (for {
      a <- hashes.keys; b <- hashes.keys if a < b
      if java.lang.Long.bitCount(hashes(a) ^ hashes(b)) <= 6
    } yield (a, b)).toSet
    val got = Dedup.simhashNearDupPairs(docs2, "doc_id", "text", maxBits = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"derived-band recall mismatch: got=$got expected=$expected")
  }

  test("repetition stats match hand-computed Gopher signals") {
    import spark.implicits._
    val df = Seq((1L, "x\ny y\nx\nzz"), (2L, ""), (3L, "a b a b a"))
      .toDF("doc_id", "text")
      .select(F.col("doc_id"),
        pipeline.TextAnalysis.duplicateLineStats(F.col("text")).as("st"),
        pipeline.TextAnalysis.topBigramFrac(F.col("text")).as("tb"))
      .select(F.col("doc_id"), F.col("st.n_lines"), F.col("st.dup_line_frac"),
        F.col("st.dup_line_char_frac"), F.col("tb"))
    val rows = df.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    // doc 1: lines [x, "y y", x, zz] → 2 of 4 duplicated; dup chars 2 of
    // 7; tokens split on spaces only → 2 tokens → 1 bigram → top frac 1.0
    assert(rows(1L) == ((4L, 0.5, 0.285714, 1.0)))
    // doc 2: empty → all zero
    assert(rows(2L) == ((0L, 0.0, 0.0, 0.0)))
    // doc 3: bigrams [a b, b a, a b, b a] → top takes 2 of 4
    assert(rows(3L)._4 == 0.5)
  }

  test("native SimHash64 expression matches the functions-composed form") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val texts = (1 to 200).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(40))(
        s"w${rnd.nextInt(50)}${if (rnd.nextBoolean()) "é" else ""}")
        .mkString(" "))
    } :+ ((0L, ""))
    val df = texts.toDF("id", "text")
    val mismatches = df.select(
        Dedup.simhash(F.col("text")).as("native"),
        ComposedForms.simhash(F.col("text")).as("composed"))
      .where(F.col("native") =!= F.col("composed")).count()
    assert(mismatches == 0,
      "native SimHash64 must be bit-identical to the composed recipe")
    // and over a file source the projection stays inside whole-stage
    // codegen ("*(n)" marker; a filter-HOF child would evict it)
    val plan = docs.select(Dedup.simhash(F.col("text")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
  }

  test("bounded smallest-cap aggregate equals sort+slice") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    // includes a hot key with many rows and duplicate ids
    val rows = (1 to 5000).map(i =>
      (if (i % 3 == 0) "hot" else s"k${rnd.nextInt(20)}",
        rnd.nextInt(300).toLong)) ++ (1 to 2000).map(_ => ("hot", 7L))
    val df = rows.toDF("k", "rid").repartition(7)
    val native = df.groupBy("k").agg(
      graft.expressions.ColumnBridge.column(
        graft.expressions.CollectSmallest(
          graft.expressions.ColumnBridge.expression(F.col("rid")), 16)
          .toAggregateExpression()).as("rids"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val composed = df.groupBy("k").agg(
      F.slice(F.array_sort(F.collect_list(F.col("rid"))), 1, 16).as("rids"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(native == composed)
  }

  test("native CosineSim matches the functions-composed form") {
    val both = emb.select(F.col("embedding").as("v"))
      .crossJoin(emb.select(F.col("embedding").as("w")).limit(3))
      .select(Similarity.cosine(F.col("v"), F.col("w")).as("native"),
        ComposedForms.cosine(F.col("v"), F.col("w")).as("composed"))
    assert(both.where(F.col("native") =!= F.col("composed")).count() == 0)
    // zero vector → 0.0 in both forms
    import spark.implicits._
    val z = Seq((Seq(0f, 0f), Seq(1f, 2f))).toDF("a", "b")
      .select(Similarity.cosine(F.col("a"), F.col("b")).as("c")).collect()(0)
    assert(z.getDouble(0) == 0.0)
  }

  test("native SignBits matches the HOF-composed form") {
    import spark.implicits._
    for ((planes, offset) <- Seq((6, 0), (16, 64), (12, 192))) {
      val mismatches = emb.select(
          Similarity.signBits(F.col("embedding"), planes, offset).as("native"),
          ComposedForms.signBits(F.col("embedding"), planes, offset)
            .as("composed"))
        .where(F.col("native") =!= F.col("composed")).count()
      assert(mismatches == 0, s"planes=$planes offset=$offset")
    }
    // edge cases: empty vector and null-element vector both bucket to 0L
    // in the composed form (null-poisoned folds) — native must match
    val edges = Seq(
      (1L, Seq.empty[java.lang.Float]),
      (2L, Seq[java.lang.Float](1.0f, null, 3.0f))).toDF("id", "v")
    val got = edges.select(F.col("id"),
        Similarity.signBits(F.col("v"), 6).as("n"),
        ComposedForms.signBits(F.col("v"), 6).as("c"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(got.forall { case (n, c) => n == c && n == 0L }, got.toSeq)
    // null vector stays null
    val nv = Seq(Tuple1(null: Seq[Float])).toDF("v")
      .select(Similarity.signBits(F.col("v"), 6)).collect()(0)
    assert(nv.isNullAt(0))
  }

  test("narrow MinHash signatures match the explode+aggregate form") {
    val narrow = Dedup.minhashSignatures(docs, "doc_id", "text", 3, 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val agg = ComposedForms.minhashSignatures(docs, "doc_id", "text", 3, 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(narrow == agg,
      "narrow native signatures must be bit-identical to the agg form")
    // narrow means narrow: no exchange anywhere in the signature plan
    val plan = Dedup.minhashSignatures(docs, "doc_id", "text", 3, 32)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("native ShingleHashes expression matches the functions-composed form") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val texts = (1 to 200).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(30))(s"tok${rnd.nextInt(40)}")
        .mkString("  ")) // double separators → empty split slots
    } ++ Seq((0L, ""), (-1L, "a b")) // < k fallback cases
    val df = texts.toDF("id", "text")
    for (k <- Seq(1, 3, 5)) {
      val mismatches = df.select(
          Dedup.shingleHashes(F.col("text"), k).as("native"),
          ComposedForms.shingleHashes(F.col("text"), k).as("composed"))
        .where(F.col("native") =!= F.col("composed")).count()
      assert(mismatches == 0, s"k=$k: native must equal composed")
    }
  }

  test("string shingles match a driver reference (shift-zip recipe)") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val texts = (1 to 100).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(25))(s"w${rnd.nextInt(12)}")
        .mkString("  "))
    } ++ Seq((0L, ""), (-1L, "a b"))
    def ref(text: String, k: Int): Seq[String] = {
      val t = text.split(" ").filter(_.nonEmpty)
      (if (t.length >= k) t.sliding(k).map(_.mkString(" ")).toSeq
       else Seq(t.mkString(" "))).distinct
    }
    for (k <- Seq(1, 3, 5)) {
      val got = texts.toDF("id", "text")
        .select(F.col("id"), Dedup.shingles(F.col("text"), k).as("sh"))
        .as[(Long, Seq[String])].collect().toMap
      for ((id, text) <- texts)
        assert(got(id) == ref(text, k), s"k=$k doc $id")
    }
  }

  test("int8 quantization bounds reconstruction error by scale/2") {
    val qv = Similarity.quantizeInt8(F.col("embedding"))
    val checked = emb.select(F.col("embedding").as("v"), qv.as("qv"))
      .select(F.col("v"), F.col("qv.scale").as("scale"),
        Similarity.dequantizeInt8(F.col("qv")).as("rec"))
      .select(F.array_max(F.zip_with(F.col("v"), F.col("rec"),
        (a, b) => F.abs(a.cast("double") - b))).as("maxerr"),
        F.col("scale"))
    // every component within half a quantization step
    assert(checked.where(F.col("maxerr") > F.col("scale") / 2 + 1e-12)
      .count() == 0)
  }

  test("native int8 quantization matches the functions-composed form") {
    import spark.implicits._
    // fixture vectors plus the corners: empty array, null elements,
    // all-zero (scale 0)
    val corners = Seq(
      Seq.empty[java.lang.Float],
      Seq[java.lang.Float](null, 1.0f, -2.0f),
      Seq[java.lang.Float](0.0f, 0.0f),
      Seq[java.lang.Float](null, null))
      .toDF("embedding")
    val all = emb.select(F.col("embedding").cast("array<float>"))
      .unionByName(corners.select(F.col("embedding").cast("array<float>")))
    val both = all.select(
      Similarity.quantizeInt8(F.col("embedding")).as("n"),
      ComposedForms.quantizeInt8(F.col("embedding")).as("c"))
    assert(both.where(F.col("n") =!= F.col("c") ||
      F.col("n").isNull =!= F.col("c").isNull).count() == 0)
  }

  test("chunking covers every token with the configured overlap") {
    import spark.implicits._
    val doc = (1 to 10).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, doc), (2L, "a b"), (3L, "")).toDF("doc_id", "text")
    val got = pipeline.TextAnalysis.chunk(df, "doc_id", "text", 4, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(got == Set(
      (1L, 0, "t1 t2 t3 t4"), (1L, 1, "t4 t5 t6 t7"), (1L, 2, "t7 t8 t9 t10"),
      (2L, 0, "a b"), // short doc → one short chunk
      (3L, 0, "")))   // empty doc → one empty chunk
  }

  test("as-of join attaches the latest at-or-before state, never later") {
    import spark.implicits._
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 3L, "early"),
      (2L, 50L, "other")).toDF("k", "ts", "x")
    val right = Seq((1L, 5L, 100.0), (1L, 20L, 200.0), (1L, 25L, 300.0))
      .toDF("k", "ts", "v")
    val got = pipeline.AsOf.asofJoin(left, right, "k", "ts", Seq("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(3)) null else r.getDouble(3))).toSet
    assert(got == Set(
      (1L, 10L, 100.0), // latest prior (ts=5)
      (1L, 20L, 200.0), // same-instant state is visible (inclusive)
      (1L, 3L, null),   // nothing at-or-before
      (2L, 50L, null))) // no right rows for the key
  }

  test("as-of join never matches NULL keys (equi-join semantics)") {
    import spark.implicits._
    val left = Seq((Option.empty[Long], 10L, "nullkey"), (Some(1L), 10L, "ok"))
      .toDF("k", "ts", "x")
    val right = Seq((Option.empty[Long], 5L, 100.0), (Some(1L), 5L, 7.0))
      .toDF("k", "ts", "v")
    val got = pipeline.AsOf.asofJoin(left, right, "k", "ts", Seq("v"))
      .collect().map(r => (r.getString(2),
        if (r.isNullAt(3)) null else r.getDouble(3))).toSet
    // the null-keyed left row must NOT adopt the null-keyed right value
    assert(got == Set(("nullkey", null), ("ok", 7.0)))
  }

  test("interval join equals brute-force containment, any bucket size") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val left = (0 until 200).map { i =>
      (i.toLong, rnd.nextInt(4).toLong, rnd.nextInt(300).toLong - 50) }
      .toDF("lid", "k", "t")
    val ivs = (0 until 60).map { j =>
      val s = rnd.nextInt(300).toLong - 60
      (1000L + j, rnd.nextInt(4).toLong, s, s + rnd.nextInt(40).toLong) }
    val right = ivs.toDF("iv_id", "k", "ivs", "ive")
    val want = (for {
      (lid, lk, t) <- left.as[(Long, Long, Long)].collect()
      (iid, rk, s, e) <- ivs if lk == rk && s <= t && t < e
    } yield (lid, iid)).toSet
    assert(want.nonEmpty)
    for (bucket <- Seq(1L, 7L, 64L, 1000L)) {
      val got = pipeline.AsOf.intervalJoin(left, right, "k", "t",
          "ivs", "ive", Seq("iv_id"), bucket)
        .select("lid", "iv_id").as[(Long, Long)].collect().toSet
      assert(got == want, s"bucket=$bucket")
    }
  }

  test("interval join: empty intervals vanish, absurd spans raise, no cross product") {
    import spark.implicits._
    val left = Seq((1L, 1L, 10L)).toDF("lid", "k", "t")
    val empty = Seq((9L, 1L, 10L, 10L), (8L, 1L, 20L, 5L))
      .toDF("iv_id", "k", "ivs", "ive")
    assert(pipeline.AsOf.intervalJoin(left, empty, "k", "t",
      "ivs", "ive", Seq("iv_id"), 4L).isEmpty)
    val openEnded = Seq((9L, 1L, 0L, Long.MaxValue / 2))
      .toDF("iv_id", "k", "ivs", "ive")
    intercept[Exception] {
      pipeline.AsOf.intervalJoin(left, openEnded, "k", "t",
        "ivs", "ive", Seq("iv_id"), 4L, maxSpan = 128).collect()
    }
    // NULL bounds behave like the naive range join (no match), never
    // fall through the span guard into its raise
    val nullBound = Seq((9L, 1L, Some(5L), Option.empty[Long]),
        (8L, 1L, Some(5L), Some(15L)))
      .toDF("iv_id", "k", "ivs", "ive")
    assert(pipeline.AsOf.intervalJoin(left, nullBound, "k", "t",
        "ivs", "ive", Seq("iv_id"), 4L)
      .select("iv_id").as[Long].collect().toSeq == Seq(8L))
    // internal column names are rejected loudly, not silently shadowed
    intercept[IllegalArgumentException] {
      pipeline.AsOf.intervalJoin(left,
        nullBound.withColumnRenamed("iv_id", "__bucket"), "k", "t",
        "ivs", "ive", Seq("__bucket"), 4L)
    }
    // the plan is an equi-join on (key, bucket), never a nested loop
    val some = Seq((9L, 1L, 5L, 15L)).toDF("iv_id", "k", "ivs", "ive")
    val plan = pipeline.AsOf.intervalJoin(left, some, "k", "t",
      "ivs", "ive", Seq("iv_id"), 4L).queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      plan)
  }

  test("dedupGroups collapses pair chains into min-id components") {
    import spark.implicits._
    // components: {1,2,3,9} via chain 1-2, 2-3, 3-9; {5,7}; singleton
    // ids never appear (no pairs)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 7L))
      .toDF("id1", "id2")
    val groups = Dedup.dedupGroups(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L,
      5L -> 5L, 7L -> 5L))
  }

  test("dedupGroups over minhash pairs groups the known exact duplicates") {
    val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text",
      threshold = 0.99, k = 3, numHashes = 32, bands = 8)
    val groups = Dedup.dedupGroups(pairs)
    if (pairs.count() > 0) {
      // every member's group label is the min id of its component
      val bad = groups.alias("g")
        .join(groups.alias("h"), F.col("g.grp") === F.col("h.grp"))
        .where(F.col("g.grp") > F.col("h.rid")).count()
      assert(bad == 0)
    }
  }

  test("fingerprint is order-sensitive, partition-stable, whitespace-normal") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    val texts = Seq("the quick brown fox", "quick the brown fox",
      "the  quick brown  fox", "the quick brown fox jumps")
    val fp = (df: org.apache.spark.sql.DataFrame) => df
      .select(F.col("t"), TextAnalysis.fingerprint(F.col("t")).as("fp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val a = fp(texts.toDF("t"))
    val b = fp(texts.toDF("t").repartition(7)) // partitioning-independent
    assert(a == b)
    assert(a(texts(0)) != a(texts(1))) // token order changes the hash
    assert(a(texts(0)) == a(texts(2))) // whitespace runs don't
    assert(a(texts(0)) != a(texts(3))) // suffix changes the hash
    // pin the md5 seed recipe itself (the DuckDB oracle re-derives it
    // with HUGEINT mod-2^64 arithmetic):
    def local(t: String): Long =
      t.split(" ").filter(_.nonEmpty).foldLeft(0L) { (acc, tok) =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
        acc * 1000003L + java.lang.Long.parseLong(hex.take(15), 16)
      }
    assert(a(texts(0)) == local(texts(0)))
    assert(a(texts(3)) == local(texts(3)))
    // and the corpus-level pin the q_fingerprint query relies on:
    // distinct texts map to distinct fingerprints on the fixture
    val corpus = docs.select(TextAnalysis.fingerprint(F.col("text")).as("fp"),
      F.col("text"))
    assert(corpus.select("fp").distinct().count() ==
      corpus.select("text").distinct().count())
  }

  test("mojibake ratio flags encoding damage, passes clean text") {
    import spark.implicits._
    val rows = Seq(
      (1L, "clean english text with no damage at all"),
      (2L, "bad�replacement�chars"),
      (3L, "donâ€™t â€œquoteâ€ me"), // cp1252 wrecks
      (4L, "cafÃ© naÃ¯ve"),           // UTF-8-as-Latin-1
      (5L, "priceÂ 100"),                       // C2 A0 wreck
      (6L, ""))
      .toDF("id", "text")
      .select(F.col("id"),
        TextAnalysis.mojibakeRatio(F.col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows(1L) == 0.0)
    assert(rows(2L) > 0.05)
    assert(rows(3L) > 0.05)
    assert(rows(4L) > 0.05)
    assert(rows(5L) > 0.05)
    assert(rows(6L) == 0.0) // empty text divides safely
  }

  test("PII redaction replaces emails, phones, and IPs with tags") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    val df = Seq(
      "write to alice.smith+x@mail.example.org today",
      "call +1 (555) 123-4567 or 555 987 6543 now",
      "server at 192.168.0.12 responded",
      "nothing sensitive here"
    ).toDF("text").select(TextAnalysis.redactPii(F.col("text")).as("clean"))
    val out = df.collect().map(_.getString(0)).toSeq
    assert(out(0) == "write to <EMAIL> today")
    assert(out(1) == "call <PHONE> or <PHONE> now")
    assert(out(2) == "server at <IP> responded")
    assert(out(3) == "nothing sensitive here")
  }

  test("vocabulary returns deterministic top-k (count desc, token asc)") {
    import graft.pipeline.TextAnalysis
    val vocab = TextAnalysis.vocabulary(docs, "text", 10).collect()
    assert(vocab.length == 10)
    val counts = vocab.map(_.getLong(1)).toSeq
    assert(counts == counts.sorted.reverse)
    // rerun is byte-identical (stable tie-break)
    val again = TextAnalysis.vocabulary(docs, "text", 10).collect()
    assert(vocab.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      again.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  test("deterministic split is stable and respects weight proportions") {
    import graft.pipeline.TextAnalysis
    val w = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val a = TextAnalysis.deterministicSplit(docs, "doc_id", w)
    val b = TextAnalysis.deterministicSplit(docs.repartition(7), "doc_id", w)
    // identical assignment regardless of partitioning
    assert(a.select("doc_id", "split").except(b.select("doc_id", "split")).isEmpty)
    val bysplit = a.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = docs.count().toDouble
    assert(math.abs(bysplit.getOrElse("train", 0L) / n - 0.8) < 0.1)
    assert(bysplit.keySet.subsetOf(Set("train", "val", "test")))
  }

  test("sequence packing respects the token budget and covers every doc") {
    import graft.pipeline.{Packing, TextAnalysis}
    val budget = 500L
    val withTokens = docs.select(F.col("doc_id"),
      TextAnalysis.tokenCount(F.col("text")).cast("long").as("n_tokens"))
    val bins = Packing.packSequences(withTokens, "doc_id", "n_tokens", budget)
    val rows = bins.collect()
    // every bin within budget unless it is an oversized singleton
    rows.foreach { r =>
      val n = r.getSeq[Long](1).size
      assert(r.getLong(2) <= budget || n == 1,
        s"bin ${r.getLong(0)} over budget with $n docs")
    }
    // exact cover: every doc packed exactly once
    val packedIds = rows.flatMap(_.getSeq[Long](1))
    assert(packedIds.length == docs.count())
    assert(packedIds.toSet.size == packedIds.length)
    // deterministic under re-partitioning
    val again = Packing.packSequences(
      withTokens.repartition(3), "doc_id", "n_tokens", budget).collect()
    assert(rows.map(r => (r.getLong(0), r.getSeq[Long](1))).toSet ==
      again.map(r => (r.getLong(0), r.getSeq[Long](1))).toSet)
  }

  test("boilerplate lines are stripped corpus-wide, order preserved") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    val footer = "subscribe to our newsletter"
    val corpus = Seq(
      (1L, s"unique article one\n$footer\nmore body text"),
      (2L, s"$footer\nsecond doc content"),
      (3L, s"third doc alpha\nthird doc beta\n$footer"),
      (4L, footer)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.stripBoilerplate(corpus, "doc_id", "text",
      maxDocFrac = 0.5, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(r.length - 1)).toMap
    assert(out(1L) == "unique article one\nmore body text")
    assert(out(2L) == "second doc content")
    assert(out(3L) == "third doc alpha\nthird doc beta")
    assert(out(4L) == "") // pure boilerplate → empty survivor
  }

  test("contamination flags docs overlapping the benchmark set") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "totally different content with no overlap whatsoever here"),
      (3L, "prefix words then alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    val bench = Seq(
      Tuple1("alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("text")
    val hits = Dedup.contamination(corpus, "doc_id", "text", bench, "text",
      k = 5).collect().map(_.getLong(0)).toSet
    assert(hits == Set(1L, 3L), s"got $hits")
  }

  test("minhash near-dup pairs include exact duplicates") {
    val dupPair = docs.groupBy("text").agg(
        F.min("doc_id").as("a"), F.max("doc_id").as("b"), F.count(F.lit(1)).as("n"))
      .where(F.col("n") > 1).limit(1).collect()
    if (dupPair.nonEmpty) {
      val (a, b) = (dupPair(0).getLong(0), dupPair(0).getLong(1))
      val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text",
        threshold = 0.99, k = 3, numHashes = 32, bands = 8)
        .where(F.col("id1") === a && F.col("id2") === b)
      assert(pairs.count() == 1)
    }
  }
}
