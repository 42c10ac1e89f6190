package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import graft.pipeline.{Dedup, IvfPq, Relevance, Similarity}
import graft.sources.GraphStore

/** The JSON sidecars beside every stored index and graph store: they
  * save and load under a Hadoop-FS URI, carry names holding any
  * character, still load when written in the earlier hand-formatted
  * layout (all but IVF's, whose double centers are refused), and fail
  * naming the index kind and the path when missing or foreign. */
class SidecarSpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs: Seq[(Long, Seq[Float])] = (0 until 40).map { i =>
    val r = new scala.util.Random(i)
    (i.toLong, Seq.fill(8)(r.nextGaussian().toFloat))
  }
  private lazy val vecDf: DataFrame = vecs.toDF("id", "vec")
  private lazy val docs: DataFrame = (0 until 40).map { i =>
    (i.toLong, s"document ${i % 7} says word$i and word${i % 5} twice")
  }.toDF("doc_id", "text")

  private def tmp(tag: String): String =
    Files.createTempDirectory(tag).toFile.getAbsolutePath

  /** Overwrite `dir/name` the way the earlier writers did: plain
    * java.nio, no Hadoop checksum file beside it. */
  private def legacy(dir: String, name: String, text: String): Unit = {
    Files.deleteIfExists(Paths.get(dir, s".$name.crc"))
    Files.writeString(Paths.get(dir, name), text)
  }

  private def bits(xs: Seq[Seq[Float]]): Seq[Seq[Int]] =
    xs.map(_.map(java.lang.Float.floatToRawIntBits))

  test("every stored index and the graph store save and load under a file:// URI") {
    def uri(tag: String) = "file://" + tmp(tag)

    val lsh = uri("sc-lsh")
    Similarity.LshIndex.fit(vecDf, "id", "vec", planes = 4, tables = 2)
      .save(lsh)
    val l = Similarity.LshIndex.load(spark, lsh)
    assert((l.id, l.vec, l.planes, l.tables) == (("id", "vec", 4, 2)))
    assert(l.bucketed.count() == 80)

    val ivf = uri("sc-ivf")
    val ivfIdx = Similarity.IvfIndex.fit(vecDf, "id", "vec", nlist = 3)
    ivfIdx.save(ivf)
    val iv = Similarity.IvfIndex.load(spark, ivf)
    assert(iv.centers.toSeq == ivfIdx.centers.toSeq)
    assert(iv.assigned.count() == 40)

    val bin = uri("sc-bin")
    Similarity.BinaryIndex.fit(vecDf, "id", "vec").save(bin)
    assert(Similarity.BinaryIndex.load(spark, bin).coded.count() == 40)

    val pq = uri("sc-ivfpq")
    val pqIdx = IvfPq.fit(vecDf, "id", "vec", nlist = 2, m = 2, k = 4,
      pqIters = 1)
    pqIdx.save(pq)
    val p = IvfPq.load(spark, pq)
    assert(p.pq == pqIdx.pq && bits(p.centers) == bits(pqIdx.centers))
    assert(p.codes.count() == 40)

    val mh = uri("sc-minhash")
    Dedup.MinHashSeenIndex.fit(docs, "doc_id", "text", bands = 4).save(mh)
    val m = Dedup.MinHashSeenIndex.load(spark, mh)
    assert((m.k, m.numHashes, m.bands) == ((3, 32, 4)))
    assert(m.shingles.count() == 40)

    val txt = uri("sc-text")
    val txtIdx = Relevance.TextIndex.fit(docs, "doc_id", "text", buckets = 4)
    txtIdx.save(txt)
    val t = Relevance.TextIndex.load(spark, txt)
    assert((t.nDocs, t.totalTokens, t.buckets) ==
      ((40L, txtIdx.totalTokens, 4)))
    assert(t.search(Seq("word3"), 3).count() > 0)

    val store = uri("sc-store")
    val g = Tables.graph(spark, TestSpark.sf0001, "region")
      .withPrefix("gp", "urn:graft:p/")
    GraphStore.save(g, store)
    val loaded = GraphStore.load(spark, store)
    assert(loaded.size == g.size)
    assert(loaded.prefixes("gp") == "urn:graft:p/")
    assert(loaded.predCounts.values.sum == g.size)
  }

  test("index sidecars round-trip column names holding a quote and a backslash") {
    val (id, vec) = ("the \"id\"", "v\\e\"c")
    val df = vecDf.toDF(id, vec)
    val q = vecs(7)._2

    val lsh = tmp("sc-lsh-esc")
    Similarity.LshIndex.fit(df, id, vec, planes = 3).save(lsh)
    val l = Similarity.LshIndex.load(spark, lsh)
    assert((l.id, l.vec) == ((id, vec)))
    assert(Similarity.lshTopK(l, q, 3, probes = 1).collect().head.getLong(0) == 7L)

    val bin = tmp("sc-bin-esc")
    Similarity.BinaryIndex.fit(df, id, vec).save(bin)
    val b = Similarity.BinaryIndex.load(spark, bin)
    assert((b.id, b.vec) == ((id, vec)))
    assert(Similarity.binaryTopK(b, q, 3, rerank = 10)
      .collect().head.getLong(0) == 7L)
  }

  test("sidecars in the earlier hand-formatted layout load unchanged") {
    // each literal is byte for byte what the earlier string-built
    // writers produced, next to a fitted index's parquet
    val lsh = tmp("sc-old-lsh")
    Similarity.LshIndex.fit(vecDf, "id", "vec", planes = 5, tables = 3)
      .save(lsh)
    legacy(lsh, "_lsh_meta.json", """{"id": "id", "vec": "vec", """ +
      """"planes": 5, "tables": 3, "hash": "md5-planes-v1"}""")
    val l = Similarity.LshIndex.load(spark, lsh)
    assert((l.id, l.vec, l.planes, l.tables) == (("id", "vec", 5, 3)))

    val bin = tmp("sc-old-bin")
    Similarity.BinaryIndex.fit(vecDf, "id", "vec").save(bin)
    legacy(bin, "_binary_meta.json", """{"id": "id", "vec": "vec"}""")
    val b = Similarity.BinaryIndex.load(spark, bin)
    assert((b.id, b.vec) == (("id", "vec")))

    val mh = tmp("sc-old-minhash")
    Dedup.MinHashSeenIndex.fit(docs, "doc_id", "text", k = 4,
      numHashes = 16, bands = 4).save(mh)
    legacy(mh, "_minhash_index_meta.json",
      """{"k": 4, "numHashes": 16, "bands": 4}""")
    val m = Dedup.MinHashSeenIndex.load(spark, mh)
    assert((m.k, m.numHashes, m.bands) == ((4, 16, 4)))

    val txt = tmp("sc-old-text")
    val txtIdx = Relevance.TextIndex.fit(docs, "doc_id", "text", buckets = 8)
    txtIdx.save(txt)
    legacy(txt, "_text_index_meta.json",
      s"""{"n": 40, "tot": ${txtIdx.totalTokens}, "buckets": 8}""")
    val t = Relevance.TextIndex.load(spark, txt)
    assert((t.nDocs, t.totalTokens, t.buckets) ==
      ((40L, txtIdx.totalTokens, 8)))

    // IVF: integer centers round-trip exactly, extremes included (2⁵³+1
    // has no double); the earlier layout, double centers and no offset,
    // is refused rather than misread
    val ivf = tmp("sc-old-ivf")
    val ivfIdx = Similarity.IvfIndex.fit(vecDf, "id", "vec", nlist = 2)
    ivfIdx.save(ivf)
    val iv = Similarity.IvfIndex.load(spark, ivf)
    assert(iv.centers.toSeq == ivfIdx.centers.toSeq)
    assert((iv.offset, iv.id, iv.vec) == ((ivfIdx.offset, "id", "vec")))
    legacy(ivf, "_ivf_centers.json", """{"id":"id","vec":"vec","centers":""" +
      """[[9223372036854775807,0,-9223372036854775808],[1,-1,9007199254740993]],""" +
      """"offset":2.0}""")
    assert(Similarity.IvfIndex.load(spark, ivf).centers.toSeq == Seq(
      Seq(Long.MaxValue, 0L, Long.MinValue), Seq(1L, -1L, 9007199254740993L)))
    legacy(ivf, "_ivf_centers.json", """{"id": "id", "vec": "vec", """ +
      """"centers": [[0.1,-2.5E-7,3.0],[1.7976931348623157E308,0.0,4.9E-324]]}""")
    val refused = intercept[IllegalArgumentException](
      Similarity.IvfIndex.load(spark, ivf))
    assert(refused.getMessage.contains("not an IVF index") &&
      refused.getMessage.contains(s"$ivf/_ivf_centers.json"), refused.getMessage)

    // IVF-PQ: the earlier writer's exact string building over a fitted
    // model, then over extreme floats; both read back bit-identical, as
    // floats. 7.038531E-26f is the one float whose toString, parsed as a
    // double and then narrowed, lands one ulp off.
    val pq = tmp("sc-old-ivfpq")
    val pqIdx = IvfPq.fit(vecDf, "id", "vec", nlist = 2, m = 2, k = 4,
      pqIters = 1)
    pqIdx.save(pq)
    val model = pqIdx.pq
    def old(centers: Seq[Seq[Float]]): String = {
      val cs = centers.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
      val cb = model.codebooks.map(_.map(_.mkString("[", ",", "]"))
        .mkString("[", ",", "]")).mkString("[", ",", "]")
      s"""{"id": "id", "m": ${model.m}, "k": ${model.k}, "subDim": ${model.subDim}, """ +
        s""""offset": ${model.offset}, "centers": $cs, "codebooks": $cb}"""
    }
    legacy(pq, "_ivfpq_meta.json", old(pqIdx.centers))
    val p = IvfPq.load(spark, pq)
    assert(p.id == "id" && p.pq == model)
    assert(bits(p.centers) == bits(pqIdx.centers))
    assert(p.pq.codebooks == model.codebooks)
    val extremes = Seq(Seq(0.1f, -1.0e-38f, Float.MinPositiveValue),
      Seq(Float.MaxValue, 7.038531e-26f, 16777217.0f),
      Seq(0.0f, 1.1754942e-38f, -3.4028233e38f))
    legacy(pq, "_ivfpq_meta.json", old(extremes))
    assert(bits(IvfPq.load(spark, pq).centers) == bits(extremes))

    // graph store: both flat-map sidecars, escapes included
    val store = tmp("sc-old-store")
    GraphStore.save(Tables.graph(spark, TestSpark.sf0001, "region"), store)
    legacy(store, "_prefixes.json",
      """{"ex": "http://example.org/", "q\"b\\s": "urn:a\"b\\c/"}""")
    legacy(store, "_stats.json",
      """{"http://example.org/p": 3, "urn:q\"x\\y": 7}""")
    val g = GraphStore.load(spark, store)
    assert(g.prefixes("ex") == "http://example.org/")
    assert(g.prefixes("q\"b\\s") == "urn:a\"b\\c/")
    assert(g.predCounts ==
      Map("http://example.org/p" -> 3L, "urn:q\"x\\y" -> 7L))
  }

  test("an LSH index built with another hash family is refused, naming both") {
    val lsh = tmp("sc-lsh-family")
    Similarity.LshIndex.fit(vecDf, "id", "vec", planes = 4).save(lsh)
    legacy(lsh, "_lsh_meta.json", """{"id": "id", "vec": "vec", """ +
      """"planes": 4, "tables": 1, "hash": "xxhash64-v0"}""")
    val e = intercept[IllegalArgumentException](
      Similarity.LshIndex.load(spark, lsh))
    assert(e.getMessage.contains("'xxhash64-v0'") &&
      e.getMessage.contains("'md5-planes-v1'"), e.getMessage)
  }

  test("a missing or unparsable sidecar fails naming the index kind and the path") {
    val loaders: Seq[(String, String, String => Any)] = Seq(
      ("an LSH index", "_lsh_meta.json",
        Similarity.LshIndex.load(spark, _)),
      ("an IVF index", "_ivf_centers.json",
        Similarity.IvfIndex.load(spark, _)),
      ("a binary index", "_binary_meta.json",
        Similarity.BinaryIndex.load(spark, _)),
      ("an IVF-PQ index", "_ivfpq_meta.json", IvfPq.load(spark, _)),
      ("a MinHash index", "_minhash_index_meta.json",
        Dedup.MinHashSeenIndex.load(spark, _)),
      ("a text index", "_text_index_meta.json",
        Relevance.TextIndex.load(spark, _)))
    for ((kind, name, load) <- loaders) {
      val dir = tmp("sc-bad")
      val missing = intercept[IllegalArgumentException](load(dir))
      assert(missing.getMessage.contains(s"not $kind") &&
        missing.getMessage.contains(s"$dir/$name"), missing.getMessage)
      // a foreign payload: the message names the file, never dumps it
      legacy(dir, name, """{"k": "secret-payload"}""")
      val bad = intercept[IllegalArgumentException](load(dir))
      assert(bad.getMessage.contains(s"not $kind") &&
        bad.getMessage.contains(s"$dir/$name") &&
        !bad.getMessage.contains("secret-payload"), bad.getMessage)
    }
  }
}
