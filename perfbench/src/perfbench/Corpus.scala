package perfbench

import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.types.LongType
import graft.pipeline.{Curation, Dedup, Similarity, TextAnalysis}

/** corpus_curation: one op is one pipeline stage over the whole corpus,
  * written to the `noop` sink so every output column is computed. A round
  * runs each stage once in a seeded order; the k-NN stages take a seeded
  * query vector; the LSH stage probes an index that set-up builds and
  * stores. The untimed warm-up collects and checks every
  * stage's output instead. */
final class CorpusCuration(spark: SparkSession, data: String, work: String) extends Workload {
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var lsh: Similarity.LshIndex = _
  private var nDocs = 0L
  private var lshRecall = 0.0

  /** lshTopK recall@10 against bruteForceTopK, averaged over the check
    * queries, must not fall below this. */
  val RecallFloor = 0.3
  val Jaccard = 0.8
  val K = 10

  private def query(rng: Random): Seq[Float] = Seq.fill(64)((rng.nextFloat() - 0.5f))

  /** The stages by name; the k-NN ones take the query vector. */
  private def stages: Seq[(String, Seq[Float] => DataFrame)] = Seq(
    "text_stats" -> (_ => docs.select(F.col("doc_id"),
      TextAnalysis.tokenCount(F.col("text")).cast(LongType).as("n_tokens"),
      TextAnalysis.bpeTokenCount(F.col("text")).cast(LongType).as("n_bpe"),
      TextAnalysis.charCount(F.col("text")).cast(LongType).as("n_chars2"))),
    "exact_groups" -> (_ => Dedup.exactGroups(docs, "doc_id", "text")),
    "minhash_pairs" -> (_ => Dedup.minhashDedupPairs(docs, "doc_id", "text",
      threshold = Jaccard, k = 3, numHashes = 32, bands = 8)),
    "ngram_pairs" -> (_ => Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      threshold = Jaccard, k = 3)),
    "curate" -> (_ => Curation.curate(docs, "doc_id", "text",
      minQuality = 0.7, langs = Seq("en", "de"),
      benchmark = Some((docs.where(F.col("doc_id") % 20 === 0), "text")),
      contaminationK = 13, chunkSize = 64, chunkStride = 48)),
    "knn_brute" -> (q => Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, K)),
    "knn_lsh" -> (q => Similarity.lshTopK(lsh, q, K, probes = 2)))
  private val textStages = 5

  /** Reads the inputs and builds the stored LSH index the k-NN stage
    * probes. */
  def setup(tr: Tracer): Unit = {
    docs = spark.read.parquet(s"$data/documents.parquet")
    emb = spark.read.parquet(s"$data/embeddings.parquet")
    nDocs = docs.count()
    val path = new java.io.File(work, "lsh").getAbsolutePath
    tr.setupSpan("similarity.lsh_index_build") {
      Similarity.LshIndex.fit(emb, "vec_id", "embedding", planes = 4, tables = 2).save(path)
    }
    lsh = Similarity.LshIndex.load(spark, path)
  }

  /** A round: each stage once, in a seeded order, the two k-NN stages
    * with seeded query vectors. */
  def round(rng: Random): Seq[Op] = {
    val named = stages.toMap
    rng.shuffle(stages.map(_._1)).map { name =>
      val q = query(rng)
      Op(name, tr => {
        val df = named(name)(q)
        tr.span("exec")(df.write.format("noop").mode("overwrite").save())
        None
      }, check = Some(() => verify(name, named(name)(q), q)))
    }
  }

  /** A round is a few seconds of seven ops of very different cost; six
    * rounds give the percentiles enough like samples. The stages keep
    * getting faster over the first two rounds after the warm-up (n-gram
    * dedup by a third), so two more rounds run untimed before them. */
  override def minRounds: Int = 6
  /** Set-up takes about a second. */
  override def setupReps: Int = 7
  override def warmRounds: Int = 2

  /** Shingle set of a text as the pipeline defines it: k consecutive
    * space-separated tokens, or the whole token list when shorter. */
  private def shingles(text: String, k: Int = 3): Set[Seq[String]] = {
    val t = text.split(" ", -1).toSeq
    if (t.size < k) Set(t) else t.sliding(k).toSet
  }

  private def cosine(a: Seq[Float], b: Seq[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.size) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / math.sqrt(na * nb)
  }

  // the inputs, read once for the checks
  private lazy val text: Map[Long, String] = docs.select("doc_id", "text").collect()
    .map(r => r.getLong(0) -> r.getString(1)).toMap
  private lazy val vecs: Array[(Long, Seq[Float])] = emb.select("vec_id", "embedding")
    .collect().map(r => r.getLong(0) -> r.getSeq[Float](1))

  private def topK(q: Seq[Float]): Set[Long] =
    vecs.map { case (id, v) => (id, cosine(v, q)) }
      .sortBy { case (id, c) => (-c, id) }.take(K).map(_._1).toSet

  /** Collect one stage's output and check it against the inputs. */
  private def verify(name: String, df: DataFrame, q: Seq[Float]): Option[String] = {
    val rows = df.collect()
    def bad(why: String) = Some(s"$name: $why")
    name match {
      case "text_stats" =>
        if (rows.length != text.size) bad(s"${rows.length} rows for ${text.size} documents")
        else if (!rows.forall(r => r.getAs[Long]("n_chars2") == text(r.getLong(0)).length))
          bad("character counts differ from the texts")
        else None
      case "exact_groups" =>
        val md5 = java.security.MessageDigest.getInstance("MD5")
        val truth = text.toSeq.groupBy(_._2).map { case (t, ids) =>
          (md5.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString,
            ids.size.toLong, ids.map(_._1).min)
        }.toSet
        val got = rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        if (got == truth) None else bad("groups differ from a GROUP BY on the text")
      case "minhash_pairs" | "ngram_pairs" =>
        val pairs = rows.map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")))
        val below = pairs.count { case (a, b) =>
          val (sa, sb) = (shingles(text(a)), shingles(text(b)))
          (sa intersect sb).size.toDouble / (sa union sb).size < Jaccard - 1e-9
        }
        println(s"info: $name pairs=${pairs.length} below_threshold=$below")
        if (pairs.isEmpty) bad("no pairs among the planted duplicates")
        else if (below > 0) bad(s"$below pairs below Jaccard $Jaccard")
        else None
      case "curate" =>
        val kept = rows.map(_.getAs[Long]("doc_id")).toSet
        if (kept.isEmpty || !kept.forall(text.contains)) bad("kept no documents or unknown ones")
        else None
      case "knn_brute" =>
        if (rows.map(_.getLong(0)).toSet == topK(q)) None
        else bad("differs from a direct cosine ranking")
      case "knn_lsh" =>
        val ids = rows.map(_.getLong(0))
        if (ids.length <= K && ids.forall(i => vecs.exists(_._1 == i))) None
        else bad("returned unknown ids or more than k")
    }
  }

  /** LSH recall@10 against bruteForceTopK over five fixed queries. */
  override def finalChecks(tr: Tracer): Seq[(String, Int)] =
    if (tr.enabled) Nil
    else {
      val rng = new Random(7)
      val recalls = (1 to 5).map { _ =>
        val q = query(rng)
        val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, K)
          .collect().map(_.getLong(0)).toSet
        val approx = Similarity.lshTopK(lsh, q, K, probes = 2)
          .collect().map(_.getLong(0)).toSet
        (approx intersect brute).size.toDouble / K
      }
      lshRecall = recalls.sum / recalls.size
      println(f"info: lsh_recall=$lshRecall%.3f")
      if (lshRecall >= RecallFloor) Nil
      else Seq((f"lsh recall@10 $lshRecall%.3f below $RecallFloor", 1))
    }

  override def layerMetrics(tr: Tracer, ops: Int): Map[String, Double] = {
    val cores = Runtime.getRuntime.availableProcessors()
    val perStage = stages.flatMap { case (name, _) =>
      val n = tr.total(s"op.$name.n")
      val wall = tr.total(s"op.$name.wall_s")
      Seq(s"pipeline.${name}_s" -> (if (n > 0) wall / n else 0.0),
        s"pipeline.$name.core_util" ->
          (if (wall > 0) tr.total(s"op.$name.executor_cpu_s") / (wall * cores) else 0.0))
    }
    val textNames = stages.take(textStages).map(_._1)
    val wall = textNames.map(s => tr.total(s"op.$s.wall_s")).sum
    val passes = textNames.map(s => tr.total(s"op.$s.n")).sum
    perStage.toMap ++ Map(
      "similarity.lsh_recall" -> lshRecall,
      "similarity.lsh_index_build_s" -> tr.setupSpanMedian("similarity.lsh_index_build"),
      "pipeline.docs_per_s" -> (if (wall > 0) nDocs * passes / wall else 0.0))
  }
}
