package graft

import org.apache.spark.sql.functions.col
import graft.pipeline.{Curation, Similarity}

/** The jobs of the two stages that probe a small fixed side in the row.
  * `curate` with a benchmark fetches the benchmark's shingle set once and
  * filters each row against it, so with a `noop` write it runs the fetch
  * plus the dedup shuffle's two jobs. `lshTopK` on a stored `LshIndex`
  * dedupes the candidates after its top `k·tables`, on one partition, so
  * it runs one job. */
class ProbeJobsSpec extends SparkSpec {

  test("curate with a benchmark plus a noop write runs at most 3 jobs") {
    val docs = Tables.read(spark, TestSpark.sf0001, "documents")
    def curate() = Curation.curate(docs, "doc_id", "text",
      minQuality = 0.7, langs = Seq("en", "de"),
      benchmark = Some((docs.where(col("doc_id") % 20 === 0), "text")),
      contaminationK = 13, chunkSize = 64, chunkStride = 48)
    assert(curate().count() > 0) // warm
    val jobs = jobsOf(curate().write.format("noop").mode("overwrite").save())
    assert(jobs <= 3, s"curate ran $jobs jobs")
  }

  test("lshTopK on a stored LshIndex plus a noop write runs 1 job") {
    val emb = Tables.read(spark, TestSpark.sf0001, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("probe-jobs").resolve("lsh").toString
    Similarity.LshIndex.fit(emb, "vec_id", "embedding", planes = 4, tables = 2).save(path)
    val index = Similarity.LshIndex.load(spark, path)
    val q = emb.where(col("vec_id") === 1).select("embedding").collect()(0).getSeq[Float](0)
    assert(Similarity.lshTopK(index, q, 10, probes = 2).count() > 0) // warm
    val jobs = jobsOf(Similarity.lshTopK(index, q, 10, probes = 2)
      .write.format("noop").mode("overwrite").save())
    assert(jobs == 1, s"lshTopK ran $jobs jobs")
  }
}
