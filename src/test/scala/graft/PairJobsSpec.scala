package graft

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.pipeline.Dedup

/** The jobs of the n-gram and MinHash pair stages. A broadcast-sized
  * corpus is fetched in one bounded job and grouped on the driver, so a
  * stage written to the `noop` sink runs at most two jobs (the fetch and
  * the write). With broadcasts off, or past `Fixpoints.LocalMax`
  * documents, the plan is the frame path's capped posting-list
  * aggregate. */
class PairJobsSpec extends SparkSpec {
  import spark.implicits._

  /** 400 documents with planted near-duplicate pairs, as a parquet scan. */
  private lazy val docs: DataFrame = {
    val rnd = new scala.util.Random(19)
    val texts = (0L until 200L).flatMap { i =>
      val base = Seq.fill(20)(s"t${rnd.nextInt(500)}")
      Seq(2 * i -> base.mkString(" "), (2 * i + 1) -> (base.init :+ "x").mkString(" "))
    }
    val dir = java.nio.file.Files.createTempDirectory("pair-jobs").resolve("docs").toString
    texts.toDF("doc_id", "text").repartition(2).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def stages(df: DataFrame): Seq[(String, () => DataFrame)] = Seq(
    "ngramJaccardPairs" -> (() => Dedup.ngramJaccardPairs(df, "doc_id", "text",
      threshold = 0.8)),
    "minhashDedupPairs" -> (() => Dedup.minhashDedupPairs(df, "doc_id", "text",
      threshold = 0.8)))

  test("a broadcast-sized corpus: each pair stage plus a noop write runs at most 2 jobs") {
    for ((name, pairs) <- stages(docs)) {
      assert(pairs().count() >= 100, s"$name: the planted pairs") // warm
      val jobs = jobsOf(pairs().write.format("noop").mode("overwrite").save())
      assert(jobs <= 2, s"$name ran $jobs jobs")
    }
  }

  test("broadcasts off, or LocalMax + 1 documents: the frame path's aggregate") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try for ((name, pairs) <- stages(docs))
      assert(pairs().queryExecution.optimizedPlan.toString.contains("smallest_pairs"),
        s"$name with threshold -1")
    finally spark.conf.set(key, before)
    val many = spark.range(Fixpoints.LocalMax + 1L)
      .select(F.col("id").as("doc_id"),
        F.concat_ws(" ", F.lit("a"), F.col("id") % 97, F.col("id") % 89, F.lit("b"))
          .as("text"))
    for ((name, pairs) <- stages(many))
      assert(pairs().queryExecution.optimizedPlan.toString.contains("smallest_pairs"),
        s"$name with ${Fixpoints.LocalMax + 1} documents")
  }
}
