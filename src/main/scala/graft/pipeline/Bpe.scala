package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, functions => F}

/** Byte-pair-encoding tokenizer: corpus-trained merges
  * (Sennrich et al. 2016) and a native apply/count path — the real
  * tokenizer a training-data pipeline needs beyond the BPE-ish regex
  * heuristic in [[TextAnalysis]] (vocabulary fitting, exact token
  * budgets, packing inputs).
  *
  * Scale shape: training's corpus-sized stage is ONE distributed
  * word-count aggregate (explode + count, map-side combined) — the only
  * part that grows with corpus bytes. The merge loop then runs on the
  * collected word table, which is VOCABULARY-sized (capped at
  * `maxWords` distinct words; Zipf makes the tail irrelevant to pair
  * counts) — the shape every production BPE trainer uses: corpus pass
  * distributed, merge loop on the aggregated table. Encoding is a
  * narrow per-row expression with the merge ranks broadcast as a
  * codegen reference — no shuffle, no UDF.
  *
  * Determinism: the word table is sorted (count desc, word asc) before
  * the cap, and each round picks the (count desc, pair asc) best pair,
  * so the same corpus always yields the same merges on any cluster.
  */
object Bpe {

  /** An ordered merge list; rank = position (lower merges first). */
  final case class Model(merges: Seq[(String, String)]) {
    require(merges.size == merges.distinct.size, "duplicate merges")
    /** (left, right) → rank, the apply-time lookup. */
    lazy val ranks: Map[(String, String), Int] =
      merges.zipWithIndex.toMap
    /** Wire form for the native expression: [[l0, r0], [l1, r1], …]. */
    private[graft] def wire: Seq[Seq[String]] =
      merges.map { case (l, r) => Seq(l, r) }
  }

  /** Train `numMerges` BPE merges over the whitespace words of
    * `textCol`. One distributed aggregate; see the object doc for the
    * shape. Words are char sequences (no end-of-word marker — the
    * pipeline pre-tokenizes on whitespace, so merges never cross word
    * boundaries). */
  def train(df: DataFrame, textCol: String, numMerges: Int,
      maxWords: Int = 65536): Model = {
    require(numMerges >= 1 && numMerges <= 65536,
      s"numMerges must be in [1, 65536], got $numMerges")
    val words: Array[(String, Long)] = df
      .select(F.explode(TextAnalysis.tokens(F.col(textCol))).as("w"))
      .groupBy("w").agg(F.count(F.lit(1)).as("c"))
      .orderBy(F.col("c").desc, F.col("w").asc)
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))

    // driver-side merge loop over the vocabulary-sized table
    var seqs: Array[(Array[String], Long)] =
      words.map { case (w, c) => (w.map(_.toString).toArray, c) }
    val merges = Seq.newBuilder[(String, String)]
    var k = 0
    var exhausted = false
    while (k < numMerges && !exhausted) {
      val counts = new java.util.HashMap[(String, String), Long]()
      seqs.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          counts.merge((syms(i), syms(i + 1)), c, java.lang.Long.sum)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: (String, String) = null
        var bestC = -1L
        counts.forEach { (p, c) =>
          if (c > bestC || (c == bestC &&
              (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2))))
            { best = p; bestC = c }
        }
        merges += best
        val merged = best._1 + best._2
        seqs = seqs.map { case (syms, c) =>
          if (syms.length < 2) (syms, c)
          else {
            val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == best._1 &&
                  syms(i + 1) == best._2) { out += merged; i += 2 }
              else { out += syms(i); i += 1 }
            }
            (out.toArray, c)
          }
        }
        k += 1
      }
    }
    Model(merges.result())
  }

  /** Persist a trained model as (rank, left, right) parquet — tiny
    * (≤ 65536 rows), but written through Spark so the path can live
    * next to the shards on any storage the cluster reads. Rank order
    * is explicit in the data; reload does not depend on file order. */
  def save(model: Model, spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    import spark.implicits._
    model.merges.zipWithIndex
      .map { case ((l, r), k) => (k, l, r) }
      .toDF("rank", "left", "right")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Reload a model persisted by [[save]]. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Model = {
    import spark.implicits._
    Model(spark.read.parquet(path)
      .select("rank", "left", "right").as[(Int, String, String)]
      .collect().sortBy(_._1).map { case (_, l, r) => (l, r) }.toSeq)
  }

  /** Subword tokens of `text` under `model`: whitespace words, each
    * BPE-merged in rank order, flattened in document order
    * ([[graft.expressions.BpeEncode]] — narrow, codegen'd, ranks
    * broadcast as a codegen reference). */
  def encode(text: Column, model: Model): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.BpeEncode(
        graft.expressions.ColumnBridge.expression(
          TextAnalysis.tokens(text)), model.wire))

  /** Exact subword count — the token-budget arithmetic packing and
    * costing need. */
  def tokenCount(text: Column, model: Model): Column =
    F.size(encode(text, model))
}
