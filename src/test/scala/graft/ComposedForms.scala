package graft

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.types._
import graft.pipeline.{Dedup, TextAnalysis}

/** The `functions._`-composed reference forms of operators the library
  * evaluates natively. The parity specs run both forms over the same
  * rows and compare them; nothing outside the specs calls these. */
object ComposedForms {

  /** Dot product of two float-array columns, folded in index order. */
  def dot(a: Column, b: Column): Column =
    F.aggregate(F.zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      F.lit(0.0), (acc, x) => acc + x)

  /** Reference form of `Similarity.cosine`. */
  def cosine(a: Column, b: Column): Column = {
    val d = F.sqrt(dot(a, a)) * F.sqrt(dot(b, b))
    F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))
  }

  /** Deterministic pseudo-random hyperplane component: plane `p`,
    * dimension `d` → value in [-0.5, 0.5), the top 60 bits of
    * md5("p#d") mod 1e6. Must stay bit-identical to
    * `graft.expressions.SignBits.component`. */
  private def planeComponent(p: Int, d: Column): Column =
    (F.conv(F.substring(F.md5(
        F.concat(F.lit(s"$p#"), d.cast(StringType)).cast(BinaryType)),
      1, 15), 16, 10).cast(LongType) % 1000000L).cast(DoubleType) /
      1000000.0 - 0.5

  /** Reference form of `Similarity.signBits` — planes nested HOF folds,
    * each re-hashing every component per row. */
  def signBits(vec: Column, planes: Int, planeOffset: Int = 0): Column = {
    val proj = (0 until planes).map { p =>
      val s = F.aggregate(
        F.zip_with(vec, F.sequence(F.lit(0), F.size(vec) - 1),
          (x, i) => x.cast(DoubleType) * planeComponent(planeOffset + p, i)),
        F.lit(0.0), (acc, x) => acc + x)
      F.when(s >= 0, F.shiftleft(F.lit(1L), p)).otherwise(F.lit(0L))
    }
    proj.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Reference form of `Similarity.quantizeInt8`. Its lambda embeds the
    * array_max subtree, re-evaluating the scale per ELEMENT (O(d²) per
    * row). Null elements stay null and an empty/all-null vector gets
    * scale 0.0, matching the native expression exactly. */
  def quantizeInt8(vec: Column): Column = {
    val scale = F.coalesce(
      F.array_max(F.transform(vec, x => F.abs(x.cast(DoubleType)))) / 127.0,
      F.lit(0.0))
    F.struct(
      F.when(scale > 0, F.transform(vec,
          x => F.round(x.cast(DoubleType) / scale, 0).cast(ByteType)))
        .otherwise(F.transform(vec,
          x => F.when(x.isNotNull, F.lit(0).cast(ByteType)))).as("q"),
      scale.as("scale"))
  }

  /** Reference form of `Dedup.shingleHashes`. */
  def shingleHashes(text: Column, k: Int = 3): Column = {
    val th = F.transform(TextAnalysis.tokens(text), t => F.xxhash64(t))
    // combine k consecutive token hashes via zip_with against shifted
    // views — each shift evaluates the token-hash array once per ROW.
    // (Indexing th inside a per-element lambda would re-inline the whole
    // tokenization per element: O(tokens²).)
    val windowed = (2 to k).foldLeft(th)((acc, j) =>
      F.zip_with(acc, F.slice(th, F.lit(j), F.size(th)), (a, b) => F.xxhash64(a, b)))
    F.array_distinct(
      F.when(F.size(th) >= k,
        F.slice(windowed, F.lit(1), F.size(th) - (k - 1)))
        .otherwise(F.array(F.xxhash64(th))))
  }

  /** Explode + MIN-aggregate reference form of `Dedup.minhashSignatures`. */
  def minhashSignatures(df: DataFrame, id: String, text: String, k: Int,
      numHashes: Int): DataFrame = {
    val exploded = df
      .select(F.col(id).as("rid"), F.explode(Dedup.shingleHashes(F.col(text), k)).as("h"))
    val aggs = (0 until numHashes)
      .map(i => F.min(F.xxhash64(F.lit(i), F.col("h"))).as(s"m$i"))
    exploded.groupBy("rid").agg(aggs.head, aggs.tail: _*)
      .select(F.col("rid"), F.array(
        (0 until numHashes).map(i =>
          F.coalesce(F.col(s"m$i"), F.lit(Long.MaxValue))): _*).as("sig"))
  }

  /** Reference form of `Dedup.simhash` (xxhash64 tokens). */
  def simhash(text: Column): Column = {
    val t = TextAnalysis.tokens(text)
    val votes = F.aggregate(t,
      F.array_repeat(F.lit(0L), 64),
      (acc, tok) => {
        val h = F.xxhash64(tok)
        F.zip_with(acc, F.sequence(F.lit(0), F.lit(63)),
          (v, b) => v + F.when(
            F.call_function("shiftright", h, b.cast(IntegerType))
              .bitwiseAND(F.lit(1L)) === 1L,
            F.lit(1L)).otherwise(F.lit(-1L)))
      })
    F.aggregate(
      F.zip_with(votes, F.sequence(F.lit(0), F.lit(63)),
        (v, b) => F.when(v > 0,
          F.call_function("shiftleft", F.lit(1L), b.cast(IntegerType)))
          .otherwise(F.lit(0L))),
      F.lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** PNG/GIF-only reference form of `Multimodal.headerImageMeta` (JPEG
    * needs a segment walk that fixed-offset column arithmetic can't
    * express, which is why the pipeline path is native). */
  def headerImageMeta(bin: Column): Column = {
    def be(start: Int, len: Int): Column =
      F.conv(F.hex(F.substring(bin, start, len)), 16, 10).cast(IntegerType)
    // little-endian 16-bit: swap the two bytes before the hex decode
    def le16(start: Int): Column =
      F.conv(F.hex(F.concat(F.substring(bin, start + 1, 1),
        F.substring(bin, start, 1))), 16, 10).cast(IntegerType)
    val isPng = F.hex(F.substring(bin, 1, 8)) === "89504E470D0A1A0A"
    val isGif = F.substring(bin, 1, 6).cast(StringType)
      .isin("GIF87a", "GIF89a")
    F.when(isPng, F.struct(F.lit("image/png").as("mime"),
        be(17, 4).as("width"), be(21, 4).as("height")))
      .when(isGif, F.struct(F.lit("image/gif").as("mime"),
        le16(7).as("width"), le16(9).as("height")))
      .otherwise(F.lit(null).cast(StructType(Seq(
        StructField("mime", StringType), StructField("width", IntegerType),
        StructField("height", IntegerType)))))
  }

  // --- the curation text signals (TextAnalysis over TextSignals)

  /** Reference form of `TextAnalysis.tokenCount` (NULL for a NULL text,
    * which `size` alone counts as -1 outside ANSI mode). */
  def tokenCount(text: Column): Column =
    F.when(text.isNotNull, F.size(TextAnalysis.tokens(text)))

  /** Reference form of `TextAnalysis.avgWordLen`. */
  def avgWordLen(text: Column): Column = {
    val t = TextAnalysis.tokens(text)
    F.when(F.size(t) > 0,
      F.aggregate(t, F.lit(0L), (acc, x) => acc + F.length(x))
        .cast(DoubleType) / F.size(t).cast(DoubleType))
      .otherwise(F.lit(0.0))
  }

  /** Reference form of `TextAnalysis.stopwordRatio`. */
  def stopwordRatio(text: Column,
      stopwords: Seq[String] = TextAnalysis.stopwordsEn): Column = {
    val t = TextAnalysis.tokens(text)
    val sw = F.size(F.filter(t, x => x.isInCollection(stopwords)))
    F.when(F.size(t) > 0, sw.cast(DoubleType) / F.size(t).cast(DoubleType))
      .otherwise(F.lit(0.0))
  }

  /** Reference form of `TextAnalysis.punctRatio`. */
  def punctRatio(text: Column): Column =
    F.when(F.length(text) > 0,
      (F.length(text) - F.length(F.regexp_replace(text, "[^A-Za-z0-9 ]", "")))
        .cast(DoubleType) / F.length(text).cast(DoubleType))
      .otherwise(F.lit(0.0))

  /** Reference form of `TextAnalysis.qualityScore`. */
  def qualityScore(text: Column): Column = {
    val lenScore = F.least(F.length(text).cast(DoubleType) / 200.0, F.lit(1.0))
    val wordScore = {
      val a = avgWordLen(text)
      F.when(a >= 3.0 && a <= 8.0, 1.0).otherwise(0.5)
    }
    val swScore = {
      val r = stopwordRatio(text)
      F.when(r >= 0.05 && r <= 0.5, 1.0).otherwise(0.5)
    }
    val punctScore = F.lit(1.0) - F.least(punctRatio(text) * 4.0, F.lit(1.0))
    F.round((lenScore * 0.3 + wordScore * 0.2 + swScore * 0.3 + punctScore * 0.2), 6)
  }

  /** Reference form of `TextAnalysis.langId`: a fold keeping
    * (bestScore, bestLang), whose strict > keeps the first-listed
    * profile on ties. */
  def langId(text: Column,
      profiles: Seq[(String, Seq[String])] = TextAnalysis.langProfiles): Column = {
    val t = TextAnalysis.tokens(text)
    val scored = profiles.map { case (lang, words) =>
      (lang, F.size(F.filter(t, x => F.lower(x).isInCollection(words))))
    }
    val init = F.struct(F.lit(0).as("score"), F.lit("und").as("lang"))
    val best = scored.foldLeft(init) { case (acc, (lang, score)) =>
      F.when(score > acc.getField("score"),
        F.struct(score.as("score"), F.lit(lang).as("lang"))).otherwise(acc)
    }
    best.getField("lang")
  }
}
