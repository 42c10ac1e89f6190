package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, functions => F}
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing.
  *
  * The data model: media is an opaque `binary` column plus typed metadata
  * (mime, width/height/duration, …). Decode / feature-extract / resize /
  * frame-sample run as *batched* per-partition functions (the Scala
  * equivalent of `mapInPandas`): rows are processed in fixed-size batches
  * inside `mapPartitions` so a real codec would amortize model/codec init
  * per batch, exactly like an Arrow-batched UDF.
  *
  * What is REAL here, parsed/decoded straight from the bytes:
  *  - header metadata for PNG/GIF/JPEG/BMP ([[headerImageMeta]]) and
  *    WAV/FLAC ([[headerAudioMeta]]) — format, dimensions, channels,
  *    sample rate, duration;
  *  - FULL sample/pixel decode for the uncompressed containers:
  *    PCM WAV → signal features ([[audioFeatures]]: rms/peak/zcr over
  *    every decoded sample) and 24-bit BMP → channel statistics
  *    ([[imageFeatures]]: per-channel means over every pixel). No codec
  *    library needed precisely because these formats are uncompressed.
  *
  *  - FULL pixel decode for the COMPRESSED image formats as well
  *    ([[decodeImage]]): PNG (DEFLATE), JPEG (DCT), GIF (LZW), TIFF and
  *    non-trivial BMP variants via the JDK's own `javax.imageio`
  *    readers — headless, in-memory, no external codec library; and a
  *    REAL resize stage ([[resizeImage]]): decode → bilinear scale →
  *    PNG re-encode.
  *
  *  - a REAL image embedding ([[imageEmbedding]]): per-channel color
  *    histogram over the decoded pixels, ready for the cosine/LSH
  *    machinery — image near-dup detection end to end.
  *
  * STUB NOTICE (what remains): perceptual codecs — MP3/Vorbis audio
  * and inter-frame video (H.26x etc.) — have no JDK codec, so those
  * stop at header triage. Compressed formats with deterministic
  * integer decodes ARE decoded: the full lossless FLAC codec
  * ([[graft.expressions.Flac]]), G.711 µ-law/A-law and mono IMA ADPCM
  * audio ([[audioFeatures]]/[[audioEmbedding]]), and uncompressed-DIB
  * plus MJPEG AVI frames ([[videoFeatures]]). Everything else — every
  * metadata field, pixel statistic and embedding — is parsed or
  * decoded from the real bytes.
  */
object Multimodal {

  val mediaMetaType: StructType = StructType(Seq(
    StructField("mime", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("ok", BooleanType)))

  /** Synthesize a VALID solid-color 24bpp BMP from dim/color columns —
    * the fixture the oracle queries use, because the result of decoding
    * it is plain arithmetic. Keep `w` a multiple of 4 so rows need no
    * stride padding (the repeat-pixel trick assumes it). */
  def syntheticBmp(w: Column, h: Column,
      r: Column, g: Column, b: Column): Column = {
    import graft.SqlHex.{hx2, le32h}
    val px = F.concat(hx2(b), hx2(g), hx2(r)) // BGR on disk
    F.unhex(F.concat(
      F.lit("424D"), le32h(w * h * 3 + 54), F.lit("00000000" + "36000000"),
      F.lit("28000000"), le32h(w), le32h(h),
      F.lit("0100" + "1800" + "00000000"), le32h(w * h * 3),
      F.lit("00000000" + "00000000" + "00000000" + "00000000"),
      F.call_function("repeat", px, w * h)))
  }

  /** Batched decode: binary column → metadata struct, processed in
    * `batchSize` chunks per partition (mapInPandas-shaped plumbing).
    * Every field is REAL, parsed from the bytes across all three
    * modalities: image containers (PNG/GIF/JPEG/BMP) report format +
    * pixel dimensions — with the ACTUAL frame count for GIF (animated
    * GIFs are multi-frame; other stills are one frame) — AVI video
    * reports dimensions + frame count, WAV/FLAC audio reports its
    * container (no pixel dims).
    * Unrecognized bytes get `ok = false` with null fields — a crawl
    * corpus is full of them and they must degrade, not fake. */
  def withDecodedMeta(df: DataFrame, binCol: String, out: String = "meta",
      batchSize: Int = 64): DataFrame = {
    val schema = StructType(df.schema.fields :+ StructField(out, mediaMetaType))
    val binIdx = df.schema.fieldIndex(binCol)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // a real impl would init the codec once per batch here
        batch.iterator.map { r =>
          val bytes = r.getAs[Array[Byte]](binIdx)
          val meta = decodeMeta(bytes)
          Row.fromSeq(r.toSeq :+ meta)
        }
      }
    }(enc)
  }

  /** One blob → `mediaMetaType` Row, all fields from the real bytes.
    * GIF gets a REAL frame count (animated GIFs are multi-frame); other
    * still formats report one frame. */
  private def decodeMeta(bytes: Array[Byte]): Row =
    graft.expressions.ImageHeaderMeta.parseDims(bytes) match {
      case (mime, w, h) =>
        val frames =
          if (mime == "image/gif") {
            val n = graft.expressions.Pixels.frameCount(bytes)
            if (n > 0) n else 1
          } else 1
        Row(mime, w, h, frames, true)
      case null => graft.expressions.VideoHeaderMeta.parseTagged(bytes) match {
        case (mime, w, h, frames, _) => Row(mime, w, h, frames, true)
        case null => graft.expressions.AudioHeaderMeta.parseFields(bytes) match {
          case (mime, _, _, _, _) => Row(mime, null, null, null, true)
          case null => Row(null, null, null, null, false)
        }
      }
    }

  /** Frame sampling: n evenly-spaced frame indexes from the decoded frame
    * count (metadata-only op — columnar, no stub needed). */
  def sampleFrameIndexes(meta: Column, n: Int): Column =
    F.when(meta.getField("n_frames").isNotNull && meta.getField("n_frames") > 0,
      F.transform(F.sequence(F.lit(0), F.lit(n - 1)),
        i => (i * meta.getField("n_frames") / n).cast(IntegerType)))

  /** "Resize" planning: target dims preserving aspect ratio (pure
    * arithmetic on metadata; the pixel op itself is the stubbed part). */
  def resizePlan(meta: Column, maxSide: Int): Column = {
    val w = meta.getField("width").cast(DoubleType)
    val h = meta.getField("height").cast(DoubleType)
    val scale = F.least(F.lit(maxSide) / F.greatest(w, h), F.lit(1.0))
    F.struct(
      F.round(w * scale).cast(IntegerType).as("width"),
      F.round(h * scale).cast(IntegerType).as("height"))
  }

  /** REAL image embedding: per-channel color histogram over every
    * decoded pixel (Swain–Ballard color indexing), `array<float>` of
    * length 3·bins, L1-normalized per channel — plugs straight into the
    * embedding pipeline (cosine near-dup pairs, kNN, IVF), so
    * decode → embed → LSH is a fully real image near-dup path. NULL for
    * undecodable bytes ([[graft.expressions.ImageEmbedding]]). */
  def imageEmbedding(bin: Column, bins: Int = 8): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.ImageEmbedding(
        graft.expressions.ColumnBridge.expression(bin), bins))

  /** REAL audio embedding: L1-normalized Goertzel band energies over
    * every decoded sample (same coverage as [[audioFeatures]]: WAV
    * PCM/G.711/ADPCM and lossless FLAC) — `array<float>` of `bands`
    * entries from DC to Nyquist, the audio twin of [[imageEmbedding]]
    * for the cosine/LSH near-dup machinery. NULL for unsupported bytes
    * ([[graft.expressions.AudioEmbedding]]). */
  def audioEmbedding(bin: Column, bands: Int = 16): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.AudioEmbedding(
        graft.expressions.ColumnBridge.expression(bin), bands))

  /** REAL (not stubbed) header-level image metadata: container format
    * and pixel dimensions parsed from the leading bytes — PNG (IHDR),
    * GIF87a/89a (logical screen descriptor) and JPEG (segment walk to
    * the first SOFn frame header, whose file position varies). No codec
    * needed: one native codegen'd expression
    * ([[graft.expressions.ImageHeaderMeta]]), so a 100 TB media scan
    * gets sizes/filtering without decoding a single pixel (how real
    * lakehouse media pipelines triage before the GPU stage). Returns
    * struct(mime, width, height); null for unrecognized formats. */
  def headerImageMeta(bin: Column): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.ImageHeaderMeta(
        graft.expressions.ColumnBridge.expression(bin)))

  /** Header-level AUDIO metadata from the raw leading bytes of a binary
    * column — the audio sibling of [[headerImageMeta]]: WAV (RIFF chunk
    * walk to `fmt `/`data`) and FLAC (STREAMINFO bit-field). Returns
    * struct(mime, channels, sample_rate, bits_per_sample, duration_ms);
    * null for unrecognized formats, null duration when the header doesn't
    * pin it (FLAC total_samples = 0). Native codegen'd expression
    * ([[graft.expressions.AudioHeaderMeta]]) — rate/length triage at scan
    * speed, no decode. */
  def headerAudioMeta(bin: Column): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.AudioHeaderMeta(
        graft.expressions.ColumnBridge.expression(bin)))

  /** Header-level VIDEO metadata from the raw leading bytes — the third
    * triage leg after [[headerImageMeta]] and [[headerAudioMeta]]: AVI
    * (RIFF chunk walk to the `LIST hdrl` → `avih` main header). Returns
    * struct(mime, width, height, n_frames, duration_ms); null for
    * unrecognized formats, null duration when the header doesn't pin it.
    * Native codegen'd ([[graft.expressions.VideoHeaderMeta]]). */
  def headerVideoMeta(bin: Column): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.VideoHeaderMeta(
        graft.expressions.ColumnBridge.expression(bin)))

  /** Per-row gzip decompression ([[graft.expressions.Gunzip]]) — the
    * unwrap stage for WARC-style corpora whose records arrive gzipped;
    * bomb-capped (≤256× input, 256 MiB ceiling), corrupt → NULL.
    * Composes with [[TextAnalysis.htmlText]]:
    * `gunzip → html_text → curate` is the raw-crawl ingestion chain. */
  def gunzip(bin: Column): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.Gunzip(
        graft.expressions.ColumnBridge.expression(bin)))

  /** Lossy UTF-8 decode ([[graft.expressions.Utf8Lossy]]): binary →
    * string with ill-formed sequences replaced by U+FFFD, the
    * browser/crawler decode policy. Never throws (Spark's `decode`
    * raises under ANSI mode on malformed bytes); NULL in → NULL out.
    * The U+FFFD output is exactly what the mojibake gate counts. */
  def utf8Lossy(bin: Column): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.Utf8Lossy(
        graft.expressions.ColumnBridge.expression(bin)))

  /** Per-row zstd decompression ([[graft.expressions.Unzstd]]) —
    * [[gunzip]]'s sibling for the datasets that ship `.zst`; same bomb
    * cap, same corrupt → NULL contract. */
  def unzstd(bin: Column): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.Unzstd(
        graft.expressions.ColumnBridge.expression(bin)))

  /** Per-row LZ4 frame decompression ([[graft.expressions.Unlz4]]) —
    * the `.lz4` member of the unwrap family; same bomb cap, same
    * corrupt → NULL contract. */
  def unlz4(bin: Column): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.Unlz4(
        graft.expressions.ColumnBridge.expression(bin)))

  /** Per-row raw-snappy-block decompression
    * ([[graft.expressions.Unsnappy]]) — the block format inside
    * parquet/ORC pages and key-value stores; the declared output
    * length is bomb-checked BEFORE any allocation. */
  def unsnappy(bin: Column): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.Unsnappy(
        graft.expressions.ColumnBridge.expression(bin)))

  /** REAL sample decode + signal features for WAV and FLAC —
    * uncompressed PCM (8/16-bit), the compressed G.711 µ-law/A-law and
    * mono IMA ADPCM encodings, and the full lossless FLAC codec
    * (no codec library anywhere): struct(n_samples, rms, peak, zcr)
    * computed from every decoded sample
    * ([[graft.expressions.AudioFeatures]]). Null for perceptual codecs
    * (MP3/Vorbis — the remaining stub). Narrow, codegen'd — the
    * features fold inside the decode loop, no sample array in the
    * row. */
  def audioFeatures(bin: Column): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.AudioFeatures(
        graft.expressions.ColumnBridge.expression(bin)))

  /** REAL video frame decode for uncompressed AVI (`00db` DIB frames —
    * raw BGR24 rasters, no codec needed): struct(n_frames, width,
    * height, mean_r, mean_g, mean_b, motion) folded over every pixel of
    * every frame; `motion` is the mean absolute frame-to-frame change
    * of the per-frame channel means (scene-change/static triage). Null
    * for non-AVI, compressed-only, or corrupt containers
    * ([[graft.expressions.VideoFeatures]]). O(1) state, narrow. */
  def videoFeatures(bin: Column): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.VideoFeatures(
        graft.expressions.ColumnBridge.expression(bin)))

  /** REAL pixel decode + channel statistics for uncompressed 24-bit BMP:
    * struct(width, height, mean_r, mean_g, mean_b) from every pixel
    * ([[graft.expressions.ImageFeatures]]). Null for compressed formats.
    * Same narrow/codegen posture as [[audioFeatures]]. */
  def imageFeatures(bin: Column): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.ImageFeatures(
        graft.expressions.ColumnBridge.expression(bin)))

  /** REAL pixel decode for COMPRESSED images too — the codec stage:
    * struct(mime, width, height, mean_r, mean_g, mean_b) for
    * PNG/JPEG/GIF/BMP/TIFF via the JDK's own readers (24bpp BMP keeps
    * the zero-allocation native loop); null for unrecognized or corrupt
    * bytes ([[graft.expressions.DecodeImage]]). */
  def decodeImage(bin: Column): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.DecodeImage(
        graft.expressions.ColumnBridge.expression(bin)))

  /** 64-bit perceptual image hash ([[graft.expressions.ImageHash]]):
    * `kind = "ahash"` (8×8 global-mean threshold) or `"dhash"` (9×8
    * horizontal-gradient signs, the default — robust to brightness and
    * contrast shifts). Near-identical images differ in few bits, so the
    * result feeds [[graft.pipeline.Dedup.hammingNearDupPairs]] /
    * [[graft.pipeline.Dedup.imageNearDupPairs]] directly. Exact integer
    * arithmetic (oracle-restatable); null for undecodable bytes or
    * images smaller than the grid. */
  def imageHash(bin: Column, kind: String = "dhash"): Column = {
    require(kind == "ahash" || kind == "dhash",
      s"imageHash kind must be 'ahash' or 'dhash', got '$kind'")
    graft.expressions.ColumnBridge.column(
      graft.expressions.ImageHash(
        graft.expressions.ColumnBridge.expression(bin), kind == "dhash"))
  }

  /** 64-bit perceptual AUDIO hash ([[graft.expressions.AudioHash]]):
    * gradient signs of the loudness envelope over 65 equal windows —
    * volume-scaling-invariant, exact integer arithmetic, feeds
    * [[graft.pipeline.Dedup.hammingNearDupPairs]] /
    * [[graft.pipeline.Dedup.audioNearDupPairs]]. Null for undecodable
    * bytes or clips shorter than 65 samples. */
  def audioHash(bin: Column): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.AudioHash(
        graft.expressions.ColumnBridge.expression(bin)))

  /** ZIP triage ([[graft.expressions.ZipEntries]]): array of
    * (name, method, compressed, size) structs read from the central
    * directory (located via the end-of-central-directory record, so
    * streaming/bit-3 archives work) — routing for
    * docx/xlsx/epub/jar-class crawl payloads. */
  def zipEntries(bin: Column): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.ZipEntries(
        graft.expressions.ColumnBridge.expression(bin)))

  /** Named-entry extraction ([[graft.expressions.ZipEntryBytes]]):
    * stored copies, deflate inflates (bomb-capped); missing entry or
    * corrupt data → NULL. */
  def zipEntry(bin: Column, name: Column): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.ZipEntryBytes(
        graft.expressions.ColumnBridge.expression(bin),
        graft.expressions.ColumnBridge.expression(name)))

  /** PDF triage ([[graft.expressions.PdfMeta]]): struct(version,
    * n_pages, encrypted) from one bounded scan — routing for the one
    * major crawl document family the image/audio/video triagers don't
    * cover. NULL for non-PDF bytes. */
  def pdfMeta(bin: Column): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.PdfMeta(
        graft.expressions.ColumnBridge.expression(bin)))

  /** 64-bit perceptual VIDEO hash ([[graft.expressions.VideoHash]]):
    * dHash gradient signs of the clip's temporally averaged frame —
    * frame-rate- and brightness-scale-invariant, feeding the same
    * Hamming banding as the text/image/audio hashes. NULL for
    * undecodable or sub-grid clips. */
  def videoHash(bin: Column): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.VideoHash(
        graft.expressions.ColumnBridge.expression(bin)))

  /** REAL resize: decode any JDK-readable image, bilinear-scale the long
    * side down to `maxSide` (aspect preserved, never upscales), return
    * PNG bytes; null for undecodable input
    * ([[graft.expressions.ResizeImage]]). Target dims are integer
    * half-up arithmetic, so downstream checks can recompute them. */
  def resizeImage(bin: Column, maxSide: Int): Column =
    graft.expressions.ColumnBridge.column(
      graft.expressions.ResizeImage(
        graft.expressions.ColumnBridge.expression(bin), maxSide))
}
