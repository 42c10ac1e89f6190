package graft

import org.apache.spark.sql.{functions => F}
import graft.pipeline.Multimodal

/** Multimodal plumbing and REAL decode: batching preserves rows, every
  * metadata field comes from the actual bytes, the JDK-codec pixel
  * decode matches ground truth, and the metadata-only ops (resize plan,
  * frame sampling) compute correct shapes. */
class MultimodalSpec extends SparkSpec {

  // real media: per-doc solid-color BMPs with doc_id-derived dims
  private lazy val docs = Tables.read(spark, "/root/testdata/sf0.001", "documents")
    .withColumn("media", Multimodal.syntheticBmp(
      ((F.col("doc_id") % 3).cast("int") + 1) * 16,
      ((F.col("doc_id") % 3).cast("int") + 1) *
        ((F.col("doc_id") % 13).cast("int") + 4),
      F.col("doc_id") % 256, (F.col("doc_id") * 7) % 256,
      (F.col("doc_id") * 13) % 256))

  test("batched decode preserves row count and is deterministic") {
    val a = Multimodal.withDecodedMeta(docs, "media")
    val b = Multimodal.withDecodedMeta(docs, "media", batchSize = 7)
    assert(a.count() == docs.count())
    val metaA = a.select("doc_id", "meta").collect().map(r => r.get(0) -> r.get(1)).toMap
    val metaB = b.select("doc_id", "meta").collect().map(r => r.get(0) -> r.get(1)).toMap
    assert(metaA == metaB) // batch size never changes results
  }

  test("decoded metadata is real: BMP header fields, not a fake") {
    val m = Multimodal.withDecodedMeta(docs, "media")
      .select(F.col("meta.mime").as("mime"), F.col("meta.width").as("w"),
        F.col("meta.height").as("h"), F.col("meta.ok").as("ok"),
        (((F.col("doc_id") % 3).cast("int") + 1) * 16).as("ew"),
        (((F.col("doc_id") % 3).cast("int") + 1) *
          ((F.col("doc_id") % 13).cast("int") + 4)).as("eh"))
    assert(m.where(!F.col("ok") || F.col("mime") =!= "image/bmp" ||
      F.col("w") =!= F.col("ew") || F.col("h") =!= F.col("eh")).count() == 0)
  }

  test("decode routes all three modalities and degrades on junk") {
    import spark.implicits._
    val png = hexBytes("89504E470D0A1A0A0000000D49484452" +
      "0000000300000005" + "0802000000")
    val df = Seq(
      (1L, png), (2L, aviBytes(250)),
      (3L, wavBytes(withListChunk = false)),
      (4L, "junk bytes".getBytes("US-ASCII")))
      .toDF("id", "media")
    val rows = Multimodal.withDecodedMeta(df, "media").select("id", "meta")
      .collect().map(r => r.getLong(0) -> r.getStruct(1)).toMap
    assert(rows(1L).getString(0) == "image/png" &&
      rows(1L).getInt(1) == 3 && rows(1L).getInt(2) == 5 &&
      rows(1L).getInt(3) == 1 && rows(1L).getBoolean(4))
    assert(rows(2L).getString(0) == "video/x-msvideo" &&
      rows(2L).getInt(1) == 320 && rows(2L).getInt(3) == 250 &&
      rows(2L).getBoolean(4))
    assert(rows(3L).getString(0) == "audio/wav" &&
      rows(3L).isNullAt(1) && rows(3L).getBoolean(4))
    assert(rows(4L).isNullAt(0) && !rows(4L).getBoolean(4))
  }

  test("resize plan preserves aspect ratio within rounding") {
    val planned = Multimodal.withDecodedMeta(docs, "media")
      .select(F.col("meta"), Multimodal.resizePlan(F.col("meta"), 256).as("r"))
      .select(
        F.col("meta.width").as("w"), F.col("meta.height").as("h"),
        F.col("r.width").as("rw"), F.col("r.height").as("rh"))
    // relative tolerance: integer rounding on a 15-pixel side shifts the
    // ratio far more than on a 256-pixel side
    val bad = planned.where(
      F.greatest(F.col("rw"), F.col("rh")) > 256 ||
        F.abs(F.col("rw") / F.col("rh") - F.col("w") / F.col("h")) /
          (F.col("w") / F.col("h")) > 0.1)
    assert(bad.count() == 0)
  }

  test("frame sampling returns n evenly spaced in-range indexes") {
    val s = Multimodal.withDecodedMeta(docs, "media")
      .select(F.col("meta.n_frames").as("nf"),
        Multimodal.sampleFrameIndexes(F.col("meta"), 4).as("idx"))
    assert(s.where(F.size(F.col("idx")) =!= 4).count() == 0)
    assert(s.where(F.exists(F.col("idx"),
      i => i < 0 || i >= F.col("nf"))).count() == 0)
  }

  test("image embedding is a REAL color histogram over decoded pixels") {
    import spark.implicits._
    // solid color → exactly one hot bin per channel block, value 1.0
    val solid = bmpBytes(Seq(Seq((64, 128, 255), (64, 128, 255))))
    // half red / half blue → two 0.5 bins in R and B, G all in bin 0
    val halves = bmpBytes(Seq(Seq((255, 0, 0), (0, 0, 255))))
    val rows = Seq((1L, solid), (2L, halves),
      (3L, "junk".getBytes("US-ASCII")))
      .toDF("id", "content")
      .select(F.col("id"),
        Multimodal.imageEmbedding(F.col("content"), 8).as("v"))
      .collect().map(r => r.getLong(0) ->
        Option(r.get(1)).map(_ => r.getSeq[Float](1))).toMap
    val v1 = rows(1L).get
    assert(v1.length == 24)
    assert(v1(64 / 32) == 1.0f && v1(8 + 128 / 32) == 1.0f &&
      v1(16 + 255 / 32) == 1.0f && v1.sum == 3.0f)
    val v2 = rows(2L).get
    assert(v2(7) == 0.5f && v2(0) == 0.5f && // R: one px hot, one cold
      v2(8) == 1.0f &&                       // G: all pixels in bin 0
      v2(16) == 0.5f && v2(23) == 0.5f)      // B: mirror of R
    assert(rows(3L).isEmpty)
    // compressed path agrees with the raw-BMP loop: same image, PNG bytes
    val img = solidImg(2, 1, (64 << 16) | (128 << 8) | 255)
    val png = Seq(Tuple1(encode(img, "png"))).toDF("content")
      .select(Multimodal.imageEmbedding(F.col("content"), 8))
      .collect()(0).getSeq[Float](0)
    assert(png == v1)
  }

  test("header metadata parses real PNG and GIF bytes without a codec") {
    import spark.implicits._
    def hexBytes(h: String): Array[Byte] =
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // a real 1x1 transparent PNG (signature + IHDR 1x1) and a GIF89a
    // header with logical screen 3x5 (little-endian 0300 0500)
    val png = hexBytes("89504E470D0A1A0A0000000D49484452" +
      "0000000100000001" + "0806000000")
    val gif = "GIF89a".getBytes("US-ASCII") ++ hexBytes("03000500")
    val other = "not an image".getBytes("US-ASCII")
    val df = Seq((1L, png), (2L, gif), (3L, other)).toDF("id", "content")
      .select(F.col("id"),
        graft.pipeline.Multimodal.headerImageMeta(F.col("content")).as("m"))
    val rows = df.collect().map(r => r.getLong(0) ->
      Option(r.getStruct(1)).map(s =>
        (s.getString(0), s.getInt(1), s.getInt(2)))).toMap
    assert(rows(1L).contains(("image/png", 1, 1)))
    assert(rows(2L).contains(("image/gif", 3, 5)))
    assert(rows(3L).isEmpty)
  }

  private def hexBytes(h: String): Array[Byte] =
    h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  // SOI + APP0(JFIF) + comment + SOFn(height 30, width 40) — the SOF
  // segment sits at a file-dependent offset, which is what the segment
  // walk handles (fixed-offset column arithmetic cannot)
  private def jpegBytes(sofMarker: String): Array[Byte] = hexBytes(
    "FFD8" +
    "FFE000104A46494600010100004800480000" + // APP0, len 16
    "FFFE0004ABCD" +                          // COM, len 4
    "FF" + sofMarker + "001108" + "001E" + "0028" +
    "03012200021101031101")                   // SOF, len 17, h=30 w=40

  test("header metadata parses JPEG baseline and progressive SOF segments") {
    import spark.implicits._
    val truncated = hexBytes("FFD8FFE000104A4649") // dies mid-APP0
    val scanFirst = hexBytes("FFD8FFDA0002")       // SOS before any SOF
    val df = Seq(
      (1L, jpegBytes("C0")), (2L, jpegBytes("C2")),
      (3L, truncated), (4L, scanFirst))
      .toDF("id", "content")
      .select(F.col("id"),
        graft.pipeline.Multimodal.headerImageMeta(F.col("content")).as("m"))
    val rows = df.collect().map(r => r.getLong(0) ->
      Option(r.getStruct(1)).map(s =>
        (s.getString(0), s.getInt(1), s.getInt(2)))).toMap
    assert(rows(1L).contains(("image/jpeg", 40, 30)))
    assert(rows(2L).contains(("image/jpeg", 40, 30))) // progressive SOF2
    assert(rows(3L).isEmpty)
    assert(rows(4L).isEmpty)
  }

  test("native header expression matches the composed PNG/GIF form") {
    import spark.implicits._
    val png = hexBytes("89504E470D0A1A0A0000000D49484452" +
      "0000004000000030" + "0806000000")
    val gif = "GIF87a".getBytes("US-ASCII") ++ hexBytes("0A001400")
    val junk = "GIF8".getBytes("US-ASCII")
    val df = Seq((1L, png), (2L, gif), (3L, junk)).toDF("id", "content")
    val both = df.select(
      graft.pipeline.Multimodal.headerImageMeta(F.col("content")).as("n"),
      ComposedForms.headerImageMeta(F.col("content")).as("c"))
    assert(both.where(F.col("n") =!= F.col("c") ||
      F.col("n").isNull =!= F.col("c").isNull).count() == 0)
  }

  // canonical WAV: stereo 16-bit 44.1 kHz, 1 s of data, with an extra
  // odd-length LIST chunk before fmt to exercise the aligned chunk walk
  private def wavBytes(withListChunk: Boolean): Array[Byte] = {
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    val list = if (withListChunk)
      "LIST".getBytes("US-ASCII") ++ le32(5) ++
        Array[Byte]('I', 'N', 'F', 'O', 'x', 0) // odd size → pad byte
    else Array.emptyByteArray
    val fmt = "fmt ".getBytes("US-ASCII") ++ le32(16) ++
      le16(1) ++ le16(2) ++ le32(44100) ++ le32(176400) ++
      le16(4) ++ le16(16)
    val data = "data".getBytes("US-ASCII") ++ le32(176400) ++
      Array.fill[Byte](8)(0) // payload truncated: size field is the truth
    val body = "WAVE".getBytes("US-ASCII") ++ list ++ fmt ++ data
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  // FLAC STREAMINFO: 44.1 kHz stereo 16-bit, 441000 samples = 10 s
  private def flacBytes(totalSamples: Boolean): Array[Byte] =
    "fLaC".getBytes("US-ASCII") ++ hexBytes(
      "00000022" +               // last=0, type=0 (STREAMINFO), len 34
      "10001000" + "000000000000" +          // block/frame size bounds
      "0AC442" + (if (totalSamples) "F00006BAA8" else "F000000000") +
      "00000000000000000000000000000000")    // md5 of the stream

  test("audio header metadata parses WAV and FLAC bytes without a codec") {
    import spark.implicits._
    val df = Seq(
      (1L, wavBytes(withListChunk = false)),
      (2L, wavBytes(withListChunk = true)),
      (3L, flacBytes(totalSamples = true)),
      (4L, flacBytes(totalSamples = false)),
      (5L, "RIFFxxxxAVI ".getBytes("US-ASCII")), // RIFF but not WAVE
      (6L, Array[Byte](1, 2, 3)))
      .toDF("id", "content")
      .select(F.col("id"),
        Multimodal.headerAudioMeta(F.col("content")).as("m"))
    val rows = df.collect().map(r => r.getLong(0) ->
      Option(r.getStruct(1)).map(s => (s.getString(0), s.getInt(1),
        s.getInt(2), s.getInt(3),
        if (s.isNullAt(4)) -1L else s.getLong(4)))).toMap
    assert(rows(1L).contains(("audio/wav", 2, 44100, 16, 1000L)))
    assert(rows(2L).contains(("audio/wav", 2, 44100, 16, 1000L)))
    assert(rows(3L).contains(("audio/flac", 2, 44100, 16, 10000L)))
    assert(rows(4L).contains(("audio/flac", 2, 44100, 16, -1L))) // unknown
    assert(rows(5L).isEmpty)
    assert(rows(6L).isEmpty)
  }

  // 24bpp BI_RGB BMP, given pixel rows TOP-down (the builder flips to the
  // bottom-up disk order); width 3 → row stride pads 9 → 12 bytes
  private def bmpBytes(pixels: Seq[Seq[(Int, Int, Int)]],
      topDown: Boolean = false): Array[Byte] = {
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    val h = pixels.length; val w = pixels.head.length
    val stride = (w * 3 + 3) & ~3
    val rowsOnDisk = if (topDown) pixels else pixels.reverse
    val pix = rowsOnDisk.flatMap { row =>
      row.flatMap { case (r, g, b) =>
        Array[Byte](b.toByte, g.toByte, r.toByte) } ++
        Array.fill[Byte](stride - w * 3)(0)
    }.toArray
    "BM".getBytes("US-ASCII") ++ le32(54 + pix.length) ++ le32(0) ++
      le32(54) ++ // pixel offset
      le32(40) ++ le32(w) ++ le32(if (topDown) -h else h) ++
      le16(1) ++ le16(24) ++ le32(0) ++ le32(pix.length) ++
      le32(2835) ++ le32(2835) ++ le32(0) ++ le32(0) ++ pix
  }

  // 16-bit PCM mono WAV with the given raw sample values
  private def pcmWav(samples: Seq[Int]): Array[Byte] = {
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    val data = samples.flatMap(le16(_).toSeq).toArray
    val body = "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++ le16(1) ++
      le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16) ++
      "data".getBytes("US-ASCII") ++ le32(data.length) ++ data
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  // G.711 WAV: fmtCode 7 = µ-law, 6 = A-law; one byte per sample
  private def g711Wav(fmtCode: Int, bytes: Seq[Int]): Array[Byte] = {
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    val data = bytes.map(_.toByte).toArray
    val body = "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(fmtCode) ++ le16(1) ++
      le32(8000) ++ le32(8000) ++ le16(1) ++ le16(8) ++
      "data".getBytes("US-ASCII") ++ le32(data.length) ++ data
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  // MP3: optional ID3v2, one MPEG1 Layer III header, zero payload,
  // optional trailing ID3v1
  private val Mpeg1L3Kbps =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)

  private def mp3Bytes(brIdx: Int, payload: Int, id3v2: Int = 0,
      id3v1: Boolean = false, xingFrames: Long = -1,
      v24Footer: Boolean = false, crc: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    if (id3v2 > 0) {
      out.write("ID3".getBytes("US-ASCII"))
      out.write(4); out.write(0)
      out.write(if (v24Footer) 0x10 else 0) // flags
      // sync-safe 28-bit length
      out.write(Array[Byte](((id3v2 >> 21) & 0x7f).toByte,
        ((id3v2 >> 14) & 0x7f).toByte, ((id3v2 >> 7) & 0x7f).toByte,
        (id3v2 & 0x7f).toByte))
      out.write(new Array[Byte](id3v2))
      if (v24Footer) { // 10-byte trailing footer copy
        out.write("3DI".getBytes("US-ASCII"))
        out.write(new Array[Byte](7))
      }
    }
    // MPEG1 Layer III (FF FB no CRC / FF FA with CRC); srIdx 0 (44100);
    // stereo. CBR streams chain full frames so the decoder's
    // second-sync validation holds, like a real encoder's output.
    val header = Array[Byte](0xff.toByte,
      (if (crc) 0xfa else 0xfb).toByte, (brIdx << 4).toByte, 0x00)
    val audio = new Array[Byte](4 + payload)
    val kbps = Mpeg1L3Kbps(brIdx)
    val frameLen = if (kbps > 0) 144000 * kbps / 44100 else audio.length
    var off = 0
    while (off + 4 <= audio.length) {
      System.arraycopy(header, 0, audio, off, 4)
      off += math.max(4, frameLen)
    }
    if (xingFrames >= 0) {
      // MPEG1 stereo: Xing sits (CRC +) 32 side-info bytes past the
      // header
      val xo = 4 + (if (crc) 2 else 0) + 32
      System.arraycopy("Xing".getBytes("US-ASCII"), 0, audio, xo, 4)
      audio(xo + 7) = 1 // flags: frames present
      audio(xo + 8) = (xingFrames >> 24).toByte
      audio(xo + 9) = (xingFrames >> 16).toByte
      audio(xo + 10) = (xingFrames >> 8).toByte
      audio(xo + 11) = xingFrames.toByte
    }
    out.write(audio)
    if (id3v1) {
      out.write("TAG".getBytes("US-ASCII"))
      out.write(new Array[Byte](125))
    }
    out.toByteArray
  }

  // Ogg Vorbis: BOS page with the 30-byte identification header, then
  // an EOS page carrying the final granule position
  private def oggBytes(channels: Int, rate: Int,
      granule: Long): Array[Byte] = {
    def le32(v: Int) = le32b(v)
    val out = new java.io.ByteArrayOutputStream()
    out.write("OggS".getBytes("US-ASCII"))
    out.write(Array[Byte](0, 2)) // version, BOS
    out.write(new Array[Byte](8)) // granule 0
    out.write(le32(7)); out.write(le32(0)); out.write(le32(0)) // serial/seq/crc
    out.write(Array[Byte](1, 30)) // one 30-byte segment
    out.write(1); out.write("vorbis".getBytes("US-ASCII"))
    out.write(le32(0)) // vorbis version
    out.write(channels)
    out.write(le32(rate))
    out.write(new Array[Byte](12)) // bitrates
    out.write(0xb8); out.write(1) // blocksizes + framing bit
    // EOS page, no packets, granule = total samples
    out.write("OggS".getBytes("US-ASCII"))
    out.write(Array[Byte](0, 4))
    val g = new Array[Byte](8)
    for (i <- 0 until 8) g(i) = ((granule >> (8 * i)) & 0xff).toByte
    out.write(g)
    out.write(le32(7)); out.write(le32(1)); out.write(le32(0))
    out.write(0) // zero segments
    out.toByteArray
  }

  test("image header metadata parses WebP VP8/VP8L/VP8X dims") {
    import spark.implicits._
    def webp(chunk: Array[Byte]): Array[Byte] = {
      val body = "WEBP".getBytes("US-ASCII") ++ chunk
      "RIFF".getBytes("US-ASCII") ++ le32b(body.length) ++ body
    }
    // VP8 lossy: 3-byte frame tag, 9D 01 2A start code, 14-bit dims
    val vp8 = webp("VP8 ".getBytes("US-ASCII") ++ le32b(10) ++
      Array[Byte](0, 0, 0, 0x9d.toByte, 0x01, 0x2a,
        (320 & 0xff).toByte, (320 >> 8).toByte,
        (240 & 0xff).toByte, (240 >> 8).toByte))
    // VP8L lossless: 2F signature then packed 14-bit (w-1, h-1)
    val dims = (99) | (149 << 14) // 100×150
    val vp8l = webp("VP8L".getBytes("US-ASCII") ++ le32b(5) ++
      Array[Byte](0x2f, (dims & 0xff).toByte, ((dims >> 8) & 0xff).toByte,
        ((dims >> 16) & 0xff).toByte, ((dims >> 24) & 0xff).toByte) ++
      Array[Byte](0)) // odd chunk pads
    // VP8X extended: 4 flag bytes then 24-bit (w-1, h-1)
    val vp8x = webp("VP8X".getBytes("US-ASCII") ++ le32b(10) ++
      Array[Byte](0, 0, 0, 0,
        (639 & 0xff).toByte, ((639 >> 8) & 0xff).toByte, 0,
        (479 & 0xff).toByte, ((479 >> 8) & 0xff).toByte, 0))
    val rows = Seq((1L, vp8), (2L, vp8l), (3L, vp8x),
      (4L, webp("JUNK".getBytes("US-ASCII") ++ le32b(2) ++
        Array[Byte](0, 0))))
      .toDF("id", "content")
      .select(F.col("id"), Multimodal.headerImageMeta(F.col("content")).as("m"))
      .collect().map(r => r.getLong(0) -> Option(r.getStruct(1)).map(s =>
        (s.getString(0), s.getInt(1), s.getInt(2)))).toMap
    assert(rows(1L).contains(("image/webp", 320, 240)))
    assert(rows(2L).contains(("image/webp", 100, 150)))
    assert(rows(3L).contains(("image/webp", 640, 480)))
    assert(rows(4L).isEmpty) // WEBP container without a dims chunk
  }

  test("audio features decode 24/32-bit PCM, float, and extensible WAVs") {
    import spark.implicits._
    def wav(fmtCode: Int, bits: Int, data: Array[Byte],
        extensibleSub: Int = -1): Array[Byte] = {
      def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
      val fmtBody =
        if (extensibleSub < 0)
          le16(fmtCode) ++ le16(1) ++ le32b(8000) ++
            le32b(8000 * bits / 8) ++ le16(bits / 8) ++ le16(bits)
        else // WAVE_FORMAT_EXTENSIBLE: real code in the GUID head
          le16(0xfffe) ++ le16(1) ++ le32b(8000) ++
            le32b(8000 * bits / 8) ++ le16(bits / 8) ++ le16(bits) ++
            le16(22) ++ le16(bits) ++ le32b(0) ++ le16(extensibleSub) ++
            le16(0) ++ new Array[Byte](12)
      val body = "WAVE".getBytes("US-ASCII") ++
        "fmt ".getBytes("US-ASCII") ++ le32b(fmtBody.length) ++ fmtBody ++
        "data".getBytes("US-ASCII") ++ le32b(data.length) ++ data
      "RIFF".getBytes("US-ASCII") ++ le32b(body.length) ++ body
    }
    // constant 24-bit 2^22/2^23 = 0.5; constant 32-bit 2^29/2^31 = 0.25
    val pcm24 = wav(1, 24, Array.fill(16)(
      Array[Byte](0, 0, 0x40)).flatten)
    val pcm32 = wav(1, 32, Array.fill(16)(
      Array[Byte](0, 0, 0, 0x20)).flatten)
    // float32 constant 0.5; float64 constant 0.25
    val f32bits = java.lang.Float.floatToIntBits(0.5f)
    val f32 = wav(3, 32, Array.fill(16)(le32b(f32bits)).flatten)
    val f64bits = java.lang.Double.doubleToLongBits(0.25)
    val f64 = wav(3, 64, Array.fill(16)(
      le32b(f64bits.toInt) ++ le32b((f64bits >> 32).toInt)).flatten)
    // 24-bit PCM wrapped in WAVE_FORMAT_EXTENSIBLE
    val ext24 = wav(0, 24, Array.fill(16)(
      Array[Byte](0, 0, 0x40)).flatten, extensibleSub = 1)
    // float WAV with NaN samples: degraded to silence, not poison
    val nan = wav(3, 32, Array.fill(16)(
      le32b(java.lang.Float.floatToIntBits(Float.NaN))).flatten)
    val rows = Seq((1L, pcm24), (2L, pcm32), (3L, f32), (4L, f64),
      (5L, ext24), (6L, nan))
      .toDF("id", "content")
      .select(F.col("id"), Multimodal.audioFeatures(F.col("content")).as("f"))
      .collect().map(r => r.getLong(0) -> Option(r.getStruct(1)).map(s =>
        (s.getLong(0), s.getDouble(1), s.getDouble(2), s.getDouble(3)))).toMap
    assert(rows(1L).contains((16L, 0.5, 0.5, 0.0)))
    assert(rows(2L).contains((16L, 0.25, 0.25, 0.0)))
    assert(rows(3L).contains((16L, 0.5, 0.5, 0.0)))
    assert(rows(4L).contains((16L, 0.25, 0.25, 0.0)))
    assert(rows(5L).contains((16L, 0.5, 0.5, 0.0)))
    assert(rows(6L).contains((16L, 0.0, 0.0, 0.0)))
  }

  test("image header metadata parses TIFF IFDs in either byte order") {
    import spark.implicits._
    // a REAL little-endian TIFF from the JDK's own writer
    val img = new java.awt.image.BufferedImage(5, 7,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "tiff", baos)
    val jdkTiff = baos.toByteArray
    // hand-built big-endian TIFF: SHORT width 21, LONG height 13
    val mm = hexBytes("4D4D002A" + "00000008" + "0002" +
      "0100" + "0003" + "00000001" + "00150000" +
      "0101" + "0004" + "00000001" + "0000000D" +
      "00000000")
    val rows = Seq((1L, jdkTiff), (2L, mm),
      (3L, hexBytes("49492A00" + "FFFFFFFF"))) // IFD points past EOF
      .toDF("id", "content")
      .select(F.col("id"), Multimodal.headerImageMeta(F.col("content")).as("m"))
      .collect().map(r => r.getLong(0) -> Option(r.getStruct(1)).map(s =>
        (s.getString(0), s.getInt(1), s.getInt(2)))).toMap
    assert(rows(1L).contains(("image/tiff", 5, 7)))
    assert(rows(2L).contains(("image/tiff", 21, 13)))
    assert(rows(3L).isEmpty)
  }

  // minimal ISO-BMFF: ftyp + moov{mvhd, trak{tkhd, mdia{minf{stbl{
  // stts}}}}}; an optional zero-dim (audio) trak precedes the video one
  private def mp4Bytes(w: Int, h: Int, frames: Int, timescale: Int,
      duration: Long, audioTrakFirst: Boolean = false,
      mdiaFirstLayout: Boolean = false): Array[Byte] = {
    def be16(v: Int) = Array[Byte]((v >> 8).toByte, v.toByte)
    def be32(v: Long) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte,
      (v >> 8).toByte, v.toByte)
    def box(t: String, body: Array[Byte]): Array[Byte] =
      be32(8 + body.length) ++ t.getBytes("US-ASCII") ++ body
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be32(512) ++
      "isomiso2".getBytes("US-ASCII"))
    val mvhd = box("mvhd", be32(0) ++ be32(0) ++ be32(0) ++
      be32(timescale) ++ be32(duration) ++ new Array[Byte](80))
    def tkhd(tw: Int, th: Int) = box("tkhd", be32(0) ++ be32(0) ++
      be32(0) ++ be32(1) ++ be32(0) ++ be32(0) ++ new Array[Byte](8) ++
      new Array[Byte](8) ++ new Array[Byte](36) ++
      be16(tw) ++ be16(0) ++ be16(th) ++ be16(0))
    def sttsBox(counts: Seq[(Int, Int)]) = box("stts",
      be32(0) ++ be32(counts.length) ++
        counts.flatMap { case (c, d) => be32(c) ++ be32(d) }.toArray)
    def trak(tw: Int, th: Int, counts: Seq[(Int, Int)]) = {
      val mdia = box("mdia", box("minf", box("stbl", sttsBox(counts))))
      // ISO-BMFF fixes no order inside trak — exercise both
      box("trak",
        if (mdiaFirstLayout) mdia ++ tkhd(tw, th)
        else tkhd(tw, th) ++ mdia)
    }
    val vtrak = trak(w, h, Seq((frames - 2, 100), (2, 50)))
    val atrak = trak(0, 0, Seq((9999, 10)))
    val moov = box("moov", mvhd ++
      (if (audioTrakFirst) atrak ++ vtrak else vtrak ++ atrak))
    ftyp ++ moov
  }

  // minimal EBML: header{DocType} + Segment{Info{scale, duration},
  // Tracks{TrackEntry{type, Video{w, h}}}}
  private def webmBytes(w: Int, h: Int, durTicks: Float,
      docType: String = "webm", trackType: Int = 1,
      unknownSegmentSize: Boolean = false,
      videoBeforeType: Boolean = false): Array[Byte] = {
    def uint(v: Long): Array[Byte] = { // shortest big-endian form
      var len = 1
      while (len < 8 && (v >> (8 * len)) != 0) len += 1
      (0 until len).reverse.map(k => ((v >> (8 * k)) & 0xff).toByte).toArray
    }
    def size(v: Int): Array[Byte] = Array[Byte]((0x80 | v).toByte) // 1-byte
    def el(idHex: String, body: Array[Byte]): Array[Byte] =
      hexBytes(idHex) ++ size(body.length) ++ body
    val header = el("1A45DFA3", el("4282", docType.getBytes("US-ASCII")))
    val info = el("1549A966",
      el("2AD7B1", uint(1000000L)) ++
        el("4489", {
          val bits = java.lang.Float.floatToIntBits(durTicks)
          Array[Byte]((bits >> 24).toByte, (bits >> 16).toByte,
            (bits >> 8).toByte, bits.toByte)
        }))
    val typeEl = el("83", Array[Byte](trackType.toByte))
    val videoEl = el("E0", el("B0", uint(w)) ++ el("BA", uint(h)))
    // Matroska fixes no child order — exercise both
    val tracks = el("1654AE6B", el("AE",
      if (videoBeforeType) videoEl ++ typeEl else typeEl ++ videoEl))
    val segBody = info ++ tracks
    val segment =
      if (unknownSegmentSize) // streamed form: all-ones 1-byte size
        hexBytes("18538067") ++ Array[Byte](0xff.toByte) ++ segBody
      else el("18538067", segBody)
    header ++ segment
  }

  test("video header metadata parses WebM/Matroska EBML elements") {
    import spark.implicits._
    val rows = Seq(
      // 1280×720, 12000 ticks at the default 1 ms tick → 12 s
      (1L, webmBytes(1280, 720, 12000f)),
      (2L, webmBytes(640, 480, 500f, docType = "matroska")),
      // streamed segment with unknown size still parses
      (3L, webmBytes(320, 240, 1000f, unknownSegmentSize = true)),
      // element order inside TrackEntry is free: Video before TrackType
      (6L, webmBytes(854, 480, 2000f, videoBeforeType = true)),
      // audio-only track: no video dims → null
      (4L, webmBytes(0, 0, 1000f, trackType = 2)),
      (5L, hexBytes("1A45DFA3FFFFFFFF"))) // magic then garbage
      .toDF("id", "content")
      .select(F.col("id"), Multimodal.headerVideoMeta(F.col("content")).as("m"))
      .collect().map(r => r.getLong(0) -> Option(r.getStruct(1)).map(s =>
        (s.getString(0), s.getInt(1), s.getInt(2), s.getInt(3),
          if (s.isNullAt(4)) -1L else s.getLong(4)))).toMap
    assert(rows(1L).contains(("video/webm", 1280, 720, 0, 12000L)))
    assert(rows(2L).contains(("video/x-matroska", 640, 480, 0, 500L)))
    assert(rows(3L).contains(("video/webm", 320, 240, 0, 1000L)))
    assert(rows(6L).contains(("video/webm", 854, 480, 0, 2000L)))
    assert(rows(4L).isEmpty)
    assert(rows(5L).isEmpty)
  }

  test("video header metadata parses MP4 moov/tkhd/stts boxes") {
    import spark.implicits._
    val rows = Seq(
      // 640×360, 250 frames, 10 s (timescale 1000, duration 10000)
      (1L, mp4Bytes(640, 360, 250, 1000, 10000L)),
      // the audio trak's 9999-sample stts must not win over video
      (2L, mp4Bytes(320, 240, 48, 90000, 180000L, audioTrakFirst = true)),
      // box order inside trak is free: mdia (with stts) before tkhd
      (4L, mp4Bytes(640, 360, 250, 1000, 10000L, mdiaFirstLayout = true)),
      (3L, "....ftypcorrupt".getBytes("US-ASCII")))
      .toDF("id", "content")
      .select(F.col("id"), Multimodal.headerVideoMeta(F.col("content")).as("m"))
      .collect().map(r => r.getLong(0) -> Option(r.getStruct(1)).map(s =>
        (s.getString(0), s.getInt(1), s.getInt(2), s.getInt(3),
          if (s.isNullAt(4)) -1L else s.getLong(4)))).toMap
    assert(rows(1L).contains(("video/mp4", 640, 360, 250, 10000L)))
    assert(rows(2L).contains(("video/mp4", 320, 240, 48, 2000L)))
    assert(rows(4L).contains(("video/mp4", 640, 360, 250, 10000L)))
    assert(rows(3L).isEmpty)
  }

  test("audio header metadata triages MP3 and Ogg Vorbis headers") {
    import spark.implicits._
    val rows = Seq(
      // 128 kbps (brIdx 9): (4+3996)·8/128 = 250 ms
      (1L, mp3Bytes(brIdx = 9, payload = 3996)),
      // ID3v2 skipped, ID3v1 subtracted: same 250 ms
      (2L, mp3Bytes(brIdx = 9, payload = 3996, id3v2 = 64, id3v1 = true)),
      // free-format bitrate: recognized, duration unknown
      (3L, mp3Bytes(brIdx = 0, payload = 4000)),
      // VBR: Xing frame count beats the CBR byte estimate —
      // 1000 frames · 1152 / 44100 Hz = 26122 ms (≠ 250 ms CBR)
      (7L, mp3Bytes(brIdx = 9, payload = 3996, xingFrames = 1000L)),
      // CRC-protected frame (FF FA): Xing sits 2 bytes later
      (8L, mp3Bytes(brIdx = 9, payload = 3996, xingFrames = 1000L,
        crc = true)),
      // ID3v2.4 footer flag adds 10 bytes before the first frame
      (9L, mp3Bytes(brIdx = 9, payload = 3996, id3v2 = 64,
        v24Footer = true)),
      // UTF-16LE BOM'd text passes the loose 11-bit sync but must NOT
      // triage as audio (no frame sync at the computed boundary)
      (10L, Array[Byte](0xff.toByte, 0xfe.toByte) ++
        ("plain text that happens to follow a BOM " * 30)
          .getBytes("UTF-16LE")),
      // stereo 44.1 kHz Vorbis, 44100 samples → exactly 1 s
      (4L, oggBytes(2, 44100, 44100L)),
      // OggS page whose first packet isn't a vorbis id header
      (5L, oggBytes(2, 44100, 0L).patch(28, "Xorbis".getBytes("US-ASCII"), 6)),
      (6L, "ID3".getBytes("US-ASCII"))) // truncated ID3: junk
      .toDF("id", "content")
      .select(F.col("id"),
        Multimodal.headerAudioMeta(F.col("content")).as("m"))
      .collect().map(r => r.getLong(0) -> Option(r.getStruct(1)).map(s =>
        (s.getString(0), s.getInt(1), s.getInt(2), s.getInt(3),
          if (s.isNullAt(4)) -1L else s.getLong(4)))).toMap
    assert(rows(1L).contains(("audio/mpeg", 2, 44100, 0, 250L)))
    assert(rows(2L).contains(("audio/mpeg", 2, 44100, 0, 250L)))
    assert(rows(3L).contains(("audio/mpeg", 2, 44100, 0, -1L)))
    assert(rows(7L).contains(("audio/mpeg", 2, 44100, 0,
      1000L * 1152 * 1000 / 44100)))
    assert(rows(8L).contains(("audio/mpeg", 2, 44100, 0,
      1000L * 1152 * 1000 / 44100)))
    assert(rows(9L).contains(("audio/mpeg", 2, 44100, 0, 250L)))
    assert(rows(10L).isEmpty) // BOM'd text is not audio
    assert(rows(4L).contains(("audio/ogg", 2, 44100, 0, 1000L)))
    assert(rows(5L).isEmpty)
    assert(rows(6L).isEmpty)
  }

  test("audio header metadata triages AAC (ADTS) and Ogg Opus headers") {
    import spark.implicits._
    def hexBytes(h: String): Array[Byte] =
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // two 23-byte ADTS frames: srIdx 4 (44100), chanCfg 2, one raw
    // block each → 2048 samples → 2048000/44100 = 46 ms
    val frame = "FFF15080" + "02E000" + "00" * 16
    val aac = hexBytes(frame + frame)
    // Opus: 48000 input rate LE, pre-skip 312, EOS granule 12000 →
    // (12000-312)*1000/48000 = 243 ms
    val opus = hexBytes(
      "4F676753" + "00" + "02" + "00" * 8 + "07000000" +
        "00000000" + "00000000" + "01" + "13" +
        "4F70757348656164" + "01" + "02" + "3801" + "80BB0000" + "0000" + "00" +
        "4F676753" + "00" + "04" + "E02E000000000000" + "07000000" +
        "01000000" + "00000000" + "00")
    // ADTS frame walk must consume the input exactly: a sync followed
    // by garbage (wrong chained length) is NOT AAC
    val junkTail = hexBytes(frame) ++ "not an adts frame".getBytes("US-ASCII")
    val rows = Seq((1L, aac), (2L, opus), (3L, junkTail))
      .toDF("id", "content")
      .select(F.col("id"),
        Multimodal.headerAudioMeta(F.col("content")).as("m"))
      .collect().map(r => r.getLong(0) -> Option(r.getStruct(1)).map(s =>
        (s.getString(0), s.getInt(1), s.getInt(2), s.getInt(3),
          if (s.isNullAt(4)) -1L else s.getLong(4)))).toMap
    assert(rows(1L).contains(("audio/aac", 2, 44100, 0, 2048000L / 44100)))
    assert(rows(2L).contains(("audio/opus", 2, 48000, 0,
      (12000L - 312) * 1000 / 48000)))
    assert(rows(3L).isEmpty)
  }

  test("audio features REALLY expand compressed G.711 ulaw/alaw samples") {
    import spark.implicits._
    val rows = Seq(
      // µ-law 0x00 = the codec's most-negative code → |x| = 32124/32768;
      // constant stream → rms = peak, zcr 0
      (1L, g711Wav(7, Seq.fill(16)(0x00))),
      // µ-law 0xFF decodes to exactly 0
      (2L, g711Wav(7, Seq.fill(16)(0xFF))),
      // µ-law alternating ±max → zcr 1
      (3L, g711Wav(7, (0 until 16).map(i => if (i % 2 == 0) 0x00 else 0x80))),
      // A-law 0x55 = −8 and 0xD5 = +8 (the classic silence codes)
      (4L, g711Wav(6, Seq.fill(16)(0x55))),
      (5L, g711Wav(6, Seq.fill(16)(0xD5))))
      .toDF("id", "content")
      .select(F.col("id"), Multimodal.audioFeatures(F.col("content")).as("f"))
      .collect().map(r => r.getLong(0) -> Option(r.getStruct(1)).map(s =>
        (s.getLong(0), s.getDouble(1), s.getDouble(2), s.getDouble(3)))).toMap
    val big = 32124.0 / 32768
    assert(rows(1L).contains((16L, big, big, 0.0)))
    assert(rows(2L).contains((16L, 0.0, 0.0, 0.0)))
    assert(rows(3L).contains((16L, big, big, 1.0)))
    val tiny = 8.0 / 32768
    assert(rows(4L).contains((16L, tiny, tiny, 0.0)))
    assert(rows(5L).contains((16L, tiny, tiny, 0.0)))
  }

  // minimal AVI: RIFF/AVI + an extra JUNK chunk before LIST hdrl (walks),
  // hdrl holds avih with 25 fps (40000 µs/frame), 250 frames, 320×240
  private def aviBytes(frames: Int, withJunk: Boolean = true): Array[Byte] = {
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    val avih = "avih".getBytes("US-ASCII") ++ le32(56) ++
      le32(40000) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(frames) ++ le32(0) ++ le32(1) ++ le32(0) ++
      le32(320) ++ le32(240) ++ Array.fill[Byte](16)(0)
    val hdrl = "LIST".getBytes("US-ASCII") ++ le32(4 + avih.length) ++
      "hdrl".getBytes("US-ASCII") ++ avih
    val junk = if (withJunk)
      "JUNK".getBytes("US-ASCII") ++ le32(3) ++ Array[Byte](1, 2, 3, 0)
    else Array.emptyByteArray
    val body = "AVI ".getBytes("US-ASCII") ++ junk ++ hdrl
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  private def le32b(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
    (v >> 16).toByte, (v >> 24).toByte)

  // ONE copy of the AVI container framing (avih + hdrl + movi): the
  // frame builders below differ only in the movi payload
  private def aviContainer(w: Int, h: Int, nFrames: Int,
      moviPayload: Array[Byte]): Array[Byte] = {
    val avih = "avih".getBytes("US-ASCII") ++ le32b(56) ++
      le32b(40000) ++ le32b(0) ++ le32b(0) ++ le32b(0) ++
      le32b(nFrames) ++ le32b(0) ++ le32b(1) ++ le32b(0) ++
      le32b(w) ++ le32b(h) ++ Array.fill[Byte](16)(0)
    val hdrl = "LIST".getBytes("US-ASCII") ++ le32b(4 + avih.length) ++
      "hdrl".getBytes("US-ASCII") ++ avih
    val movi = "LIST".getBytes("US-ASCII") ++ le32b(4 + moviPayload.length) ++
      "movi".getBytes("US-ASCII") ++ moviPayload
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    "RIFF".getBytes("US-ASCII") ++ le32b(body.length) ++ body
  }

  // AVI with REAL uncompressed frames: LIST movi of NNdb chunks, each a
  // raw bottom-up BGR24 raster
  private def aviWithFrames(w: Int, h: Int,
      frames: Seq[Seq[Seq[(Int, Int, Int)]]], extraChunk: Boolean = false,
      inRecList: Boolean = false, stream: String = "00"): Array[Byte] = {
    val rowBytes = (w * 3 + 3) & ~3
    val frameChunks0: Array[Byte] = frames.flatMap { rows =>
      val raster = rows.reverse.flatMap { row => // bottom-up on disk
        row.flatMap { case (r, g, b) =>
          Seq(b.toByte, g.toByte, r.toByte) } ++
          Array.fill[Byte](rowBytes - w * 3)(0)
      }.toArray
      (stream + "db").getBytes("US-ASCII") ++ le32b(raster.length) ++ raster
    }.toArray
    // interleaved AVIs group frame chunks inside 'LIST rec ' children
    val frameChunks = if (inRecList)
      "LIST".getBytes("US-ASCII") ++ le32b(4 + frameChunks0.length) ++
        "rec ".getBytes("US-ASCII") ++ frameChunks0
    else frameChunks0
    val skipped = if (extraChunk)
      "01wb".getBytes("US-ASCII") ++ le32b(4) ++ Array[Byte](1, 2, 3, 4)
    else Array.emptyByteArray
    aviContainer(w, h, frames.length, skipped ++ frameChunks)
  }

  test("video features REALLY decode uncompressed AVI frames") {
    import spark.implicits._
    def solid(r: Int, g: Int, b: Int, w: Int, h: Int) =
      Seq.fill(h)(Seq.fill(w)((r, g, b)))
    // 3 solid frames stepping +1 per channel → means are the middle
    // frame's colors exactly, motion = 1.0; w=3 exercises row padding
    val stepped = aviWithFrames(3, 2, (0 until 3).map(f =>
      solid(10 + f, 20 + f, 30 + f, 3, 2)), extraChunk = true)
    // top row red, bottom blue (bottom-up raster order must flip)
    val single = aviWithFrames(2, 2, Seq(Seq(
      Seq((255, 0, 0), (255, 0, 0)), Seq((0, 0, 255), (0, 0, 255)))))
    // interleaved layout: the same frames grouped in a 'LIST rec '
    val interleaved = aviWithFrames(3, 2, (0 until 3).map(f =>
      solid(10 + f, 20 + f, 30 + f, 3, 2)), inRecList = true)
    val rows = Seq(
      (1L, stepped), (2L, single),
      (3L, aviBytes(250)),                  // header-only AVI: no frames
      (4L, "junk".getBytes("US-ASCII")),
      (5L, interleaved))
      .toDF("id", "content")
      .select(F.col("id"), Multimodal.videoFeatures(F.col("content")).as("f"))
      .collect().map(r => r.getLong(0) -> Option(r.getStruct(1)).map(s =>
        (s.getInt(0), s.getInt(1), s.getInt(2), s.getDouble(3),
          s.getDouble(4), s.getDouble(5), s.getDouble(6)))).toMap
    assert(rows(1L).contains((3, 3, 2, 11.0, 21.0, 31.0, 1.0)))
    assert(rows(2L).contains((1, 2, 2, 127.5, 0.0, 127.5, 0.0)))
    assert(rows(3L).isEmpty)
    assert(rows(4L).isEmpty)
    assert(rows(5L) == rows(1L)) // rec grouping must not change results
  }

  // MJPEG AVI: same container framing, movi list of 00dc chunks, each a
  // complete JPEG encoded through the JDK's own writer
  private def aviWithJpegFrames(w: Int, h: Int,
      colors: Seq[(Int, Int, Int)],
      mangle: Array[Byte] => Array[Byte] = identity): Array[Byte] = {
    val frameChunks: Array[Byte] = colors.flatMap { case (r, g, b) =>
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val gr = img.createGraphics()
      gr.setColor(new java.awt.Color(r, g, b))
      gr.fillRect(0, 0, w, h)
      gr.dispose()
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", baos)
      val jpeg = mangle(baos.toByteArray)
      "00dc".getBytes("US-ASCII") ++ le32b(jpeg.length) ++ jpeg ++
        (if (jpeg.length % 2 == 1) Array[Byte](0) else Array.emptyByteArray)
    }.toArray
    aviContainer(w, h, colors.length, frameChunks)
  }

  test("video frames on a non-zero stream number still decode") {
    import spark.implicits._
    def solid(r: Int, g: Int, b: Int) = Seq.fill(2)(Seq.fill(3)((r, g, b)))
    val onStream1 = aviWithFrames(3, 2,
      (0 until 3).map(f => solid(10 + f, 20 + f, 30 + f)), stream = "01")
    val rows = Seq((1L, onStream1)).toDF("id", "content")
      .select(F.col("id"), Multimodal.videoFeatures(F.col("content")).as("f"))
      .collect().map(r => r.getLong(0) -> Option(r.getStruct(1)).map(s =>
        (s.getInt(0), s.getDouble(3), s.getDouble(6)))).toMap
    assert(rows(1L).contains((3, 11.0, 1.0)))
  }

  test("crafted deep 'rec ' nesting degrades to NULL, no stack overflow") {
    import spark.implicits._
    // 100k nested 'LIST <size> rec ' headers: a recursive walk would
    // overflow the stack; the depth cap (the AVI spec allows one level)
    // must make this degrade like any other junk container
    val levels = 100000
    val out = new java.io.ByteArrayOutputStream()
    for (i <- 0 until levels) {
      out.write("LIST".getBytes("US-ASCII"))
      out.write(le32b((levels - i) * 12 - 8))
      out.write("rec ".getBytes("US-ASCII"))
    }
    val deep = aviContainer(3, 2, 0, out.toByteArray)
    val rows = Seq((1L, deep)).toDF("id", "content")
      .select(F.col("id"), Multimodal.videoFeatures(F.col("content")).as("f"))
      .collect()
    assert(rows.head.isNullAt(1)) // no frames → NULL, and no throw
  }

  test("video features decode MJPEG frames through the JDK JPEG reader") {
    import spark.implicits._
    // 3 solid frames stepping +32 per channel: JPEG is lossy, so pin
    // means/motion within a small tolerance instead of exactly
    val mjpeg = aviWithJpegFrames(8, 6,
      (0 until 3).map(f => (64 + 32 * f, 96 + 32 * f, 128 + 32 * f)))
    // one frame whose JPEG bytes are truncated mid-stream → corrupt
    val truncated = aviWithJpegFrames(8, 6, Seq((10, 20, 30)),
      mangle = j => j.take(j.length / 2))
    // non-JPEG 00dc payloads (inter-frame codec) are skipped, and with
    // no decodable frame at all the result is NULL
    val foreign = aviWithJpegFrames(8, 6, Seq((10, 20, 30)),
      mangle = _ => Array[Byte](0x12, 0x34, 0x56, 0x78))
    val rows = Seq((1L, mjpeg), (2L, truncated), (3L, foreign))
      .toDF("id", "content")
      .select(F.col("id"), Multimodal.videoFeatures(F.col("content")).as("f"))
      .collect().map(r => r.getLong(0) -> Option(r.getStruct(1)).map(s =>
        (s.getInt(0), s.getInt(1), s.getInt(2), s.getDouble(3),
          s.getDouble(4), s.getDouble(5), s.getDouble(6)))).toMap
    val Some((n, w, h, mr, mg, mb, motion)) = rows(1L)
    assert((n, w, h) == ((3, 8, 6)))
    assert(math.abs(mr - 96.0) < 3 && math.abs(mg - 128.0) < 3 &&
      math.abs(mb - 160.0) < 3)
    assert(math.abs(motion - 32.0) < 3)
    assert(rows(2L).isEmpty) // truncated JPEG → corrupt container
    assert(rows(3L).isEmpty) // nothing decodable
  }

  test("video header metadata parses AVI avih fields without a codec") {
    import spark.implicits._
    val rows = Seq(
      (1L, aviBytes(250)),
      (2L, aviBytes(250, withJunk = false)),
      (3L, aviBytes(0)),                          // no frames → null dur
      (4L, wavBytes(withListChunk = false)),      // RIFF but WAVE, not AVI
      (5L, Array[Byte](1, 2, 3)))
      .toDF("id", "content")
      .select(F.col("id"), Multimodal.headerVideoMeta(F.col("content")).as("m"))
      .collect().map(r => r.getLong(0) -> Option(r.getStruct(1)).map(s =>
        (s.getString(0), s.getInt(1), s.getInt(2), s.getInt(3),
          if (s.isNullAt(4)) -1L else s.getLong(4)))).toMap
    // 250 frames × 40 ms = 10 s
    assert(rows(1L).contains(("video/x-msvideo", 320, 240, 250, 10000L)))
    assert(rows(2L).contains(("video/x-msvideo", 320, 240, 250, 10000L)))
    assert(rows(3L).contains(("video/x-msvideo", 320, 240, 0, -1L)))
    assert(rows(4L).isEmpty)
    assert(rows(5L).isEmpty)
  }

  test("audio features REALLY decode PCM samples (square wave analytics)") {
    import spark.implicits._
    // alternating ±8192 = ±0.25 normalized: rms = peak = 0.25, zcr = 1
    val square = pcmWav(Seq.fill(32)(Seq(8192, -8192)).flatten)
    // constant positive 16384 = 0.5: rms = peak = 0.5, no crossings
    val dc = pcmWav(Seq.fill(64)(16384))
    // silence → all-zero features
    val silence = pcmWav(Seq.fill(64)(0))
    val rows = Seq((1L, square), (2L, dc), (3L, silence),
      (4L, flacBytes(totalSamples = true))) // truncated FLAC (no frames) → null
      .toDF("id", "content")
      .select(F.col("id"), Multimodal.audioFeatures(F.col("content")).as("f"))
      .collect().map(r => r.getLong(0) -> Option(r.getStruct(1)).map(s =>
        (s.getLong(0), s.getDouble(1), s.getDouble(2), s.getDouble(3)))).toMap
    assert(rows(1L).contains((64L, 0.25, 0.25, 1.0))) // exact: ±2^-2
    assert(rows(2L).contains((64L, 0.5, 0.5, 0.0)))
    assert(rows(3L).contains((64L, 0.0, 0.0, 0.0)))
    assert(rows(4L).isEmpty) // truncated FLAC: declared samples, no frames
  }

  test("image features REALLY decode BMP pixels (means, padding, row order)") {
    import spark.implicits._
    val redBlue = Seq( // top row red, bottom row blue; 3 wide → padded rows
      Seq((255, 0, 0), (255, 0, 0), (255, 0, 0)),
      Seq((0, 0, 255), (0, 0, 255), (0, 0, 255)))
    val rows = Seq(
      (1L, bmpBytes(redBlue)),
      (2L, bmpBytes(redBlue, topDown = true)), // same mean either order
      (3L, bmpBytes(Seq(Seq((10, 20, 30))))),
      (4L, hexBytes("89504E470D0A1A0A0000000D49484452" +
        "0000000200000003" + "0806000000"))) // PNG → null (compressed)
      .toDF("id", "content")
      .select(F.col("id"), Multimodal.imageFeatures(F.col("content")).as("f"))
      .collect().map(r => r.getLong(0) -> Option(r.getStruct(1)).map(s =>
        (s.getInt(0), s.getInt(1), s.getDouble(2), s.getDouble(3),
          s.getDouble(4)))).toMap
    assert(rows(1L).contains((3, 2, 127.5, 0.0, 127.5)))
    assert(rows(2L).contains((3, 2, 127.5, 0.0, 127.5)))
    assert(rows(3L).contains((1, 1, 10.0, 20.0, 30.0)))
    assert(rows(4L).isEmpty)
    // and the header triage recognizes BMP dims without the decode
    val hm = Seq(Tuple1(bmpBytes(redBlue))).toDF("content")
      .select(Multimodal.headerImageMeta(F.col("content")).as("m"))
      .collect()(0).getStruct(0)
    assert(hm.getString(0) == "image/bmp" && hm.getInt(1) == 3 &&
      hm.getInt(2) == 2)
  }

  test("batched decode takes the REAL header path for recognized formats") {
    import spark.implicits._
    val df = Seq((1L, jpegBytes("C0"))).toDF("id", "media")
    val m = Multimodal.withDecodedMeta(df, "media").select("meta.*").collect()(0)
    // real parse: JPEG mime + exact SOF dimensions + single frame
    assert(m.getString(0) == "image/jpeg")
    assert(m.getInt(1) == 40 && m.getInt(2) == 30)
  }

  // JDK-encoded fixtures for the compressed-codec decode tests
  private def encode(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
    bos.toByteArray
  }

  private def solidImg(w: Int, h: Int, rgb: Int,
      imgType: Int = java.awt.image.BufferedImage.TYPE_INT_RGB) = {
    val img = new java.awt.image.BufferedImage(w, h, imgType)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    img
  }

  test("image_decode REALLY decodes compressed PNG/GIF/TIFF/JPEG pixels") {
    import spark.implicits._
    // pattern PNG: 2×1 red + blue → exact means after DEFLATE round trip
    val pat = new java.awt.image.BufferedImage(2, 1,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    pat.setRGB(0, 0, 0xFF0000); pat.setRGB(1, 0, 0x0000FF)
    // corrupt: a valid PNG signature/IHDR followed by garbage IDAT
    val corrupt = hexBytes("89504E470D0A1A0A0000000D49484452" +
      "0000000200000001" + "0802000000" + "DEADBEEF" +
      "0000000449444154" + "01020304" + "DEADBEEF")
    val rows = Seq(
      (1L, encode(pat, "png")),
      (2L, encode(solidImg(3, 2, 0x1E3C5A), "gif")),
      (3L, encode(solidImg(3, 2, 0x1E3C5A), "tiff")),
      (4L, encode(solidImg(8, 8, 0x6496C8), "jpg")),
      (5L, corrupt),
      (6L, "not media".getBytes("US-ASCII")))
      .toDF("id", "content")
      .select(F.col("id"), Multimodal.decodeImage(F.col("content")).as("d"))
      .collect().map(r => r.getLong(0) -> Option(r.getStruct(1)).map(s =>
        (s.getString(0), s.getInt(1), s.getInt(2), s.getDouble(3),
          s.getDouble(4), s.getDouble(5)))).toMap
    assert(rows(1L).contains(("image/png", 2, 1, 127.5, 0.0, 127.5)))
    assert(rows(2L).contains(("image/gif", 3, 2, 0x1E.toDouble,
      0x3C.toDouble, 0x5A.toDouble)))
    assert(rows(3L).contains(("image/tiff", 3, 2, 0x1E.toDouble,
      0x3C.toDouble, 0x5A.toDouble)))
    val jpeg = rows(4L).get // DCT is lossy: solid color lands within ~2
    assert(jpeg._1 == "image/jpeg" && jpeg._2 == 8 && jpeg._3 == 8)
    assert(math.abs(jpeg._4 - 0x64) <= 2.0 &&
      math.abs(jpeg._5 - 0x96) <= 2.0 && math.abs(jpeg._6 - 0xC8) <= 2.0)
    assert(rows(5L).isEmpty) // corrupt bytes degrade to NULL, not a crash
    assert(rows(6L).isEmpty)
  }

  test("image_decode BMP fast path agrees with the JDK reader route") {
    import spark.implicits._
    val truecolor = Seq( // hand-built 24bpp: native loop territory
      Seq((255, 0, 0), (255, 0, 0), (255, 0, 0)),
      Seq((0, 0, 255), (0, 0, 255), (0, 0, 255)))
    val rows = Seq(
      (1L, bmpBytes(truecolor)),
      // palette BMP: the native loop refuses (not 24bpp), the JDK
      // reader decodes it — same struct out
      (2L, encode(solidImg(4, 4, 0xFF0000,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED), "bmp")))
      .toDF("id", "content")
      .select(F.col("id"), Multimodal.decodeImage(F.col("content")).as("d"),
        Multimodal.imageFeatures(F.col("content")).as("f"))
      .collect().map(r => r.getLong(0) -> (Option(r.getStruct(1)),
        Option(r.getStruct(2)))).toMap
    val (d1, f1) = rows(1L)
    assert(d1.map(s => (s.getString(0), s.getInt(1), s.getInt(2),
      s.getDouble(3), s.getDouble(4), s.getDouble(5)))
      .contains(("image/bmp", 3, 2, 127.5, 0.0, 127.5)))
    // fast path and the narrow feature expression agree bit-for-bit
    assert(f1.map(s => (s.getDouble(2), s.getDouble(3), s.getDouble(4)))
      .contains((d1.get.getDouble(3), d1.get.getDouble(4), d1.get.getDouble(5))))
    val (d2, f2) = rows(2L)
    assert(f2.isEmpty) // native loop: 8bpp is not its format
    assert(d2.map(s => (s.getString(0), s.getInt(1), s.getInt(2),
      s.getDouble(3), s.getDouble(4), s.getDouble(5)))
      .contains(("image/bmp", 4, 4, 255.0, 0.0, 0.0)))
  }

  test("resize_image really rescales, re-encodes PNG, never upscales") {
    import spark.implicits._
    // 100×40 split red|blue → 10×4: dims from integer rounding, green
    // stays exactly 0 and red/blue stay balanced through bilinear
    val split = new java.awt.image.BufferedImage(100, 40,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 40; x <- 0 until 100)
      split.setRGB(x, y, if (x < 50) 0xFF0000 else 0x0000FF)
    val rows = Seq(
      (1L, encode(split, "png")),
      (2L, encode(solidImg(9, 5, 0x1E3C5A), "png")), // under cap: identity
      (3L, "junk".getBytes("US-ASCII")))
      .toDF("id", "content")
      .select(F.col("id"),
        Multimodal.decodeImage(
          Multimodal.resizeImage(F.col("content"), 10)).as("d"))
      .collect().map(r => r.getLong(0) -> Option(r.getStruct(1)).map(s =>
        (s.getString(0), s.getInt(1), s.getInt(2), s.getDouble(3),
          s.getDouble(4), s.getDouble(5)))).toMap
    val t = rows(1L).get
    assert(t._1 == "image/png" && t._2 == 10 && t._3 == 4)
    assert(t._5 == 0.0 && math.abs(t._4 - 127.5) <= 26 &&
      math.abs(t._4 - t._6) <= 1e-9) // red/blue symmetric
    // identity resize still re-encodes (PNG out), pixels exact
    assert(rows(2L).contains(("image/png", 9, 5, 0x1E.toDouble,
      0x3C.toDouble, 0x5A.toDouble)))
    assert(rows(3L).isEmpty)
    // rounding contract of the target-dim arithmetic
    import graft.expressions.ResizeImage.targetDims
    assert(targetDims(100, 40, 10) == (10, 4))
    assert(targetDims(40, 100, 10) == (4, 10))
    assert(targetDims(5, 5, 10) == (5, 5))
    assert(targetDims(3000, 1, 16) == (16, 1)) // floor at 1
    assert(targetDims(48, 12, 16) == (16, 4))  // exact quotient unchanged
    assert(targetDims(32, 9, 16) == (16, 5))   // 4.5 rounds half-up
  }

  private def animatedGif(frames: Int): Array[Byte] = {
    import javax.imageio.{IIOImage, ImageIO}
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    for (i <- 0 until frames)
      writer.writeToSequence(
        new IIOImage(solidImg(4, 4, 0x102030 + i), null, null), null)
    writer.endWriteSequence()
    ios.close(); writer.dispose()
    bos.toByteArray
  }

  test("animated GIF frame count is real, and frame sampling spans it") {
    import spark.implicits._
    val df = Seq((1L, animatedGif(5)), (2L, animatedGif(1)))
      .toDF("id", "media")
    val rows = Multimodal.withDecodedMeta(df, "media")
      .select(F.col("id"), F.col("meta.mime").as("mime"),
        F.col("meta.n_frames").as("nf"),
        Multimodal.sampleFrameIndexes(F.col("meta"), 4).as("idx"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getSeq[Int](3))).toMap
    assert(rows(1L) == (("image/gif", 5, Seq(0, 1, 2, 3))))
    assert(rows(2L) == (("image/gif", 1, Seq(0, 0, 0, 0))))
  }

  // IMA ADPCM WAV: mono, one or more blocks of `blockAlign` bytes;
  // spbOverride forces a samplesPerBlock below the block capacity,
  // cbSizeZero declares NO extension (the spb bytes become junk the
  // decoder must ignore)
  private def adpcmWav(blockAlign: Int, data: Array[Byte],
      spbOverride: Int = -1, cbSizeZero: Boolean = false): Array[Byte] = {
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    val spb =
      if (spbOverride > 0) spbOverride else (blockAlign - 4) * 2 + 1
    val body = "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(20) ++ le16(0x11) ++ le16(1) ++
      le32(8000) ++ le32(4000) ++ le16(blockAlign) ++ le16(4) ++
      le16(if (cbSizeZero) 0 else 2) ++ le16(spb) ++
      "data".getBytes("US-ASCII") ++ le32(data.length) ++ data
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  // the standard IMA encoder (inverse of the decoder's adaption)
  private def imaEncode(samples: Seq[Int], blockAlign: Int): Array[Byte] = {
    import graft.expressions.Samples.{ImaIndexTable, ImaStepTable}
    val out = new scala.collection.mutable.ArrayBuffer[Byte]
    var i = 0
    var index = 0
    while (i < samples.length) {
      var pred = samples(i)
      out ++= Seq(pred.toByte, (pred >> 8).toByte, index.toByte, 0.toByte)
      i += 1
      var nibbles = new scala.collection.mutable.ArrayBuffer[Int]
      for (_ <- 0 until (blockAlign - 4) * 2) {
        val target = if (i < samples.length) samples(i) else pred
        i += 1
        val step = ImaStepTable(index)
        var delta = target - pred
        var nib = 0
        if (delta < 0) { nib = 8; delta = -delta }
        if (delta >= step) { nib |= 4; delta -= step }
        if (delta >= (step >> 1)) { nib |= 2; delta -= step >> 1 }
        if (delta >= (step >> 2)) { nib |= 1 }
        // replay the decoder update to stay in lockstep
        var diff = step >> 3
        if ((nib & 1) != 0) diff += step >> 2
        if ((nib & 2) != 0) diff += step >> 1
        if ((nib & 4) != 0) diff += step
        pred = if ((nib & 8) != 0) pred - diff else pred + diff
        pred = math.max(-32768, math.min(32767, pred))
        index = math.max(0, math.min(88, index + ImaIndexTable(nib & 7)))
        nibbles += nib
      }
      nibbles.grouped(2).foreach(p => out += ((p(0) | (p(1) << 4)).toByte))
    }
    out.toArray
  }

  // stereo 16-bit PCM WAV (L/R interleaved frames)
  private def stereoPcmWav(frames: Seq[(Int, Int)]): Array[Byte] = {
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    val data = frames.flatMap(f => le16(f._1).toSeq ++ le16(f._2).toSeq).toArray
    val body = "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++ le16(2) ++
      le32(8000) ++ le32(32000) ++ le16(4) ++ le16(16) ++
      "data".getBytes("US-ASCII") ++ le32(data.length) ++ data
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  test("stereo WAV downmixes to mono frames, matching its mono twin") {
    import spark.implicits._
    val rows = Seq(
      // L = +A, R = -A: opposite channels cancel → digital silence
      (1L, stereoPcmWav(Seq.fill(16)((16384, -16384)))),
      // L = R = A: identical channels → same features as mono DC
      (2L, stereoPcmWav(Seq.fill(16)((16384, 16384)))))
      .toDF("id", "content")
      .select(F.col("id"), Multimodal.audioFeatures(F.col("content")).as("f"))
      .collect().map(r => r.getLong(0) -> Option(r.getStruct(1)).map(s =>
        (s.getLong(0), s.getDouble(1), s.getDouble(2), s.getDouble(3)))).toMap
    assert(rows(1L).contains((16L, 0.0, 0.0, 0.0))) // frames, not samples
    assert(rows(2L).contains((16L, 0.5, 0.5, 0.0)))
  }

  test("audio features REALLY decode block-compressed IMA ADPCM") {
    import spark.implicits._
    // constant nibble 0 at step index 0: step 7 >> 3 = 0, so the
    // predictor never moves — 65 samples all equal the header predictor
    val flat = adpcmWav(36,
      Array[Byte](0, 0x20, 0, 0) ++ Array.fill[Byte](32)(0)) // pred 8192
    // encoder round trip: a sine decoded back must track the original
    // (130 samples = exactly two 65-sample blocks)
    val sine = (0 until 130).map(t =>
      (16384 * math.sin(2 * math.Pi * t / 32)).toInt)
    val tracked = adpcmWav(36, imaEncode(sine, 36))
    val rows = Seq((1L, flat), (2L, tracked))
      .toDF("id", "content")
      .select(F.col("id"), Multimodal.audioFeatures(F.col("content")).as("f"))
      .collect().map(r => r.getLong(0) -> Option(r.getStruct(1)).map(s =>
        (s.getLong(0), s.getDouble(1), s.getDouble(2), s.getDouble(3)))).toMap
    assert(rows(1L).contains((65L, 0.25, 0.25, 0.0))) // 8192/32768 exact
    val (n, rms, peak, zcr) = rows(2L).get
    assert(n == 130L)
    // sine: rms = A/sqrt(2), peak = A, zcr = 1/16 — ADPCM is lossy but
    // must track within a few percent once the step size adapts
    assert(math.abs(rms - 0.5 / math.sqrt(2)) < 0.03)
    assert(math.abs(peak - 0.5) < 0.05)
    assert(math.abs(zcr - 4.0 / 64) < 0.02)
  }

  test("ADPCM honors samplesPerBlock: pad nibbles are not decoded") {
    import spark.implicits._
    // fmt declares 10 samples per 36-byte block (capacity 65): the
    // decoder must emit the header sample + 9 nibbles and skip the
    // remaining 55 pad nibbles — a blockAlign-derived count would
    // report 65 and skew every feature with pad content
    val wav = adpcmWav(36,
      Array[Byte](0, 0x20, 0, 0) ++ Array.fill[Byte](32)(0x44), // nib 4s
      spbOverride = 10)
    val f = Seq(Tuple1(wav)).toDF("content")
      .select(Multimodal.audioFeatures(F.col("content")).as("f"))
      .collect()(0).getStruct(0)
    assert(f.getLong(0) == 10L)
    // nibble 4 keeps adding the growing step: the 10th sample is well
    // above the 8192 start, but the capped decode must stop there
    assert(f.getDouble(2) > 0.25 && f.getDouble(2) < 1.0)
    // cbSize = 0 declares NO extension: the same two bytes are junk and
    // must not be misread as a 10-sample cap — full capacity decodes
    val junkExt = adpcmWav(36,
      Array[Byte](0, 0x20, 0, 0) ++ Array.fill[Byte](32)(0),
      spbOverride = 10, cbSizeZero = true)
    val n2 = Seq(Tuple1(junkExt)).toDF("content")
      .select(Multimodal.audioFeatures(F.col("content")).as("f"))
      .collect()(0).getStruct(0).getLong(0)
    assert(n2 == 65L)
  }

  test("audio embedding is a REAL band-energy spectrum over decoded samples") {
    import spark.implicits._
    val bands = 9 // centers at k/16 cycles per sample
    // sine at 0.25 cycles/sample: period 4 → [0, A, 0, -A] repeating
    val sine = pcmWav((0 until 64).map(t => Seq(0, 16384, 0, -16384)(t % 4)))
    val rows = Seq(
      (1L, pcmWav(Seq.fill(64)(16384))),                        // DC
      (2L, pcmWav((0 until 64).map(t => if (t % 2 == 0) 16384 else -16384))),
      (3L, sine),
      (4L, pcmWav(Seq.fill(64)(0))),                            // silence
      (5L, g711Wav(7, Seq.fill(64)(0x00))),                     // µ-law DC
      (6L, "junk".getBytes("US-ASCII")))
      .toDF("id", "content")
      .select(F.col("id"),
        Multimodal.audioEmbedding(F.col("content"), bands).as("v"))
      .collect().map(r => r.getLong(0) ->
        Option(r.get(1)).map(_ => r.getSeq[Float](1))).toMap
    def argmax(v: Seq[Float]) = v.indexOf(v.max)
    assert(rows(1L).exists(v => argmax(v) == 0 && v(0) > 0.9f))
    assert(rows(2L).exists(v => argmax(v) == 8 && v(8) > 0.9f))
    assert(rows(3L).exists(v => argmax(v) == 4 && v(4) > 0.8f))
    assert(rows(4L).exists(v => v.forall(_ == 0.0f)))           // zero vector
    assert(rows(5L).exists(v => argmax(v) == 0 && v(0) > 0.9f)) // compressed DC
    assert(rows(6L).isEmpty)
  }

  test("audio near-dup end to end: decode, band embed, cosine pairs") {
    import spark.implicits._
    // the same tone at different amplitudes and encodings → cosine 1;
    // a different tone shares no band → no pair
    val emb = Seq(
      (1L, pcmWav(Seq.fill(64)(16384))),         // DC, loud, PCM
      (2L, g711Wav(7, Seq.fill(64)(0x90))),      // DC, quiet, µ-law
      (3L, pcmWav((0 until 64).map(t => if (t % 2 == 0) 8192 else -8192))))
      .toDF("id", "content")
      .select(F.col("id"),
        Multimodal.audioEmbedding(F.col("content"), 9).as("v"))
    val pairs = graft.pipeline.Dedup
      .embeddingCosinePairs(emb, "id", "v", threshold = 0.95)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("crafted RIFF chunk sizes degrade to NULL instead of crashing") {
    import spark.implicits._
    // a chunk size of 0x7FFFFFEC passes a naive size guard but would
    // overflow an Int walk offset into a negative array index; every
    // RIFF walker must treat it as end-of-blob and return NULL
    def poison(kind: String): Array[Byte] =
      ("RIFF".getBytes("US-ASCII") :+ 0x14.toByte) ++ Array[Byte](0, 0, 0) ++
        kind.getBytes("US-ASCII") ++ "JUNK".getBytes("US-ASCII") ++
        Array[Byte](0xEC.toByte, 0xFF.toByte, 0xFF.toByte, 0x7F.toByte) ++
        Array[Byte](1, 2, 3, 4)
    val rows = Seq((1L, poison("WAVE")), (2L, poison("AVI ")))
      .toDF("id", "content")
      .select(F.col("id"),
        Multimodal.audioFeatures(F.col("content")).as("af"),
        Multimodal.headerAudioMeta(F.col("content")).as("am"),
        Multimodal.headerVideoMeta(F.col("content")).as("vm"))
      .collect().map(r => r.getLong(0) ->
        (r.isNullAt(1), r.isNullAt(2), r.isNullAt(3))).toMap
    assert(rows(1L) == ((true, true, true)))
    assert(rows(2L) == ((true, true, true)))
  }

  test("image near-dup end to end: decode, histogram embed, cosine pairs") {
    import spark.implicits._
    // same color in different formats AND sizes → identical histograms
    // → cosine 1; a different color shares no bins → no pair
    val red1 = encode(solidImg(8, 8, 0xFF0000), "png")
    val red2 = bmpBytes(Seq.fill(2)(Seq.fill(3)((255, 0, 0))))
    val blue = encode(solidImg(8, 8, 0x0000FF), "png")
    val emb = Seq((1L, red1), (2L, red2), (3L, blue)).toDF("id", "content")
      .select(F.col("id"),
        Multimodal.imageEmbedding(F.col("content"), 8).as("v"))
    val pairs = graft.pipeline.Dedup
      .embeddingCosinePairs(emb, "id", "v", threshold = 0.95)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }
}
