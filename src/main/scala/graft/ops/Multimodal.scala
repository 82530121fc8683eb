package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** Multimodal columns (builder brief): image/audio/video as opaque
  * `binary` content plus typed metadata, processed with the engine's
  * regular relational operators. Image payloads in the JVM-pure codec's
  * scope (PNG/BMP/PPM — [[ImageCodec]]) decode for REAL and their
  * features derive from pixels; payloads outside it (JPEG etc. — no
  * codec libraries exist in this environment) fall back to a
  * clearly-marked deterministic hash STUB, flagged per row via
  * `decoded`. Everything Spark-side — schema, partition-batched
  * processing, frame arithmetic, explode shapes — is real and tested.
  *
  * Scale design: content bytes stay opaque inside a single column (never
  * exploded per-pixel); per-partition batch processing amortizes decoder/
  * model initialization exactly like a vectorized Python UDF would, but
  * in compiled Scala via `mapPartitions` + `grouped(batchSize)`.
  */
object Multimodal {

  /** A media row: typed metadata travels beside the opaque payload. */
  case class MediaRow(media_id: Long, kind: String, content: Array[Byte],
                      width: Int, height: Int, sample_rate: Int,
                      n_frames: Int)

  case class MediaFeature(media_id: Long, kind: String,
                          embedding: Array[Float], decoded: Boolean)

  case class MediaDecode(media_id: Long, format: String, width: Int,
                         height: Int, channels: Int)

  case class AudioDecode(media_id: Long, format: String, sample_rate: Int,
                         channels: Int, n_frames: Int, duration_ms: Long)

  /** FLAC decode facts: like [[AudioDecode]] plus the position-weighted
    * exact sample sum — FLAC is lossless, so unlike WAV's 16-bit
    * amplitude quantization the SAMPLES themselves are oracle-checkable
    * (the GIF-pixels evidence class, ported to audio).
    */
  case class FlacDecode(media_id: Long, format: String, sample_rate: Int,
                        channels: Int, n_frames: Int, wsum: Long)

  /** Derive a deterministic media view from the documents table: the
    * UTF-8 text bytes stand in for an encoded payload, metadata derives
    * from byte length. This is the fixture adapter — a real deployment
    * reads parquet with genuine binary columns of the same schema.
    */
  def syntheticMedia(docs: DataFrame): DataFrame = {
    val bytes = col("text").cast("binary")
    val blen = length(bytes)
    docs.select(
      col("doc_id").cast("long").as("media_id"),
      element_at(typedLit(Seq("image", "audio", "video")),
        (col("doc_id") % 3).cast("int") + 1).as("kind"),
      bytes.as("content"),
      (blen % 640 + 1).cast("int").as("width"),
      (blen % 480 + 1).cast("int").as("height"),
      // tiny synthetic "sample rates" so chunking arithmetic produces
      // multiple chunks at fixture payload sizes (real audio: 16k/44.1k)
      ((blen % 8 + 1) * 4).cast("int").as("sample_rate"),
      (blen % 120 + 1).cast("int").as("n_frames"))
  }

  /** Genuine-image fixture adapter: for the documents that
    * [[syntheticMedia]] labels `image` (doc_id % 3 == 0), build a REAL
    * encoded payload — the text bytes tiled into an 8-wide RGB pixel
    * grid, encoded as PNG, BMP, or PPM rotating by doc id — so the
    * decode path in [[extractFeatures]] exercises every codec format
    * against distributed data, not just spec fixtures. Audio/video rows
    * keep their opaque text-byte payloads (and the stub fallback).
    * Driver-free and shuffle-free: one typed map per row.
    */
  def syntheticImages(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val bytes = Option(text).getOrElse("").getBytes("UTF-8")
        val w = 8
        val h = math.max(1, math.min(64, (bytes.length + 23) / 24))
        val px = new Array[Byte](w * h * 3)
        if (bytes.nonEmpty) {
          var i = 0
          while (i < px.length) { px(i) = bytes(i % bytes.length); i += 1 }
        }
        val payload = ((id / 3) % 3) match {
          case 0 => ImageCodec.encodePng(w, h, px)
          case 1 => ImageCodec.encodeBmp(w, h, px)
          case _ => ImageCodec.encodePpm(w, h, px)
        }
        MediaRow(id, "image", payload, w, h,
          (payload.length % 8 + 1) * 4, payload.length % 120 + 1)
      }
      .toDF()
  }

  /** JPEG twin of [[syntheticImages]]: the same 8-wide pixel grid
    * encoded as baseline JPEG, rotating by doc id through 4:4:4,
    * 4:2:0, and grayscale — so the decode path exercises every
    * supported sampling structure against distributed data. JPEG is
    * lossy in PIXELS but exact in STRUCTURE: the decoded width/height/
    * channels are bit-determined by the stream header, which is what
    * q_media_decode_jpeg oracle-checks arithmetically.
    */
  def syntheticJpegImages(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val bytes = Option(text).getOrElse("").getBytes("UTF-8")
        val w = 8
        val h = math.max(1, math.min(64, (bytes.length + 23) / 24))
        val px = new Array[Byte](w * h * 3)
        if (bytes.nonEmpty) {
          var i = 0
          while (i < px.length) { px(i) = bytes(i % bytes.length); i += 1 }
        }
        val payload = ((id / 3) % 3) match {
          case 0 => JpegCodec.encodeJpeg(w, h, px, subsample420 = false)
          case 1 => JpegCodec.encodeJpeg(w, h, px, subsample420 = true)
          case _ =>
            val gray = new Array[Byte](w * h)
            var i = 0
            while (i < gray.length) { gray(i) = px(i * 3); i += 1 }
            JpegCodec.encodeJpegGray(w, h, gray)
        }
        MediaRow(id, "image", payload, w, h,
          (payload.length % 8 + 1) * 4, payload.length % 120 + 1)
      }
      .toDF()
  }

  /** Progressive-JPEG twin of [[syntheticJpegImages]]: the same pixel
    * grid encoded as PROGRESSIVE (SOF2) JPEG through the JDK's ImageIO
    * writer — an encoder sharing no code with [[JpegCodec]]'s decoder,
    * so the distributed decode path is exercised against independent
    * multi-scan streams (spectral selection + successive approximation
    * with DC and AC refinement passes, the IJG scan script). Rotates
    * color / grayscale by doc id. Like the baseline twin, pixels are
    * lossy but STRUCTURE is exact: width/height/channels are header
    * facts the `q_media_decode_prog` oracle replays arithmetically.
    */
  def syntheticProgressiveJpegImages(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val bytes = Option(text).getOrElse("").getBytes("UTF-8")
        val w = 8
        val h = math.max(1, math.min(64, (bytes.length + 23) / 24))
        val px = new Array[Byte](w * h * 3)
        if (bytes.nonEmpty) {
          var i = 0
          while (i < px.length) { px(i) = bytes(i % bytes.length); i += 1 }
        }
        val gray = (id / 3) % 2 == 1
        val payload = encodeProgressiveJpeg(w, h, px, gray)
        MediaRow(id, "image", payload, w, h,
          (payload.length % 8 + 1) * 4, payload.length % 120 + 1)
      }
      .toDF()
  }

  /** Progressive JPEG encode via the JDK's ImageIO writer (raw raster
    * writes — no colorspace conversion detour for the gray plane).
    */
  private def encodeProgressiveJpeg(w: Int, h: Int, rgb: Array[Byte],
                                    gray: Boolean): Array[Byte] = {
    val t = if (gray) java.awt.image.BufferedImage.TYPE_BYTE_GRAY
    else java.awt.image.BufferedImage.TYPE_INT_RGB
    val bi = new java.awt.image.BufferedImage(w, h, t)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val o = (y * w + x) * 3
        if (gray) bi.getRaster.setSample(x, y, 0, rgb(o) & 0xff)
        else bi.setRGB(x, y, ((rgb(o) & 0xff) << 16) |
          ((rgb(o + 1) & 0xff) << 8) | (rgb(o + 2) & 0xff))
        x += 1
      }
      y += 1
    }
    val writer =
      javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(0.9f)
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(bi, null, null), param)
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** GIF twin of [[syntheticImages]]: text bytes become PALETTE
    * INDICES into a fixed deterministic 256-entry color table, encoded
    * GIF89a, alternating sequential/interlaced row order by doc id —
    * so the LZW walk, sub-block framing, and deinterlace pass all run
    * against distributed data. GIF is lossless over indices, so the
    * decoded pixels (not just header facts) are bit-exact:
    * pal[text_byte] per position, same class of evidence as PNG.
    */
  def syntheticGifImages(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val bytes = Option(text).getOrElse("").getBytes("UTF-8")
        val w = 8
        val h = math.max(1, math.min(64, (bytes.length + 7) / 8))
        val idx = new Array[Byte](w * h)
        if (bytes.nonEmpty) {
          var i = 0
          while (i < idx.length) { idx(i) = bytes(i % bytes.length); i += 1 }
        }
        val payload = GifCodec.encodeGif(w, h, GifPalette, idx,
          interlaced = (id / 3) % 2 == 1)
        MediaRow(id, "image", payload, w, h,
          (payload.length % 8 + 1) * 4, payload.length % 120 + 1)
      }
      .toDF()
  }

  /** Adam7 twin of [[syntheticQoiImages]]: the identical pixel law
    * behind an INTERLACED PNG ([[ImageCodec.encodePngInterlaced]]) —
    * all seven passes and all five filters run against distributed
    * data, and a wrong pass geometry or canvas scatter shifts pixels
    * into wrong positions, which the position-weighted oracle catches.
    */
  def syntheticAdam7Images(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val bytes = Option(text).getOrElse("").getBytes("UTF-8")
        val w = 8
        val h = math.max(1, math.min(64, (bytes.length + 7) / 8))
        val px = new Array[Byte](w * h * 3)
        var p = 0
        while (p < w * h) {
          val v = if (bytes.isEmpty) 0 else bytes(p % bytes.length) & 0xff
          px(p * 3) = v.toByte
          px(p * 3 + 1) = ((7 * v) % 256).toByte
          px(p * 3 + 2) = ((13 * v) % 256).toByte
          p += 1
        }
        val payload = ImageCodec.encodePngInterlaced(w, h, px)
        MediaRow(id, "image", payload, w, h,
          (payload.length % 8 + 1) * 4, payload.length % 120 + 1)
      }
      .toDF()
  }

  /** QOI twin of [[syntheticGifImages]]: the same palette arithmetic
    * (pixel p = (v, 7v mod 256, 13v mod 256) for tiled text byte v)
    * rendered to RGB and encoded QOI ([[QoiCodec.encode]]) over ALL
    * documents — text tiling repeats bytes, so real corpora hit RUN,
    * INDEX, DIFF, LUMA and RGB ops, and QOI is lossless, so decoded
    * pixels are bit-exact and the oracle replays them arithmetically
    * with the identical SQL the GIF twin uses.
    */
  def syntheticQoiImages(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val bytes = Option(text).getOrElse("").getBytes("UTF-8")
        val w = 8
        val h = math.max(1, math.min(64, (bytes.length + 7) / 8))
        val px = new Array[Byte](w * h * 3)
        var p = 0
        while (p < w * h) {
          val v = if (bytes.isEmpty) 0 else bytes(p % bytes.length) & 0xff
          px(p * 3) = v.toByte
          px(p * 3 + 1) = ((7 * v) % 256).toByte
          px(p * 3 + 2) = ((13 * v) % 256).toByte
          p += 1
        }
        val payload = QoiCodec.encode(w, h, 3, px)
        MediaRow(id, "image", payload, w, h,
          (payload.length % 8 + 1) * 4, payload.length % 120 + 1)
      }
      .toDF()
  }

  /** Video fixture adapter: the documents [[syntheticMedia]] labels
    * `video` (doc_id % 3 == 2) become REAL animated GIFs — 8×8 canvas,
    * 1 + (doc_id mod 4) full-canvas frames, palette index at raster
    * position p of frame f = (doc_id·31 + f·17 + p·5) mod 256, delay
    * 4 + 2f centiseconds — pure integer arithmetic, so the oracle can
    * recompute every decoded pixel without a codec. The video modality
    * thereby decodes for real like image (PNG/BMP/PPM/JPEG/GIF) and
    * audio (WAV): frame sampling downstream reads composited pixels,
    * not synthetic byte offsets.
    */
  def syntheticVideos(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("doc_id") % 3 === 2)
      .select(col("doc_id").cast("long"))
      .as[Long]
      .map { id =>
        val w = 8; val h = 8
        val nf = 1 + (id % 4).toInt
        val frames = (0 until nf).map { f =>
          val idx = new Array[Byte](w * h)
          var p = 0
          while (p < idx.length) {
            idx(p) = ((id * 31 + f * 17 + p * 5) % 256).toByte
            p += 1
          }
          GifCodec.AnimFrame(0, 0, w, h, idx, delayCs = 4 + 2 * f)
        }
        val payload = GifCodec.encodeGifAnim(w, h, GifPalette, frames)
        MediaRow(id, "video", payload, w, h,
          (payload.length % 8 + 1) * 4, nf)
      }
      .toDF()
  }

  /** MJPEG-in-AVI twin of [[syntheticVideos]]: the same `video` ids
    * wrapped in a REAL RIFF/AVI container ([[AviCodec.encodeAvi]])
    * whose `00dc` chunks hold genuine JPEG frames from the engine's
    * own encoder — so the distributed decode path walks an actual
    * container format (word alignment, LIST nesting, avih facts) and
    * re-uses the proven JPEG decoder per frame, the MJPEG convention.
    * Structure is pure arithmetic for the oracle: 8-wide, height from
    * the text byte length (the [[syntheticJpegImages]] formula),
    * 1 + (id/3 mod 3) frames, gray/color by (id/3) mod 2, frame
    * period 40000 + 1000·(id mod 5) µs. Frame PIXELS rotate the text
    * bytes by 7·frameIdx so consecutive frames differ (lossy, so only
    * structure is oracle-replayed, like the JPEG image twins).
    */
  def syntheticAviVideos(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("doc_id") % 3 === 2)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val bytes = Option(text).getOrElse("").getBytes("UTF-8")
        val w = 8
        val h = math.max(1, math.min(64, (bytes.length + 23) / 24))
        val nf = (1 + (id / 3) % 3).toInt
        val gray = (id / 3) % 2 == 1
        val us = (40000 + 1000 * (id % 5)).toInt
        val frames = (0 until nf).map { f =>
          val px = new Array[Byte](w * h * 3)
          if (bytes.nonEmpty) {
            var i = 0
            while (i < px.length) { px(i) = bytes((i + f * 7) % bytes.length); i += 1 }
          }
          if (gray) {
            val g = new Array[Byte](w * h)
            var i = 0
            while (i < g.length) { g(i) = px(i * 3); i += 1 }
            JpegCodec.encodeJpegGray(w, h, g)
          } else JpegCodec.encodeJpeg(w, h, px, subsample420 = f % 2 == 1)
        }
        MediaRow(id, "video", AviCodec.encodeAvi(w, h, us, frames),
          w, h, us, nf)
      }
      .toDF()
  }

  /** Fixed 256-entry palette for GIF fixtures: entry i = (i, 7i mod
    * 256, 13i mod 256) — full-rank and deterministic, so index→RGB is
    * invertible and a decode bug cannot alias two indices.
    */
  private[graft] val GifPalette: Array[Byte] = {
    val p = new Array[Byte](768)
    var i = 0
    while (i < 256) {
      p(i * 3) = i.toByte
      p(i * 3 + 1) = ((i * 7) % 256).toByte
      p(i * 3 + 2) = ((i * 13) % 256).toByte
      i += 1
    }
    p
  }

  /** Audio counterpart of [[syntheticImages]]: the documents that
    * [[syntheticMedia]] labels `audio` (doc_id % 3 == 1) become REAL
    * 16-bit PCM WAV payloads ([[AudioCodec.encodeWav16]]), samples
    * derived deterministically from the text bytes, structure rotating
    * by doc id:
    *   n_frames    = (octet_length(text) % 4000) + 256
    *   channels    = (doc_id / 3) % 2 + 1
    *   sample_rate = [8000, 16000, 44100][(doc_id / 3) % 3]
    * — the documented arithmetic q_audio_decode's oracle replays. PCM
    * is lossy only in amplitude (16-bit quantization); the structure
    * the decode reports is exact.
    */
  def syntheticAudio(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("doc_id") % 3 === 1)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val bytes = Option(text).getOrElse("").getBytes("UTF-8")
        val nFrames = (bytes.length % 4000) + 256
        val channels = ((id / 3) % 2 + 1).toInt
        val rate = ((id / 3) % 3) match {
          case 0 => 8000
          case 1 => 16000
          case _ => 44100
        }
        val samples = new Array[Float](nFrames * channels)
        if (bytes.nonEmpty) {
          var i = 0
          while (i < samples.length) {
            samples(i) = ((bytes(i % bytes.length) & 0xff) - 128) / 128.0f
            i += 1
          }
        }
        val payload = AudioCodec.encodeWav16(rate, channels, samples)
        MediaRow(id, "audio", payload, 0, 0, rate, nFrames)
      }
      .toDF()
  }

  /** Decode audio metadata straight off the WAV payload (same
    * evidence-is-the-payload discipline as [[decodeMeta]]): sample
    * rate, channels, frame count and integer duration all come from
    * the DECODED stream; undecodable payloads report
    * ("undecodable", 0, 0, 0, 0) instead of failing the stage.
    */
  def decodeAudioMeta(media: DataFrame): Dataset[AudioDecode] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        AudioCodec.decode(bytes) match {
          case Some(a) =>
            AudioDecode(id, "wav", a.sampleRate, a.channels, a.nFrames,
              a.nFrames.toLong * 1000L / a.sampleRate)
          case None => AudioDecode(id, "undecodable", 0, 0, 0, 0L)
        }
      }
  }

  /** FLAC twin of [[syntheticAudio]]: the same deterministic
    * byte-derived samples, compressed through [[FlacCodec]] with the
    * encoder rotation covering VERBATIM / FIXED-1 / FIXED-2 subframes,
    * mid/side stereo and 2-partition residuals — so the distributed
    * decode exercises every residual/predictor path. FLAC is lossless:
    * the decoded samples are BIT-EXACT functions of the text bytes,
    * which is what lets `q_flac_decode` hash-check a position-weighted
    * sample sum (the GIF evidence class).
    */
  def syntheticFlacAudio(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("doc_id") % 3 === 1)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val bytes = Option(text).getOrElse("").getBytes("UTF-8")
        val nFrames = (bytes.length % 3000) + 200
        val channels = ((id / 3) % 2 + 1).toInt
        val rate = ((id / 3) % 3) match {
          case 0 => 8000
          case 1 => 16000
          case _ => 44100
        }
        val samples = new Array[Int](nFrames * channels)
        if (bytes.nonEmpty) {
          var i = 0
          while (i < samples.length) {
            samples(i) = ((bytes(i % bytes.length) & 0xff) - 128) * 64
            i += 1
          }
        }
        val rot = (id / 3).toInt
        val payload = FlacCodec.encodeFlac16(rate, channels, samples,
          subframe = rot % 3, midSide = rot % 4 >= 2,
          partitions2 = rot % 2 == 0)
        MediaRow(id, "audio", payload, 0, 0, rate, nFrames)
      }
      .toDF()
  }

  /** AIFF twin of [[syntheticFlacAudio]]: the same deterministic
    * sample law ((byte − 128)·64, tiled) behind the BIG-ENDIAN IFF
    * container with its 80-bit extended-float sample rate — slightly
    * different frame-count law so a query can't pass by echoing the
    * FLAC twin's totals.
    */
  def syntheticAiffAudio(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("doc_id") % 3 === 1)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val bytes = Option(text).getOrElse("").getBytes("UTF-8")
        val nFrames = (bytes.length % 2500) + 150
        val channels = ((id / 3) % 2 + 1).toInt
        val rate = ((id / 3) % 3) match {
          case 0 => 8000
          case 1 => 16000
          case _ => 44100
        }
        val samples = new Array[Int](nFrames * channels)
        if (bytes.nonEmpty) {
          var i = 0
          while (i < samples.length) {
            samples(i) = ((bytes(i % bytes.length) & 0xff) - 128) * 64
            i += 1
          }
        }
        val payload = AiffCodec.encodeAiff16(rate, channels, samples)
        MediaRow(id, "audio", payload, 0, 0, rate, nFrames)
      }
      .toDF()
  }

  /** G.711 twin of [[syntheticAudio]]: the companded bytes ARE the
    * tiled text bytes (µ-law for odd doc ids, A-law for even), so the
    * oracle replays the complete decode law — complement/xor, segment
    * shift, bias, sign — in pure SQL integer arithmetic over ord().
    */
  def syntheticG711Audio(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("doc_id") % 3 === 1)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val bytes = Option(text).getOrElse("").getBytes("UTF-8")
        val nFrames = (bytes.length % 2000) + 100
        val channels = ((id / 3) % 2 + 1).toInt
        val rate = ((id / 3) % 3) match {
          case 0 => 8000
          case 1 => 16000
          case _ => 44100
        }
        val companded = new Array[Byte](nFrames * channels)
        if (bytes.nonEmpty) {
          var i = 0
          while (i < companded.length) {
            companded(i) = bytes(i % bytes.length); i += 1
          }
        }
        val payload = AudioCodec.encodeWavG711(rate, channels, companded,
          aLaw = id % 2 == 0)
        MediaRow(id, "audio", payload, 0, 0, rate, nFrames)
      }
      .toDF()
  }

  /** Decode facts off the G.711 payload: law sniffed from the fmt tag,
    * position-weighted INTEGER sample sum over the 16-bit linear
    * domain (decoded floats are t/32768 with |t| < 2^24, so the
    * round-trip back to ints is exact).
    */
  def decodeG711Meta(media: DataFrame): Dataset[FlacDecode] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        AudioCodec.decode(bytes) match {
          case Some(d) =>
            val law =
              if (bytes.length > 21 && bytes(20) == 6) "alaw" else "ulaw"
            var ws = 0L
            var i = 0
            while (i < d.samples.length) {
              ws += (i + 1L) * math.round(d.samples(i) * 32768.0f)
              i += 1
            }
            FlacDecode(id, law, d.sampleRate, d.channels, d.nFrames, ws)
          case None => FlacDecode(id, "undecodable", 0, 0, 0, 0L)
        }
      }
  }

  /** Decode facts straight off the AIFF payload — position-weighted
    * integer sample sum like the FLAC twin; undecodable → zeros row.
    */
  def decodeAiffMeta(media: DataFrame): Dataset[FlacDecode] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        AiffCodec.decode(bytes) match {
          case Some(d) =>
            var ws = 0L
            var i = 0
            while (i < d.samples.length) {
              ws += (i + 1L) * d.samples(i)
              i += 1
            }
            FlacDecode(id, "aiff", d.sampleRate, d.channels, d.nFrames, ws)
          case None => FlacDecode(id, "undecodable", 0, 0, 0, 0L)
        }
      }
  }

  /** Decode facts straight off the FLAC payload, including the exact
    * position-weighted sample sum the oracle replays; undecodable
    * payloads report ("undecodable", 0, 0, 0, 0) instead of failing
    * the stage.
    */
  def decodeFlacMeta(media: DataFrame): Dataset[FlacDecode] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        FlacCodec.decode(bytes) match {
          case Some(d) =>
            var ws = 0L
            var i = 0
            while (i < d.samples.length) {
              ws += (i + 1L) * d.samples(i)
              i += 1
            }
            FlacDecode(id, "flac", d.sampleRate, d.channels, d.nFrames, ws)
          case None => FlacDecode(id, "undecodable", 0, 0, 0, 0L)
        }
      }
  }

  /** Decode metadata straight off the payload: container format sniffed
    * from MAGIC BYTES (never from any id or metadata column — the
    * payload itself is the evidence) plus the decoded pixel dimensions.
    * Per-row map, shuffle-free; undecodable payloads report
    * ("undecodable", 0, 0, 0) instead of failing the stage.
    */
  def decodeMeta(media: DataFrame): Dataset[MediaDecode] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val format =
          if (bytes == null || bytes.length < 2) "undecodable"
          else if (bytes(0) == 0x89.toByte && bytes(1) == 'P') "png"
          else if (bytes(0) == 'B' && bytes(1) == 'M') "bmp"
          else if (bytes(0) == 'P' && (bytes(1) == '5' || bytes(1) == '6')) "ppm"
          else if (JpegCodec.isJpeg(bytes)) "jpeg"
          else if (GifCodec.isGif(bytes)) "gif"
          else "undecodable"
        ImageCodec.decode(bytes) match {
          case Some(img) =>
            MediaDecode(id, format, img.width, img.height, img.channels)
          case None => MediaDecode(id, "undecodable", 0, 0, 0)
        }
      }
  }

  /** Content-derived feature vector from decoded pixels — the
    * deterministic stand-in for a vision model forward pass that a real
    * deployment swaps in, except the INPUT is now genuinely the image:
    * dims, channel means, luminance mean/variance, and an 8-bin
    * luminance histogram (fractions). `dim` ≠ 16 truncates or
    * zero-pads, keeping the fixed-width embedding contract.
    */
  private[graft] def pixelFeatures(img: ImageCodec.DecodedImage,
                                   dim: Int): Array[Float] = {
    val n = img.width * img.height
    val ch = img.channels
    val px = img.pixels
    var sr = 0.0; var sg = 0.0; var sb = 0.0
    var lumSum = 0.0; var lumSq = 0.0
    val hist = new Array[Int](8)
    var p = 0
    while (p < n) {
      val base = p * ch
      val r = px(base) & 0xff
      val g = if (ch >= 3) px(base + 1) & 0xff else r
      val b = if (ch >= 3) px(base + 2) & 0xff else r
      sr += r; sg += g; sb += b
      val lum = (r + g + b) / 3.0
      lumSum += lum; lumSq += lum * lum
      hist(math.min((lum / 32).toInt, 7)) += 1
      p += 1
    }
    val mean = lumSum / n
    val f = new Array[Float](16)
    f(0) = img.width.toFloat; f(1) = img.height.toFloat; f(2) = ch.toFloat
    f(3) = (sr / n).toFloat; f(4) = (sg / n).toFloat; f(5) = (sb / n).toFloat
    f(6) = mean.toFloat
    f(7) = (lumSq / n - mean * mean).toFloat
    var i = 0
    while (i < 8) { f(8 + i) = hist(i).toFloat / n; i += 1 }
    if (dim == 16) f else java.util.Arrays.copyOf(f, dim)
  }

  /** Fixed-dim deterministic embedding from payload bytes: stands in for
    * a vision/audio model forward pass. Pure function of (content, dim).
    */
  private[graft] def embedStub(content: Array[Byte], dim: Int): Array[Float] = {
    val base = XXH64.hashUnsafeBytes(content,
      org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, content.length, 42L)
    val out = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      // map hash to [-1, 1); stable across JVMs
      out(i) = (XXH64.hashLong(i.toLong, base).toDouble / Long.MaxValue).toFloat
      i += 1
    }
    out
  }

  // ---- partition-batched feature extraction ------------------------------

  /** Per-partition batched "model inference" over media rows — the Scala
    * analogue of a vectorized Python UDF: one expensive init per
    * partition, payloads processed in `batchSize` groups so peak memory
    * is bounded by batch, not partition. Payloads in [[ImageCodec]]'s
    * scope decode for real and embed from pixels (`decoded = true`);
    * the rest take the hash stub (`decoded = false`).
    */
  def extractFeatures(media: DataFrame, dim: Int = 16,
                      batchSize: Int = 64): Dataset[MediaFeature] = {
    implicit val enc: Encoder[MediaFeature] = Encoders.product[MediaFeature]
    implicit val rowEnc: Encoder[(Long, String, Array[Byte])] =
      Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.BINARY)
    media.select(col("media_id").cast("long"), col("kind"), col("content"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        // real code: load model weights / open codec context HERE, once
        it.grouped(batchSize).flatMap { batch =>
          batch.map { case (id, kind, content) =>
            ImageCodec.decode(content) match {
              case Some(img) =>
                MediaFeature(id, kind, pixelFeatures(img, dim), decoded = true)
              case None =>
                MediaFeature(id, kind, embedStub(content, dim), decoded = false)
            }
          }
        }
      }
  }

  // ---- frame / chunk arithmetic (pure relational) ------------------------

  /** Evenly-strided frame indices: ceil(n/maxFrames) stride keeps at most
    * `maxFrames` samples regardless of clip length.
    */
  def frameIndices(nFrames: Column, maxFrames: Int = 8): Column =
    sequence(lit(0), nFrames - 1,
      ceil(nFrames.cast("double") / maxFrames).cast("int"))

  /** One row per sampled frame of each video: the explode shape a real
    * frame extractor feeds; frame_idx drives the (stubbed) per-frame
    * decode downstream.
    */
  def sampleFrames(media: DataFrame, maxFrames: Int = 8): DataFrame =
    media.filter(col("kind") === "video")
      .select(col("media_id"), col("n_frames"),
        posexplode(frameIndices(col("n_frames"), maxFrames))
          .as(Seq("sample_pos", "frame_idx")))
      .select(col("media_id"), col("n_frames"),
        col("sample_pos").cast("long").as("sample_pos"),
        col("frame_idx").cast("long").as("frame_idx"))

  /** Fixed-duration audio chunk boundaries from metadata arithmetic:
    * byte offsets for `chunkSeconds` windows at 2 bytes/sample mono.
    */
  def audioChunks(media: DataFrame, chunkSeconds: Int = 10): DataFrame = {
    val bytesPerChunk = col("sample_rate") * 2 * chunkSeconds
    media.filter(col("kind") === "audio")
      .select(col("media_id"), length(col("content")).as("n_bytes"),
        bytesPerChunk.as("chunk_bytes"))
      .select(col("media_id"), col("n_bytes"), col("chunk_bytes"),
        posexplode(sequence(lit(0), greatest(col("n_bytes") - 1, lit(0)),
          col("chunk_bytes"))).as(Seq("chunk_idx", "byte_offset")))
      .select(col("media_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("byte_offset").cast("long").as("byte_offset"),
        least(col("chunk_bytes"), col("n_bytes") - col("byte_offset"))
          .cast("long").as("chunk_len"))
  }

  /** The SDXL-style bucket grid: ~1MP targets spanning portrait to
    * landscape. Part of the op's definition (a model trains against a
    * fixed grid), not a tuning knob.
    */
  val AspectBuckets: Seq[(Int, Int)] = Seq(
    (1024, 1024), (1152, 896), (896, 1152), (1216, 832), (832, 1216),
    (1344, 768), (768, 1344), (1536, 640), (640, 1536))

  /** Aspect-ratio bucketing — the batching prerequisite for image
    * training (NovelAI/SDXL): group images by nearest target aspect so
    * every batch resizes to one resolution without destructive crops.
    * Nearest = smallest symmetric multiplicative distance
    * `max(ar/bar, bar/ar)` (ties → lowest bucket index); multiplicative
    * rather than `|ln ar − ln bar|` on purpose — same argmin, but pure
    * division survives cross-engine float comparison where `ln` drifts
    * in the last ulp.
    *
    * In-row argmin over the bucket literal — a pure projection over the
    * metadata columns; the image bytes are never touched, so the scan
    * prunes the binary column entirely.
    */
  def aspectBucket(media: DataFrame): DataFrame = {
    val blit = array(AspectBuckets.zipWithIndex.map { case ((w, h), i) =>
      struct(lit(i).as("idx"), lit(w).as("bw"), lit(h).as("bh"))
    }: _*)
    val ar = col("width").cast("double") / col("height").cast("double")
    val best = array_min(transform(blit, b => {
      val bar = b.getField("bw").cast("double") / b.getField("bh").cast("double")
      struct(greatest(ar / bar, bar / ar).as("dist"), b.getField("idx").as("idx"),
        b.getField("bw").as("bw"), b.getField("bh").as("bh"))
    }))
    // images without decodable dims can't bucket (and null distances
    // would sort differently across engines — excluded by definition)
    media.filter(col("kind") === "image"
        && col("width").isNotNull && col("height").isNotNull)
      .select(col("media_id"), col("width"), col("height"),
        best.getField("bw").as("bucket_w"), best.getField("bh").as("bucket_h"))
  }

  /** 64-bit difference hash (dHash — the classic perceptual image
    * fingerprint: re-encodes, format conversions and small pixel noise
    * keep the hash within a few bits, so hamming-banded pairs find the
    * near-duplicate images byte-hash dedup can't see) over RGB pixels,
    * returned as FOUR 16-bit chunks so banding needs no 64-bit shifts
    * and the sign bit never overflows either engine's BIGINT.
    *
    * EXACT arithmetic, no resampling library: the 9×8 grid cell of
    * pixel (x,y) is bx=(9x+8)/w, by=(8y+7)/h (the inverse of the range
    * partition [⌊c·w/9⌋, ⌊(c+1)·w/9⌋)); luma is the ITU-R 601 integer
    * form 299r+587g+114b kept ×1000 (never divided); and the
    * brighter-than-left bit compares cell AVERAGES by integer
    * cross-multiplication S₂N₁ > S₁N₂ — uneven cell sizes cost no
    * precision. Every step is replayable in plain SQL integers, which
    * is what lets q_media_neardup hash-check the whole pipeline.
    * Bit k = 8·by + bx is set when cell (by,bx+1) is brighter than
    * (by,bx); chunk j carries bits [16j, 16j+16).
    *
    * Precondition: w ≥ 9 and h ≥ 8 (every grid cell non-empty);
    * smaller images would leave empty cells whose 0>0 comparisons
    * carry no signal.
    */
  /** The audio sibling of [[dHashChunks]]: a 64-bit energy-delta
    * fingerprint over decoded PCM samples (the louder-than-previous
    * profile — Chromaprint's band-energy-difference idea reduced to
    * its replayable integer core). The interleaved stream is split
    * into 65 frames by the same floor-range partition (frame of p =
    * (65p+64)/n), per-frame energy is the exact integer Σ s², and bit
    * k compares frame averages by cross-multiplication E₂N₁ > E₁N₂.
    * Amplitude scaling, container changes and re-encodes through a
    * LOSSLESS codec keep the profile; a touched-up sample moves ≤ a
    * few bits. Precondition: n ≥ 65.
    */
  def energyHashChunks(samples: Array[Int]): Array[Int] = {
    val n = samples.length
    val e = new Array[Long](65)
    val cnt = new Array[Long](65)
    var p = 0
    while (p < n) {
      val f = ((65L * p + 64) / n).toInt
      val s = samples(p).toLong
      e(f) += s * s
      cnt(f) += 1
      p += 1
    }
    val chunks = new Array[Int](4)
    var k = 0
    while (k < 64) {
      if (crossGt(e(k + 1), cnt(k), e(k), cnt(k + 1)))
        chunks(k / 16) |= 1 << (k % 16)
      k += 1
    }
    chunks
  }

  /** Exact a·b > c·d for NON-NEGATIVE longs, computed in 128 bits.
    * The cross-multiplied average comparisons in [[energyHashChunks]]
    * and [[dHashChunks]] overflow a signed 64-bit product on realistic
    * inputs (16-bit PCM energy × frame count wraps once a frame holds
    * ~92k full-scale samples — about a minute of 44.1 kHz stereo; the
    * image path needs a ~430-megapixel frame). The DuckDB oracle never
    * wraps — its sum() returns HUGEINT, so the replayed comparison is
    * effectively 128-bit — which makes the widened compare the side
    * that MATCHES the oracle contract on all inputs, not a divergence
    * from it. Math.multiplyHigh gives the signed high word; for
    * non-negative operands it equals the unsigned high word, and the
    * low words compare unsigned.
    */
  private[graft] def crossGt(a: Long, b: Long, c: Long, d: Long): Boolean = {
    val hi1 = Math.multiplyHigh(a, b)
    val hi2 = Math.multiplyHigh(c, d)
    if (hi1 != hi2) hi1 > hi2
    else java.lang.Long.compareUnsigned(a * b, c * d) > 0
  }

  /** Shared hamming-pair machinery for the 16-bit-chunk fingerprints:
    * per-chunk exact-equality band LSH (pigeonhole-COMPLETE whenever
    * `maxHamming` < #chunks: a pair within the threshold must share an
    * untouched chunk), then exact hamming verify over candidates only —
    * never all-pairs. Input: (media_id, <chunkCols>); the caller
    * persists if its signature computation is expensive (it is consumed
    * #chunks+2 times: the band projections + both verify sides).
    *
    * Scale caveat — the OUTPUT is quadratic in exact-duplicate cluster
    * size: B identical signatures form a hamming-0 clique of B²/2
    * pairs, and web corpora carry 10⁵-fold exact-duplicate images as a
    * matter of course. That is inherent to the pair-LIST contract, not
    * to this implementation; consumers that only need clusters or
    * keep/drop decisions must collapse identical signatures to one
    * representative (min id per signature group) BEFORE calling this,
    * and lift members back afterward — hamming depends only on the
    * signatures, so rep-level pairs lose nothing ([[hammingClusters]]
    * is that consumer; the r14 1000x sweep OOMed on the uncollapsed
    * form).
    */
  def hammingPairs(sigs: DataFrame,
                   chunkCols: Seq[String] = Seq("c0", "c1", "c2", "c3"),
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming < chunkCols.length, "banding completeness needs maxHamming < #chunks")
    val bands = chunkCols.zipWithIndex.map { case (c, j) =>
        sigs.select(col("media_id"), lit(j).as("band"), col(c).as("ck")) }
      .reduce(_ unionByName _)
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.ck") === col("b.ck")
          && col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"))
      .distinct()
    cand
      .join(sigs.as("sa"), col("id_a") === col("sa.media_id"))
      .join(sigs.as("sb"), col("id_b") === col("sb.media_id"))
      .withColumn("hamming", chunkCols.map(c =>
          bit_count(col(s"sa.$c").bitwiseXOR(col(s"sb.$c"))))
        .reduce(_ + _).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** [[hammingPairs]]' cluster-level consumer with the exact-duplicate
    * collapse that makes it safe on duplication-heavy corpora: identical
    * full signatures (a hamming-0 clique — quadratic as a pair list)
    * survive as ONE representative (min id per signature group), the
    * banded self-join runs over DISTINCT signatures only (bounded by
    * near-miss structure, not duplication factor), connected components
    * run on rep-level pairs, and members lift back through their
    * representative. Result-identical to clustering the item-level pair
    * list — hamming depends only on the signatures, so rep pairs reach
    * exactly the components item pairs would, and cluster_id = min rep
    * id = min member id since each rep is its group's min (pinned
    * against the uncollapsed form in MultimodalSpec). Output one row
    * per cluster: (cluster_id, n_members, keeper_id); singletons —
    * unique signature, no near pair — carry no dedup decision and are
    * excluded, matching the pair-list consumer they replace.
    */
  def hammingClusters(sigs: DataFrame,
                      chunkCols: Seq[String] = Seq("c0", "c1", "c2", "c3"),
                      maxHamming: Int = 3): DataFrame = {
    val groups = sigs.groupBy(chunkCols.map(col): _*)
      .agg(min(col("media_id")).as("rep"), count(lit(1)).as("grp_n"))
    val repPairs = hammingPairs(
      groups.select((col("rep").as("media_id") +: chunkCols.map(col)): _*),
      chunkCols, maxHamming)
    val repClusters = DupClusters.connectedComponents(repPairs)
      .select(col("id").as("rep"), col("cluster_id").as("rep_cluster"))
    sigs.join(groups, chunkCols)
      .join(repClusters, Seq("rep"), "left")
      // paired = identical-sig twin exists (grp_n > 1) or the rep
      // near-paired with another distinct signature
      .filter(col("rep_cluster").isNotNull || col("grp_n") > 1)
      .withColumn("cluster_id", coalesce(col("rep_cluster"), col("rep")))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        min(col("media_id")).as("keeper_id"))
  }

  /** Incremental cross-batch perceptual near-dup — the
    * [[graft.ops.SketchDedup.incrementalFromSketches]] shape applied
    * to the chunked fingerprints: sketch only the NEW batch, band its
    * chunks against (a) itself for intra-batch keep-first flags and
    * (b) the corpus STATE's band keys (history is never re-decoded or
    * re-hashed — only its ≤4-row-per-item chunk table joins), verify
    * candidates by exact hamming. Per batch item: `is_dup_near_batch`
    * + `batch_dup_of` (smallest earlier batch id within `maxHamming`)
    * and `is_dup_near_corpus` + `near_dup_of` (smallest corpus id).
    * Both inputs are (media_id, c0..c3); the corpus side is exactly
    * the shape a state table persists between runs.
    */
  def incrementalHammingFlags(batchSigs: DataFrame, corpusSigs: DataFrame,
                              maxHamming: Int = 3): DataFrame = {
    val chunkCols = Seq("c0", "c1", "c2", "c3")
    def bands(df: DataFrame, idAs: String) =
      chunkCols.zipWithIndex.map { case (c, j) =>
          df.select(col("media_id").as(idAs), lit(j).as("j"), col(c).as("ck")) }
        .reduce(_ unionByName _)
    def ham = chunkCols.map(c =>
      bit_count(col(s"sa.$c").bitwiseXOR(col(s"sb.$c")))).reduce(_ + _)
    def verified(cands: DataFrame, otherSigs: DataFrame,
                 otherId: String): DataFrame =
      cands
        .join(batchSigs.as("sa"), col("id") === col("sa.media_id"))
        .join(otherSigs.as("sb"), col(otherId) === col("sb.media_id"))
        .filter(ham <= maxHamming)
        .groupBy("id").agg(min(col(otherId)).as(s"min_$otherId"))
    val bandedNew = bands(batchSigs, "id")
    val intraCands = bandedNew
      .join(bands(batchSigs, "batch_id"), Seq("j", "ck"))
      .filter(col("batch_id") < col("id"))
      .select("id", "batch_id").distinct()
    val intra = verified(intraCands, batchSigs, "batch_id")
    val corpusCands = bandedNew
      .join(bands(corpusSigs, "corpus_id"), Seq("j", "ck"))
      .select("id", "corpus_id").distinct()
    val corpus = verified(corpusCands, corpusSigs, "corpus_id")
    batchSigs.select("media_id")
      .join(intra.withColumnRenamed("id", "__i"),
        col("media_id") === col("__i"), "left")
      .withColumn("is_dup_near_batch", col("__i").isNotNull)
      .withColumnRenamed("min_batch_id", "batch_dup_of")
      .drop("__i")
      .join(corpus.withColumnRenamed("id", "__c"),
        col("media_id") === col("__c"), "left")
      .withColumn("is_dup_near_corpus", col("__c").isNotNull)
      .withColumnRenamed("min_corpus_id", "near_dup_of")
      .drop("__c")
  }

  def dHashChunks(w: Int, h: Int, rgb: Array[Byte]): Array[Int] = {
    val s = Array.ofDim[Long](8, 9)
    val n = Array.ofDim[Long](8, 9)
    var y = 0
    while (y < h) {
      val by = (8 * y + 7) / h
      var x = 0
      while (x < w) {
        val bx = (9 * x + 8) / w
        val p = (y * w + x) * 3
        s(by)(bx) += 299L * (rgb(p) & 0xff) +
          587L * (rgb(p + 1) & 0xff) + 114L * (rgb(p + 2) & 0xff)
        n(by)(bx) += 1
        x += 1
      }
      y += 1
    }
    val chunks = new Array[Int](4)
    var k = 0
    while (k < 64) {
      val r = k / 8
      val c = k % 8
      if (crossGt(s(r)(c + 1), n(r)(c), s(r)(c), n(r)(c + 1)))
        chunks(k / 16) |= 1 << (k % 16)
      k += 1
    }
    chunks
  }
}
