package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Multimodal

/** Multimodal binary-column queries (builder brief): the synthetic media
  * view derives deterministically from the documents table (UTF-8 bytes
  * as payload), so every metadata/explode shape is DuckDB-checkable;
  * the features query additionally runs REAL PNG/BMP/PPM payloads
  * through the JVM-pure [[graft.ops.ImageCodec]] decode path.
  */
object MultimodalQueries {

  private def media(s: SparkSession, dir: String): DataFrame =
    Multimodal.syntheticMedia(Tables.documents(s, dir))

  // ---- q_media_meta: per-kind metadata aggregates ------------------------

  def mediaMeta(s: SparkSession, dir: String): DataFrame =
    media(s, dir).groupBy("kind").agg(
      count(lit(1)).as("n_media"),
      sum(length(col("content"))).as("total_bytes"),
      avg(col("n_frames")).as("avg_frames"),
      max(col("width")).as("max_width"))

  val mediaMetaSql: String =
    """WITH m AS (
      |  SELECT ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
      |         octet_length(encode(text)) AS blen
      |  FROM documents),
      |k AS (SELECT kind, blen, blen % 120 + 1 AS n_frames,
      |             blen % 640 + 1 AS width FROM m)
      |SELECT kind, CAST(count(*) AS BIGINT) AS n_media,
      |       CAST(sum(blen) AS BIGINT) AS total_bytes,
      |       avg(n_frames) AS avg_frames,
      |       CAST(max(width) AS INT) AS max_width
      |FROM k GROUP BY kind""".stripMargin

  // ---- q_aspect_bucket: SDXL-style aspect-ratio bucketing ----------------

  def aspectBucket(s: SparkSession, dir: String): DataFrame =
    Multimodal.aspectBucket(media(s, dir))

  val aspectBucketSql: String = {
    val buckets = Multimodal.AspectBuckets.zipWithIndex
      .map { case ((w, h), i) => s"($i,$w,$h)" }.mkString(",")
    s"""WITH m AS (
       |  SELECT doc_id AS media_id,
       |         ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
       |         octet_length(encode(text)) AS blen
       |  FROM documents),
       |i AS (SELECT media_id, blen % 640 + 1 AS width, blen % 480 + 1 AS height
       |      FROM m WHERE kind = 'image' AND blen IS NOT NULL),
       |b AS (SELECT * FROM (VALUES $buckets) AS t(idx, bw, bh)),
       |d AS (SELECT i.media_id, i.width, i.height, b.idx, b.bw, b.bh,
       |    greatest(
       |      (CAST(i.width AS DOUBLE) / CAST(i.height AS DOUBLE))
       |        / (CAST(b.bw AS DOUBLE) / CAST(b.bh AS DOUBLE)),
       |      (CAST(b.bw AS DOUBLE) / CAST(b.bh AS DOUBLE))
       |        / (CAST(i.width AS DOUBLE) / CAST(i.height AS DOUBLE))) AS dist
       |  FROM i CROSS JOIN b),
       |r AS (SELECT *, row_number() OVER (PARTITION BY media_id
       |        ORDER BY dist, idx) AS rn FROM d)
       |SELECT media_id, CAST(width AS INT) AS width, CAST(height AS INT) AS height,
       |  CAST(bw AS INT) AS bucket_w, CAST(bh AS INT) AS bucket_h
       |FROM r WHERE rn = 1""".stripMargin
  }

  // ---- q_frame_sample: strided frame indices per video -------------------

  def frameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(media(s, dir), maxFrames = 8)

  val frameSampleSql: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id, octet_length(encode(text)) AS blen
      |  FROM documents WHERE doc_id % 3 = 2),
      |v AS (SELECT media_id, blen % 120 + 1 AS n_frames,
      |             CAST(ceil((blen % 120 + 1) / 8.0) AS BIGINT) AS stride
      |      FROM m)
      |SELECT media_id, CAST(n_frames AS INT) AS n_frames,
      |       p AS sample_pos, p * stride AS frame_idx
      |FROM v, LATERAL (
      |  SELECT unnest(generate_series(0, (n_frames - 1) // stride)) AS p)""".stripMargin

  // ---- q_media_dedup: binary content-hash dedup --------------------------

  /** Exact dedup over the opaque binary column: md5 the payload bytes
    * (never decode), keep-first by media_id, report per-kind totals.
    * The same shape dedups raw image/audio blobs at 100 TB — the hash
    * is computed in the scan pass and only (hash, id) ever shuffles,
    * not the payload.
    */
  def mediaDedup(s: SparkSession, dir: String): DataFrame =
    media(s, dir)
      .select(col("kind"), col("media_id"), md5(col("content")).as("content_md5"))
      .groupBy("kind", "content_md5")
      .agg(count(lit(1)).as("n_copies"), min("media_id").as("kept_id"))
      .groupBy("kind")
      .agg(count(lit(1)).as("n_unique"),
        sum("n_copies").as("n_media"),
        sum(col("n_copies") - 1).as("n_dropped"))

  val mediaDedupSql: String =
    """WITH m AS (
      |  SELECT ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
      |         doc_id AS media_id, md5(text) AS content_md5
      |  FROM documents),
      |g AS (SELECT kind, content_md5, count(*) AS n_copies
      |      FROM m GROUP BY 1, 2)
      |SELECT kind, CAST(count(*) AS BIGINT) AS n_unique,
      |  CAST(sum(n_copies) AS BIGINT) AS n_media,
      |  CAST(sum(n_copies - 1) AS BIGINT) AS n_dropped
      |FROM g GROUP BY kind""".stripMargin

  // ---- q_audio_chunks: byte-window boundaries per audio clip -------------

  def audioChunks(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioChunks(media(s, dir), chunkSeconds = 10)

  val audioChunksSql: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes
      |  FROM documents WHERE doc_id % 3 = 1),
      |a AS (SELECT media_id, n_bytes,
      |             (n_bytes % 8 + 1) * 4 * 2 * 10 AS chunk_bytes FROM m)
      |SELECT media_id, c AS chunk_idx, c * chunk_bytes AS byte_offset,
      |       least(chunk_bytes, n_bytes - c * chunk_bytes) AS chunk_len
      |FROM a, LATERAL (
      |  SELECT unnest(generate_series(0,
      |    greatest(n_bytes - 1, 0) // chunk_bytes)) AS c)""".stripMargin

  // ---- q_media_decode: ORACLE-CHECKED real decode -----------------------

  /** The end-to-end check the stubbed era could not make: document bytes
    * are wrapped into genuine rotating PNG/BMP/PPM payloads
    * ([[graft.ops.Multimodal.syntheticImages]]), decoded back by the
    * JVM-pure codec on executors, and the DECODED facts — container
    * format sniffed from magic bytes, pixel dimensions — must equal
    * what DuckDB derives arithmetically from the text byte length and
    * the documented encoder layout (8-wide RGB, height
    * max(1, min(64, ceil(bytes/24)))). A wrong scanline unfilter, a
    * header-endianness slip, or a broken format rotation all surface
    * as a hash mismatch here.
    */
  def mediaDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeMeta(
        Multimodal.syntheticImages(Tables.documents(s, dir)))
      .toDF()
      .select(col("media_id"), col("format"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("channels").cast("long").as("channels"))

  val mediaDecodeSql: String =
    """SELECT doc_id AS media_id,
      |  CASE (doc_id // 3) % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp'
      |    ELSE 'ppm' END AS format,
      |  CAST(8 AS BIGINT) AS width,
      |  CAST(greatest(1, least(64,
      |    (octet_length(encode(coalesce(text, ''))) + 23) // 24)) AS BIGINT) AS height,
      |  CAST(3 AS BIGINT) AS channels
      |FROM documents WHERE doc_id % 3 = 0""".stripMargin

  // ---- q_media_decode_jpeg: ORACLE-CHECKED baseline JPEG decode ---------

  /** Same contract as q_media_decode but through the hand-rolled
    * baseline JPEG decoder ([[graft.ops.JpegCodec]]): payloads rotate
    * 4:4:4 / 4:2:0 / grayscale by doc id, and the oracle derives the
    * expected format/dims/channels arithmetically from the text byte
    * length and the documented encoder layout. Pixels are lossy;
    * width/height/channels are exact header facts — a broken Huffman
    * walk, a wrong MCU geometry, or a failed sampling-factor path all
    * surface as an "undecodable" row and a hash mismatch here.
    */
  def mediaDecodeJpeg(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeMeta(
        Multimodal.syntheticJpegImages(Tables.documents(s, dir)))
      .toDF()
      .select(col("media_id"), col("format"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("channels").cast("long").as("channels"))

  val mediaDecodeJpegSql: String =
    """SELECT doc_id AS media_id,
      |  'jpeg' AS format,
      |  CAST(8 AS BIGINT) AS width,
      |  CAST(greatest(1, least(64,
      |    (octet_length(encode(coalesce(text, ''))) + 23) // 24)) AS BIGINT) AS height,
      |  CAST(CASE WHEN (doc_id // 3) % 3 = 2 THEN 1 ELSE 3 END AS BIGINT) AS channels
      |FROM documents WHERE doc_id % 3 = 0""".stripMargin

  // ---- q_media_decode_prog: ORACLE-CHECKED progressive JPEG decode ------

  /** Progressive (SOF2) sibling of q_media_decode_jpeg: payloads are
    * encoded by the JDK's ImageIO progressive writer — an encoder
    * sharing NO code with the decoder under test — and decoded back by
    * [[graft.ops.JpegCodec]]'s multi-scan path (spectral selection,
    * successive approximation, EOB runs), rotating color/grayscale by
    * doc id. The oracle replays format/dims/channels arithmetically
    * from the text byte length and the documented 8-wide grid; a
    * broken refinement pass, EOB-run slip, or failed scan handoff
    * leaves rows "undecodable" and fails the hash.
    */
  def mediaDecodeProg(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeMeta(
        Multimodal.syntheticProgressiveJpegImages(Tables.documents(s, dir)))
      .toDF()
      .select(col("media_id"), col("format"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("channels").cast("long").as("channels"))

  val mediaDecodeProgSql: String =
    """SELECT doc_id AS media_id,
      |  'jpeg' AS format,
      |  CAST(8 AS BIGINT) AS width,
      |  CAST(greatest(1, least(64,
      |    (octet_length(encode(coalesce(text, ''))) + 23) // 24)) AS BIGINT) AS height,
      |  CAST(CASE WHEN (doc_id // 3) % 2 = 1 THEN 1 ELSE 3 END AS BIGINT) AS channels
      |FROM documents WHERE doc_id % 3 = 0""".stripMargin

  // ---- q_media_decode_gif: ORACLE-CHECKED GIF decode --------------------

  /** GIF sibling of q_media_decode, with the strongest evidence class:
    * GIF is lossless over palette indices, so beyond header facts the
    * query returns POSITION-WEIGHTED sums over the DECODED RGB pixels
    * (sum of (p+1)·channel over row-major positions p), which DuckDB
    * reproduces arithmetically from the text bytes and the documented
    * fixture layout (pixel p = palette[text_byte p mod len], palette
    * entry i = (i, 7i%256, 13i%256), 8-wide, bytes tiled). The
    * position weighting makes the check ORDER-SENSITIVE: payloads
    * alternate sequential/interlaced row order by doc id, so a broken
    * LZW walk, sub-block framing slip, or wrong deinterlace pass order
    * shifts pixels to wrong positions and fails the hash — a plain sum
    * (order-invariant) could not see that. Corpus is ASCII, so
    * DuckDB's per-character ord() equals the UTF-8 byte the encoder
    * tiled (same assumption the sibling oracles already lean on).
    */
  def mediaDecodeGif(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    Multimodal.syntheticGifImages(Tables.documents(s, dir))
      .select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        graft.ops.ImageCodec.decode(bytes) match {
          case Some(img) =>
            var wr = 0L; var wg = 0L; var wb = 0L
            var p = 0
            val n = img.width * img.height
            while (p < n) {
              wr += (p + 1).toLong * (img.pixels(p * 3) & 0xff)
              wg += (p + 1).toLong * (img.pixels(p * 3 + 1) & 0xff)
              wb += (p + 1).toLong * (img.pixels(p * 3 + 2) & 0xff)
              p += 1
            }
            (id, "gif", img.width.toLong, img.height.toLong,
              img.channels.toLong, wr, wg, wb)
          case None => (id, "undecodable", 0L, 0L, 0L, 0L, 0L, 0L)
        }
      }
      .toDF("media_id", "format", "width", "height", "channels",
        "wsum_r", "wsum_g", "wsum_b")
  }

  val mediaDecodeGifSql: String =
    """WITH d AS (SELECT doc_id, coalesce(text, '') AS t,
      |  octet_length(encode(coalesce(text, ''))) AS blen
      | FROM documents WHERE doc_id % 3 = 0),
      |dims AS (SELECT doc_id, t, blen,
      |  greatest(1, least(64, (blen + 7) // 8)) AS h FROM d),
      |pos AS (SELECT doc_id, h, t, blen,
      |  unnest(range(0, 8 * h)) AS p FROM dims),
      |px AS (SELECT doc_id, h, p,
      |  CASE WHEN blen = 0 THEN 0
      |       ELSE ord(substr(t, CAST(p % blen AS INT) + 1, 1)) END AS v
      | FROM pos)
      |SELECT doc_id AS media_id, 'gif' AS format,
      |  CAST(8 AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  CAST(3 AS BIGINT) AS channels,
      |  CAST(sum((p + 1) * v) AS BIGINT) AS wsum_r,
      |  CAST(sum((p + 1) * ((7 * v) % 256)) AS BIGINT) AS wsum_g,
      |  CAST(sum((p + 1) * ((13 * v) % 256)) AS BIGINT) AS wsum_b
      |FROM px GROUP BY doc_id, h""".stripMargin

  // ---- q_media_decode_qoi: ORACLE-CHECKED QOI decode --------------------

  /** QOI sibling of q_media_decode_gif, same evidence class: QOI is
    * lossless, so the query emits position-weighted sums over DECODED
    * RGB pixels, which DuckDB reproduces arithmetically from the text
    * bytes and the documented fixture layout (pixel p =
    * (v, 7v%256, 13v%256) for tiled byte v, 8-wide). Text tiling makes
    * real corpora hit every QOI op (runs from repeats, INDEX from
    * recurring colors, DIFF/LUMA from near bytes, RGB for jumps), and
    * the position weighting is order-sensitive: a run-length slip, a
    * stale recent-color slot, or wrong wrapping arithmetic shifts
    * pixels and fails the hash.
    */
  def mediaDecodeQoi(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    Multimodal.syntheticQoiImages(Tables.documents(s, dir))
      .select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        graft.ops.ImageCodec.decode(bytes) match {
          case Some(img) =>
            var wr = 0L; var wg = 0L; var wb = 0L
            var p = 0
            val n = img.width * img.height
            while (p < n) {
              wr += (p + 1).toLong * (img.pixels(p * 3) & 0xff)
              wg += (p + 1).toLong * (img.pixels(p * 3 + 1) & 0xff)
              wb += (p + 1).toLong * (img.pixels(p * 3 + 2) & 0xff)
              p += 1
            }
            (id, "qoi", img.width.toLong, img.height.toLong,
              img.channels.toLong, wr, wg, wb)
          case None => (id, "undecodable", 0L, 0L, 0L, 0L, 0L, 0L)
        }
      }
      .toDF("media_id", "format", "width", "height", "channels",
        "wsum_r", "wsum_g", "wsum_b")
  }

  // ---- q_media_neardup: perceptual (dHash) image near-duplicates --------

  /** Near-duplicate IMAGES by perceptual difference hash — the dedup
    * modality byte-hash q_media_dedup cannot see (re-encoded or
    * slightly-perturbed copies have disjoint md5s but near-identical
    * dHashes). The corpus: one real QOI image per doc (16-wide from
    * tiled text bytes, the q_media_decode_qoi pixel convention at
    * w=16/h≥8 so every dHash grid cell is populated) plus, for every
    * 5th doc, a PERTURBED twin (last tile byte +128 mod 256 — a few
    * changed pixels, the "same image, touched up" case). The engine
    * path is honest end to end: pixels → QoiCodec.encode → REAL
    * ImageCodec.decode round trip → [[Multimodal.dHashChunks]] → 4-band
    * 16-bit-chunk LSH (pigeonhole: any pair within hamming ≤ 3 shares
    * a chunk, so the banding is COMPLETE for the verify threshold,
    * never all-pairs) → exact hamming verify. The oracle rebuilds the
    * pixels arithmetically, replays the integer dHash (cross-multiplied
    * cell-average compares), and runs the same band join — a codec
    * slip, a grid off-by-one or a luma-weight typo all fail the hash.
    */
  /** The (media_id, c0..c3) IMAGE signature builder behind
    * q_media_neardup AND q_incr_media_neardup: real QOI encode → decode
    * round trip → dHash, with the perturbed twin per 5th doc.
    * Raw (unpersisted) — consumers go through [[sigSlice]].
    */
  private def imageSigsRaw(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val bytes = Option(text).getOrElse("").getBytes("UTF-8")
        val blen = bytes.length
        val w = 16
        val h = math.max(8, math.min(64, (blen + 15) / 16))
        def sigOf(mid: Long, perturb: Boolean): (Long, Int, Int, Int, Int) = {
          val px = new Array[Byte](w * h * 3)
          var p = 0
          while (p < w * h) {
            val raw = if (blen == 0) 0 else bytes(p % blen) & 0xff
            val v = if (perturb && blen > 0 && p % blen == blen - 1)
              (raw + 128) % 256 else raw
            px(p * 3) = v.toByte
            px(p * 3 + 1) = ((7 * v) % 256).toByte
            px(p * 3 + 2) = ((13 * v) % 256).toByte
            p += 1
          }
          val img = graft.ops.ImageCodec.decode(
            graft.ops.QoiCodec.encode(w, h, 3, px)).get
          val ch = Multimodal.dHashChunks(img.width, img.height, img.pixels)
          (mid, ch(0), ch(1), ch(2), ch(3))
        }
        if (id % 5 == 0) Seq(sigOf(id, false), sigOf(id + 1000000000L, true))
        else Seq(sigOf(id, false))
      }
      .toDF("media_id", "c0", "c1", "c2", "c3")
  }

  // ---- q_media_signatures: the ONE-DECODE signature stage ---------------

  /** ALL perceptual signatures from ONE decode pass (VERDICT r11 #5):
    * the image dHash, audio energy-delta and video frame-sampled dHash
    * tables unified as (modality, media_id, c0..c11) — image/audio
    * carry their 4 chunks (c4..c11 = 0), video all 12. The four near-dup
    * consumers (flat image/audio/video + incremental) read it through
    * [[sigSlice]]. Banding keys on each modality's REAL chunk columns
    * only, so the zero padding never enters a join.
    */
  def mediaSignatures(s: SparkSession, dir: String): DataFrame = {
    def wide(df: DataFrame, modality: String, chunks: Int): DataFrame =
      df.select(lit(modality).as("modality") +: col("media_id") +:
        (0 until 12).map(j =>
          (if (j < chunks) col(s"c$j").cast("long") else lit(0L)).as(s"c$j")): _*)
    wide(imageSigsRaw(s, dir), "image", 4)
      .unionByName(wide(audioSigsRaw(s, dir), "audio", 4))
      .unionByName(wide(videoSigsRaw(s, dir), "video", 12))
  }

  /** One modality's (media_id, c0..c{chunks-1}) slice of
    * [[mediaSignatures]]. Persisted — every consumer fans out over it
    * (band projections + verify sides).
    */
  private def sigSlice(s: SparkSession, dir: String, modality: String,
                       chunks: Int): DataFrame =
    graft.Persisted(mediaSignatures(s, dir).filter(col("modality") === modality)
      .select(col("media_id") +:
        (0 until chunks).map(j => col(s"c$j").cast("int").as(s"c$j")): _*))

  def mediaNearDup(s: SparkSession, dir: String): DataFrame =
    Multimodal.hammingPairs(sigSlice(s, dir, "image", 4))

  // ---- q_audio_neardup: perceptual (energy-delta) audio near-dups -------

  /** The audio member of the perceptual near-dup family (image:
    * q_media_neardup): a 64-bit energy-delta fingerprint
    * ([[Multimodal.energyHashChunks]]) over PCM decoded from REAL FLAC
    * payloads — the q_flac_decode corpus (same sample law, same
    * encoder rotation through VERBATIM/FIXED-1/FIXED-2, mid/side and
    * rice partitions) plus, for every 5th audio doc, a twin whose last
    * tile byte is shifted (+64 mod 256): a handful of touched samples,
    * the "same recording, minor edit" case that byte-hash dedup
    * misses. Engine path: samples → FlacCodec.encodeFlac16 → REAL
    * FlacCodec.decode round trip → fingerprint → the shared
    * pigeonhole-complete 4-band hamming machinery. The oracle rebuilds
    * the samples arithmetically and replays frames, energies, bits,
    * banding and verify in exact BIGINTs.
    */
  private def audioSigsRaw(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    Tables.documents(s, dir)
      .filter(col("doc_id") % 3 === 1)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val bytes = Option(text).getOrElse("").getBytes("UTF-8")
        val blen = bytes.length
        val nFrames = (blen % 3000) + 200
        val channels = ((id / 3) % 2 + 1).toInt
        val rate = ((id / 3) % 3) match {
          case 0 => 8000
          case 1 => 16000
          case _ => 44100
        }
        def sigOf(mid: Long, perturb: Boolean): (Long, Int, Int, Int, Int) = {
          val n = nFrames * channels
          val samples = new Array[Int](n)
          if (blen > 0) {
            var i = 0
            while (i < n) {
              var b = bytes(i % blen) & 0xff
              if (perturb && i % blen == blen - 1) b = (b + 64) % 256
              samples(i) = (b - 128) * 64
              i += 1
            }
          }
          val rot = (id / 3).toInt
          val payload = graft.ops.FlacCodec.encodeFlac16(rate, channels,
            samples, subframe = rot % 3, midSide = rot % 4 >= 2,
            partitions2 = rot % 2 == 0)
          val d = graft.ops.FlacCodec.decode(payload).get
          val ch = Multimodal.energyHashChunks(d.samples)
          (mid, ch(0), ch(1), ch(2), ch(3))
        }
        if (id % 5 == 0) Seq(sigOf(id, false), sigOf(id + 1000000000L, true))
        else Seq(sigOf(id, false))
      }
      .toDF("media_id", "c0", "c1", "c2", "c3")
  }

  def audioNearDup(s: SparkSession, dir: String): DataFrame =
    Multimodal.hammingPairs(sigSlice(s, dir, "audio", 4))

  /** Shared oracle fragment: the pixel/cell/chunk replay up to the
    * pivoted `sig(media_id, c0..c3)` table (materialized — both the
    * flat and incremental oracles fan out over it).
    */
  private val mediaSigCtesSql: String =
    """d AS (SELECT doc_id, coalesce(text, '') AS t,
      |  octet_length(encode(coalesce(text, ''))) AS blen
      | FROM documents),
      |m AS (
      |  SELECT doc_id AS media_id, t, blen, 0 AS perturb,
      |    greatest(8, least(64, (blen + 15) // 16)) AS h FROM d
      |  UNION ALL
      |  SELECT doc_id + 1000000000 AS media_id, t, blen, 1 AS perturb,
      |    greatest(8, least(64, (blen + 15) // 16)) AS h
      |  FROM d WHERE doc_id % 5 = 0),
      |px AS (SELECT media_id, h, p,
      |  CASE WHEN blen > 0 AND perturb = 1 AND p % blen = blen - 1
      |       THEN (ord(substr(t, CAST(p % blen AS INT) + 1, 1)) + 128) % 256
      |       WHEN blen = 0 THEN 0
      |       ELSE ord(substr(t, CAST(p % blen AS INT) + 1, 1)) END AS v
      | FROM (SELECT media_id, h, t, blen, perturb,
      |         unnest(range(0, 16 * h)) AS p FROM m) q),
      |cells AS (SELECT media_id,
      |  (8 * (p // 16) + 7) // h AS by, (9 * (p % 16) + 8) // 16 AS bx,
      |  sum(299 * v + 587 * ((7 * v) % 256) + 114 * ((13 * v) % 256)) AS s,
      |  count(*) AS n
      | FROM px GROUP BY 1, 2, 3),
      |bits AS (SELECT l.media_id, l.by * 8 + l.bx AS k,
      |  CASE WHEN r.s * l.n > l.s * r.n THEN 1 ELSE 0 END AS bit
      | FROM cells l JOIN cells r
      |   ON r.media_id = l.media_id AND r.by = l.by AND r.bx = l.bx + 1
      | WHERE l.bx < 8),
      |chunks AS (SELECT media_id, k // 16 AS j,
      |  CAST(sum(bit * (CAST(1 AS BIGINT) << (k % 16))) AS BIGINT) AS ck
      | FROM bits GROUP BY 1, 2),
      |sig AS MATERIALIZED (SELECT media_id,
      |  max(CASE WHEN j = 0 THEN ck END) AS c0,
      |  max(CASE WHEN j = 1 THEN ck END) AS c1,
      |  max(CASE WHEN j = 2 THEN ck END) AS c2,
      |  max(CASE WHEN j = 3 THEN ck END) AS c3
      | FROM chunks GROUP BY 1)""".stripMargin

  val mediaNearDupSql: String =
    s"""WITH $mediaSigCtesSql,
       |bands AS (SELECT media_id, j,
       |    CASE j WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2 ELSE c3 END AS ck
       |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j)),
       |cand AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.j = b.j AND a.ck = b.ck AND a.media_id < b.media_id)
       |SELECT c.id_a, c.id_b,
       |  CAST(bit_count(xor(sa.c0, sb.c0)) + bit_count(xor(sa.c1, sb.c1))
       |     + bit_count(xor(sa.c2, sb.c2)) + bit_count(xor(sa.c3, sb.c3))
       |    AS BIGINT) AS hamming
       |FROM cand c JOIN sig sa ON sa.media_id = c.id_a
       |            JOIN sig sb ON sb.media_id = c.id_b
       |WHERE bit_count(xor(sa.c0, sb.c0)) + bit_count(xor(sa.c1, sb.c1))
       |    + bit_count(xor(sa.c2, sb.c2)) + bit_count(xor(sa.c3, sb.c3)) <= 3""".stripMargin

  // ---- q_incr_media_neardup: cross-batch perceptual state join ----------

  /** The incremental member of the perceptual family — the
    * q_incr_neardup shape over dHash signatures
    * ([[Multimodal.incrementalHammingFlags]]): docs with
    * media_id mod 7 = 3 (twins riding with their originals) play the
    * NEW batch; everything else is the corpus STATE, whose history is
    * never re-decoded — only its chunk table joins. Per batch item:
    * keep-first intra-batch flags and smallest-corpus-id lineage.
    */
  def incrMediaNearDup(s: SparkSession, dir: String): DataFrame = {
    val sigs = sigSlice(s, dir, "image", 4)
    val isBatch = pmod(pmod(col("media_id"), lit(10000000L)), lit(7L)) === 3
    Multimodal.incrementalHammingFlags(
      sigs.filter(isBatch), sigs.filter(!isBatch))
  }

  val incrMediaNearDupSql: String =
    s"""WITH $mediaSigCtesSql,
       |nb AS (SELECT * FROM sig WHERE (media_id % 10000000) % 7 = 3),
       |st AS (SELECT * FROM sig WHERE (media_id % 10000000) % 7 <> 3),
       |bn AS (SELECT media_id, j,
       |    CASE j WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2 ELSE c3 END AS ck
       |  FROM nb CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j)),
       |bs AS (SELECT media_id, j,
       |    CASE j WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2 ELSE c3 END AS ck
       |  FROM st CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j)),
       |ic AS (SELECT DISTINCT a.media_id AS id, b.media_id AS batch_id
       |  FROM bn a JOIN bn b
       |    ON a.j = b.j AND a.ck = b.ck AND b.media_id < a.media_id),
       |intra AS (SELECT c.id, min(c.batch_id) AS batch_dup_of
       |  FROM ic c JOIN nb sa ON sa.media_id = c.id
       |            JOIN nb sb ON sb.media_id = c.batch_id
       |  WHERE bit_count(xor(sa.c0, sb.c0)) + bit_count(xor(sa.c1, sb.c1))
       |      + bit_count(xor(sa.c2, sb.c2)) + bit_count(xor(sa.c3, sb.c3)) <= 3
       |  GROUP BY c.id),
       |cc AS (SELECT DISTINCT a.media_id AS id, b.media_id AS corpus_id
       |  FROM bn a JOIN bs b ON a.j = b.j AND a.ck = b.ck),
       |corp AS (SELECT c.id, min(c.corpus_id) AS near_dup_of
       |  FROM cc c JOIN nb sa ON sa.media_id = c.id
       |            JOIN st sb ON sb.media_id = c.corpus_id
       |  WHERE bit_count(xor(sa.c0, sb.c0)) + bit_count(xor(sa.c1, sb.c1))
       |      + bit_count(xor(sa.c2, sb.c2)) + bit_count(xor(sa.c3, sb.c3)) <= 3
       |  GROUP BY c.id)
       |SELECT nb.media_id,
       |  intra.batch_dup_of IS NOT NULL AS is_dup_near_batch,
       |  intra.batch_dup_of,
       |  corp.near_dup_of IS NOT NULL AS is_dup_near_corpus,
       |  corp.near_dup_of
       |FROM nb LEFT JOIN intra ON intra.id = nb.media_id
       |        LEFT JOIN corp ON corp.id = nb.media_id""".stripMargin

  // ---- q_video_neardup: perceptual (frame-sampled dHash) video dups -----

  /** The VIDEO member of the perceptual near-dup family — frame-sampled
    * dHash: decode the animation (REAL GifCodec.encodeGifAnim →
    * decodeFrames round trip, composited canvases), sample three
    * frames (first, middle nf/2, last), dHash each, and concatenate —
    * a 192-bit signature in twelve 16-bit chunks through the shared
    * [[Multimodal.hammingPairs]] machinery (12 bands make the
    * hamming ≤ 3 verify pigeonhole-complete with room to spare). The
    * corpus is the q_video_frames law scaled to a 16×16 canvas (dHash
    * needs ≥9×8): nf = 2 + id mod 3 full-canvas frames, palette index
    * at raster p of frame f = (id·31 + f·17 + p·5) mod 256, the
    * GifPalette arithmetic (i, 7i, 13i mod 256); every 5th video doc
    * plants a twin with ONE palette index changed in frame 0 — the
    * "same clip, touched frame" case byte-hash dedup misses.
    */
  private def videoSigsRaw(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val w = 16; val h = 16
    Tables.documents(s, dir)
      .filter(col("doc_id") % 3 === 2)
      .select(col("doc_id").cast("long"))
      .as[Long]
      .flatMap { id =>
        val nf = 2 + (id % 3).toInt
        def sigOf(mid: Long, perturb: Boolean): (Long, Seq[Int]) = {
          val frames = (0 until nf).map { f =>
            val idx = new Array[Byte](w * h)
            var p = 0
            while (p < idx.length) {
              var v = ((id * 31 + f * 17 + p * 5) % 256).toInt
              if (perturb && f == 0 && p == 0) v = (v + 128) % 256
              idx(p) = v.toByte
              p += 1
            }
            graft.ops.GifCodec.AnimFrame(0, 0, w, h, idx, delayCs = 4 + 2 * f)
          }
          val payload = graft.ops.GifCodec.encodeGifAnim(
            w, h, Multimodal.GifPalette, frames)
          val decoded = graft.ops.GifCodec.decodeFrames(payload).get
          val sampled = Seq(0, nf / 2, nf - 1).map(decoded(_).canvas)
          (mid, sampled.flatMap(c =>
            Multimodal.dHashChunks(c.width, c.height, c.pixels)))
        }
        val rows = if (id % 5 == 0)
          Seq(sigOf(id, false), sigOf(id + 1000000000L, true))
        else Seq(sigOf(id, false))
        rows.map { case (mid, ch) =>
          (mid, ch(0), ch(1), ch(2), ch(3), ch(4), ch(5), ch(6), ch(7),
            ch(8), ch(9), ch(10), ch(11))
        }
      }
      .toDF("media_id", "c0", "c1", "c2", "c3", "c4", "c5", "c6", "c7",
        "c8", "c9", "c10", "c11")
  }

  def videoNearDup(s: SparkSession, dir: String): DataFrame =
    Multimodal.hammingPairs(sigSlice(s, dir, "video", 12),
      (0 until 12).map(j => s"c$j"))

  /** The video signature replay up to the TALL `sig(media_id, j, ck)`
    * (12 chunks per clip) — shared by [[videoNearDupSql]] and
    * [[mediaSignaturesSql]].
    */
  private val videoSigCtesSql: String =
    """a AS (SELECT doc_id, 2 + doc_id % 3 AS nf
      | FROM documents WHERE doc_id % 3 = 2),
      |m AS (
      |  SELECT doc_id AS media_id, doc_id AS id, nf, 0 AS perturb FROM a
      |  UNION ALL
      |  SELECT doc_id + 1000000000 AS media_id, doc_id AS id, nf, 1 AS perturb
      |  FROM a WHERE doc_id % 5 = 0),
      |px AS (SELECT media_id, s, p,
      |  CASE WHEN perturb = 1 AND f = 0 AND p = 0
      |       THEN ((id * 31 + f * 17 + p * 5) % 256 + 128) % 256
      |       ELSE (id * 31 + f * 17 + p * 5) % 256 END AS v
      | FROM (SELECT media_id, id, perturb, s,
      |         CASE s WHEN 0 THEN 0 WHEN 1 THEN nf // 2 ELSE nf - 1 END AS f,
      |         unnest(range(0, 256)) AS p
      |       FROM m CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS s)) q),
      |cells AS (SELECT media_id, s,
      |  (8 * (p // 16) + 7) // 16 AS by, (9 * (p % 16) + 8) // 16 AS bx,
      |  sum(299 * v + 587 * ((7 * v) % 256) + 114 * ((13 * v) % 256)) AS e,
      |  count(*) AS n
      | FROM px GROUP BY 1, 2, 3, 4),
      |bits AS (SELECT l.media_id, l.s * 64 + l.by * 8 + l.bx AS k,
      |  CASE WHEN r.e * l.n > l.e * r.n THEN 1 ELSE 0 END AS bit
      | FROM cells l JOIN cells r
      |   ON r.media_id = l.media_id AND r.s = l.s AND r.by = l.by
      |     AND r.bx = l.bx + 1
      | WHERE l.bx < 8),
      |chunks AS (SELECT media_id, k // 16 AS j,
      |  CAST(sum(bit * (CAST(1 AS BIGINT) << (k % 16))) AS BIGINT) AS ck
      | FROM bits GROUP BY 1, 2),
      |sig AS MATERIALIZED (SELECT media_id, j, ck FROM chunks)""".stripMargin

  val videoNearDupSql: String =
    s"""WITH $videoSigCtesSql,
      |cand AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
      |  FROM sig a JOIN sig b
      |    ON a.j = b.j AND a.ck = b.ck AND a.media_id < b.media_id),
      |ham AS (SELECT c.id_a, c.id_b,
      |  CAST(sum(bit_count(xor(sa.ck, sb.ck))) AS BIGINT) AS hamming
      | FROM cand c
      |   JOIN sig sa ON sa.media_id = c.id_a
      |   JOIN sig sb ON sb.media_id = c.id_b AND sb.j = sa.j
      | GROUP BY 1, 2)
      |SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3""".stripMargin

  // ---- q_media_dupclusters: perceptual pairs -> dedup clusters ----------

  /** Close the image-dedup loop: perceptual near-dup pairs through
    * [[graft.ops.DupClusters.connectedComponents]] (a touched-up copy
    * of a touched-up copy must collapse into ONE cluster even when the
    * endpoints never paired directly), then the per-cluster dedup
    * artifact — size + keeper (min media_id, the keep-first policy).
    * Only paired media appear: singletons need no dedup decision.
    *
    * Scale shape — exact-duplicate collapse BEFORE the banded join.
    * The item-level pair list (q_media_neardup's contract) is
    * inherently quadratic in exact-duplicate cluster size: B identical
    * signatures in a band bucket emit B²/2 pairs, and the same image
    * replicated 10⁵ times across a web crawl is normal — the r14
    * 1000x sweep OOMed exactly here. Clustering never needs those
    * intra-clique pairs: identical full signatures are a hamming-0
    * clique whose membership survives as one representative (min id
    * per signature group), the banded self-join runs over DISTINCT
    * signatures only (bounded by near-miss structure, not duplication
    * factor), and members lift back through their representative.
    * Result-identical to clustering the item-level list — hamming
    * depends only on the signatures, so rep-level pairs reach exactly
    * the components item pairs would, and cluster_id = min rep id =
    * min member id since each rep is its group's min (the DuckDB
    * oracle still replays the item-level definition, unchanged).
    */
  def mediaDupClusters(s: SparkSession, dir: String): DataFrame =
    Multimodal.hammingClusters(sigSlice(s, dir, "image", 4))

  val mediaDupClustersSql: String =
    s"""WITH RECURSIVE pairs AS ($mediaNearDupSql),
       |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |      UNION SELECT id_b, id_a FROM pairs),
       |reach(id, lab) AS (
       |  SELECT src, src FROM e
       |  UNION
       |  SELECT e.src, reach.lab FROM e JOIN reach ON e.dst = reach.id),
       |c AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id)
       |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
       |  CAST(min(id) AS BIGINT) AS keeper_id
       |FROM c GROUP BY cluster_id""".stripMargin

  /** The audio signature replay up to the pivoted
    * `sig(media_id, c0..c3)` — shared by [[audioNearDupSql]] and
    * [[mediaSignaturesSql]].
    */
  private val audioSigCtesSql: String =
    """a AS (SELECT doc_id, coalesce(text, '') AS t,
      |  octet_length(encode(coalesce(text, ''))) AS len,
      |  ((octet_length(encode(coalesce(text, ''))) % 3000) + 200)
      |    * ((doc_id // 3) % 2 + 1) AS n
      | FROM documents WHERE doc_id % 3 = 1),
      |m AS (
      |  SELECT doc_id AS media_id, t, len, n, 0 AS perturb FROM a
      |  UNION ALL
      |  SELECT doc_id + 1000000000 AS media_id, t, len, n, 1 AS perturb
      |  FROM a WHERE doc_id % 5 = 0),
      |v AS (SELECT media_id, n, p,
      |  CASE WHEN len = 0 THEN 0 ELSE
      |    ((CASE WHEN perturb = 1 AND p % len = len - 1
      |       THEN (ord(substr(t, CAST(p % len AS INT) + 1, 1)) + 64) % 256
      |       ELSE ord(substr(t, CAST(p % len AS INT) + 1, 1)) END) - 128) * 64
      |  END AS smp
      | FROM (SELECT media_id, t, len, n, perturb,
      |         unnest(range(0, n)) AS p FROM m) q),
      |frames AS (SELECT media_id, (65 * p + 64) // n AS f,
      |  sum(smp * smp) AS e, count(*) AS cnt
      | FROM v GROUP BY 1, 2),
      |bits AS (SELECT l.media_id, l.f AS k,
      |  CASE WHEN r.e * l.cnt > l.e * r.cnt THEN 1 ELSE 0 END AS bit
      | FROM frames l JOIN frames r
      |   ON r.media_id = l.media_id AND r.f = l.f + 1
      | WHERE l.f < 64),
      |chunks AS (SELECT media_id, k // 16 AS j,
      |  CAST(sum(bit * (CAST(1 AS BIGINT) << (k % 16))) AS BIGINT) AS ck
      | FROM bits GROUP BY 1, 2),
      |sig AS MATERIALIZED (SELECT media_id,
      |  max(CASE WHEN j = 0 THEN ck END) AS c0,
      |  max(CASE WHEN j = 1 THEN ck END) AS c1,
      |  max(CASE WHEN j = 2 THEN ck END) AS c2,
      |  max(CASE WHEN j = 3 THEN ck END) AS c3
      | FROM chunks GROUP BY 1)""".stripMargin

  val audioNearDupSql: String =
    s"""WITH $audioSigCtesSql,
      |bands AS (SELECT media_id, j,
      |    CASE j WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2 ELSE c3 END AS ck
      |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j)),
      |cand AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
      |  FROM bands a JOIN bands b
      |    ON a.j = b.j AND a.ck = b.ck AND a.media_id < b.media_id)
      |SELECT c.id_a, c.id_b,
      |  CAST(bit_count(xor(sa.c0, sb.c0)) + bit_count(xor(sa.c1, sb.c1))
      |     + bit_count(xor(sa.c2, sb.c2)) + bit_count(xor(sa.c3, sb.c3))
      |    AS BIGINT) AS hamming
      |FROM cand c JOIN sig sa ON sa.media_id = c.id_a
      |            JOIN sig sb ON sb.media_id = c.id_b
      |WHERE bit_count(xor(sa.c0, sb.c0)) + bit_count(xor(sa.c1, sb.c1))
      |    + bit_count(xor(sa.c2, sb.c2)) + bit_count(xor(sa.c3, sb.c3)) <= 3""".stripMargin

  /** Oracle of the one-decode signature stage: each modality's sig
    * chain replayed in its own WITH-wrapped derived table (distinct
    * CTE namespaces — the three chains reuse names), image/audio
    * padded to the 12-chunk schema, video pivoted wide.
    */
  val mediaSignaturesSql: String = {
    val zeros = (4 to 11).map(j => s"CAST(0 AS BIGINT) AS c$j").mkString(", ")
    val vidWide = (0 to 11).map(j =>
      s"max(CASE WHEN j = $j THEN ck END) AS c$j").mkString(",\n|    ")
    s"""SELECT 'image' AS modality, media_id, c0, c1, c2, c3, $zeros
       |FROM (WITH $mediaSigCtesSql SELECT * FROM sig)
       |UNION ALL
       |SELECT 'audio' AS modality, media_id, c0, c1, c2, c3, $zeros
       |FROM (WITH $audioSigCtesSql SELECT * FROM sig)
       |UNION ALL
       |SELECT 'video' AS modality, media_id,
       |    $vidWide
       |FROM (WITH $videoSigCtesSql SELECT * FROM sig)
       |GROUP BY media_id""".stripMargin
  }

  val mediaDecodeQoiSql: String =
    """WITH d AS (SELECT doc_id, coalesce(text, '') AS t,
      |  octet_length(encode(coalesce(text, ''))) AS blen
      | FROM documents),
      |dims AS (SELECT doc_id, t, blen,
      |  greatest(1, least(64, (blen + 7) // 8)) AS h FROM d),
      |pos AS (SELECT doc_id, h, t, blen,
      |  unnest(range(0, 8 * h)) AS p FROM dims),
      |px AS (SELECT doc_id, h, p,
      |  CASE WHEN blen = 0 THEN 0
      |       ELSE ord(substr(t, CAST(p % blen AS INT) + 1, 1)) END AS v
      | FROM pos)
      |SELECT doc_id AS media_id, 'qoi' AS format,
      |  CAST(8 AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  CAST(3 AS BIGINT) AS channels,
      |  CAST(sum((p + 1) * v) AS BIGINT) AS wsum_r,
      |  CAST(sum((p + 1) * ((7 * v) % 256)) AS BIGINT) AS wsum_g,
      |  CAST(sum((p + 1) * ((13 * v) % 256)) AS BIGINT) AS wsum_b
      |FROM px GROUP BY doc_id, h""".stripMargin

  /** Video sibling of q_media_decode: ANIMATED decode. Video-labeled
    * documents become real multi-frame GIF89a payloads
    * ([[graft.ops.Multimodal.syntheticVideos]]); the engine walks
    * every image block through [[graft.ops.GifCodec.decodeFrames]]
    * (graphic-control extensions, LZW per frame, canvas composition)
    * and emits one row per COMPOSITED frame — frame count, the
    * per-frame delay parsed from the GCE, and position-weighted
    * channel sums over the composited canvas pixels. DuckDB
    * reproduces all of it arithmetically from the documented fixture
    * formula (index p of frame f = (id·31 + f·17 + p·5) mod 256
    * through the fixed palette), so a dropped frame, a mis-parsed
    * delay, or any pixel landing at the wrong position is a hash
    * mismatch. This makes frame sampling downstream a REAL decoded
    * path, like image and audio.
    */
  def videoFrames(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    Multimodal.syntheticVideos(Tables.documents(s, dir))
      .select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        graft.ops.GifCodec.decodeFrames(bytes) match {
          case Some(frames) => frames.map { fr =>
            val img = fr.canvas
            var wr = 0L; var wg = 0L; var wb = 0L
            var p = 0
            val n = img.width * img.height
            while (p < n) {
              wr += (p + 1).toLong * (img.pixels(p * 3) & 0xff)
              wg += (p + 1).toLong * (img.pixels(p * 3 + 1) & 0xff)
              wb += (p + 1).toLong * (img.pixels(p * 3 + 2) & 0xff)
              p += 1
            }
            (id, frames.size.toLong, fr.frameIdx.toLong,
              fr.delayCs.toLong, img.width.toLong, img.height.toLong,
              wr, wg, wb)
          }
          case None => Seq((id, 0L, -1L, 0L, 0L, 0L, 0L, 0L, 0L))
        }
      }
      .toDF("media_id", "n_frames", "frame_idx", "delay_cs",
        "width", "height", "wsum_r", "wsum_g", "wsum_b")
  }

  val videoFramesSql: String =
    """WITH v AS (SELECT doc_id, 1 + (doc_id % 4) AS nf
      | FROM documents WHERE doc_id % 3 = 2),
      |f AS (SELECT doc_id, nf, unnest(range(0, nf)) AS fi FROM v),
      |px AS (SELECT doc_id, nf, fi, unnest(range(0, 64)) AS p FROM f),
      |i AS (SELECT doc_id, nf, fi, p,
      |  (doc_id * 31 + fi * 17 + p * 5) % 256 AS ci FROM px)
      |SELECT doc_id AS media_id, CAST(nf AS BIGINT) AS n_frames,
      |  CAST(fi AS BIGINT) AS frame_idx,
      |  CAST(4 + 2 * fi AS BIGINT) AS delay_cs,
      |  CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
      |  CAST(sum((p + 1) * ci) AS BIGINT) AS wsum_r,
      |  CAST(sum((p + 1) * ((7 * ci) % 256)) AS BIGINT) AS wsum_g,
      |  CAST(sum((p + 1) * ((13 * ci) % 256)) AS BIGINT) AS wsum_b
      |FROM i GROUP BY doc_id, nf, fi""".stripMargin

  // ---- q_video_frames_avi: ORACLE-CHECKED MJPEG-in-AVI decode -----------

  /** The second real video container: per-frame facts from a genuine
    * RIFF/AVI walk ([[graft.ops.AviCodec]]) + the engine's JPEG
    * decoder on each `00dc` payload. width/height/channels come from
    * the DECODED JPEG frame (not the container header), so a broken
    * chunk walk, a word-alignment slip on the odd-length frames the
    * encoder naturally emits, or a per-frame decode failure surfaces
    * as -1 dims / missing rows and fails the hash; `us_per_frame` is
    * the avih container fact. The oracle replays the documented
    * fixture arithmetic like the other lossy-codec twins.
    */
  def videoFramesAvi(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    Multimodal.syntheticAviVideos(Tables.documents(s, dir))
      .select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        graft.ops.AviCodec.decode(bytes) match {
          case Some((meta, frames)) =>
            frames.zipWithIndex.map { case (jb, fi) =>
              graft.ops.JpegCodec.decode(jb) match {
                case Some(img) => (id, frames.size.toLong, fi.toLong,
                  img.width.toLong, img.height.toLong, img.channels.toLong,
                  meta.usPerFrame.toLong)
                case None => (id, frames.size.toLong, fi.toLong,
                  -1L, -1L, -1L, meta.usPerFrame.toLong)
              }
            }
          case None => Seq((id, 0L, -1L, 0L, 0L, 0L, 0L))
        }
      }
      .toDF("media_id", "n_frames", "frame_idx", "width", "height",
        "channels", "us_per_frame")
  }

  val videoFramesAviSql: String =
    """WITH v AS (SELECT doc_id,
      |  CAST(1 + (doc_id // 3) % 3 AS BIGINT) AS nf,
      |  greatest(1, least(64,
      |    (octet_length(encode(coalesce(text, ''))) + 23) // 24)) AS h,
      |  CASE WHEN (doc_id // 3) % 2 = 1 THEN 1 ELSE 3 END AS ch,
      |  40000 + 1000 * (doc_id % 5) AS us
      | FROM documents WHERE doc_id % 3 = 2),
      |f AS (SELECT doc_id, nf, h, ch, us, unnest(range(0, nf)) AS fi FROM v)
      |SELECT doc_id AS media_id, nf AS n_frames,
      |  CAST(fi AS BIGINT) AS frame_idx,
      |  CAST(8 AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  CAST(ch AS BIGINT) AS channels, CAST(us AS BIGINT) AS us_per_frame
      |FROM f""".stripMargin

  /** Audio sibling of q_media_decode: document bytes become genuine
    * 16-bit PCM WAV payloads ([[graft.ops.Multimodal.syntheticAudio]],
    * structure rotating through mono/stereo × three sample rates), the
    * JVM-pure [[graft.ops.AudioCodec]] decodes them on executors, and
    * the DECODED facts — rate, channels, frame count, integer duration
    * — must equal DuckDB's arithmetic from the text byte length and
    * the documented encoder layout. A wrong chunk walk, endianness
    * slip, or channel-interleave bug is an "undecodable" row or a
    * frame-count mismatch, i.e. a hash mismatch here.
    */
  def audioDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeAudioMeta(
        Multimodal.syntheticAudio(Tables.documents(s, dir)))
      .toDF()
      .select(col("media_id"), col("format"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("channels").cast("long").as("channels"),
        col("n_frames").cast("long").as("n_frames"),
        col("duration_ms"))

  val audioDecodeSql: String =
    """WITH a AS (SELECT doc_id AS media_id,
      |  (octet_length(encode(coalesce(text, ''))) % 4000) + 256 AS n_frames,
      |  (doc_id // 3) % 2 + 1 AS channels,
      |  CASE (doc_id // 3) % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
      |    ELSE 44100 END AS sample_rate
      | FROM documents WHERE doc_id % 3 = 1)
      |SELECT media_id, 'wav' AS format,
      |  CAST(sample_rate AS BIGINT) AS sample_rate,
      |  CAST(channels AS BIGINT) AS channels,
      |  CAST(n_frames AS BIGINT) AS n_frames,
      |  CAST(n_frames * 1000 // sample_rate AS BIGINT) AS duration_ms
      |FROM a""".stripMargin

  // ---- q_flac_decode: ORACLE-CHECKED lossless compressed-audio decode ----

  /** The strongest audio evidence class: FLAC is LOSSLESS, so beyond
    * the structural facts the query returns the position-weighted sum
    * over the DECODED integer samples (Σ (p+1)·s(p) across interleaved
    * positions), which DuckDB reproduces arithmetically from the text
    * bytes and the documented sample law s(p) = (byte(p mod len) − 128)
    * · 64. The position weighting makes the check ORDER-SENSITIVE and
    * the encoder rotation (VERBATIM / FIXED-1 / FIXED-2, mid/side,
    * 2-partition rice + escapes) means a wrong predictor
    * reconstruction, rice slip, zigzag swap, or channel de-interleave
    * bug lands samples at wrong values or positions and fails the
    * hash. Corpus is ASCII, so DuckDB's ord() equals the tiled UTF-8
    * byte (the sibling oracles' documented assumption).
    */
  def flacDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeFlacMeta(
        Multimodal.syntheticFlacAudio(Tables.documents(s, dir)))
      .toDF()
      .select(col("media_id"), col("format"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("channels").cast("long").as("channels"),
        col("n_frames").cast("long").as("n_frames"),
        col("wsum"))

  val flacDecodeSql: String =
    """WITH a AS (SELECT doc_id AS media_id, coalesce(text, '') AS t,
      |  octet_length(encode(coalesce(text, ''))) AS len,
      |  (octet_length(encode(coalesce(text, ''))) % 3000) + 200 AS n_frames,
      |  (doc_id // 3) % 2 + 1 AS channels,
      |  CASE (doc_id // 3) % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
      |    ELSE 44100 END AS sample_rate
      | FROM documents WHERE doc_id % 3 = 1),
      |s AS (SELECT media_id, t, len,
      |        unnest(generate_series(0, n_frames * channels - 1)) AS p
      |      FROM a),
      |w AS (SELECT media_id,
      |        sum((p + 1) * CASE WHEN len = 0 THEN 0
      |          ELSE (ord(substr(t, (p % len) + 1, 1)) - 128) * 64 END) AS wsum
      |      FROM s GROUP BY media_id)
      |SELECT a.media_id, 'flac' AS format,
      |  CAST(a.sample_rate AS BIGINT) AS sample_rate,
      |  CAST(a.channels AS BIGINT) AS channels,
      |  CAST(a.n_frames AS BIGINT) AS n_frames,
      |  CAST(w.wsum AS BIGINT) AS wsum
      |FROM a JOIN w USING (media_id)""".stripMargin

  // ---- q_media_decode_adam7: ORACLE-CHECKED interlaced PNG ---------------

  /** Adam7-interlaced PNG sibling of q_media_decode_qoi — identical
    * pixel law and oracle, but the payload routes through the
    * seven-pass deinterlacer with per-pass filtering (the fixture
    * rotates all five filters across passes). A wrong pass geometry,
    * a filter unapplied against pass-local neighbors, or a canvas
    * scatter off-by-one moves pixels and fails the position-weighted
    * hash.
    */
  def mediaDecodeAdam7(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    Multimodal.syntheticAdam7Images(Tables.documents(s, dir))
      .select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        graft.ops.ImageCodec.decode(bytes) match {
          case Some(img) =>
            var wr = 0L; var wg = 0L; var wb = 0L
            var p = 0
            val n = img.width * img.height
            while (p < n) {
              wr += (p + 1).toLong * (img.pixels(p * 3) & 0xff)
              wg += (p + 1).toLong * (img.pixels(p * 3 + 1) & 0xff)
              wb += (p + 1).toLong * (img.pixels(p * 3 + 2) & 0xff)
              p += 1
            }
            (id, "png_adam7", img.width.toLong, img.height.toLong,
              img.channels.toLong, wr, wg, wb)
          case None => (id, "undecodable", 0L, 0L, 0L, 0L, 0L, 0L)
        }
      }
      .toDF("media_id", "format", "width", "height", "channels",
        "wsum_r", "wsum_g", "wsum_b")
  }

  val mediaDecodeAdam7Sql: String =
    mediaDecodeQoiSql.replace("'qoi' AS format", "'png_adam7' AS format")

  // ---- q_aiff_decode: ORACLE-CHECKED big-endian PCM container ------------

  /** AIFF sibling of q_flac_decode, same lossless evidence class: raw
    * big-endian PCM behind the IFF chunk walk and the 80-bit
    * extended-float sample rate. The decoded facts plus the
    * position-weighted integer sample sum must equal DuckDB's
    * arithmetic from the text bytes and the documented fixture law —
    * an endianness slip, a wrong extended-float shift, a missed
    * SSND offset preamble, or AIFF's signed-8-bit-vs-WAV trap would
    * land samples at wrong values or rates and fail the hash.
    */
  def aiffDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeAiffMeta(
        Multimodal.syntheticAiffAudio(Tables.documents(s, dir)))
      .toDF()
      .select(col("media_id"), col("format"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("channels").cast("long").as("channels"),
        col("n_frames").cast("long").as("n_frames"),
        col("wsum"))

  val aiffDecodeSql: String =
    """WITH a AS (SELECT doc_id AS media_id, coalesce(text, '') AS t,
      |  octet_length(encode(coalesce(text, ''))) AS len,
      |  (octet_length(encode(coalesce(text, ''))) % 2500) + 150 AS n_frames,
      |  (doc_id // 3) % 2 + 1 AS channels,
      |  CASE (doc_id // 3) % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
      |    ELSE 44100 END AS sample_rate
      | FROM documents WHERE doc_id % 3 = 1),
      |s AS (SELECT media_id, t, len,
      |        unnest(generate_series(0, n_frames * channels - 1)) AS p
      |      FROM a),
      |w AS (SELECT media_id,
      |        sum((p + 1) * CASE WHEN len = 0 THEN 0
      |          ELSE (ord(substr(t, (p % len) + 1, 1)) - 128) * 64 END) AS wsum
      |      FROM s GROUP BY media_id)
      |SELECT a.media_id, 'aiff' AS format,
      |  CAST(a.sample_rate AS BIGINT) AS sample_rate,
      |  CAST(a.channels AS BIGINT) AS channels,
      |  CAST(a.n_frames AS BIGINT) AS n_frames,
      |  CAST(w.wsum AS BIGINT) AS wsum
      |FROM a JOIN w USING (media_id)""".stripMargin

  // ---- q_g711_decode: ORACLE-CHECKED telephony audio ---------------------

  /** G.711 µ-law/A-law WAV decode (the telephony companding real call
    * audio carries; audioFormat 7/6 in the same RIFF walker). The
    * companded bytes are the tiled text bytes, so DuckDB replays the
    * COMPLETE decode law — complement/xor 0x55, segment shift, the
    * 0x84/0x108 biases, the sign branch — in integer SQL; the decode
    * tables themselves are pinned byte-for-byte against the JDK's own
    * G.711 codec in AudioCodecSpec, so this hash ties the engine to
    * the real ITU standard, not a private reading of it.
    */
  def g711Decode(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeG711Meta(
        Multimodal.syntheticG711Audio(Tables.documents(s, dir)))
      .toDF()
      .select(col("media_id"), col("format"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("channels").cast("long").as("channels"),
        col("n_frames").cast("long").as("n_frames"),
        col("wsum"))

  val g711DecodeSql: String =
    """WITH a AS (SELECT doc_id AS media_id, coalesce(text, '') AS t,
      |  octet_length(encode(coalesce(text, ''))) AS len,
      |  (octet_length(encode(coalesce(text, ''))) % 2000) + 100 AS n_frames,
      |  (doc_id // 3) % 2 + 1 AS channels,
      |  CASE (doc_id // 3) % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
      |    ELSE 44100 END AS sample_rate,
      |  doc_id % 2 = 0 AS is_alaw
      | FROM documents WHERE doc_id % 3 = 1),
      |s AS (SELECT media_id, t, len, is_alaw,
      |        unnest(generate_series(0, n_frames * channels - 1)) AS p
      |      FROM a),
      |v AS (SELECT media_id, p, is_alaw,
      |        CASE WHEN len = 0 THEN 0
      |             ELSE ord(substr(t, (p % len) + 1, 1)) END AS b
      |      FROM s),
      |lin AS (SELECT media_id, p,
      |  CASE WHEN is_alaw THEN
      |    (CASE WHEN (xor(b, 85) & 128) <> 0 THEN 1 ELSE -1 END) *
      |    (CASE WHEN ((xor(b, 85) >> 4) & 7) = 0
      |          THEN (xor(b, 85) & 15) * 16 + 8
      |          ELSE ((xor(b, 85) & 15) * 16 + 264)
      |               << (((xor(b, 85) >> 4) & 7) - 1) END)
      |  ELSE
      |    (CASE WHEN ((255 - b) & 128) <> 0 THEN 132 -
      |      ((((255 - b) & 15) * 8 + 132) << (((255 - b) >> 4) & 7))
      |    ELSE
      |      ((((255 - b) & 15) * 8 + 132) << (((255 - b) >> 4) & 7)) - 132
      |    END)
      |  END AS s16
      | FROM v),
      |w AS (SELECT media_id, sum((p + 1) * s16) AS wsum
      |      FROM lin GROUP BY media_id)
      |SELECT a.media_id,
      |  CASE WHEN a.is_alaw THEN 'alaw' ELSE 'ulaw' END AS format,
      |  CAST(a.sample_rate AS BIGINT) AS sample_rate,
      |  CAST(a.channels AS BIGINT) AS channels,
      |  CAST(a.n_frames AS BIGINT) AS n_frames,
      |  CAST(w.wsum AS BIGINT) AS wsum
      |FROM a JOIN w USING (media_id)""".stripMargin

  // ---- q_media_features: partition-batched inference (rows-only) ---------

  // Image rows carry REAL encoded payloads (PNG/BMP/PPM rotating —
  // Multimodal.syntheticImages) so their features derive from decoded
  // pixels (`decoded` = true end-to-end); audio/video rows keep opaque
  // payloads and the documented hash-stub fallback. Array cells crash
  // the driver's pandas sort, so expose the embedding only as an
  // order-sensitive hash; downstream similarity ops consume the raw
  // array from Multimodal.extractFeatures directly.
  def mediaFeatures(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val withImages = Multimodal.syntheticImages(docs)
      .unionByName(media(s, dir).filter(col("kind") =!= "image"))
    Multimodal.extractFeatures(withImages, dim = 16)
      .toDF()
      .select(col("media_id"), col("kind"), size(col("embedding")).as("dim"),
        xxhash64(to_json(col("embedding"))).as("emb_hash"), col("decoded"))
  }

  // ---- q_media_feature_stats: ORACLE-CHECKED image feature math ---------

  /** Graded twin for the feature level above q_media_decode: per-image
    * channel sums/means and an 8-bucket integer-luminance histogram
    * over the DECODED pixels of the lossless PNG/BMP/PPM fixtures —
    * the q_media_decode trick extended one level up, covering the
    * feature arithmetic q_media_features can only rows-only-check
    * through its hash-stub embeddings. Everything is integer: luma
    * milli-weights 299/587/114 (the ITU-R BT.601 integer convention),
    * bucket = min(7, luma/31875), means floor-quantized ×1000 — so
    * DuckDB replays sums, means AND histogram exactly from the text
    * bytes and the documented tiled-pixel layout. Decode + feature
    * extraction happen per-row in the same scan pass (the 100 TB
    * shape: no pixel ever shuffles).
    */
  def mediaFeatureStats(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    Multimodal.syntheticImages(Tables.documents(s, dir))
      .select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        graft.ops.ImageCodec.decode(bytes) match {
          case Some(img) =>
            val fmt =
              if ((bytes(0) & 0xff) == 0x89) "png"
              else if (bytes(0) == 'B') "bmp"
              else "ppm"
            val npx = img.width * img.height
            var sr = 0L; var sg = 0L; var sb = 0L
            val hist = new Array[Long](8)
            var p = 0
            while (p < npx) {
              val r = img.pixels(p * 3) & 0xff
              val g = img.pixels(p * 3 + 1) & 0xff
              val b = img.pixels(p * 3 + 2) & 0xff
              sr += r; sg += g; sb += b
              hist(math.min(7, (299 * r + 587 * g + 114 * b) / 31875)) += 1
              p += 1
            }
            (id, fmt, npx.toLong, sr, sg, sb,
              sr * 1000 / npx, sg * 1000 / npx, sb * 1000 / npx,
              hist(0), hist(1), hist(2), hist(3),
              hist(4), hist(5), hist(6), hist(7))
          case None =>
            (id, "undecodable", 0L, 0L, 0L, 0L, 0L, 0L, 0L,
              0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
        }
      }
      .toDF("media_id", "format", "n_px", "sum_r", "sum_g", "sum_b",
        "mean_r_q", "mean_g_q", "mean_b_q",
        "h0", "h1", "h2", "h3", "h4", "h5", "h6", "h7")
  }

  // ---- q_media_e2e: composed media curation chain, ORACLE-CHECKED -------

  /** The multimodal analogue of q_curation_e2e: decode gate → exact
    * content dedup among decodables → luminance quality gates → shape
    * assignment for keepers, composed into ONE hash-checked artifact
    * (first-cut-wins: undecodable / dup_exact / too_dark / too_bright /
    * kept). A deterministic id-rule subset (media_id % 7 = 0) ships
    * TRUNCATED payloads so the decode gate genuinely fires — and
    * because decode failure degrades to None, the chain also proves
    * the malformed path composes (one corrupt blob drops one row, not
    * a stage). Dedup keys on the content md5 among DECODED rows only;
    * luma gates run on decoded pixels (integer BT.601 milli-weights);
    * everything is per-row in one scan pass except the bounded
    * (content-hash → first id) dedup join. DuckDB replays all five
    * dispositions arithmetically from the text bytes, the documented
    * tiled layout and the id rules.
    */
  /** Planted-duplicate text for the media_id % 11 = 3 rows — the corpus
    * has no exact text duplicates, so the dedup stage would be
    * vacuously composed without self-seeding (the q_invisible_scrub
    * precedent: plant the condition, prove the machinery).
    */
  private val PlantedDupText = "planted duplicate pixel payload "

  def mediaE2e(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val seeded = Tables.documents(s, dir).withColumn("text",
      when(pmod(col("doc_id"), lit(11)) === 3, lit(PlantedDupText))
        .otherwise(col("text")))
    val decoded = Multimodal.syntheticImages(seeded)
      .select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val payload = if (id % 7 == 0) bytes.take(10) else bytes
        graft.ops.ImageCodec.decode(payload) match {
          case Some(img) =>
            val npx = img.width * img.height
            var luma = 0L
            var p = 0
            while (p < npx) {
              luma += 299L * (img.pixels(p * 3) & 0xff) +
                587L * (img.pixels(p * 3 + 1) & 0xff) +
                114L * (img.pixels(p * 3 + 2) & 0xff)
              p += 1
            }
            val shape =
              if (img.height < img.width) "landscape"
              else if (img.height == img.width) "square"
              else "portrait"
            (id, true, luma / npx, shape)
          case None => (id, false, 0L, "")
        }
      }
      .toDF("media_id", "decoded", "luma_mq", "shape")
    val keyed = decoded.join(
      seeded
        .select(col("doc_id").as("media_id"),
          md5(coalesce(col("text"), lit(""))).as("ck")),
      Seq("media_id"))
    // keep-first among decodables: (content hash -> first id) is
    // bounded by distinct contents; broadcast back
    val firstIds = keyed.filter(col("decoded"))
      .groupBy("ck").agg(min(col("media_id")).as("kept_id"))
    keyed.join(broadcast(firstIds), Seq("ck"), "left")
      .select(col("media_id"),
        when(!col("decoded"), lit("undecodable"))
          .when(col("media_id") =!= col("kept_id"), lit("dup_exact"))
          .when(col("luma_mq") < 93000L, lit("too_dark"))
          .when(col("luma_mq") > 98000L, lit("too_bright"))
          .otherwise(lit("kept")).as("disposition"),
        col("luma_mq"),
        when(col("decoded"), col("shape")).otherwise(lit(""))
          .as("shape"))
  }

  val mediaE2eSql: String =
    s"""WITH d AS (SELECT doc_id,
      |  CASE WHEN doc_id % 11 = 3 THEN '$PlantedDupText'
      |       ELSE coalesce(text, '') END AS t,
      |  octet_length(encode(CASE WHEN doc_id % 11 = 3 THEN '$PlantedDupText'
      |       ELSE coalesce(text, '') END)) AS blen
      | FROM documents WHERE doc_id % 3 = 0),
      |dims AS (SELECT doc_id, t, blen,
      |  greatest(1, least(64, (blen + 23) // 24)) AS h FROM d),
      |pos AS (SELECT doc_id, h, t, blen,
      |  unnest(range(0, 8 * h)) AS p FROM dims),
      |px AS (SELECT doc_id, h,
      |  CASE WHEN blen = 0 THEN 0
      |       ELSE ord(substr(t, CAST((3 * p) % blen AS INT) + 1, 1)) END AS r,
      |  CASE WHEN blen = 0 THEN 0
      |       ELSE ord(substr(t, CAST((3 * p + 1) % blen AS INT) + 1, 1)) END AS g,
      |  CASE WHEN blen = 0 THEN 0
      |       ELSE ord(substr(t, CAST((3 * p + 2) % blen AS INT) + 1, 1)) END AS b
      | FROM pos),
      |lm AS (SELECT doc_id, h,
      |  CAST(sum(299 * r + 587 * g + 114 * b) // (8 * h) AS BIGINT) AS luma_mq
      | FROM px GROUP BY doc_id, h),
      |dec AS (SELECT dims.doc_id, dims.h, md5(dims.t) AS ck, lm.luma_mq,
      |  dims.doc_id % 7 <> 0 AS decoded
      | FROM dims JOIN lm ON dims.doc_id = lm.doc_id),
      |fk AS (SELECT ck, min(doc_id) AS kept_id FROM dec
      |  WHERE decoded GROUP BY ck)
      |SELECT dec.doc_id AS media_id,
      |  CASE WHEN NOT decoded THEN 'undecodable'
      |       WHEN dec.doc_id <> fk.kept_id THEN 'dup_exact'
      |       WHEN luma_mq < 93000 THEN 'too_dark'
      |       WHEN luma_mq > 98000 THEN 'too_bright'
      |       ELSE 'kept' END AS disposition,
      |  CASE WHEN decoded THEN luma_mq ELSE CAST(0 AS BIGINT) END AS luma_mq,
      |  CASE WHEN NOT decoded THEN ''
      |       WHEN h < 8 THEN 'landscape'
      |       WHEN h = 8 THEN 'square'
      |       ELSE 'portrait' END AS shape
      |FROM dec LEFT JOIN fk ON dec.ck = fk.ck""".stripMargin

  val mediaFeatureStatsSql: String =
    """WITH d AS (SELECT doc_id, coalesce(text, '') AS t,
      |  octet_length(encode(coalesce(text, ''))) AS blen
      | FROM documents WHERE doc_id % 3 = 0),
      |dims AS (SELECT doc_id, t, blen,
      |  greatest(1, least(64, (blen + 23) // 24)) AS h FROM d),
      |pos AS (SELECT doc_id, h, t, blen,
      |  unnest(range(0, 8 * h)) AS p FROM dims),
      |px AS (SELECT doc_id, h,
      |  CASE WHEN blen = 0 THEN 0
      |       ELSE ord(substr(t, CAST((3 * p) % blen AS INT) + 1, 1)) END AS r,
      |  CASE WHEN blen = 0 THEN 0
      |       ELSE ord(substr(t, CAST((3 * p + 1) % blen AS INT) + 1, 1)) END AS g,
      |  CASE WHEN blen = 0 THEN 0
      |       ELSE ord(substr(t, CAST((3 * p + 2) % blen AS INT) + 1, 1)) END AS b
      | FROM pos),
      |lm AS (SELECT doc_id, h, r, g, b,
      |  least(7, (299 * r + 587 * g + 114 * b) // 31875) AS bucket FROM px)
      |SELECT doc_id AS media_id,
      |  CASE (doc_id // 3) % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp'
      |    ELSE 'ppm' END AS format,
      |  CAST(8 * h AS BIGINT) AS n_px,
      |  CAST(sum(r) AS BIGINT) AS sum_r,
      |  CAST(sum(g) AS BIGINT) AS sum_g,
      |  CAST(sum(b) AS BIGINT) AS sum_b,
      |  CAST(sum(r) * 1000 // (8 * h) AS BIGINT) AS mean_r_q,
      |  CAST(sum(g) * 1000 // (8 * h) AS BIGINT) AS mean_g_q,
      |  CAST(sum(b) * 1000 // (8 * h) AS BIGINT) AS mean_b_q,
      |  CAST(count(*) FILTER (bucket = 0) AS BIGINT) AS h0,
      |  CAST(count(*) FILTER (bucket = 1) AS BIGINT) AS h1,
      |  CAST(count(*) FILTER (bucket = 2) AS BIGINT) AS h2,
      |  CAST(count(*) FILTER (bucket = 3) AS BIGINT) AS h3,
      |  CAST(count(*) FILTER (bucket = 4) AS BIGINT) AS h4,
      |  CAST(count(*) FILTER (bucket = 5) AS BIGINT) AS h5,
      |  CAST(count(*) FILTER (bucket = 6) AS BIGINT) AS h6,
      |  CAST(count(*) FILTER (bucket = 7) AS BIGINT) AS h7
      |FROM lm GROUP BY doc_id, h""".stripMargin
}
