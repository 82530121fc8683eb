package graft.ops

import java.io.ByteArrayOutputStream

import scala.util.control.NonFatal

/** Minimal MJPEG-in-AVI container codec — the second real video
  * container after animated GIF ([[GifCodec]]), JVM-pure like every
  * codec in the engine.
  *
  * AVI is a RIFF form (public knowledge: the Microsoft "AVI RIFF File
  * Reference"): little-endian `RIFF <size> AVI ` wrapping LIST chunks —
  * `hdrl` (an `avih` MainAVIHeader carrying frame period, count and
  * dims, plus per-stream `strl` lists) and `movi`, whose `00dc`
  * (stream-0 compressed video) chunks each hold ONE complete JPEG
  * stream in the MJPEG convention. Every chunk is word-aligned: an
  * odd-sized payload is followed by one pad byte that is NOT counted
  * in the chunk size — the classic RIFF-walker trap, exercised by the
  * odd-length JPEG frames our encoder naturally emits.
  *
  * Decoder contract matches the engine's media rules: malformed bytes
  * degrade to None, never throw (one corrupt blob must not kill a
  * 100 TB stage); a TRUNCATED `movi` yields the complete frames read
  * so far, mirroring [[GifCodec.decodeFrames]]'s partial-animation
  * behavior. Frame payloads are returned as raw JPEG bytes so the
  * caller composes with [[JpegCodec.decode]] — reusing the proven
  * decoder per frame is the point of MJPEG.
  *
  * The reference has no video path at all (`Maincode project.ipynb`
  * is text-only); this is part of the engine's multimodal surface for
  * training-data curation at scale.
  */
object AviCodec {

  /** Container facts from the avih header + the actual frame list. */
  final case class AviMeta(width: Int, height: Int, usPerFrame: Int,
                           declaredFrames: Int)

  private val MaxFrames = 256

  private def u32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  private def fourcc(b: Array[Byte], o: Int): String =
    new String(Array(b(o), b(o + 1), b(o + 2), b(o + 3)), "US-ASCII")

  /** Parse an MJPEG AVI: (container meta, one raw JPEG per 00dc/00db
    * chunk, in file order). None on anything that is not a plausible
    * AVI; Some with the frames collected so far on truncation inside
    * `movi`.
    */
  def decode(bytes: Array[Byte]): Option[(AviMeta, Seq[Array[Byte]])] =
    try decodeImpl(bytes) catch { case NonFatal(_) => None }

  private def decodeImpl(b: Array[Byte]): Option[(AviMeta, Seq[Array[Byte]])] = {
    if (b.length < 24) return None
    if (fourcc(b, 0) != "RIFF" || fourcc(b, 8) != "AVI ") return None
    var meta: Option[AviMeta] = None
    val frames = Vector.newBuilder[Array[Byte]]
    var n = 0

    // walk chunks in [from, to); LIST payloads recurse after their
    // 4-byte list type
    def walk(from: Int, to: Int): Unit = {
      var o = from
      while (o + 8 <= to && o + 8 <= b.length) {
        val id = fourcc(b, o)
        val sz = u32(b, o + 4)
        if (sz > Int.MaxValue - 8) return
        val size = sz.toInt
        val body = o + 8
        val avail = math.min(to, b.length) - body
        id match {
          case "LIST" if size >= 4 && avail >= 4 =>
            val listEnd = body + math.min(size, math.max(avail, 0))
            walk(body + 4, listEnd) // skip the list-type fourcc
          case "avih" if size >= 40 && avail >= 40 =>
            meta = Some(AviMeta(
              width = u32(b, body + 32).toInt,
              height = u32(b, body + 36).toInt,
              usPerFrame = u32(b, body).toInt,
              declaredFrames = u32(b, body + 16).toInt))
          case "00dc" | "00db" =>
            if (size > avail) return // truncated movi: keep what we have
            if (size > 0 && n < MaxFrames) {
              frames += java.util.Arrays.copyOfRange(b, body, body + size)
              n += 1
            }
          case _ => () // strh/strf/idx1/JUNK/...: skip
        }
        o = body + size + (size & 1) // RIFF word alignment
      }
    }

    walk(12, b.length)
    meta match {
      case Some(m) =>
        val fs = frames.result()
        if (fs.nonEmpty) Some((m, fs)) else None
      case None => None
    }
  }

  private def putU32(o: ByteArrayOutputStream, v: Long): Unit = {
    o.write((v & 0xff).toInt); o.write(((v >> 8) & 0xff).toInt)
    o.write(((v >> 16) & 0xff).toInt); o.write(((v >> 24) & 0xff).toInt)
  }

  private def putFourcc(o: ByteArrayOutputStream, s: String): Unit =
    o.write(s.getBytes("US-ASCII"))

  private def chunk(id: String, body: Array[Byte]): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    putFourcc(o, id); putU32(o, body.length.toLong)
    o.write(body)
    if ((body.length & 1) == 1) o.write(0) // pad byte outside the size
    o.toByteArray
  }

  private def list(listType: String, bodies: Seq[Array[Byte]]): Array[Byte] = {
    val inner = new ByteArrayOutputStream()
    putFourcc(inner, listType)
    bodies.foreach(inner.write)
    chunk("LIST", inner.toByteArray)
  }

  /** Minimal spec-conformant MJPEG AVI writer for fixtures: avih +
    * one video strl (strh 'vids'/'MJPG' + strf BITMAPINFOHEADER) +
    * movi with one 00dc chunk per JPEG frame.
    */
  def encodeAvi(width: Int, height: Int, usPerFrame: Int,
                jpegFrames: Seq[Array[Byte]]): Array[Byte] = {
    require(jpegFrames.nonEmpty, "AVI needs at least one frame")
    val avih = {
      val o = new ByteArrayOutputStream()
      putU32(o, usPerFrame.toLong)          // dwMicroSecPerFrame
      putU32(o, 0L); putU32(o, 0L)          // dwMaxBytesPerSec, dwPaddingGranularity
      putU32(o, 0x10L)                      // dwFlags: AVIF_HASINDEX off, WASCAPTUREFILE off; 0x10 = AVIF_ISINTERLEAVED
      putU32(o, jpegFrames.size.toLong)     // dwTotalFrames
      putU32(o, 0L); putU32(o, 1L)          // dwInitialFrames, dwStreams
      putU32(o, 0L)                         // dwSuggestedBufferSize
      putU32(o, width.toLong); putU32(o, height.toLong)
      (0 until 4).foreach(_ => putU32(o, 0L)) // dwReserved
      chunk("avih", o.toByteArray)
    }
    val strh = {
      val o = new ByteArrayOutputStream()
      putFourcc(o, "vids"); putFourcc(o, "MJPG")
      putU32(o, 0L); putU32(o, 0L)          // dwFlags, prio+lang
      putU32(o, 0L)                         // dwInitialFrames
      putU32(o, usPerFrame.toLong)          // dwScale
      putU32(o, 1000000L)                   // dwRate (fps = rate/scale)
      putU32(o, 0L)                         // dwStart
      putU32(o, jpegFrames.size.toLong)     // dwLength
      putU32(o, 0L); putU32(o, 0L); putU32(o, 0L) // bufsize, quality, samplesize
      putU32(o, 0L); putU32(o, ((height.toLong << 16) | width.toLong)) // rcFrame
      chunk("strh", o.toByteArray)
    }
    val strf = {
      val o = new ByteArrayOutputStream()
      putU32(o, 40L)                        // biSize
      putU32(o, width.toLong); putU32(o, height.toLong)
      o.write(1); o.write(0)                // biPlanes = 1
      o.write(24); o.write(0)               // biBitCount
      putFourcc(o, "MJPG")                  // biCompression
      putU32(o, (width.toLong * height * 3))
      putU32(o, 0L); putU32(o, 0L); putU32(o, 0L); putU32(o, 0L)
      chunk("strf", o.toByteArray)
    }
    val hdrl = list("hdrl", Seq(avih, list("strl", Seq(strh, strf))))
    val movi = list("movi", jpegFrames.map(f => chunk("00dc", f)))
    val out = new ByteArrayOutputStream()
    putFourcc(out, "RIFF")
    val body = new ByteArrayOutputStream()
    putFourcc(body, "AVI ")
    body.write(hdrl); body.write(movi)
    val bodyBytes = body.toByteArray
    putU32(out, bodyBytes.length.toLong)
    out.write(bodyBytes)
    out.toByteArray
  }
}
