package graft.ops

import java.io.ByteArrayOutputStream
import java.util.zip.{CRC32, Deflater, Inflater}

/** JVM-pure image codec for the multimodal path — no external codec
  * libraries exist in this environment, but PNG needs only
  * `java.util.zip.Inflater` (zlib is the JDK) and BMP/PPM are plain
  * header+pixel layouts, so the *decode* step of the media pipeline can
  * be real for these formats instead of stubbed
  * ([[Multimodal.extractFeatures]] consumes it; undecodable payloads
  * fall back to the documented hash stub).
  *
  * Scope (documented, spec-pinned): PNG 8-bit depth, color types 0
  * (gray), 2 (RGB), 6 (RGBA), all five scanline filters, BOTH
  * interlace modes (progressive Adam7 closed the last documented PNG
  * scope gap in r9 — each pass unfilters against ITS OWN neighbors,
  * then scatters to the canvas grid); BMP uncompressed 24-bpp
  * (bottom-up and top-down); PPM `P6` / PGM `P5` binary with comments. Matching fixture *encoders* are
  * provided so specs and the synthetic-media adapter can build genuine
  * payloads deterministically. Anything else → None, never a throw —
  * a malformed payload in a 100 TB corpus must degrade, not kill the
  * stage.
  */
object ImageCodec {

  /** Interleaved 8-bit pixels; channels ∈ {1 (gray), 3 (RGB), 4 (RGBA)}. */
  final case class DecodedImage(width: Int, height: Int, channels: Int,
                                pixels: Array[Byte])

  /** Payloads above this are rejected before any allocation — one
    * corrupt length field must not OOM an executor.
    */
  private val MaxPixelBytes: Int = 64 << 20

  def decode(bytes: Array[Byte]): Option[DecodedImage] =
    try {
      if (bytes == null || bytes.length < 10) None
      else if (isPng(bytes)) decodePng(bytes)
      else if (bytes(0) == 'B' && bytes(1) == 'M') decodeBmp(bytes)
      else if (bytes(0) == 'P' && (bytes(1) == '5' || bytes(1) == '6')) decodePnm(bytes)
      else if (JpegCodec.isJpeg(bytes)) JpegCodec.decode(bytes)
      else if (GifCodec.isGif(bytes)) GifCodec.decode(bytes)
      else if (QoiCodec.isQoi(bytes)) QoiCodec.decode(bytes)
      else None
    } catch { case _: Exception => None }

  // ---- PNG ---------------------------------------------------------------

  private val PngSig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10)

  private def isPng(b: Array[Byte]): Boolean =
    b.length >= 8 && (0 until 8).forall(i => b(i) == PngSig(i))

  private def be32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  private def decodePng(b: Array[Byte]): Option[DecodedImage] = {
    var off = 8
    var w = 0; var h = 0; var channels = 0; var headerOk = false
    var interlaced = false
    val idat = new ByteArrayOutputStream()
    var done = false
    while (!done && off + 8 <= b.length) {
      val len = be32(b, off)
      if (len < 0 || off + 12L + len > b.length) return None
      val ctype = new String(b, off + 4, 4, "US-ASCII")
      ctype match {
        case "IHDR" =>
          if (len < 13) return None
          w = be32(b, off + 8); h = be32(b, off + 12)
          val bitDepth = b(off + 16) & 0xff
          val colorType = b(off + 17) & 0xff
          val interlace = b(off + 20) & 0xff
          channels = colorType match {
            case 0 => 1
            case 2 => 3
            case 6 => 4
            case _ => return None // palette/gray+alpha out of scope
          }
          if (bitDepth != 8 || interlace > 1 || w <= 0 || h <= 0) return None
          if (w.toLong * h * channels > MaxPixelBytes) return None
          interlaced = interlace == 1
          headerOk = true
        case "IDAT" => idat.write(b, off + 8, len)
        case "IEND" => done = true
        case _ => // ancillary chunk — skip
      }
      off += 12 + len
    }
    if (!headerOk || idat.size() == 0) return None
    if (!interlaced) {
      val stride = w * channels
      val raw = inflate(idat.toByteArray, (stride + 1) * h)
      unfilterPass(raw, 0, w, h, channels).map { case (out, _) =>
        DecodedImage(w, h, channels, out)
      }
    } else decodeAdam7(idat.toByteArray, w, h, channels)
  }

  /** Adam7 pass geometry: (xstart, ystart, xstep, ystep) per the PNG
    * spec's interlace grid.
    */
  private val Adam7 =
    Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
      (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  private def adam7Dims(w: Int, h: Int): Seq[(Int, Int, Int, Int, Int, Int)] =
    Adam7.map { case (xs, ys, dx, dy) =>
      val wp = if (w > xs) (w - xs + dx - 1) / dx else 0
      val hp = if (h > ys) (h - ys + dy - 1) / dy else 0
      (xs, ys, dx, dy, wp, hp)
    }

  /** Interlaced decode: each pass is its own independently-filtered
    * scanline block (filters reference neighbors WITHIN the pass — the
    * spec's rule, and the part a naive deinterlacer gets wrong); pixels
    * then scatter to the canvas at the pass grid positions.
    */
  private def decodeAdam7(idat: Array[Byte], w: Int, h: Int,
                          channels: Int): Option[DecodedImage] = {
    val dims = adam7Dims(w, h)
    val expected = dims.map { case (_, _, _, _, wp, hp) =>
      if (wp > 0 && hp > 0) (wp * channels + 1) * hp else 0
    }.sum
    val raw = inflate(idat, expected)
    val out = new Array[Byte](w * h * channels)
    var pos = 0
    dims.foreach { case (xs, ys, dx, dy, wp, hp) =>
      if (wp > 0 && hp > 0) {
        unfilterPass(raw, pos, wp, hp, channels) match {
          case None => return None
          case Some((sub, used)) =>
            pos += used
            var j = 0
            while (j < hp) {
              var i = 0
              while (i < wp) {
                val src = (j * wp + i) * channels
                val dst = ((ys + j * dy) * w + (xs + i * dx)) * channels
                var k = 0
                while (k < channels) { out(dst + k) = sub(src + k); k += 1 }
                i += 1
              }
              j += 1
            }
        }
      }
    }
    Some(DecodedImage(w, h, channels, out))
  }

  /** Unfilter one scanline block of `hPix` rows × `wPix` pixels starting
    * at `raw(start)`; returns the pixel bytes and the raw bytes consumed.
    * a = left pixel's byte, bU = same byte one row up (within the block).
    */
  private def unfilterPass(raw: Array[Byte], start: Int, wPix: Int,
                           hPix: Int, channels: Int): Option[(Array[Byte], Int)] = {
    val stride = wPix * channels
    val need = (stride + 1) * hPix
    if (raw.length - start < need) return None
    val out = new Array[Byte](stride * hPix)
    var y = 0
    while (y < hPix) {
      val filter = raw(start + y * (stride + 1)) & 0xff
      val src = start + y * (stride + 1) + 1
      val dst = y * stride
      var x = 0
      while (x < stride) {
        val rx = raw(src + x) & 0xff
        val a = if (x >= channels) out(dst + x - channels) & 0xff else 0
        val bU = if (y > 0) out(dst - stride + x) & 0xff else 0
        val c = if (x >= channels && y > 0) out(dst - stride + x - channels) & 0xff else 0
        val v = filter match {
          case 0 => rx
          case 1 => rx + a
          case 2 => rx + bU
          case 3 => rx + (a + bU) / 2
          case 4 => rx + paeth(a, bU, c)
          case _ => return None
        }
        out(dst + x) = (v & 0xff).toByte
        x += 1
      }
      y += 1
    }
    Some((out, need))
  }

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  private def inflate(data: Array[Byte], expected: Int): Array[Byte] = {
    val inf = new Inflater()
    try {
      inf.setInput(data)
      val out = new ByteArrayOutputStream(expected)
      val buf = new Array[Byte](8192)
      while (!inf.finished() && !inf.needsInput() && out.size() <= expected) {
        val n = inf.inflate(buf)
        if (n == 0 && !inf.finished()) return out.toByteArray
        out.write(buf, 0, n)
      }
      out.toByteArray
    } finally inf.end()
  }

  // ---- BMP ---------------------------------------------------------------

  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  private def decodeBmp(b: Array[Byte]): Option[DecodedImage] = {
    if (b.length < 54) return None
    val dataOffset = le32(b, 10)
    val w = le32(b, 18)
    val hRaw = le32(b, 22)
    val bpp = le16(b, 28)
    val compression = le32(b, 30)
    if (bpp != 24 || compression != 0 || w <= 0 || hRaw == 0) return None
    val topDown = hRaw < 0
    val h = math.abs(hRaw)
    if (w.toLong * h * 3 > MaxPixelBytes) return None
    val rowSize = ((w * 3 + 3) / 4) * 4
    if (dataOffset < 54 || dataOffset.toLong + rowSize.toLong * h > b.length) return None
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val srcRow = dataOffset + (if (topDown) y else h - 1 - y) * rowSize
      var x = 0
      while (x < w) {
        // BGR on disk → RGB out
        out((y * w + x) * 3) = b(srcRow + x * 3 + 2)
        out((y * w + x) * 3 + 1) = b(srcRow + x * 3 + 1)
        out((y * w + x) * 3 + 2) = b(srcRow + x * 3)
        x += 1
      }
      y += 1
    }
    Some(DecodedImage(w, h, 3, out))
  }

  // ---- PPM / PGM ---------------------------------------------------------

  private def decodePnm(b: Array[Byte]): Option[DecodedImage] = {
    val channels = if (b(1) == '6') 3 else 1
    var pos = 2
    def nextInt(): Int = {
      // skip whitespace and '#' comment lines between header tokens
      var inComment = false
      while (pos < b.length && {
        val c = b(pos).toChar
        if (inComment) { if (c == '\n') inComment = false; true }
        else if (c == '#') { inComment = true; true }
        else c.isWhitespace
      }) pos += 1
      var v = 0; var any = false
      while (pos < b.length && b(pos).toChar.isDigit) {
        v = v * 10 + (b(pos) - '0'); pos += 1; any = true
      }
      if (!any) -1 else v
    }
    val w = nextInt(); val h = nextInt(); val maxVal = nextInt()
    if (w <= 0 || h <= 0 || maxVal <= 0 || maxVal > 255) return None
    if (w.toLong * h * channels > MaxPixelBytes) return None
    pos += 1 // the single whitespace after maxval
    val n = w * h * channels
    if (pos + n > b.length) return None
    val out = new Array[Byte](n)
    System.arraycopy(b, pos, out, 0, n)
    Some(DecodedImage(w, h, channels, out))
  }

  // ---- fixture encoders --------------------------------------------------

  /** Minimal valid PNG: one IDAT, filter-0 scanlines, 8-bit RGB. */
  def encodePng(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == w * h * 3, "rgb must be w*h*3 bytes")
    val out = new ByteArrayOutputStream()
    out.write(PngSig, 0, 8)
    val ihdr = new Array[Byte](13)
    writeBe32(ihdr, 0, w); writeBe32(ihdr, 4, h)
    ihdr(8) = 8; ihdr(9) = 2 // bit depth 8, color type 2 (RGB)
    writeChunk(out, "IHDR", ihdr)
    val raw = new Array[Byte]((w * 3 + 1) * h)
    var y = 0
    while (y < h) {
      raw(y * (w * 3 + 1)) = 0 // filter: None
      System.arraycopy(rgb, y * w * 3, raw, y * (w * 3 + 1) + 1, w * 3)
      y += 1
    }
    writeChunk(out, "IDAT", deflate(raw))
    writeChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Adam7-INTERLACED RGB PNG fixture encoder: interlace byte 1, the
    * seven passes emitted in spec order, each pass filtered
    * independently (filter per row: pass index mod 5 — so every
    * Sub/Up/Average/Paeth path also runs WITHIN passes, where its
    * neighbors differ from the deinterlaced ones; a decoder that
    * unfilters against canvas neighbors instead of pass neighbors
    * fails loudly).
    */
  def encodePngInterlaced(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == w * h * 3, "rgb must be w*h*3 bytes")
    val out = new ByteArrayOutputStream()
    out.write(PngSig, 0, 8)
    val ihdr = new Array[Byte](13)
    writeBe32(ihdr, 0, w); writeBe32(ihdr, 4, h)
    ihdr(8) = 8; ihdr(9) = 2; ihdr(12) = 1 // interlace: Adam7
    writeChunk(out, "IHDR", ihdr)
    val raw = new ByteArrayOutputStream()
    adam7Dims(w, h).zipWithIndex.foreach {
      case ((xs, ys, dx, dy, wp, hp), pi) =>
        if (wp > 0 && hp > 0) {
          val stride = wp * 3
          // gather the pass's pixels
          val sub = new Array[Byte](stride * hp)
          var j = 0
          while (j < hp) {
            var i = 0
            while (i < wp) {
              val src = ((ys + j * dy) * w + (xs + i * dx)) * 3
              System.arraycopy(rgb, src, sub, (j * wp + i) * 3, 3)
              i += 1
            }
            j += 1
          }
          // forward-filter within the pass
          val f = pi % 5
          j = 0
          while (j < hp) {
            raw.write(f)
            var x = 0
            while (x < stride) {
              val cur = sub(j * stride + x) & 0xff
              val a = if (x >= 3) sub(j * stride + x - 3) & 0xff else 0
              val b = if (j > 0) sub((j - 1) * stride + x) & 0xff else 0
              val c = if (x >= 3 && j > 0) sub((j - 1) * stride + x - 3) & 0xff else 0
              val enc = f match {
                case 0 => cur
                case 1 => cur - a
                case 2 => cur - b
                case 3 => cur - (a + b) / 2
                case _ => cur - paeth(a, b, c)
              }
              raw.write(enc & 0xff)
              x += 1
            }
            j += 1
          }
        }
    }
    writeChunk(out, "IDAT", deflate(raw.toByteArray))
    writeChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Minimal valid 24-bpp bottom-up BMP. */
  def encodeBmp(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == w * h * 3, "rgb must be w*h*3 bytes")
    val rowSize = ((w * 3 + 3) / 4) * 4
    val size = 54 + rowSize * h
    val b = new Array[Byte](size)
    b(0) = 'B'; b(1) = 'M'
    writeLe32(b, 2, size); writeLe32(b, 10, 54)
    writeLe32(b, 14, 40); writeLe32(b, 18, w); writeLe32(b, 22, h)
    b(26) = 1; b(28) = 24
    var y = 0
    while (y < h) {
      val dstRow = 54 + (h - 1 - y) * rowSize
      var x = 0
      while (x < w) {
        b(dstRow + x * 3) = rgb((y * w + x) * 3 + 2)
        b(dstRow + x * 3 + 1) = rgb((y * w + x) * 3 + 1)
        b(dstRow + x * 3 + 2) = rgb((y * w + x) * 3)
        x += 1
      }
      y += 1
    }
    b
  }

  /** Binary P6 PPM. */
  def encodePpm(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == w * h * 3, "rgb must be w*h*3 bytes")
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + rgb.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(rgb, 0, out, header.length, rgb.length)
    out
  }

  private def writeBe32(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v >>> 24).toByte; b(off + 1) = (v >>> 16).toByte
    b(off + 2) = (v >>> 8).toByte; b(off + 3) = v.toByte
  }

  private def writeLe32(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte; b(off + 1) = (v >>> 8).toByte
    b(off + 2) = (v >>> 16).toByte; b(off + 3) = (v >>> 24).toByte
  }

  private def writeChunk(out: ByteArrayOutputStream, ctype: String,
                         data: Array[Byte]): Unit = {
    val len = new Array[Byte](4)
    writeBe32(len, 0, data.length)
    out.write(len, 0, 4)
    val typeBytes = ctype.getBytes("US-ASCII")
    out.write(typeBytes, 0, 4)
    out.write(data, 0, data.length)
    val crc = new CRC32()
    crc.update(typeBytes); crc.update(data)
    val crcB = new Array[Byte](4)
    writeBe32(crcB, 0, crc.getValue.toInt)
    out.write(crcB, 0, 4)
  }

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    try {
      d.setInput(data); d.finish()
      val out = new ByteArrayOutputStream(data.length / 2 + 64)
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }
}
