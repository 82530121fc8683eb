package graft.ops

/** JVM-pure FLAC codec (the xiph.org free lossless audio format —
  * public specification): closes the compressed-audio gap next to the
  * RIFF/WAVE integer-PCM path of [[AudioCodec]]. FLAC is LOSSLESS, so
  * unlike lossy JPEG the decoded SAMPLES are bit-exact and
  * oracle-checkable the way GIF pixels are (`q_flac_decode`
  * hash-checks position-weighted sample sums) — the strongest media
  * evidence class.
  *
  * Decoder scope (spec-pinned): STREAMINFO + metadata-block skip;
  * frames with CONSTANT / VERBATIM / FIXED (orders 0–4) / LPC
  * subframes; rice and rice2 residual coding with escape partitions
  * and partition orders ≥ 0; independent, left/side, right/side and
  * mid/side channel assignments; wasted-bits subframes; 8/16-bit
  * sample sizes; frame-header CRC-8 verified (the desync guard).
  * Anything else (24-bit, >2 channels beyond independent, variable
  * blocking strategy) → None. Same malformed-input contract as every
  * codec here: structural corruption returns None, never a throw; a
  * TRUNCATED payload decodes to the frames that completed (≥1), the
  * same tolerance the GIF decoder gives half-fetched crawl bytes.
  *
  * Encoder (fixtures + the synthetic-media adapter): 16-bit, fixed
  * blocksize frames, rotating VERBATIM / FIXED order-1 / FIXED
  * order-2 subframes with single- and two-partition rice residuals
  * and the escaped-raw fallback, independent or mid/side stereo —
  * enough surface that a decoder bug in any residual/predictor path
  * breaks the lossless round-trip the spec and oracle both pin.
  *
  * Scale shape: identical to the image codecs — pure per-row decode
  * inside one scan, bytes never shuffle, output bounded before
  * allocation.
  */
object FlacCodec {

  /** Raw decoded stream: interleaved integer samples (lossless — these
    * are bit-exact), `nFrames` per channel.
    */
  final case class DecodedFlac(sampleRate: Int, channels: Int,
                               bitsPerSample: Int, nFrames: Int,
                               samples: Array[Int])

  private val MaxSamples: Int = 16 << 20 // 64 MiB of ints, cap discipline

  def isFlac(b: Array[Byte]): Boolean =
    b != null && b.length >= 4 &&
      b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C'

  // ---- bit IO (MSB-first; FLAC has no byte stuffing) ---------------------

  private final class Truncated extends Exception

  private final class BitReader(b: Array[Byte]) {
    var bitPos: Long = 0L
    def bytePos: Int = (bitPos >> 3).toInt
    def align(): Unit = bitPos = (bitPos + 7) & ~7L
    def bit(): Int = {
      if (bitPos >= b.length.toLong * 8) throw new Truncated
      val v = (b((bitPos >> 3).toInt) >> (7 - (bitPos & 7).toInt)) & 1
      bitPos += 1
      v
    }
    def bits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    def bitsLong(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    def signedBits(n: Int): Int = {
      val v = bits(n)
      if (n == 0) 0
      else if ((v & (1 << (n - 1))) != 0) v - (1 << n)
      else v
    }
    def unary(): Int = {
      var q = 0
      while (bit() == 0) {
        q += 1
        // Long-domain comparison: (len*8).toInt wraps negative past
        // 256 MiB and would fire the guard on the first zero bit.
        if (q.toLong > b.length.toLong * 8) throw new Truncated
      }
      q
    }
  }

  // ---- CRCs (FLAC spec polynomials) --------------------------------------

  private def crc8(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= b(i) & 0xff
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff
        else (crc << 1) & 0xff
        k += 1
      }
      i += 1
    }
    crc
  }

  private def crc16(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (b(i) & 0xff) << 8
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
        else (crc << 1) & 0xffff
        k += 1
      }
      i += 1
    }
    crc
  }

  // ---- decoder ------------------------------------------------------------

  def decode(b: Array[Byte]): Option[DecodedFlac] =
    try decodeImpl(b)
    catch { case _: Exception => None }

  /** FIXED-predictor reconstruction, orders 0–4 (spec §9.2.1). */
  private def undoFixed(order: Int, x: Array[Int], n: Int): Unit = {
    var i = order
    order match {
      case 0 => ()
      case 1 => while (i < n) { x(i) += x(i - 1); i += 1 }
      case 2 => while (i < n) { x(i) += 2 * x(i - 1) - x(i - 2); i += 1 }
      case 3 => while (i < n) {
        x(i) += 3 * x(i - 1) - 3 * x(i - 2) + x(i - 3); i += 1
      }
      case 4 => while (i < n) {
        x(i) += 4 * x(i - 1) - 6 * x(i - 2) + 4 * x(i - 3) - x(i - 4); i += 1
      }
      case _ => throw new IllegalStateException("bad fixed order")
    }
  }

  private def decodeImpl(b: Array[Byte]): Option[DecodedFlac] = {
    if (!isFlac(b)) return None
    if (b.length < 4 + 4 + 34) return None
    // ---- metadata blocks; STREAMINFO must come first ----
    var pos = 4
    var sampleRate = 0; var channels = 0; var bps = 0
    var totalSamples = 0L
    var first = true
    var last = false
    while (!last) {
      if (pos + 4 > b.length) return None
      val hdr = b(pos) & 0xff
      last = (hdr & 0x80) != 0
      val btype = hdr & 0x7f
      val len = ((b(pos + 1) & 0xff) << 16) | ((b(pos + 2) & 0xff) << 8) |
        (b(pos + 3) & 0xff)
      pos += 4
      if (pos + len > b.length) return None
      if (first) {
        if (btype != 0 || len < 34) return None // STREAMINFO mandatory first
        val r = new BitReader(java.util.Arrays.copyOfRange(b, pos, pos + 34))
        r.bits(16); r.bits(16) // min/max blocksize
        r.bits(24); r.bits(24) // min/max framesize
        sampleRate = r.bits(20)
        channels = r.bits(3) + 1
        bps = r.bits(5) + 1
        totalSamples = r.bitsLong(36)
        first = false
      }
      pos += len
    }
    if (sampleRate <= 0 || channels < 1 || channels > 2) return None
    if (bps != 8 && bps != 16) return None
    if (totalSamples > MaxSamples.toLong ||
      totalSamples * channels > MaxSamples.toLong) return None

    // ---- frame loop ----
    val expected =
      if (totalSamples > 0) (totalSamples * channels).toInt else MaxSamples
    val out = new scala.collection.mutable.ArrayBuffer[Int](
      math.min(expected, 1 << 20))
    var frames = 0
    var done = false
    while (!done && pos + 2 <= b.length) {
      val frameStart = pos
      try {
        val r = new BitReader(b)
        r.bitPos = pos.toLong * 8
        // frame header: 14-bit sync + reserved + blocking strategy
        val sync = r.bits(14)
        if (sync != 0x3ffe) { done = true }
        else {
          if (r.bit() != 0) return None // reserved
          val variable = r.bit() == 1
          if (variable) return None // out of scope (fixed strategy only)
          val bsCode = r.bits(4)
          val srCode = r.bits(4)
          val chanAsn = r.bits(4)
          val ssCode = r.bits(3)
          if (r.bit() != 0) return None // reserved
          // UTF-8-coded frame number (spec §9.1.5)
          val b0 = r.bits(8)
          var follow = 0
          if ((b0 & 0x80) == 0) follow = 0
          else if ((b0 & 0xe0) == 0xc0) follow = 1
          else if ((b0 & 0xf0) == 0xe0) follow = 2
          else if ((b0 & 0xf8) == 0xf0) follow = 3
          else if ((b0 & 0xfc) == 0xf8) follow = 4
          else if ((b0 & 0xfe) == 0xfc) follow = 5
          else return None
          var fi = 0
          while (fi < follow) {
            if ((r.bits(8) & 0xc0) != 0x80) return None
            fi += 1
          }
          val blockSize = bsCode match {
            case 0 => return None // reserved
            case 1 => 192
            case c if c >= 2 && c <= 5 => 576 << (c - 2)
            case 6 => r.bits(8) + 1
            case 7 => r.bits(16) + 1
            case c => 256 << (c - 8)
          }
          srCode match {
            case 0 => () // from STREAMINFO
            case 12 => r.bits(8)
            case 13 | 14 => r.bits(16)
            case 15 => return None // invalid
            case _ => () // table codes: value is informational here
          }
          val frameBps = ssCode match {
            case 0 => bps
            case 1 => 8
            case 4 => 16
            case _ => return None // 12/20/24/32-bit out of scope
          }
          if (frameBps != bps) return None
          val nCh = chanAsn match {
            case a if a <= 7 => a + 1
            case 8 | 9 | 10 => 2
            case _ => return None
          }
          if (nCh != channels) return None
          // header CRC-8 covers sync..just-before-crc (byte aligned here)
          val crcAt = r.bytePos
          val wantCrc = r.bits(8)
          if (crc8(b, frameStart, crcAt) != wantCrc) return None
          if (out.length + blockSize.toLong * channels > MaxSamples)
            return None

          // ---- subframes ----
          val chan = Array.ofDim[Int](channels, blockSize)
          var ci = 0
          while (ci < channels) {
            // side channels carry one extra bit (spec §9.2)
            val extra = chanAsn match {
              case 8 if ci == 1 => 1 // left/side
              case 9 if ci == 0 => 1 // side/right
              case 10 if ci == 1 => 1 // mid/side
              case _ => 0
            }
            decodeSubframe(r, chan(ci), blockSize, bps + extra)
            ci += 1
          }
          // frame footer CRC-16, byte-aligned
          r.align()
          val footAt = r.bytePos
          val wantCrc16 = r.bits(16)
          if (crc16(b, frameStart, footAt) != wantCrc16) return None

          // ---- stereo decorrelation ----
          chanAsn match {
            case 8 => // left/side: right = left - side
              var i = 0
              while (i < blockSize) { chan(1)(i) = chan(0)(i) - chan(1)(i); i += 1 }
            case 9 => // side/right: left = side + right
              var i = 0
              while (i < blockSize) { chan(0)(i) = chan(0)(i) + chan(1)(i); i += 1 }
            case 10 => // mid/side
              var i = 0
              while (i < blockSize) {
                val side = chan(1)(i)
                var mid = chan(0)(i) << 1
                mid |= (side & 1)
                chan(0)(i) = (mid + side) >> 1
                chan(1)(i) = (mid - side) >> 1
                i += 1
              }
            case _ => ()
          }
          var i = 0
          while (i < blockSize) {
            ci = 0
            while (ci < channels) { out += chan(ci)(i); ci += 1 }
            i += 1
          }
          frames += 1
          pos = r.bytePos
          if (totalSamples > 0 && out.length >= totalSamples * channels)
            done = true
        }
      } catch {
        case _: Truncated =>
          // half-fetched payload: keep the frames that completed
          done = true
      }
    }
    if (frames == 0) return None
    val nFrames = out.length / channels
    Some(DecodedFlac(sampleRate, channels, bps, nFrames, out.toArray))
  }

  /** One subframe into `x` (spec §9.2.2–9.2.5). */
  private def decodeSubframe(r: BitReader, x: Array[Int], n: Int,
                             bps: Int): Unit = {
    if (r.bit() != 0) throw new IllegalStateException("subframe pad bit")
    val t = r.bits(6)
    var wasted = 0
    if (r.bit() == 1) wasted = r.unary() + 1
    val eff = bps - wasted
    t match {
      case 0 => // CONSTANT
        val v = r.signedBits(eff)
        java.util.Arrays.fill(x, 0, n, v)
      case 1 => // VERBATIM
        var i = 0
        while (i < n) { x(i) = r.signedBits(eff); i += 1 }
      case f if f >= 8 && f <= 12 => // FIXED, order 0-4
        val order = f - 8
        if (order > n) throw new IllegalStateException("order > blocksize")
        var i = 0
        while (i < order) { x(i) = r.signedBits(eff); i += 1 }
        decodeResidual(r, x, n, order)
        undoFixed(order, x, n)
      case l if l >= 32 => // LPC, order 1-32
        val order = (l & 0x1f) + 1
        if (order > n) throw new IllegalStateException("order > blocksize")
        var i = 0
        while (i < order) { x(i) = r.signedBits(eff); i += 1 }
        val precision = r.bits(4) + 1
        if (precision == 16) throw new IllegalStateException("bad qlp precision")
        val shift = {
          val s = r.bits(5)
          if ((s & 0x10) != 0) s - 32 else s
        }
        if (shift < 0) throw new IllegalStateException("negative qlp shift")
        val coef = new Array[Int](order)
        i = 0
        while (i < order) { coef(i) = r.signedBits(precision); i += 1 }
        decodeResidual(r, x, n, order)
        i = order
        while (i < n) {
          var p = 0L
          var j = 0
          while (j < order) { p += coef(j).toLong * x(i - 1 - j); j += 1 }
          x(i) += (p >> shift).toInt
          i += 1
        }
      case _ => throw new IllegalStateException("reserved subframe type")
    }
    if (wasted > 0) {
      var i = 0
      while (i < n) { x(i) = x(i) << wasted; i += 1 }
    }
  }

  /** Rice-coded residual into x(order..n) (spec §9.2.7). */
  private def decodeResidual(r: BitReader, x: Array[Int], n: Int,
                             order: Int): Unit = {
    val method = r.bits(2)
    if (method > 1) throw new IllegalStateException("reserved residual method")
    val pBits = if (method == 0) 4 else 5
    val escape = if (method == 0) 0xf else 0x1f
    val pOrder = r.bits(4)
    val parts = 1 << pOrder
    if (n % parts != 0) throw new IllegalStateException("bad partition order")
    var idx = order
    var p = 0
    while (p < parts) {
      val count = (n >> pOrder) - (if (p == 0) order else 0)
      if (count < 0) throw new IllegalStateException("bad partition geometry")
      val param = r.bits(pBits)
      if (param == escape) {
        val raw = r.bits(5)
        var i = 0
        while (i < count) { x(idx) = r.signedBits(raw); idx += 1; i += 1 }
      } else {
        var i = 0
        while (i < count) {
          val q = r.unary()
          val rem = r.bits(param)
          val u = (q << param) | rem
          // zigzag: even -> u/2, odd -> -(u/2)-1
          x(idx) = if ((u & 1) == 0) u >>> 1 else -(u >>> 1) - 1
          idx += 1
          i += 1
        }
      }
      p += 1
    }
  }

  // ---- encoder (fixtures + synthetic media) -------------------------------

  private final class BitWriter {
    private val buf = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var nBits = 0
    def bit(v: Int): Unit = {
      cur = (cur << 1) | (v & 1)
      nBits += 1
      if (nBits == 8) { buf.write(cur); cur = 0; nBits = 0 }
    }
    def bits(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { bit((v >> i) & 1); i -= 1 }
    }
    def bitsLong(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { bit(((v >> i) & 1L).toInt); i -= 1 }
    }
    def align(): Unit = while (nBits != 0) bit(0)
    def toBytes: Array[Byte] = { align(); buf.toByteArray }
    /** Bytes so far, at a byte boundary — the CRC hook points. */
    def snapshot: Array[Byte] = {
      require(nBits == 0, "snapshot off byte boundary")
      buf.toByteArray
    }
  }

  /** Encode 16-bit interleaved samples. `subframe` selects the encoder
    * path per stream: 0 = VERBATIM, 1 = FIXED order 1, 2 = FIXED
    * order 2 (each with rice residuals and the escape fallback);
    * `midSide` applies mid/side decorrelation for stereo input;
    * `partitions2` uses a 2-partition residual where the geometry
    * divides. The fixture rotation drives all of them.
    */
  def encodeFlac16(sampleRate: Int, channels: Int, samples: Array[Int],
                   subframe: Int = 0, midSide: Boolean = false,
                   partitions2: Boolean = false,
                   blockSize: Int = 1024): Array[Byte] = {
    require(channels == 1 || channels == 2, "mono or stereo")
    require(samples.length % channels == 0, "ragged interleave")
    val nFrames = samples.length / channels
    val out = new java.io.ByteArrayOutputStream()
    out.write('f'); out.write('L'); out.write('a'); out.write('C')
    // STREAMINFO, last-metadata-block flag set
    val si = new BitWriter
    si.bits(blockSize, 16); si.bits(blockSize, 16)
    si.bits(0, 24); si.bits(0, 24)
    si.bits(sampleRate, 20)
    si.bits(channels - 1, 3)
    si.bits(15, 5) // bps - 1
    si.bitsLong(nFrames.toLong, 36)
    val siBytes = si.toBytes ++ new Array[Byte](16) // md5 unset (zeros)
    out.write(0x80); out.write(0); out.write(0)
    out.write(siBytes.length) // 34
    out.write(siBytes, 0, siBytes.length)

    var frameNo = 0
    var off = 0
    while (off < nFrames) {
      val bs = math.min(blockSize, nFrames - off)
      // split channels (+ optional mid/side)
      val useMs = midSide && channels == 2
      val chan = Array.ofDim[Int](channels, bs)
      var i = 0
      while (i < bs) {
        if (channels == 1) chan(0)(i) = samples(off + i)
        else {
          val l = samples((off + i) * 2); val rr = samples((off + i) * 2 + 1)
          if (useMs) { chan(0)(i) = (l + rr) >> 1; chan(1)(i) = l - rr }
          else { chan(0)(i) = l; chan(1)(i) = rr }
        }
        i += 1
      }
      val w = new BitWriter
      w.bits(0x3ffe, 14); w.bit(0); w.bit(0) // sync, reserved, fixed strategy
      w.bits(7, 4) // blocksize: 16-bit value-1 follows
      w.bits(0, 4) // sample rate from STREAMINFO
      w.bits(if (channels == 1) 0 else if (useMs) 10 else 1, 4)
      w.bits(4, 3) // 16-bit samples
      w.bit(0)
      // UTF-8 frame number (fixtures stay < 2^31; full UTF-8-style ranges)
      encodeUtf8Number(w, frameNo)
      w.bits(bs - 1, 16)
      val headerSoFar = w.snapshot
      w.bits(crc8(headerSoFar, 0, headerSoFar.length), 8)
      var ci = 0
      while (ci < channels) {
        val extra = if (useMs && ci == 1) 1 else 0
        encodeSubframe(w, chan(ci), bs, 16 + extra, subframe, partitions2)
        ci += 1
      }
      w.align()
      val body = w.snapshot
      w.bits(crc16(body, 0, body.length), 16)
      val frame = w.toBytes
      out.write(frame, 0, frame.length)
      frameNo += 1
      off += bs
    }
    out.toByteArray
  }

  /** Spec §9.1.5 UTF-8-style number coding (frame numbers). */
  private def encodeUtf8Number(w: BitWriter, v: Int): Unit = {
    if (v < 0x80) w.bits(v, 8)
    else if (v < 0x800) {
      w.bits(0xc0 | (v >> 6), 8); w.bits(0x80 | (v & 0x3f), 8)
    } else if (v < 0x10000) {
      w.bits(0xe0 | (v >> 12), 8)
      w.bits(0x80 | ((v >> 6) & 0x3f), 8)
      w.bits(0x80 | (v & 0x3f), 8)
    } else {
      w.bits(0xf0 | (v >> 18), 8)
      w.bits(0x80 | ((v >> 12) & 0x3f), 8)
      w.bits(0x80 | ((v >> 6) & 0x3f), 8)
      w.bits(0x80 | (v & 0x3f), 8)
    }
  }

  private def encodeSubframe(w: BitWriter, x: Array[Int], n: Int, bps: Int,
                             kind: Int, partitions2: Boolean): Unit = {
    val order = kind match {
      case 1 => math.min(1, n - 1).max(0)
      case 2 => math.min(2, n - 1).max(0)
      case _ => -1
    }
    w.bit(0)
    if (order < 0) { // VERBATIM
      w.bits(1, 6); w.bit(0)
      var i = 0
      while (i < n) { w.bits(x(i) & ((1 << bps) - 1), bps); i += 1 }
      return
    }
    w.bits(8 + order, 6); w.bit(0) // FIXED, no wasted bits
    var i = 0
    while (i < order) { w.bits(x(i) & ((1 << bps) - 1), bps); i += 1 }
    // residuals
    val res = new Array[Int](n)
    i = order
    while (i < n) {
      res(i) = order match {
        case 0 => x(i)
        case 1 => x(i) - x(i - 1)
        case _ => x(i) - 2 * x(i - 1) + x(i - 2)
      }
      i += 1
    }
    val pOrder = if (partitions2 && n % 2 == 0 && (n / 2) > order) 1 else 0
    w.bits(0, 2) // rice, 4-bit params
    w.bits(pOrder, 4)
    val parts = 1 << pOrder
    var p = 0
    var idx = order
    while (p < parts) {
      val count = (n >> pOrder) - (if (p == 0) order else 0)
      // pick the smallest k whose rice length beats escaped-raw; a
      // partition of wild residuals falls back to the escape
      var sumAbs = 0L
      var j = 0
      while (j < count) { sumAbs += math.abs(res(idx + j).toLong); j += 1 }
      val mean = if (count > 0) sumAbs / math.max(count, 1) else 0L
      var k = 0
      while ((1L << k) < mean + 1 && k < 14) k += 1
      // worst-case quotient guard: escape if any unary run would blow up
      var worstQ = 0L
      j = 0
      while (j < count) {
        val u = zigzag(res(idx + j))
        worstQ = math.max(worstQ, u.toLong >> k)
        j += 1
      }
      if (worstQ > 64) { // escape to raw
        w.bits(0xf, 4)
        // raw width 20: an order-2 residual over 17-bit side samples
        // reaches ±4·2^16, i.e. 19 bits signed
        w.bits(20, 5)
        j = 0
        while (j < count) {
          w.bits(res(idx + j) & ((1 << 20) - 1), 20); j += 1
        }
      } else {
        w.bits(k, 4)
        j = 0
        while (j < count) {
          val u = zigzag(res(idx + j))
          val q = u >>> k
          var z = 0
          while (z < q) { w.bit(0); z += 1 }
          w.bit(1)
          w.bits(u & ((1 << k) - 1), k)
          j += 1
        }
      }
      idx += count
      p += 1
    }
  }

  private def zigzag(v: Int): Int = if (v >= 0) v << 1 else ((-v) << 1) - 1
}
