package graft.ops

/** JVM-pure WAV (RIFF/WAVE) codec — the audio-modality counterpart of
  * [[ImageCodec]]/[[JpegCodec]]: real sample decode for the container
  * format that is plain public structure (RIFF chunks + raw PCM), so
  * the audio pipeline's decode step is genuine instead of
  * metadata-arithmetic only.
  *
  * Decoder scope (spec-pinned): canonical RIFF/WAVE with a `fmt `
  * chunk of format 1 (integer PCM, 8-bit unsigned or 16-bit signed
  * little-endian), 1 or 2 channels, any sample rate; unknown chunks
  * (LIST, fact, cue…) are skipped by their declared length; a `data`
  * chunk truncated by a partial upload decodes to the whole samples
  * actually present. Anything else (float PCM, ADPCM, extensible
  * format, >2 channels, corrupt headers) → None, never a throw — the
  * same one-corrupt-blob-cannot-kill-a-stage contract as the image
  * codecs.
  *
  * Samples normalize to Float in [-1, 1] interleaved by channel —
  * the shape a feature extractor or resampler consumes.
  */
object AudioCodec {

  /** Interleaved normalized samples; `nFrames` = samples per channel. */
  final case class DecodedAudio(sampleRate: Int, channels: Int,
                                bitsPerSample: Int, nFrames: Int,
                                samples: Array[Float])

  /** 64 MiB of decoded samples max — a corrupt length field must not
    * OOM an executor (same cap discipline as ImageCodec).
    */
  private val MaxSampleBytes: Long = 64L << 20

  def isWav(b: Array[Byte]): Boolean =
    b != null && b.length >= 12 &&
      b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'

  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  def decode(b: Array[Byte]): Option[DecodedAudio] =
    try {
      if (AiffCodec.isAiff(b))
        // AIFF dispatch: integer samples normalized to the float view
        AiffCodec.decode(b).map { d =>
          val scale = if (d.bitsPerSample == 16) 32768.0f else 128.0f
          DecodedAudio(d.sampleRate, d.channels, d.bitsPerSample,
            d.nFrames, d.samples.map(_ / scale))
        }
      else decodeImpl(b)
    } catch { case _: Exception => None }

  private def decodeImpl(b: Array[Byte]): Option[DecodedAudio] = {
    if (!isWav(b)) return None
    var pos = 12
    var sampleRate = 0
    var channels = 0
    var bits = 0
    var g711 = 1
    var fmtSeen = false
    var dataOff = -1
    var dataLen = 0
    while (pos + 8 <= b.length && (dataOff < 0 || !fmtSeen)) {
      val id = new String(b, pos, 4, "US-ASCII")
      val len = le32(b, pos + 4)
      if (len < 0) return None
      id match {
        case "fmt " =>
          if (len < 16 || pos + 8 + 16 > b.length) return None
          val audioFormat = le16(b, pos + 8)
          channels = le16(b, pos + 10)
          sampleRate = le32(b, pos + 12)
          bits = le16(b, pos + 22)
          // 1 = integer PCM; 6/7 = G.711 A-law/µ-law (8-bit companded)
          if (audioFormat != 1 && audioFormat != 6 && audioFormat != 7)
            return None
          if (audioFormat != 1 && bits != 8) return None
          g711 = audioFormat
          if (channels < 1 || channels > 2) return None
          if (sampleRate <= 0) return None
          if (bits != 8 && bits != 16) return None
          fmtSeen = true
        case "data" =>
          dataOff = pos + 8
          // a truncated upload may declare more than is present:
          // decode what is actually there
          dataLen = math.min(len.toLong, (b.length - dataOff).toLong).toInt
        case _ => // LIST/fact/cue/bext…: skip
      }
      // chunks are word-aligned: odd lengths carry a pad byte
      pos += 8 + len + (len & 1)
    }
    if (!fmtSeen || dataOff < 0) return None
    val bytesPerSample = bits / 8
    if (dataLen.toLong > MaxSampleBytes) return None
    val nSamples = dataLen / bytesPerSample
    val nFrames = nSamples / channels
    if (nFrames == 0) return None
    val out = new Array[Float](nFrames * channels)
    var i = 0
    if (g711 == 7) {
      while (i < out.length) {
        out(i) = ulawToLinear(b(dataOff + i)) / 32768.0f
        i += 1
      }
    } else if (g711 == 6) {
      while (i < out.length) {
        out(i) = alawToLinear(b(dataOff + i)) / 32768.0f
        i += 1
      }
    } else if (bits == 16) {
      while (i < out.length) {
        val v = (le16(b, dataOff + i * 2) << 16) >> 16 // sign-extend
        out(i) = v / 32768.0f
        i += 1
      }
    } else {
      while (i < out.length) {
        out(i) = ((b(dataOff + i) & 0xff) - 128) / 128.0f
        i += 1
      }
    }
    Some(DecodedAudio(sampleRate, channels,
      if (g711 == 1) bits else 16, nFrames, out))
  }

  /** G.711 µ-law byte → 16-bit linear (ITU-T G.711, public standard).
    * Verified byte-for-byte against the JDK's own ULAW→PCM16 codec in
    * AudioCodecSpec; pure integer arithmetic, so the oracle replays it
    * in SQL. `bitsPerSample` for G.711 payloads reports 16 — the
    * LINEAR domain the samples land in.
    */
  def ulawToLinear(b: Byte): Int = {
    val c = (~b) & 0xff
    val t = (((c & 0xf) << 3) + 0x84) << ((c >> 4) & 7)
    if ((c & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** G.711 A-law byte → 16-bit linear (same contract as [[ulawToLinear]]). */
  def alawToLinear(b: Byte): Int = {
    val a = (b ^ 0x55) & 0xff
    val e = (a >> 4) & 7
    val m = a & 0xf
    val t = if (e == 0) (m << 4) + 8 else ((m << 4) + 0x108) << (e - 1)
    if ((a & 0x80) != 0) t else -t
  }

  /** Fixture: a G.711 WAV (audioFormat 7 = µ-law, 6 = A-law) whose data
    * chunk is the raw companded bytes handed in — lets a fixture derive
    * the payload directly from text bytes so the oracle can replay the
    * decode law arithmetically.
    */
  def encodeWavG711(sampleRate: Int, channels: Int, companded: Array[Byte],
                    aLaw: Boolean): Array[Byte] = {
    require(channels == 1 || channels == 2, s"channels $channels")
    val dataLen = companded.length
    val out = new Array[Byte](44 + dataLen)
    def putStr(off: Int, s: String): Unit =
      s.indices.foreach(i => out(off + i) = s(i).toByte)
    def put32(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
      out(off + 2) = (v >> 16).toByte; out(off + 3) = (v >> 24).toByte
    }
    def put16(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
    }
    putStr(0, "RIFF"); put32(4, 36 + dataLen); putStr(8, "WAVE")
    putStr(12, "fmt "); put32(16, 16)
    put16(20, if (aLaw) 6 else 7); put16(22, channels)
    put32(24, sampleRate); put32(28, sampleRate * channels)
    put16(32, channels); put16(34, 8)
    putStr(36, "data"); put32(40, dataLen)
    System.arraycopy(companded, 0, out, 44, dataLen)
    out
  }

  // ---- fixture encoder ---------------------------------------------------

  /** Canonical 16-bit PCM WAV from normalized samples (interleaved). */
  def encodeWav16(sampleRate: Int, channels: Int,
                  samples: Array[Float]): Array[Byte] = {
    require(channels >= 1 && channels <= 2 && samples.length % channels == 0)
    val dataLen = samples.length * 2
    val out = new Array[Byte](44 + dataLen)
    def putStr(off: Int, s: String): Unit = {
      var i = 0
      while (i < s.length) { out(off + i) = s.charAt(i).toByte; i += 1 }
    }
    def put32(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
      out(off + 2) = (v >> 16).toByte; out(off + 3) = (v >> 24).toByte
    }
    def put16(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
    }
    putStr(0, "RIFF"); put32(4, 36 + dataLen); putStr(8, "WAVE")
    putStr(12, "fmt "); put32(16, 16); put16(20, 1); put16(22, channels)
    put32(24, sampleRate); put32(28, sampleRate * channels * 2)
    put16(32, channels * 2); put16(34, 16)
    putStr(36, "data"); put32(40, dataLen)
    var i = 0
    while (i < samples.length) {
      val clamped = math.max(-1.0f, math.min(1.0f, samples(i)))
      val v = math.round(clamped * 32767.0f)
      put16(44 + i * 2, v)
      i += 1
    }
    out
  }
}
