package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.AudioCodec

/** Contract for the JVM-pure WAV codec. Like JpegCodecSpec, the
  * load-bearing tests cross-check both directions against the JDK's
  * own independent implementation (javax.sound.sampled) — chunk
  * layout, endianness, sign convention and channel interleave are
  * pinned against code sharing nothing with this codec.
  */
class AudioCodecSpec extends AnyFunSuite {

  private def sine(n: Int, channels: Int): Array[Float] = {
    val out = new Array[Float](n * channels)
    var f = 0
    while (f < n) {
      var c = 0
      while (c < channels) {
        out(f * channels + c) =
          (math.sin(2 * math.Pi * f / 64.0) * 0.5 * (c + 1) / channels).toFloat
        c += 1
      }
      f += 1
    }
    out
  }

  test("round-trip: structure exact, samples within 16-bit quantization") {
    for ((rate, ch, n) <- Seq((8000, 1, 1000), (16000, 2, 777), (44100, 1, 4097))) {
      val s = sine(n, ch)
      val a = AudioCodec.decode(AudioCodec.encodeWav16(rate, ch, s)).get
      assert(a.sampleRate === rate && a.channels === ch && a.nFrames === n)
      assert(a.bitsPerSample === 16)
      var maxErr = 0.0f
      for (i <- s.indices) maxErr = math.max(maxErr, math.abs(s(i) - a.samples(i)))
      assert(maxErr <= 1.5f / 32768.0f, s"rate=$rate ch=$ch")
    }
  }

  test("cross-check: this encoder's output parses under javax.sound") {
    val s = sine(500, 2)
    val wav = AudioCodec.encodeWav16(16000, 2, s)
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    val fmt = in.getFormat
    assert(fmt.getSampleRate === 16000.0f && fmt.getChannels === 2 &&
      fmt.getSampleSizeInBits === 16)
    assert(in.getFrameLength === 500L)
    val raw = in.readAllBytes()
    assert(raw.length === 500 * 2 * 2)
    // sample parity: javax delivers the same little-endian PCM
    var i = 0
    var maxErr = 0.0f
    while (i < 1000) {
      val v = ((raw(i * 2) & 0xff) | (raw(i * 2 + 1) << 8)).toShort / 32768.0f
      maxErr = math.max(maxErr, math.abs(v - s(i)))
      i += 1
    }
    assert(maxErr <= 1.5f / 32768.0f)
  }

  test("cross-check: javax.sound-encoded streams decode here") {
    val n = 800
    val s = sine(n, 1)
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val v = math.round(s(i) * 32767.0f)
      pcm(i * 2) = v.toByte; pcm(i * 2 + 1) = (v >> 8).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(22050.0f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val a = AudioCodec.decode(bos.toByteArray)
      .getOrElse(fail("decoder rejected a javax.sound WAV"))
    assert(a.sampleRate === 22050 && a.channels === 1 && a.nFrames === n)
    var maxErr = 0.0f
    for (i <- 0 until n) maxErr = math.max(maxErr, math.abs(a.samples(i) - s(i)))
    assert(maxErr <= 1.5f / 32768.0f)
  }

  test("unknown chunks are skipped; truncated data decodes the present frames") {
    val s = sine(300, 1)
    val wav = AudioCodec.encodeWav16(8000, 1, s)
    // splice a LIST chunk between fmt and data
    val listChunk = "LIST".getBytes("US-ASCII") ++
      Array[Byte](6, 0, 0, 0) ++ "INFOab".getBytes("US-ASCII")
    val spliced = wav.take(36) ++ listChunk ++ wav.drop(36)
    val a = AudioCodec.decode(spliced).get
    assert(a.nFrames === 300)
    // truncate mid-data: whole frames present still decode
    val cut = AudioCodec.decode(wav.take(44 + 100 * 2)).get
    assert(cut.nFrames === 100)
  }

  test("out-of-scope and malformed payloads return None, never throw") {
    val good = AudioCodec.encodeWav16(8000, 1, sine(100, 1))
    val floatFmt = good.clone(); floatFmt(20) = 3 // IEEE float PCM
    val fiveCh = good.clone(); fiveCh(22) = 5
    val rnd = new scala.util.Random(3)
    val shapes: Seq[Array[Byte]] = Seq(
      null, Array.emptyByteArray,
      "RIFF".getBytes("US-ASCII"),
      "RIFFxxxxWAVE".getBytes("US-ASCII"),
      floatFmt, fiveCh,
      good.take(30),
      "RIFF".getBytes("US-ASCII") ++ Array.fill(200)(rnd.nextInt(256).toByte))
    shapes.foreach { b =>
      val r = AudioCodec.decode(b)
      r.foreach(a => assert(a.nFrames > 0))
    }
    assert(AudioCodec.decode(floatFmt).isEmpty)
    assert(AudioCodec.decode(fiveCh).isEmpty)
  }

  test("G.711 decode tables match the JDK's own codec on all 256 bytes, both laws") {
    import javax.sound.sampled._
    import java.io.ByteArrayInputStream
    for ((enc, mine) <- Seq(
        AudioFormat.Encoding.ULAW -> ((b: Byte) => AudioCodec.ulawToLinear(b)),
        AudioFormat.Encoding.ALAW -> ((b: Byte) => AudioCodec.alawToLinear(b)))) {
      val encoded = Array.tabulate(256)(_.toByte)
      val src = new AudioFormat(enc, 8000f, 8, 1, 1, 8000f, false)
      val dst = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        8000f, 16, 1, 2, 8000f, false)
      val pcm = AudioSystem.getAudioInputStream(dst,
        new AudioInputStream(new ByteArrayInputStream(encoded), src, 256))
      val out = pcm.readAllBytes()
      (0 until 256).foreach { i =>
        val jdk = ((out(2 * i) & 0xff) | (out(2 * i + 1) << 8)).toShort.toInt
        assert(mine(i.toByte) == jdk, s"$enc byte $i")
      }
    }
  }

  test("G.711 WAV: decode facts, linear values, truncation, mono/stereo") {
    val companded = Array.tabulate(300)(i => (i * 7 % 256).toByte)
    for (aLaw <- Seq(false, true); ch <- Seq(1, 2)) {
      val wav = AudioCodec.encodeWavG711(8000, ch, companded, aLaw)
      val d = AudioCodec.decode(wav).get
      assert((d.sampleRate, d.channels, d.bitsPerSample, d.nFrames) ==
        (8000, ch, 16, 300 / ch), s"alaw=$aLaw ch=$ch")
      val decode: Byte => Int =
        if (aLaw) AudioCodec.alawToLinear else AudioCodec.ulawToLinear
      companded.indices.take(d.nFrames * ch).foreach { i =>
        assert(math.round(d.samples(i) * 32768.0f) == decode(companded(i)))
      }
      // truncated mid-header: no data chunk -> None; truncated
      // mid-data: the WAV walker's documented tolerance decodes what
      // is actually present (6 companded bytes -> 6/ch frames)
      assert(AudioCodec.decode(wav.take(40)).isEmpty)
      assert(AudioCodec.decode(wav.take(50)).exists(_.nFrames == 6 / ch))
    }
  }

  test("audio features: bounded, deterministic, silence vs tone separate") {
    val tone = AudioCodec.decode(AudioCodec.encodeWav16(8000, 1, sine(4096, 1))).get
    val silence = AudioCodec.decode(
      AudioCodec.encodeWav16(8000, 1, new Array[Float](4096))).get
    val ft = AudioCodecSpec.audioFeatures(tone, 13)
    val fs = AudioCodecSpec.audioFeatures(silence, 13)
    assert(ft.length === 13 && fs.length === 13)
    assert(ft(3) > fs(3), "tone RMS above silence")
    assert(ft(0) === 4096.0f / 8000.0f, "duration")
    assert(ft.sameElements(AudioCodecSpec.audioFeatures(tone, 13)), "deterministic")
    assert(ft(5) >= 0.0f && ft(5) <= 1.0f, "zcr bounded")
  }
}

object AudioCodecSpec {

  /** A content-derived feature vector from decoded samples, the audio
    * sibling of [[graft.ops.Multimodal.pixelFeatures]]: duration, RMS,
    * peak, zero-crossing rate, and an 8-bin RMS-energy histogram over
    * fixed 1024-frame windows (fractions). `dim` other than 13 truncates
    * or zero-pads. Consumes any [[AudioCodec.DecodedAudio]], so it is
    * the common sink the WAV and FLAC decoders are checked into.
    */
  def audioFeatures(a: AudioCodec.DecodedAudio, dim: Int): Array[Float] = {
    val mono = new Array[Float](a.nFrames)
    var f = 0
    while (f < a.nFrames) {
      var c = 0
      var s = 0.0f
      while (c < a.channels) { s += a.samples(f * a.channels + c); c += 1 }
      mono(f) = s / a.channels
      f += 1
    }
    var sumSq = 0.0
    var peak = 0.0f
    var crossings = 0L
    var i = 0
    while (i < mono.length) {
      val v = mono(i)
      sumSq += v.toDouble * v
      val av = math.abs(v)
      if (av > peak) peak = av
      if (i > 0 && ((mono(i - 1) >= 0) != (v >= 0))) crossings += 1
      i += 1
    }
    val rms = math.sqrt(sumSq / mono.length).toFloat
    val zcr = if (mono.length > 1) crossings.toFloat / (mono.length - 1) else 0.0f
    val hist = new Array[Long](8)
    var w = 0
    var nWindows = 0
    while (w < mono.length) {
      val end = math.min(mono.length, w + 1024)
      var ss = 0.0
      var j = w
      while (j < end) { ss += mono(j).toDouble * mono(j); j += 1 }
      val wr = math.sqrt(ss / (end - w))
      hist(math.min((wr * 8).toInt, 7)) += 1
      nWindows += 1
      w += 1024
    }
    val base = Array(
      a.nFrames.toFloat / a.sampleRate, // duration s
      a.channels.toFloat, a.sampleRate.toFloat,
      rms, peak, zcr) ++
      hist.map(h => if (nWindows > 0) h.toFloat / nWindows else 0.0f)
    java.util.Arrays.copyOf(base, dim)
  }
}
