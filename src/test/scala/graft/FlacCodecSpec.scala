package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.FlacCodec

/** FLAC codec: hand-built spec vectors (bytes assembled from the
  * published bitstream layout OUTSIDE the Scala encoder, so an
  * encoder/decoder inverse-pair bug cannot hide), exact lossless
  * round-trips across every subframe/stereo/partition rotation,
  * truncation tolerance, and allocation-bomb rejection.
  */
class FlacCodecSpec extends AnyFunSuite {

  private def hex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  // mono, 16-bit, rate 8000, one frame, VERBATIM [100, -2, 300, -400];
  // assembled bit-by-bit from the spec (sync/UTF-8 number/CRC-8/CRC-16)
  private val VectorVerbatim = hex(
    "664c6143800000220004000400000000000001f400f000000004000000000000" +
      "00000000000000000000fff8700800000313020064fffe012cfe7006e3")

  // same geometry, FIXED order 0 with a k=2 rice residual over the
  // zigzagged samples [3, -2, 0, 1]
  private val VectorRice = hex(
    "664c6143800000220004000400000000000001f400f000000004000000000000" +
      "00000000000000000000fff870080000031310009bcc6e83")

  test("hand-built VERBATIM vector decodes to the exact samples") {
    val d = FlacCodec.decode(VectorVerbatim)
      .getOrElse(fail("spec vector rejected"))
    assert(d.sampleRate === 8000 && d.channels === 1 && d.bitsPerSample === 16)
    assert(d.nFrames === 4)
    assert(d.samples.toSeq === Seq(100, -2, 300, -400))
  }

  test("hand-built rice/FIXED vector decodes to the exact samples") {
    val d = FlacCodec.decode(VectorRice)
      .getOrElse(fail("rice spec vector rejected"))
    assert(d.samples.toSeq === Seq(3, -2, 0, 1),
      "zigzag/rice/fixed-order-0 conventions must match the spec")
  }

  private def signal(n: Int, seed: Int): Array[Int] =
    Array.tabulate(n)(i => (((i * 31 + seed * 7) % 199) - 99) * 64)

  test("lossless round-trip across every subframe / stereo / partition rotation") {
    for {
      ch <- Seq(1, 2)
      kind <- Seq(0, 1, 2)
      ms <- Seq(false, true)
      p2 <- Seq(false, true)
    } {
      val n = 2500 * ch // several frames at blockSize 1024 + a short tail
      val x = signal(n, kind + ch)
      val enc = FlacCodec.encodeFlac16(16000, ch, x, subframe = kind,
        midSide = ms, partitions2 = p2)
      val d = FlacCodec.decode(enc).getOrElse(
        fail(s"rejected own stream ch=$ch kind=$kind ms=$ms p2=$p2"))
      assert(d.sampleRate === 16000 && d.channels === ch)
      assert(d.nFrames === n / ch)
      assert(d.samples.toSeq === x.toSeq,
        s"lossless violated at ch=$ch kind=$kind ms=$ms p2=$p2")
    }
  }

  test("escape (raw) residual partitions round-trip") {
    // tiny residuals except one huge spike: the mean-based rice k stays
    // small, the spike's unary run blows the guard, the partition
    // escapes to raw — the exact path a pathological block takes
    val x = new Array[Int](2048)
    x(1000) = 30000; x(1001) = -30000
    val enc = FlacCodec.encodeFlac16(8000, 1, x, subframe = 2)
    val d = FlacCodec.decode(enc).getOrElse(fail("escape stream rejected"))
    assert(d.samples.toSeq === x.toSeq)
  }

  test("constant and near-constant blocks round-trip") {
    val x = Array.fill(1500)(-1234)
    val enc = FlacCodec.encodeFlac16(44100, 1, x, subframe = 1)
    val d = FlacCodec.decode(enc).getOrElse(fail("constant-ish rejected"))
    assert(d.samples.toSeq === x.toSeq)
  }

  test("truncation keeps completed frames; garbage and bombs return None") {
    val x = signal(5000, 3) // 5 frames at blockSize 1024
    val enc = FlacCodec.encodeFlac16(8000, 1, x)
    val cut = FlacCodec.decode(enc.take(enc.length * 2 / 3))
    assert(cut.isDefined, "a half-fetched payload must keep whole frames")
    assert(cut.get.nFrames > 0 && cut.get.nFrames < 5000)
    assert(cut.get.samples.toSeq === x.take(cut.get.samples.length).toSeq,
      "the surviving prefix must still be lossless")
    // hostile shapes: never throw
    val rnd = new scala.util.Random(5)
    (0 until 200).foreach { _ =>
      val b = enc.clone()
      b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      FlacCodec.decode(b).foreach(d => assert(d.nFrames >= 0))
    }
    assert(FlacCodec.decode("fLaC".getBytes("US-ASCII")).isEmpty)
    assert(FlacCodec.decode(Array.fill(100)(0x55.toByte)).isEmpty)
    // allocation bomb: patch STREAMINFO's 36-bit total-samples field to
    // a huge value — must reject before allocating
    val bomb = enc.clone()
    // STREAMINFO starts at byte 8; its 36-bit total-samples field spans
    // block bits 108..143 = byte 13's low nibble + bytes 14..17. Patch
    // exactly those so rate/channels/bps stay valid and the rejection
    // can only come from the pre-allocation bound.
    bomb(8 + 13) = (bomb(8 + 13) | 0x0f).toByte
    bomb(8 + 14) = 0xff.toByte; bomb(8 + 15) = 0xff.toByte
    bomb(8 + 16) = 0xff.toByte; bomb(8 + 17) = 0xff.toByte
    assert(FlacCodec.decode(bomb).isEmpty,
      "36-bit total-samples bomb must be rejected before allocation")
  }

  test("toAudio adapter normalizes by bit depth into the feature path") {
    val x = Array[Int](16384, -32768, 0, 8192)
    val enc = FlacCodec.encodeFlac16(8000, 1, x)
    val a = FlacCodecSpec.toAudio(FlacCodec.decode(enc).get)
    assert(a.samples.toSeq === Seq(0.5f, -1.0f, 0.0f, 0.25f))
    assert(a.sampleRate === 8000 && a.channels === 1 && a.nFrames === 4)
    // and the WAV feature extractor consumes it unchanged
    val f = AudioCodecSpec.audioFeatures(a, dim = 8)
    assert(f.length === 8)
  }
}

object FlacCodecSpec {

  /** Normalized-float adapter from FLAC's integer samples into
    * [[graft.ops.AudioCodec.DecodedAudio]], scaled by the bit depth.
    */
  def toAudio(d: FlacCodec.DecodedFlac): graft.ops.AudioCodec.DecodedAudio = {
    val scale = 1.0f / (1 << (d.bitsPerSample - 1))
    val out = new Array[Float](d.samples.length)
    var i = 0
    while (i < out.length) { out(i) = d.samples(i) * scale; i += 1 }
    graft.ops.AudioCodec.DecodedAudio(d.sampleRate, d.channels, d.bitsPerSample,
      d.nFrames, out)
  }
}
