package graft

import org.apache.spark.sql.functions._

import graft.plans.{DeflateLength, DeflateStoredLength, GraftFunctions}

/** The DEFLATE compressibility kernel: reference parity, signal
  * direction, SQL surface, and null handling.
  */
class DeflateSpec extends SparkTestBase {
  import spark.implicits._

  private def referenceLen(s: String): Int = {
    val d = new java.util.zip.Deflater(6, true)
    d.setInput(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.finish()
    val buf = new Array[Byte](1 << 16)
    var total = 0
    while (!d.finished()) total += d.deflate(buf)
    d.end()
    total
  }

  test("kernel matches a reference java.util.zip computation byte-for-byte") {
    val texts = Seq("", "a", "hello world", "spam " * 200,
      "Ünïcödé — 中文 text with varied content 12345",
      (1 to 100).map(i => s"word$i").mkString(" "))
    val got = texts.toDF("t")
      .select(DeflateLength(col("t")).as("n")).collect().map(_.getInt(0))
    assert(got.toSeq === texts.map(referenceLen))
  }

  test("repetitive text compresses far below varied text") {
    val rep = "buy now click here " * 50
    val varied = (1 to 50).map(i => s"sentence$i about topic$i today${i * 7}")
      .mkString(" ")
    val rows = Seq(("rep", rep), ("varied", varied)).toDF("k", "t")
      .select(col("k"),
        (DeflateLength(col("t")).cast("double") /
          expr("octet_length(t)")).as("ratio"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows("rep") < 0.10, s"repetitive ratio ${rows("rep")}")
    assert(rows("varied") > 2 * rows("rep"),
      s"no separation: $rows")
  }

  // -- stored-block (level 0) graded twin ---------------------------------

  /** Fixture sweep across the 65535-byte block boundary + content
    * classes: empty, 1 byte, multi-byte UTF-8, exact boundary, one
    * over, multi-block.
    */
  private def storedFixtures: Seq[String] = Seq(
    "", "a", "hello world", "Ünïcödé — 中文 🙂",
    "x" * 65534, "x" * 65535, "x" * 65536,
    "ab" * 70000,                // 140000 bytes -> 3 blocks
    "中" * 30000)                // 90000 bytes from 30000 chars -> 2 blocks

  test("stored encoder emits valid zlib: Inflater round-trips byte-identically") {
    storedFixtures.foreach { s =>
      val in = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val enc = DeflateSpec.encode(in)
      val inf = new java.util.zip.Inflater() // zlib-wrapped: verifies Adler-32
      inf.setInput(enc)
      val out = new Array[Byte](in.length + 1)
      val n = inf.inflate(out)
      assert(inf.finished(), s"stream not consumed for len ${in.length}")
      assert(n === in.length)
      assert(out.take(n).toSeq === in.toSeq, s"round-trip broke at ${in.length}")
      inf.end()
    }
  }

  test("stored kernel equals encode().length exactly, incl. block boundaries") {
    import spark.implicits._
    val got = storedFixtures.toDF("t")
      .select(DeflateStoredLength(col("t")).as("n"))
      .collect().map(_.getInt(0))
    val want = storedFixtures.map(s =>
      DeflateSpec.encode(
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8)).length)
    assert(got.toSeq === want)
    // the closed form the oracle replays: 2 + 5*ceil(n/65535) + n + 4
    got.toSeq.zip(storedFixtures).foreach { case (len, s) =>
      val n = s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
      val blocks = math.max(1, (n + 65534) / 65535)
      assert(len === 2 + 5 * blocks + n + 4, s"closed form broke at n=$n")
    }
  }

  test("stored SQL surface and null propagation") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val viaSql = spark.sql("SELECT deflate_stored_len('hello')")
      .collect().head.getInt(0)
    assert(viaSql === 2 + 5 + 5 + 4)
    val nullRow = Seq(Option.empty[String]).toDF("t")
      .select(DeflateStoredLength(col("t"))).collect().head
    assert(nullRow.isNullAt(0))
  }

  test("SQL surface and null propagation") {
    GraftFunctions.register(spark)
    val viaSql = spark.sql("SELECT deflate_len('hello world hello world')")
      .collect().head.getInt(0)
    assert(viaSql === referenceLen("hello world hello world"))
    val nullRow = Seq(Option.empty[String]).toDF("t")
      .select(DeflateLength(col("t"))).collect().head
    assert(nullRow.isNullAt(0))
  }
}

object DeflateSpec {
  private val MaxBlock = 65535

  /** The spec-exact encoder [[DeflateStoredLength]]'s arithmetic
    * describes — emits a VALID zlib stream (header 0x78 0x01: CM=8,
    * CINFO=7, FCHECK making the 16-bit header ≡ 0 mod 31, level-0
    * FLEVEL; final-flagged stored blocks; big-endian Adler-32) that
    * java.util.zip.Inflater round-trips. It ties the arithmetic to the
    * format; production queries only need the length.
    */
  def encode(in: Array[Byte]): Array[Byte] = {
    val n = in.length
    val blocks = math.max(1, (n + MaxBlock - 1) / MaxBlock)
    val out = new Array[Byte](2 + 5 * blocks + n + 4)
    out(0) = 0x78.toByte
    out(1) = 0x01.toByte
    var pos = 2
    var off = 0
    var b = 0
    while (b < blocks) {
      val len = math.min(n - off, MaxBlock)
      val last = b == blocks - 1
      out(pos) = if (last) 1.toByte else 0.toByte // BFINAL, BTYPE=00
      out(pos + 1) = (len & 0xff).toByte
      out(pos + 2) = ((len >> 8) & 0xff).toByte
      out(pos + 3) = (~len & 0xff).toByte
      out(pos + 4) = ((~len >> 8) & 0xff).toByte
      System.arraycopy(in, off, out, pos + 5, len)
      pos += 5 + len
      off += len
      b += 1
    }
    val adler = new java.util.zip.Adler32
    adler.update(in, 0, n)
    val a = adler.getValue
    out(pos) = ((a >> 24) & 0xff).toByte
    out(pos + 1) = ((a >> 16) & 0xff).toByte
    out(pos + 2) = ((a >> 8) & 0xff).toByte
    out(pos + 3) = (a & 0xff).toByte
    out
  }
}
