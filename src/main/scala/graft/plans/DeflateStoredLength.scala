package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** zlib STORED-block (DEFLATE level 0) compressed length of a string —
  * the oracle-checkable graded twin of [[DeflateLength]]. The level-6
  * kernel is rows-only by necessity (no DEFLATE in DuckDB, and the
  * compressor's block decisions are engine-defined), but the stored-
  * block frame is fixed by RFC 1950/1951 alone: 2-byte zlib header,
  * ⌈n/65535⌉ five-byte block headers (BFINAL/BTYPE=00 + LEN + NLEN),
  * the n payload bytes, and the 4-byte Adler-32 — so the LENGTH is
  * closed-form arithmetic both engines replay, pinning the shared
  * plumbing (UTF-8 byte length, framing, expression wiring) that the
  * level-6 twin exercises but cannot prove cross-engine.
  *
  * The JDK's own Deflater at level 0 is deliberately NOT used: its
  * stored-block sizing follows internal buffer strides (measured: 6
  * blocks for 200 kB where the format needs 4), which is valid DEFLATE
  * but not replayable arithmetic. [[DeflateStoredLength.encode]] is
  * this engine's own spec-exact encoder; DeflateSpec proves every
  * encoding inflates back byte-identically through java.util.zip
  * .Inflater (which also verifies the Adler-32), and that this kernel
  * equals encode(_).length exactly.
  */
case class DeflateStoredLength(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "deflate_stored_len"

  override protected def nullSafeEval(input: Any): Any =
    DeflateStoredLength.kernel(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.DeflateStoredLength$$.MODULE$$.kernel($c)")

  override protected def withNewChildInternal(newChild: Expression): DeflateStoredLength =
    copy(child = newChild)
}

object DeflateStoredLength {

  /** Stored-block payload capacity: LEN is 16 bits (RFC 1951 §3.2.4). */
  private val MaxBlock = 65535

  /** Closed form of encode(_).length: 2 (zlib header) + 5 per block
    * (an empty input still carries one final empty block) + payload +
    * 4 (Adler-32). O(1) — the length never depends on the bytes, only
    * their count, which is the point of the stored frame.
    */
  def kernel(s: UTF8String): Int = {
    val n = s.numBytes()
    val blocks = math.max(1, (n + MaxBlock - 1) / MaxBlock)
    2 + 5 * blocks + n + 4
  }

  /** The actual spec-exact encoder the kernel's arithmetic describes —
    * emits a VALID zlib stream (header 0x78 0x01: CM=8, CINFO=7,
    * FCHECK making the 16-bit header ≡ 0 mod 31, level-0 FLEVEL;
    * final-flagged stored blocks; big-endian Adler-32) that
    * java.util.zip.Inflater round-trips. Used by DeflateSpec to tie
    * the arithmetic to the format; production queries only need the
    * length.
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

  def apply(c: Column): Column =
    GraftSqlBridge.column(DeflateStoredLength(GraftSqlBridge.expression(c)))
}
