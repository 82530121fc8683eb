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
  * but not replayable arithmetic. DeflateSpec keeps a spec-exact
  * stored encoder, proves every encoding inflates back byte-identically
  * through java.util.zip.Inflater (which also verifies the Adler-32),
  * and that this kernel equals its output length exactly.
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

  def apply(c: Column): Column =
    GraftSqlBridge.column(DeflateStoredLength(GraftSqlBridge.expression(c)))
}
