package graft.plans

import java.nio.charset.{CharacterCodingException, CodingErrorAction, StandardCharsets}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Mojibake repair as a native codegen expression — the core trick of
  * the ftfy tool (Speer, "fixing Unicode for fun and profit"): text
  * that shows `Ã©` where `é` belongs was UTF-8 bytes mis-decoded as
  * Latin-1 / Windows-1252 somewhere upstream, and the damage inverts
  * EXACTLY — re-encode the chars to their single bytes and strictly
  * re-decode as UTF-8. Web-crawl corpora carry this at measurable
  * rates (double-encoded feeds, mislabeled Content-Type), and masking
  * it poisons tokenizers and dedup keys alike.
  *
  * Safety: a round is accepted only when (a) EVERY char maps to one
  * byte (raw Latin-1 for U+00..U+FF, or the 27 Windows-1252 remaps
  * for `€ ‚ ƒ „ … Š Œ Ž ™ œ …` etc.), (b) at least one byte is
  * non-ASCII, and (c) the byte string is WELL-FORMED UTF-8 under a
  * strict REPORT-mode decoder. Clean text fails (c) — "café"'s lone
  * 0xE9 is not valid UTF-8 — so the expression is a no-op on healthy
  * input; matching all three conditions by accident requires text
  * that *is* the mojibake signature. Up to 3 rounds unwind
  * double/triple encoding; a fixpoint stops early.
  *
  * Codegen: static JVM call, no SerDe, whole-stage span preserved —
  * same contract as [[NfkcNormalize]]. The clean-path cost is one
  * char scan to the first char ≥ U+0080 (ASCII text: no allocation).
  */
case class FixMojibake(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "fix_mojibake"

  override protected def nullSafeEval(input: Any): Any =
    FixMojibake.fix(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.FixMojibake$$.MODULE$$.fix($c)")

  override protected def withNewChildInternal(newChild: Expression): FixMojibake =
    copy(child = newChild)
}

object FixMojibake {

  private val MaxRounds = 3

  /** Windows-1252 0x80–0x9F, indexed by (byte − 0x80): the code points
    * cp1252 puts where ISO-8859-1 has C1 controls. 0xFFFD marks the
    * five undefined slots (0x81, 0x8D, 0x8F, 0x90, 0x9D).
    */
  private val Cp1252: Array[Char] = Array(
    '€', '�', '‚', 'ƒ', '„', '…', '†',
    '‡', 'ˆ', '‰', 'Š', '‹', 'Œ', '�',
    'Ž', '�', '�', '‘', '’', '“', '”',
    '•', '–', '—', '˜', '™', 'š', '›',
    'œ', '�', 'ž', 'Ÿ')

  /** code point → cp1252 byte for the 27 remapped chars, else -1. */
  private def cp1252Byte(c: Char): Int = {
    var i = 0
    while (i < 32) {
      if (Cp1252(i) == c && Cp1252(i) != '�') return 0x80 + i
      i += 1
    }
    -1
  }

  /** Static kernel shared by interpreted eval and generated code. */
  def fix(s: UTF8String): UTF8String = {
    val first = s.toString
    var cur = first
    var rounds = 0
    while (rounds < MaxRounds) {
      val next = fixOnce(cur)
      if (next == null) {
        return if (rounds == 0) s else UTF8String.fromString(cur)
      }
      cur = next
      rounds += 1
    }
    UTF8String.fromString(cur)
  }

  /** One unwind, or null when the string is not a mojibake candidate. */
  private def fixOnce(str: String): String = {
    val n = str.length
    // fast gate: pure-ASCII text cannot be mojibake
    var i = 0
    while (i < n && str.charAt(i) < 0x80) i += 1
    if (i == n) return null
    val bytes = new Array[Byte](n)
    i = 0
    while (i < n) {
      val c = str.charAt(i)
      if (c < 0x100) bytes(i) = c.toByte
      else {
        val b = cp1252Byte(c)
        if (b < 0) return null // char no 8-bit decode produces: not mojibake
        bytes(i) = b.toByte
      }
      i += 1
    }
    try {
      val dec = StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
      val out = dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
      if (out == str) null else out
    } catch {
      case _: CharacterCodingException => null
    }
  }

  /** Column-API entry point: `FixMojibake(col("text"))`. */
  def apply(c: Column): Column =
    GraftSqlBridge.column(FixMojibake(GraftSqlBridge.expression(c)))
}
