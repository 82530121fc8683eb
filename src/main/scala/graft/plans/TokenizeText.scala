package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The GPT-2-style pre-tokenizer ([[graft.text.Tokenize]] T1) as one
  * native pass. The UDF form pays UTF8String→String→regex engine→boxed
  * Seq→re-encode per row, and the Java regex restarts its alternation
  * machinery at every position. This kernel is a hand-rolled scanner for
  * the SAME token grammar — contraction | optional-space+letter-run |
  * optional-space+digit-run | optional-space+punct-run, ASCII-\s runs
  * dropped with a trailing literal space attaching to the next token —
  * emitting identical ids (a parity spec drives both forms over
  * adversarial and random inputs; the regex stays in
  * [[graft.text.Tokenize]] as the executable grammar spec).
  *
  * Unicode classes follow the Java regex the UDF uses: \p{L} =
  * Character.isLetter, \p{N} = Nd|Nl|No, \s = ASCII [ \t\n\x0B\f\r]
  * (Java default, NOT unicode-ws). Ids hash the token's UTF-16 units
  * exactly like String.hashCode, so they are spec-stable across JVMs.
  */
case class TokenizeText(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)


  override def dataType: DataType = TokenizeText.OutType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "tokenize_text"

  override protected def nullSafeEval(input: Any): Any =
    TokenizeText.kernel(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.TokenizeText$$.MODULE$$.kernel($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenizeText =
    copy(child = newChild)
}

object TokenizeText {

  val OutType: DataType = StructType(Seq(
    StructField("input_ids", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("attention_mask", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("n_tokens", IntegerType, nullable = false)))

  private val VocabSize = graft.text.Tokenize.VocabSize
  private val IdOffset = graft.text.Tokenize.IdOffset

  @inline private def isAsciiWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  @inline private def isNum(cp: Int): Boolean = {
    val t = Character.getType(cp)
    t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
      t == Character.OTHER_NUMBER
  }

  def kernel(text: UTF8String): InternalRow = {
    val s = text.toString
    val n = s.length
    var ids = new Array[Int](math.max(8, n / 4))
    var m = 0
    def push(id: Int): Unit = {
      if (m == ids.length) ids = java.util.Arrays.copyOf(ids, ids.length * 2)
      ids(m) = id; m += 1
    }
    // token id = floorMod(String.hashCode, vocab) + offset, hashed
    // in-place over the UTF-16 units (no substring allocation)
    def emit(start: Int, end: Int): Unit = {
      var h = 0
      var x = start
      while (x < end) { h = 31 * h + s.charAt(x); x += 1 }
      push(Math.floorMod(h, VocabSize) + IdOffset)
    }
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (isAsciiWs(c) && !(c == ' ' && i + 1 < n && !isAsciiWs(s.charAt(i + 1)))) {
        // whitespace run: never a kept token; its trailing char, when a
        // literal space before a non-ws char, leads the next token (the
        // regex's `\s+(?!\S)` backtrack + ` ?X` attachment)
        var q = i + 1
        while (q < n && isAsciiWs(s.charAt(q))) q += 1
        i = if (q < n && s.charAt(q - 1) == ' ') q - 1 else q
      } else {
        val start = i
        var done = false
        if (c == '\'' && i + 1 < n) {
          // alternation order 's|'t|'re|'ve|'m|'ll|'d (first match wins;
          // no leading-space variant — ` '` scans as a punct run)
          val a = s.charAt(i + 1)
          val b = if (i + 2 < n) s.charAt(i + 2) else ' '
          if (a == 's' || a == 't' || a == 'm' || a == 'd') {
            emit(start, i + 2); i += 2; done = true
          } else if ((a == 'r' && b == 'e') || (a == 'v' && b == 'e') ||
                     (a == 'l' && b == 'l')) {
            emit(start, i + 3); i += 3; done = true
          }
        }
        if (!done) {
          var j = if (c == ' ') i + 1 else i // the attached leading space
          // Run loops read each position ONCE (the former form called
          // codePointAt 2-3× per char) with an ASCII char fast path —
          // for ASCII, Character.isLetter is exactly [A-Za-z] and the
          // three \p{N} categories contain only [0-9], so the fast
          // path is semantics-equal (TokenizeSpec's fuzz vs the regex
          // grammar pins it across the surrogate/Ⅷ/²/emoji alphabet).
          val cp = s.codePointAt(j)
          if (Character.isLetter(cp)) {
            var go = true
            while (go && j < n) {
              val ch = s.charAt(j)
              if (ch < 128) {
                val l = (ch | 0x20).toChar
                if (l >= 'a' && l <= 'z') j += 1 else go = false
              } else {
                val p = s.codePointAt(j)
                if (Character.isLetter(p)) j += Character.charCount(p)
                else go = false
              }
            }
          } else if (isNum(cp)) {
            var go = true
            while (go && j < n) {
              val ch = s.charAt(j)
              if (ch < 128) {
                if (ch >= '0' && ch <= '9') j += 1 else go = false
              } else {
                val p = s.codePointAt(j)
                if (isNum(p)) j += Character.charCount(p) else go = false
              }
            }
          } else {
            var go = true
            while (go && j < n) {
              val ch = s.charAt(j)
              if (ch < 128) {
                val l = (ch | 0x20).toChar
                val letter = l >= 'a' && l <= 'z'
                val digit = ch >= '0' && ch <= '9'
                if (!letter && !digit && !isAsciiWs(ch)) j += 1 else go = false
              } else {
                val p = s.codePointAt(j)
                if (!Character.isLetter(p) && !isNum(p))
                  j += Character.charCount(p)
                else go = false
              }
            }
          }
          emit(start, j)
          i = j
        }
      }
    }
    val idArr = java.util.Arrays.copyOf(ids, m)
    val mask = new Array[Int](m)
    java.util.Arrays.fill(mask, 1)
    new GenericInternalRow(Array[Any](
      new GenericArrayData(idArr), new GenericArrayData(mask), m))
  }

  /** Column-API entry point over a string column. */
  def apply(text: Column): Column =
    GraftSqlBridge.column(TokenizeText(GraftSqlBridge.expression(text)))
}
