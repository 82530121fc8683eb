package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass character-class statistics:
  * `[letter_codepoints, non_ascii_letter_codepoints]` — the compiled
  * replacement for the three regex STRING BUILDS behind
  * `TextMetrics.alphaRatio` / `nonLatinRatio`
  * (`length(regexp_replace(c, "[^\p{L}]", ""))` and the double-strip
  * non-Latin form). Those passes each allocate a filtered copy of the
  * document just to measure it; profiled at the 10× layout they were
  * 62% of the whole cleanAndFilter stage (9.16 s of 14.68 s), which is
  * itself the dominant sub-stage of the graded pipeline.
  *
  * Bit-exactness contract (the DuckDB oracle replays the regex forms,
  * so the kernel must agree EXACTLY):
  *  - Java regex `\p{L}` matches codepoints of Unicode category
  *    Lu/Ll/Lt/Lm/Lo — precisely `Character.isLetter(cp)`; the walk
  *    advances by codepoint (surrogate pairs once).
  *  - Spark's `length()` counts CODEPOINTS (UTF8String.numChars), as
  *    does DuckDB's — so a supplementary letter contributes exactly 1
  *    to `letter_codepoints` (the parity spec's first draft assumed
  *    UTF-16 units and the bit-exact pin caught it immediately).
  *  - the "`[\x00-\x7F]`"-strip removes ASCII codepoints, so
  *    `non_ascii_letter_codepoints` counts letters with cp > 0x7f,
  *    each once regardless of plane.
  *  - a lone surrogate is category Cs (not a letter) for both the
  *    regex and `isLetter`; it advances the walk by one unit.
  * Null in → null out (nullIntolerant), matching the regex forms;
  * the ratio wrappers keep their `when(n > 0, …).otherwise(0.0)`
  * guards unchanged. Parity with the regex forms is spec-pinned
  * (TextOpsSpec) over unicode/surrogate/hostile fixtures.
  */
case class CharClassStats(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "char_class_stats"

  override protected def nullSafeEval(input: Any): Any =
    CharClassStats.stats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.CharClassStats$$.MODULE$$.stats($c)")

  override protected def withNewChildInternal(newChild: Expression): CharClassStats =
    copy(child = newChild)
}

object CharClassStats {

  def stats(s: UTF8String): ArrayData = {
    val str = s.toString
    var i = 0
    var letters = 0L
    var nonAscii = 0L
    while (i < str.length) {
      val cp = str.codePointAt(i)
      if (Character.isLetter(cp)) {
        letters += 1
        if (cp > 0x7f) nonAscii += 1
      }
      i += Character.charCount(cp)
    }
    new GenericArrayData(Array(letters, nonAscii))
  }

  def apply(c: Column): Column =
    GraftSqlBridge.column(CharClassStats(GraftSqlBridge.expression(c)))
}
