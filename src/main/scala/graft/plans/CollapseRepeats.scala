package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass repeated-character collapse — the compiled replacement for
  * the P4 BACKREFERENCE regex pair
  * `regexp_replace(c, "([!?.,])\\1{2,}", "$1$1")` then
  * `regexp_replace(c, "(.)\\1{3,}", "$1$1$1")`, the two most expensive
  * passes left in the deep-clean stage (backref matching defeats every
  * regex fast path; each pass also builds a full string copy).
  *
  * The sequential pair reduces to ONE run-length rule over maximal
  * same-codepoint runs (proof: pass 1 collapses punctuation runs ≥3
  * to 2, so pass 2 — runs ≥4 — can never see them, and a collapse
  * never merges adjacent runs because the collapsed char stays
  * between its neighbors):
  *  - run of `!?.,` with length ≥3 → 2 copies;
  *  - run of any other codepoint ≥4 → 3 copies — EXCEPT line
  *    terminators (`\n \r     `), which Java's `.`
  *    never matches and therefore never collapse;
  *  - everything else verbatim.
  * Codepoint runs, not UTF-16 units: Java regex `(.)` captures a full
  * codepoint, so a run of supplementary characters collapses the same
  * way (and a lone surrogate is its own "codepoint", matching the
  * regex engine's treatment). Null in → null out (nullIntolerant).
  * Bit-parity with the regex pair is spec-pinned (TextOpsSpec) over
  * punctuation/astral/terminator/hostile fixtures; the regex form
  * survives in test scope as NormalizeRef.normalizeRepeatedCharsRegex.
  */
case class CollapseRepeats(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "collapse_repeats"

  override protected def nullSafeEval(input: Any): Any =
    CollapseRepeats.collapse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.CollapseRepeats$$.MODULE$$.collapse($c)")

  override protected def withNewChildInternal(newChild: Expression): CollapseRepeats =
    copy(child = newChild)
}

object CollapseRepeats {

  private def isPunct(cp: Int): Boolean =
    cp == '!' || cp == '?' || cp == '.' || cp == ','

  private def isLineTerm(cp: Int): Boolean =
    cp == '\n' || cp == '\r' || cp == 0x85 || cp == 0x2028 || cp == 0x2029

  def collapse(s: UTF8String): UTF8String = {
    val str = s.toString
    val n = str.length
    val out = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val cp = str.codePointAt(i)
      val w = Character.charCount(cp)
      var j = i + w
      var runLen = 1
      while (j < n && str.codePointAt(j) == cp) { j += w; runLen += 1 }
      val keep =
        if (isPunct(cp)) { if (runLen >= 3) 2 else runLen }
        else if (isLineTerm(cp)) runLen
        else if (runLen >= 4) 3
        else runLen
      var k = 0
      while (k < keep) { out.appendCodePoint(cp); k += 1 }
      i = j
    }
    if (out.length == n) s else UTF8String.fromString(out.toString)
  }

  def apply(c: Column): Column =
    GraftSqlBridge.column(CollapseRepeats(GraftSqlBridge.expression(c)))
}
