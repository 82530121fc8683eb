package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass HTML-tag strip — the compiled replacement for
  * `regexp_replace(c, "<[^>]+>", " ")` (P2), which rebuilt the whole
  * document through the regex engine once per deep-clean row (and once
  * per crawl-ingest row). Exact regex semantics, reproduced by a
  * linear byte scan:
  *  - at each `<` (leftmost first), the match is everything up to the
  *    FIRST following `>`, requiring at least one character between
  *    (`[^>]+` — which may include further `<`s and newlines);
  *  - a matched span emits one space and the scan resumes after `>`;
  *  - a `<` with no such `>` (end of string, or an immediate `>`)
  *    stays literal, exactly as the failed regex match leaves it.
  * `<` and `>` are ASCII, so the byte walk is UTF-8-safe. Null in →
  * null out. Bit-parity with the regex form is spec-pinned
  * (TextOpsSpec) and the DuckDB oracles keep running the regex
  * verbatim — q_warc_ingest/q_crawl_e2e stay the cross-engine check.
  */
case class StripTags(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "strip_tags"

  override protected def nullSafeEval(input: Any): Any =
    StripTags.strip(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.StripTags$$.MODULE$$.strip($c)")

  override protected def withNewChildInternal(newChild: Expression): StripTags =
    copy(child = newChild)
}

object StripTags {

  def strip(s: UTF8String): UTF8String = {
    val n = s.numBytes
    // fast path: no '<' at all → the input passes through untouched
    var has = false
    var i = 0
    while (!has && i < n) { if (s.getByte(i) == '<') has = true; i += 1 }
    if (!has) return s
    val bytes = s.getBytes
    val out = new Array[Byte](n)
    var o = 0
    i = 0
    while (i < n) {
      val b = bytes(i)
      if (b == '<') {
        var j = i + 1
        while (j < n && bytes(j) != '>') j += 1
        if (j < n && j > i + 1) { out(o) = ' '; o += 1; i = j + 1 }
        else { out(o) = b; o += 1; i += 1 }
      } else { out(o) = b; o += 1; i += 1 }
    }
    UTF8String.fromBytes(java.util.Arrays.copyOf(out, o))
  }

  def apply(c: Column): Column =
    GraftSqlBridge.column(StripTags(GraftSqlBridge.expression(c)))
}
