package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass token-set statistics:
  * `[distinct_count, stopword_count]` from a token array — the
  * compiled replacement for `size(array_distinct(t))` (behind
  * repetition_ratio / unique_tokens / unique_token_ratio) and the
  * INTERPRETED higher-order `size(filter(t, tok ->
  * array_contains(stops, lower(tok))))` behind stopword_ratio. One
  * hash-set walk replaces an array-building distinct pass plus an
  * O(|stops|·n) lambda filter that sat outside whole-stage codegen.
  *
  * Bit-exactness contract (integer counts, so parity is equality):
  *  - distinct: UTF8String equality is byte equality = array_distinct's
  *    string equality; a null ELEMENT counts once (array_distinct keeps
  *    one null) — possible only via external SQL callers, the engine's
  *    tokens() never yields them.
  *  - stopwords: membership of `lower(tok)` via UTF8String.toLowerCase —
  *    the same Unicode simple mapping Spark's `lower` evaluates; null
  *    elements never match (array_contains over a null lower is null →
  *    filtered out by the lambda form).
  * Null ARRAY in → null out (nullIntolerant), matching the
  * `when(size(t) > 0, …)` guards the wrappers keep. Parity pinned in
  * TextOpsSpec over unicode/hostile fixtures.
  */
// words is a Seq (NOT Array): case-class equality on Array is
// reference-based, which would defeat Catalyst semanticEquals (the
// TokensInSet precedent)
case class TokenSetStats(child: Expression, words: Seq[String])
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_set_stats"

  @transient private lazy val set = TokensInSet.buildSet(words)

  override protected def nullSafeEval(input: Any): Any =
    TokenSetStats.stats(input.asInstanceOf[ArrayData], set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("stopSet", set,
      "java.util.HashSet<org.apache.spark.unsafe.types.UTF8String>")
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.TokenSetStats$$.MODULE$$.stats($c, $setRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): TokenSetStats =
    copy(child = newChild)
}

object TokenSetStats {

  def stats(arr: ArrayData,
      stops: java.util.HashSet[UTF8String]): ArrayData = {
    val n = arr.numElements()
    val seen = new java.util.HashSet[UTF8String](math.max(16, n * 2))
    var distinct = 0L
    var stopHits = 0L
    var seenNull = false
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) {
        if (!seenNull) { seenNull = true; distinct += 1 }
      } else {
        val t = arr.getUTF8String(i)
        if (seen.add(t)) distinct += 1
        if (!stops.isEmpty && stops.contains(t.toLowerCase)) stopHits += 1
      }
      i += 1
    }
    new GenericArrayData(Array(distinct, stopHits))
  }

  def apply(toks: Column, words: Seq[String]): Column =
    GraftSqlBridge.column(
      TokenSetStats(GraftSqlBridge.expression(toks), words))
}
