package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Repetition n-gram statistics (Gopher/RefinedWeb signals) in one
  * native pass over the whitespace token array:
  *
  *   n_words      token count
  *   total_chars  summed token code-point lengths
  *   top2_num     max over distinct 2-grams of occurrences × gram chars
  *   dup3_num     summed occurrences × gram chars over 3-grams seen >1×
  *
  * "gram chars" counts the member tokens' code points (separator
  * excluded) — byte-identical to the declarative form's
  * `length(g) - length(regexp_replace(g, '[^ ]', ''))` over grams
  * joined with a single space, which is what the DuckDB oracle states.
  *
  * The higher-order-function form (`transform(array_distinct(g), x ->
  * size(filter(g, y -> y = x)) * ...)`) is O(u·n) string comparisons
  * per row — the dominant bench cost of q_dup_ngrams (2.6 s at sf0.1).
  * This kernel counts each gram once through a hash map: O(n) gram
  * builds + O(u) weight folds per row, one pass, still inside
  * whole-stage codegen.
  */
case class NgramRepStats(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))


  override def dataType: DataType = NgramRepStats.schema
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "ngram_rep_stats"

  override protected def nullSafeEval(input: Any): Any =
    NgramRepStats.kernel(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.NgramRepStats$$.MODULE$$.kernel($c)")

  override protected def withNewChildInternal(newChild: Expression): NgramRepStats =
    copy(child = newChild)
}

object NgramRepStats {

  val schema: StructType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("total_chars", LongType, nullable = false),
    StructField("top2_num", LongType, nullable = false),
    StructField("dup3_num", LongType, nullable = false)))

  /** Static kernel shared by interpreted eval and generated code. */
  def kernel(toks: ArrayData): GenericInternalRow = {
    val n = toks.numElements()
    val strs = new Array[String](n)
    val lens = new Array[Long](n)
    var total = 0L
    var i = 0
    while (i < n) {
      val s = toks.getUTF8String(i)
      strs(i) = s.toString
      lens(i) = s.numChars().toLong
      total += lens(i)
      i += 1
    }
    // occurrence count + gram chars per distinct gram, built once
    def gramMap(k: Int): java.util.HashMap[String, Array[Long]] = {
      val m = new java.util.HashMap[String, Array[Long]]()
      var j = 0
      while (j <= n - k) {
        val sb = new java.lang.StringBuilder(strs(j))
        var chars = lens(j)
        var t = 1
        while (t < k) {
          sb.append(' ').append(strs(j + t))
          chars += lens(j + t)
          t += 1
        }
        val e = m.get(sb.toString)
        if (e == null) m.put(sb.toString, Array(1L, chars)) else e(0) += 1L
        j += 1
      }
      m
    }
    var top2 = 0L
    if (n >= 2) {
      val it = gramMap(2).values().iterator()
      while (it.hasNext) {
        val e = it.next()
        val w = e(0) * e(1)
        if (w > top2) top2 = w
      }
    }
    var dup3 = 0L
    if (n >= 3) {
      val it = gramMap(3).values().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e(0) > 1L) dup3 += e(0) * e(1)
      }
    }
    new GenericInternalRow(Array[Any](n.toLong, total, top2, dup3))
  }

  /** Column-API entry point over an array<string> token column. */
  def apply(toks: Column): Column =
    GraftSqlBridge.column(NgramRepStats(GraftSqlBridge.expression(toks)))
}
