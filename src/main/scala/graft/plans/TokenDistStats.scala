package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass token-distribution statistics: `[entropy, max_freq_ratio]`
  * from a token array — the compiled replacement for the two
  * interpreted higher-order chains in TextMetrics
  * (`aggregate(transform(array_sort(array_distinct(t)), x ->
  * size(filter(t, y = x))...)` and its array_max sibling).
  *
  * Why a kernel, beyond the repo's usual ~10× interpreted-HOF tax:
  * those chains are O(distinct·n) PER ROW — the inner `filter` rescans
  * the whole token array once per distinct token. On ordinary prose
  * (distinct ≪ n) that hides; on a poisoned row it is the same
  * stall-one-executor-core class as the email regex was: a 150k-token
  * line of UNIQUE tokens (a dictionary dump, an id column pasted into
  * text) costs ~2·10¹⁰ interpreted comparisons — minutes for one row.
  * This kernel sorts once and run-length-counts: O(n log n),
  * milliseconds on the same row (HostileInputSpec pins it).
  *
  * Bit-exactness contract (the oracle quantizes at 1e-4, but the
  * kernel is pinned bit-equal to the HOF form it replaces, which is
  * stricter): counts fold as `acc + c * log(c)` over distinct tokens
  * in ASCENDING BINARY order — java.util.Arrays.sort over UTF8String
  * reproduces `array_sort`'s byte-wise ordering exactly, the run pass
  * visits runs in that order, and `log` is the same function Spark's
  * `log` expression evaluates (StrictMath.log; TokenDistStatsSpec's
  * random-parity test would catch a ulp divergence). entropy =
  * log(n) − acc/n; max_freq_ratio = maxCount/n (int max —
  * order-free). Empty array → [0.0, 0.0], matching the `when(size>0)`
  * guards it replaces.
  */
case class TokenDistStats(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_dist_stats"

  override protected def nullSafeEval(input: Any): Any =
    TokenDistStats.stats(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.TokenDistStats$$.MODULE$$.stats($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenDistStats =
    copy(child = newChild)
}

object TokenDistStats {

  def stats(arr: ArrayData): ArrayData = {
    val m = arr.numElements()
    // Defined behavior for null ELEMENTS (possible only via external SQL
    // callers — the engine's tokens() never yields them): they are
    // skipped, i.e. the distribution is over the non-null tokens only.
    // Without this, getUTF8String returns null and Arrays.sort NPEs the
    // whole task.
    val toks = new Array[UTF8String](m)
    var n = 0
    var j = 0
    while (j < m) {
      if (!arr.isNullAt(j)) { toks(n) = arr.getUTF8String(j); n += 1 }
      j += 1
    }
    if (n == 0) return new GenericArrayData(Array(0.0, 0.0))
    // sort only the filled prefix — the tail past n is unset slots
    java.util.Arrays.sort(toks, 0, n, null) // natural order = byte-wise, = array_sort
    var acc = 0.0
    var maxCount = 0
    var runStart = 0
    var i = 1
    while (i <= n) {
      if (i == n || toks(i).compareTo(toks(runStart)) != 0) {
        val c = i - runStart
        if (c > maxCount) maxCount = c
        val cd = c.toDouble
        acc += cd * StrictMath.log(cd)
        runStart = i
      }
      i += 1
    }
    val nd = n.toDouble
    new GenericArrayData(Array(
      StrictMath.log(nd) - acc / nd,
      maxCount.toDouble / nd))
  }

  /** Column-API entry point over a token array column. */
  def apply(toks: Column): Column =
    GraftSqlBridge.column(TokenDistStats(GraftSqlBridge.expression(toks)))
}
