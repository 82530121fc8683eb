package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Squared L2 distance over two double arrays as a native Catalyst
  * expression — the PQ hot kernel (ops/Pq): encoding runs it m·k times
  * per corpus vector, search m·k times per query. The interpreted
  * `aggregate(zip_with(...))` fold it replaces allocates a boxed pair
  * array plus lambda frames per call; this reads both unsafe buffers in
  * place inside whole-stage codegen.
  *
  * Fold order is the same left-to-right `Σ (aᵢ−bᵢ)²` (0.0 seed — exact:
  * 0+x = x) as the HOF form and the oracle's
  * `list_reduce(list_transform(...))`, so results are bit-identical and
  * the PQ queries keep their DuckDB oracles. Mismatched lengths fold
  * over the common prefix, like zip_with.
  */
case class L2SqDistance(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))


  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "l2sq"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    L2SqDistance.kernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.plans.L2SqDistance$$.MODULE$$.kernel($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): L2SqDistance =
    copy(left = newLeft, right = newRight)
}

object L2SqDistance {

  /** Static kernel shared by interpreted eval and generated code. */
  def kernel(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  /** Column-API entry point over array<double>. */
  def apply(a: Column, b: Column): Column =
    GraftSqlBridge.column(L2SqDistance(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}
