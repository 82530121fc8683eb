package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Plain inner product over two double arrays as a native Catalyst
  * expression — the inference hot path of the trained quality
  * classifier (ops/Classifier): score = sigmoid(dot(x, w) + b) runs
  * this once per corpus document against a constant weight vector, so
  * at 100 TB it executes once per row of the entire corpus and must
  * live inside whole-stage codegen.
  *
  * Same kernel conventions as [[CosineSimilarity]]: unsafe ArrayData
  * read in place (no boxing), left-to-right IEEE fold (bit-identical
  * to DuckDB's list_dot_product / list_inner_product for oracle
  * parity), mismatched lengths fold over the common prefix like
  * zip_with, null array input yields null (nullIntolerant).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))


  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "dot_product"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.kernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.plans.DotProduct$$.MODULE$$.kernel($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {

  /** Static kernel shared by interpreted eval and generated code.
    * Null elements inside the arrays read as 0.0 contribution (the
    * classifier's vectors are non-null by construction; a hostile
    * SQL caller gets a defined result, never an NPE).
    */
  def kernel(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var d = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) d += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    d
  }

  /** Column-API entry point: `DotProduct(a, b)` over array<double>. */
  def apply(a: Column, b: Column): Column =
    GraftSqlBridge.column(DotProduct(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}
