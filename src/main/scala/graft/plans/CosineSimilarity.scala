package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Cosine similarity over two double arrays as a native Catalyst
  * expression — the ANN hot path (ops/Similarity) runs this once per
  * (query, corpus) candidate, so it is the single most-executed scalar
  * in the similarity surface.
  *
  * Versus the compiled-UDF form it replaces: no Seq[Double] boxing (the
  * kernel reads the unsafe ArrayData buffer in place), no SerDe
  * boundary, and the call participates in whole-stage codegen so the
  * filter/window above it stays in the same generated function.
  * The fold is the identical left-to-right IEEE order as DuckDB's
  * list_cosine_similarity — bit-identical results, oracle-safe.
  *
  * Array elements must be non-null (embedding vectors by construction);
  * mismatched lengths fold over the common prefix, like zip_with.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))


  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.kernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.plans.CosineSimilarity$$.MODULE$$.kernel($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {

  /** Static kernel shared by interpreted eval and generated code. */
  def kernel(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var d = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      d += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Column-API entry point: `CosineSimilarity(a, b)` over array<double>. */
  def apply(a: Column, b: Column): Column =
    GraftSqlBridge.column(CosineSimilarity(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}
