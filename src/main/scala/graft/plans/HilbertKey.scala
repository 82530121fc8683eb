package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Hilbert-curve index of a 2-D point — the locality-preserving
  * upgrade of the Morton/Z key (`sources/Layout.zValue`): the Hilbert
  * curve visits every cell of the 2^16 × 2^16 grid with UNIT steps
  * (adjacent indices are always adjacent cells), so consecutive index
  * ranges map to tighter bounding boxes than Z-order's quadrant jumps
  * — the same reason Iceberg/Delta offer Hilbert alongside Z for
  * OPTIMIZE clustering. Worth having both: Z is cheaper to compute and
  * prefix-aligned with quadtrees; Hilbert range-prunes better on
  * narrow box predicates.
  *
  * Algorithm: the standard per-level rotate-and-accumulate xy→d walk
  * (Hamilton's compact Hilbert indices / the classic Wikipedia
  * formulation — public knowledge): 16 levels from the top bit down,
  * each contributing s²·((3·rx) XOR ry) and rotating/reflecting the
  * residual coordinates. Sequential state per row makes this a poor
  * fit for a declarative expression tree (inlining 16 dependent steps
  * explodes the plan), so it is a codegen kernel like the other 26 —
  * one tight loop inside whole-stage codegen.
  *
  * Inputs clamp to [0, 2¹⁶) like zValue (nulls → 0 via the clamp in
  * the Column wrapper; the expression itself is null-intolerant).
  */
case class HilbertKey(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(LongType, LongType)

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hilbert_key"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HilbertKey.kernel(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.plans.HilbertKey$$.MODULE$$.kernel($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): HilbertKey =
    copy(left = newLeft, right = newRight)
}

object HilbertKey {

  val Bits = 16

  /** Static kernel shared by interpreted eval and generated code. */
  def kernel(xIn: Long, yIn: Long): Long = {
    val maxV = (1L << Bits) - 1L
    var x = math.max(0L, math.min(maxV, xIn))
    var y = math.max(0L, math.min(maxV, yIn))
    var d = 0L
    var s = 1L << (Bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      // rotate the quadrant so the sub-curve orientation lines up
      if (ry == 0) {
        if (rx == 1) {
          x = s - 1 - x
          y = s - 1 - y
        }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Column-API entry point; null coordinates clamp to 0 (same
    * contract as Layout.zValue's coalesce-clamp).
    */
  def apply(x: Column, y: Column): Column = {
    import org.apache.spark.sql.functions._
    GraftSqlBridge.column(HilbertKey(
      GraftSqlBridge.expression(coalesce(x.cast("long"), lit(0L))),
      GraftSqlBridge.expression(coalesce(y.cast("long"), lit(0L)))))
  }
}
