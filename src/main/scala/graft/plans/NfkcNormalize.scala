package graft.plans

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** NFKC unicode normalisation as a native Catalyst expression
  * (SURVEY.md §2.14: the one scalar op Spark has no built-in for).
  *
  * Unlike a UDF form (test-scope NormalizeRef.nfkc, its differential
  * baseline), this participates in
  * whole-stage codegen: the generated code calls a static JVM method
  * directly — no SerDe boundary, no codegen-span break, and the
  * already-normalized fast path returns the input UTF8String without
  * re-encoding (the overwhelmingly common case for web text).
  */
case class NfkcNormalize(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)


  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nfkc"

  override protected def nullSafeEval(input: Any): Any =
    NfkcNormalize.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.NfkcNormalize$$.MODULE$$.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): NfkcNormalize =
    copy(child = newChild)
}

object NfkcNormalize {

  /** Static kernel shared by interpreted eval and generated code. */
  def normalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFKC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFKC))
  }

  /** Column-API entry point: `nfkc(col("text"))`. */
  def apply(c: Column): Column =
    GraftSqlBridge.column(NfkcNormalize(GraftSqlBridge.expression(c)))
}
