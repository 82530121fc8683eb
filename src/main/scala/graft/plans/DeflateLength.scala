package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** DEFLATE-compressed byte length of a string — the compressibility
  * quality signal (RedPajama-V2 / Dolma ship it as a per-doc filter
  * feature): repetitive, templated, or machine-generated text
  * compresses far below natural prose, so `deflate_len / byte_len`
  * separates boilerplate from content with zero linguistic knowledge.
  *
  * A native expression because no Spark builtin exposes a compressor:
  * the kernel runs one thread-local `java.util.zip.Deflater` (level
  * fixed at 6, raw/nowrap) over the UTF-8 bytes in place — no UDF
  * SerDe, stays inside whole-stage codegen. Deterministic for a given
  * input (fixed level + strategy), so the query is stable across runs;
  * excluded from the DuckDB oracle (no DEFLATE there — engine-defined,
  * rows-only check, like the tokenizer).
  */
case class DeflateLength(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)


  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "deflate_len"

  override protected def nullSafeEval(input: Any): Any =
    DeflateLength.kernel(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.DeflateLength$$.MODULE$$.kernel($c)")

  override protected def withNewChildInternal(newChild: Expression): DeflateLength =
    copy(child = newChild)
}

object DeflateLength {

  /** Fixed compression level: part of the signal's definition — changing
    * it re-scores every corpus, so it is not a parameter.
    */
  private val Level = 6

  private val deflater = new ThreadLocal[java.util.zip.Deflater] {
    override def initialValue(): java.util.zip.Deflater =
      new java.util.zip.Deflater(Level, true) // raw stream, no zlib header
  }

  private val buf = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](8192)
  }

  /** Static kernel shared by interpreted eval and generated code. */
  def kernel(s: UTF8String): Int = {
    val d = deflater.get()
    d.reset()
    d.setInput(s.getBytes)
    d.finish()
    val b = buf.get()
    var total = 0
    while (!d.finished()) total += d.deflate(b)
    total
  }

  def apply(c: Column): Column =
    GraftSqlBridge.column(DeflateLength(GraftSqlBridge.expression(c)))
}
