package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash (Charikar '02) over whitespace tokens as a native
  * codegen expression — the kernel form of
  * `graft.ops.SketchDedup.simhash64`, which stays as the executable
  * spec a parity test holds this bit-identical to (the nfkc /
  * tokenize_text differential-baseline pattern). One pass per row:
  * FNV-1a per token, 64-counter majority vote, no UDF SerDe boundary,
  * stays inside whole-stage codegen — the production near-dup sketch
  * path (`q_simhash_pairs`) is corpus-linear in exactly this scalar,
  * so it is the one worth compiling.
  *
  * Tokenization matches `TextMetrics.tokens` (trim, split on
  * whitespace runs); null → null (ExpectsInputTypes + nullIntolerant),
  * blank → 0L like the spec UDF.
  */
case class Simhash64(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    Simhash64.kernel(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.Simhash64$$.MODULE$$.kernel($c)")

  override protected def withNewChildInternal(newChild: Expression): Simhash64 =
    copy(child = newChild)
}

object Simhash64 {

  /** Java-regex `\s` exactly — the spec UDF splits on `\\s+`, which is
    * [ \t\n\x0B\f\r] and NOT `Character.isWhitespace` (which admits
    * U+2028 etc.); using the wider class here would silently diverge
    * from the executable spec on exotic whitespace.
    */
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
      c == '\r'

  /** Static kernel shared by interpreted eval and generated code.
    * Single scan over the string: token boundaries ARE the whitespace
    * runs, so the FNV-1a hash folds characters as they stream by and
    * commits a vote at each boundary — no split allocation at all.
    * The leading/trailing skip reproduces `String.trim` (strips chars
    * ≤ U+0020), the spec UDF's first step.
    */
  def kernel(s: UTF8String): Long = {
    val str = s.toString
    var start = 0
    var end = str.length
    while (start < end && str.charAt(start) <= ' ') start += 1
    while (end > start && str.charAt(end - 1) <= ' ') end -= 1
    val counts = new Array[Int](64)
    var h = 0xcbf29ce484222325L
    var inTok = false
    var any = false
    var i = start
    while (i <= end) {
      val ws = i == end || isWs(str.charAt(i))
      if (!ws) {
        if (!inTok) { h = 0xcbf29ce484222325L; inTok = true }
        h ^= str.charAt(i).toLong
        h *= 0x100000001b3L
      } else if (inTok) {
        any = true
        var bit = 0
        while (bit < 64) {
          if (((h >>> bit) & 1L) == 1L) counts(bit) += 1 else counts(bit) -= 1
          bit += 1
        }
        inTok = false
      }
      i += 1
    }
    if (!any) 0L
    else {
      var sig = 0L
      var bit = 0
      while (bit < 64) {
        if (counts(bit) > 0) sig |= (1L << bit)
        bit += 1
      }
      sig
    }
  }

  def apply(c: Column): Column =
    GraftSqlBridge.column(Simhash64(GraftSqlBridge.expression(c)))
}
