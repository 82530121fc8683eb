package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The engine's portable-hash primitive, fused: the value of the first
  * `hexLen` hex digits of `md5(prefix ++ str)` as a BIGINT — exactly
  * `conv(substring(md5(concat(lit(prefix), str)), 1, hexLen), 16, 10)
  * .cast("long")`, the seedless md5-prefix idiom every oracle-checkable
  * sketch in the engine keys on (Count-Min buckets, AMS signs, HLL/KMV
  * register hashes, SimHash token hashes, sampling gates, split
  * assignment).
  *
  * Why a kernel: the declarative form materializes THREE intermediate
  * strings per row — the concat copy, the 32-char hex rendering of the
  * digest, and conv's base-10 decimal string, which cast then re-parses
  * — for a value that is just the first ⌈hexLen/2⌉ digest bytes read
  * big-endian. The kernel digests the prefix and the UTF8String bytes
  * directly (one thread-local MessageDigest via [[Md5Hex]], zero
  * intermediate allocation) and folds the nibbles into the long. Values
  * are bit-identical to the declarative form for 1 ≤ hexLen ≤ 15
  * (≤ 60 bits, inside BIGINT in every engine — the same bound the
  * oracle SQL relies on), which the parity anchor in PlanSpec pins
  * against the conv/substring/md5 composition.
  */
case class Md5PrefixLong(child: Expression, prefix: String, hexLen: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(hexLen >= 1 && hexLen <= 15,
    s"md5_prefix_long needs 1 <= hexLen <= 15 (signed-BIGINT-safe), got $hexLen")

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "md5_prefix_long"

  @transient private lazy val prefixBytes =
    prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  override protected def nullSafeEval(input: Any): Any =
    Md5PrefixLong.kernel(prefixBytes, input.asInstanceOf[UTF8String], hexLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pref = ctx.addReferenceObj("prefixBytes", prefixBytes, "byte[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.Md5PrefixLong$$.MODULE$$.kernel($pref, $c, $hexLen)")
  }

  override protected def withNewChildInternal(newChild: Expression): Md5PrefixLong =
    copy(child = newChild)
}

object Md5PrefixLong {

  /** Static kernel shared by interpreted eval and generated code:
    * big-endian fold of the first `hexLen` nibbles of
    * md5(prefix ++ bytes(s)).
    */
  def kernel(prefix: Array[Byte], s: UTF8String, hexLen: Int): Long = {
    val d = Md5Hex.digest()
    if (prefix.length > 0) d.update(prefix)
    val digest = d.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < hexLen) {
      val b = digest(i >> 1)
      val nibble = if ((i & 1) == 0) (b >> 4) & 0xf else b & 0xf
      v = (v << 4) | nibble
      i += 1
    }
    v
  }

  def apply(c: Column, hexLen: Int): Column = apply(c, "", hexLen)

  def apply(c: Column, prefix: String, hexLen: Int): Column =
    GraftSqlBridge.column(
      Md5PrefixLong(GraftSqlBridge.expression(c), prefix, hexLen))
}
