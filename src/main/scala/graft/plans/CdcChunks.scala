package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunking (the rolling-hash boundary rule behind
  * rsync/LBFS-style dedup): a chunk boundary falls BEFORE character
  * position i whenever the k-gram starting at i hashes into the boundary
  * class (first md5 hex digit '0' — expected spacing 16 chars + gram).
  * Because boundaries depend only on LOCAL content, inserting or
  * deleting a passage shifts only the chunks it touches — every other
  * chunk keeps its hash, which is what makes chunk-level dedup of huge,
  * slowly-mutating documents stable (fixed-width chunking re-hashes
  * everything after an edit).
  *
  * Emits array<struct<start, len, hash>> with 1-based character offsets
  * and md5 hex chunk hashes — engine-portable values (the DuckDB oracle
  * rebuilds them verbatim). The whole pass is one kernel per row: each
  * gram hashed once, no HOF lambdas (see [[WinnowSelect]] for the
  * CollapseProject O(n²) trap this avoids). No min/max chunk guards:
  * guards make the split sequential-stateful and oracle-hostile; at the
  * chosen mask the geometric size distribution is bounded enough for
  * chunk-dedup use.
  */
case class CdcChunks(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)


  require(k >= 1, s"cdc_chunks needs k >= 1; got $k")

  override def dataType: DataType = CdcChunks.OutType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cdc_chunks"

  override protected def nullSafeEval(input: Any): Any =
    CdcChunks.kernel(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.CdcChunks$$.MODULE$$.kernel($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}

object CdcChunks {

  val OutType: DataType = ArrayType(StructType(Seq(
    StructField("start", LongType, nullable = false),
    StructField("len", LongType, nullable = false),
    StructField("hash", StringType, nullable = false))), containsNull = false)

  /** Empty text -> empty array; text shorter than one gram -> one chunk. */
  def kernel(text: UTF8String, k: Int): ArrayData = {
    val bytes = text.getBytes
    val offs = new Array[Int](text.numChars() + 1)
    var n = 0
    var b = 0
    while (b < bytes.length) {
      offs(n) = b
      b += UTF8String.numBytesForFirstByte(bytes(b))
      n += 1
    }
    offs(n) = bytes.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])

    // boundary BEFORE position i (1-based): gram [i, i+k) hashes to '0*'.
    // i starts at 2 — a boundary before the first char is meaningless.
    val starts = scala.collection.mutable.ArrayBuffer(1)
    var i = 2
    while (i <= n - k + 1) {
      val digest = Md5Hex.digest()
      digest.update(bytes, offs(i - 1), offs(i - 1 + k) - offs(i - 1))
      val d = digest.digest()
      if (((d(0) >> 4) & 0xf) == 0) starts += i
      i += 1
    }
    val out = new Array[Any](starts.length)
    var c = 0
    while (c < starts.length) {
      val s = starts(c)
      val e = if (c + 1 < starts.length) starts(c + 1) else n + 1
      val digest = Md5Hex.digest()
      digest.update(bytes, offs(s - 1), offs(e - 1) - offs(s - 1))
      out(c) = new GenericInternalRow(Array[Any](
        s.toLong, (e - s).toLong, UTF8String.fromString(Md5Hex.hex(digest.digest()))))
      c += 1
    }
    new GenericArrayData(out)
  }

  /** Column-API entry point over a string column. */
  def apply(text: Column, k: Int): Column =
    GraftSqlBridge.column(CdcChunks(GraftSqlBridge.expression(text), k))
}
