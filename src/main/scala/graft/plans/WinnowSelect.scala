package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, SIGMOD'03)
  * as one native pass: md5-hash every character k-gram, slide a window
  * of `w` hashes, emit each window's lexicographic minimum, in window
  * order.
  *
  * The SQL higher-order-function form (`transform(sequence(..), i ->
  * md5(substring(..)))` then `transform(.., j -> array_min(slice(hs, j,
  * w)))`) is a scale trap: CollapseProject inlines the single-use gram
  * array into the second lambda's body, so the WHOLE n-element md5 array
  * is rebuilt once per window position — O(n²) md5 calls per row (77 s
  * for 500 docs at sf0.001, measured). This kernel hashes each gram
  * exactly once and finds window minima with a monotonic deque —
  * O(n·k) byte work + n md5 calls per row, amortized O(1) per window.
  *
  * Value parity (DuckDB-oracle-checkable, no shared integer hash
  * needed): "character" means Unicode code point (Spark `substring` ≡
  * DuckDB `substr`), the hash is lowercase md5 hex of the gram's UTF-8
  * bytes, and "minimum" is byte-wise compare of the hex strings —
  * identical in every engine.
  */
case class WinnowSelect(child: Expression, k: Int, w: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)


  require(k >= 1 && w >= 1, s"winnow_sels needs k >= 1, w >= 1; got k=$k w=$w")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "winnow_sels"

  override protected def nullSafeEval(input: Any): Any =
    WinnowSelect.kernel(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.WinnowSelect$$.MODULE$$.kernel($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowSelect =
    copy(child = newChild)
}

object WinnowSelect {

  /** Static kernel shared by interpreted eval and generated code.
    * Fewer than one full window (< k+w-1 code points) -> empty array.
    */
  def kernel(text: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = text.getBytes
    // code-point start offsets into the UTF-8 byte array; offs(n) = end
    val offs = new Array[Int](text.numChars() + 1)
    var n = 0
    var b = 0
    while (b < bytes.length) {
      offs(n) = b
      b += UTF8String.numBytesForFirstByte(bytes(b))
      n += 1
    }
    offs(n) = bytes.length
    val grams = n - k + 1          // k-grams available
    val windows = grams - w + 1    // full w-windows over those grams
    if (windows <= 0) return new GenericArrayData(Array.empty[Any])

    // hash each gram ONCE, in order; hex chars for byte-wise min compare
    val hs = new Array[Array[Char]](grams)
    var i = 0
    while (i < grams) {
      val digest = Md5Hex.digest()
      digest.update(bytes, offs(i), offs(i + k) - offs(i))
      hs(i) = Md5Hex.hexChars(digest.digest())
      i += 1
    }

    // sliding-window minimum via monotonic deque of gram indices
    def lte(a: Array[Char], c: Array[Char]): Boolean = {
      var p = 0
      while (p < 32 && a(p) == c(p)) p += 1
      p == 32 || a(p) <= c(p)
    }
    val out = new Array[Any](windows)
    val deque = new Array[Int](grams)
    var head = 0
    var tail = 0 // exclusive
    i = 0
    while (i < grams) {
      while (tail > head && lte(hs(i), hs(deque(tail - 1)))) tail -= 1
      deque(tail) = i
      tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1)
        out(i - w + 1) = UTF8String.fromString(new String(hs(deque(head))))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column-API entry point over a string column. */
  def apply(text: Column, k: Int, w: Int): Column =
    GraftSqlBridge.column(WinnowSelect(GraftSqlBridge.expression(text), k, w))
}
