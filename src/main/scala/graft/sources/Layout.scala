package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Storage-layout optimization: the Z-order (Morton) clustering key —
  * the lever that decides how much of a 100 TB table a 2-D box
  * predicate actually reads.
  *
  * Z-ordering interleaves the bits of several dimension keys into one
  * sort key, so sorting by it co-locates rows that are close in EVERY
  * dimension. A table range-partitioned on the Z-value gives each file
  * a tight bounding BOX in (x, y) space instead of a thin stripe: a
  * 2-D box predicate then prunes by file min/max statistics in both
  * dimensions at once, where a linear sort prunes in only its leading
  * column (the standard Delta/Iceberg OPTIMIZE ZORDER rationale).
  *
  * The Z-value itself is pure bit arithmetic — engine-portable and
  * DuckDB-oracle-checkable (q_zorder_key): both engines build the
  * identical Σᵢ (((x≫i)&1) ≪ 2i) | (((y≫i)&1) ≪ (2i+1)) expression
  * from the same index list, so the formula cannot drift.
  */
object Layout {

  val ZBits = 16

  /** 32-bit Morton key of two dimensions, each clamped to [0, 2¹⁶). */
  def zValue(x: Column, y: Column, bits: Int = ZBits): Column = {
    val maxV = (1L << bits) - 1L
    def clamp(c: Column) =
      greatest(lit(0L), least(lit(maxV), coalesce(c.cast("long"), lit(0L))))
    val cx = clamp(x)
    val cy = clamp(y)
    (0 until bits).map { i =>
      shiftleft(shiftright(cx, i).bitwiseAND(1L), 2 * i) +
        shiftleft(shiftright(cy, i).bitwiseAND(1L), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** The identical formula as DuckDB SQL fragments, generated from the
    * same index range so the two expression trees agree term for term:
    * [[zClampSql]] mirrors the clamp, [[zTermsSql]] the bit interleave
    * (apply it to the clamped aliases).
    */
  def zClampSql(c: String, bits: Int = ZBits): String =
    s"greatest(0, least(${(1L << bits) - 1L}, coalesce(CAST($c AS BIGINT), 0)))"

  def zTermsSql(x: String, y: String, bits: Int = ZBits): String =
    (0 until bits).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")
}
