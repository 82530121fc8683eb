package graft.ops

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Backward as-of join — for each left row, attach the most recent right
  * row (right.ts <= left.ts) per key. A capability the reference lacks
  * but a time-series-adjacent pipeline needs; built by composition
  * (builder-brief preference (a)): tag sides, unionByName, one running
  * `last(_, ignoreNulls)` window per payload column, keep left rows.
  *
  * Scale shape: exactly ONE hash-partitioned shuffle on the key — never
  * a range join or per-key cross join; window state is a single running
  * value per payload column. Skew follows key skew like any keyed
  * window (salt upstream if one key dominates).
  *
  * Left rows with no prior right row keep null payloads (LEFT ASOF
  * semantics, matching DuckDB's ASOF LEFT JOIN). At equal timestamps the
  * right row sorts first, so an exactly-simultaneous right row IS
  * visible to the left row (inclusive bound).
  *
  * `payloadCols` must not collide with left column names — rename on the
  * right side first.
  */
object AsOfJoin {

  def asofBackward(left: DataFrame, right: DataFrame, keyCol: String,
                   tsCol: String, payloadCols: Seq[String]): DataFrame = {
    require(payloadCols.nonEmpty, "asofBackward needs at least one payload column")
    require(!payloadCols.exists(left.columns.contains),
      s"payload columns ${payloadCols.mkString(",")} collide with left side")
    val l = left.withColumn("__asof_side", lit(1))
    val r = right.select((keyCol +: tsCol +: payloadCols).map(col): _*)
      .withColumn("__asof_side", lit(0))
    val w = Window.partitionBy(keyCol)
      .orderBy(col(tsCol).asc, col("__asof_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = payloadCols.foldLeft(l.unionByName(r, allowMissingColumns = true)) {
      (df, c) => df.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
    filled.filter(col("__asof_side") === 1).drop("__asof_side")
  }

  /** The same join through the native operator
    * ([[graft.plans.AsofJoinPlan]]/[[graft.plans.AsofJoinExec]]) —
    * identical output contract and exchange shape as [[asofBackward]],
    * but the per-partition work is a streaming merge instead of
    * union + window + filter (no carrier rows, one buffered right row).
    *
    * The right side is re-aliased behind fresh expression ids so the
    * operator's two outputs stay disjoint even when both sides derive
    * from the same scan (the analyzer dedups built-in joins, not custom
    * nodes). The session gains [[graft.plans.AsofJoinStrategy]] if it
    * lacks it, and nothing else: no SQL function, no optimizer rule.
    */
  def asofBackwardNative(left: DataFrame, right: DataFrame, keyCol: String,
                         tsCol: String, payloadCols: Seq[String]): DataFrame = {
    require(payloadCols.nonEmpty, "asofBackwardNative needs at least one payload column")
    require(!payloadCols.exists(left.columns.contains),
      s"payload columns ${payloadCols.mkString(",")} collide with left side")
    val spark = left.sparkSession
    graft.plans.GraftFunctions.planAsofJoins(spark)
    val r = right.select(
      col(keyCol).as("__asof_k") +: col(tsCol).as("__asof_t") +:
        payloadCols.map(c => col(c).as(c)): _*)
    val lPlan = GraftSqlBridge.analyzed(left)
    val rPlan = GraftSqlBridge.analyzed(r)
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found"))
    val node = graft.plans.AsofJoinPlan(lPlan, rPlan,
      attr(lPlan, keyCol), attr(rPlan, "__asof_k"),
      attr(lPlan, tsCol), attr(rPlan, "__asof_t"))
    GraftSqlBridge.dataFrame(spark, node).drop("__asof_k", "__asof_t")
  }
}
