package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's private[sql] Column <-> Expression converters, for
  * graft's native Catalyst expressions (the standard technique used by
  * Spark extension libraries; no Spark internals are modified).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A complex-typed value (nested Seq/Row) as ONE literal node.
    * `functions.array(functions.struct(lit(..)))` builds a
    * CreateArray/CreateStruct tree with one node per leaf — a k×d
    * centroid table becomes thousands of expression nodes, and any
    * operator folding over it per row drags that whole tree through
    * analysis and codegen (and Janino pays per node, per use site).
    * `Literal.create` converts the value up front; downstream
    * `element_at`/`transform` read the converted ArrayData directly.
    */
  def literal(value: Any, dataType: org.apache.spark.sql.types.DataType): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.Literal.create(value, dataType))

  /** Wrap a custom logical plan as a DataFrame (runs the analyzer — the
    * standard entry point extension libraries use for custom operators).
    */
  def dataFrame(spark: SparkSession,
                plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A frame over internal rows `rows` of schema `schema`, planned as a
    * `LogicalRDD` leaf: actions read `rows`, so nothing above the leaf
    * reaches into the plan that produced them.
    */
  def fromInternalRows(spark: SparkSession,
                       rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                       schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** `df` plus a non-null LongType column `name` numbering its rows
    * 0..n-1 in partition order, with `zipWithIndex`'s offsets: one size
    * job over all but the last partition, then the start-offset form
    * below.
    */
  def withRowIndex(df: DataFrame, name: String): DataFrame = {
    val rows = df.queryExecution.toRdd
    val n = rows.getNumPartitions
    val starts =
      if (n <= 1) Array.fill(n)(0L)
      else rows.sparkContext.runJob(rows, org.apache.spark.util.Utils.getIteratorSize _,
        0 until n - 1).scanLeft(0L)(_ + _)
    withRowIndex(df, name, starts)
  }

  /** `df` plus a non-null LongType column `name`: row i of partition p
    * gets `starts(p) + i`. The rows stay internal: the index is
    * appended by an UnsafeProjection over a JoinedRow, never through
    * external `Row` conversion, and the upstream plan is executed by
    * this call's own `queryExecution`. Every action on the result
    * reuses that RDD lineage, so upstream shuffle outputs are read, not
    * recomputed.
    */
  def withRowIndex(df: DataFrame, name: String, starts: Array[Long]): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, UnsafeProjection}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(df.schema.fields :+ StructField(name, LongType, nullable = false))
    val rows = df.queryExecution.toRdd.mapPartitionsWithIndex { (p, it) =>
      val append = UnsafeProjection.create(schema)
      val joined = new JoinedRow
      val index = new GenericInternalRow(1)
      var i = starts(p)
      it.map { row =>
        index.setLong(0, i)
        i += 1
        append(joined(row, index)): InternalRow
      }
    }
    fromInternalRows(df.sparkSession, rows, schema)
  }

  /** `wide` with the columns of `flags` (all but `pidCol` and `flagKey`)
    * appended to the row whose `wideKey` equals the flag row's
    * `flagKey`, without moving a wide row. `flags(pidCol)` must be the
    * `spark_partition_id()` of the flag row's wide row, read from the
    * same persisted relation `wide` is: the flags are routed to those
    * partitions with `repartitionById`, then `zipPartitions` pairs
    * each wide partition with its own flags. Each flags partition is
    * hashed by key — rows copied, since the shuffle reader reuses its
    * buffer — and the values are appended by an UnsafeProjection over
    * a JoinedRow, so rows stay internal. `wide` is read through a
    * fresh QueryExecution, so a persist placed on it is used even if
    * its own plan was built before the persist.
    *
    * The flags plan runs here, once, under its own SQL execution (its
    * final plan reaches QueryExecutionListeners); every action on the
    * result reads its shuffle output. Semantics are an inner join on a
    * unique key: a null key drops the wide row, and a non-null key
    * with no flag row, or with two, fails the task.
    */
  def appendRouted(wide: DataFrame, wideKey: String, flags: DataFrame,
                   pidCol: String, flagKey: String): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, JoinedRow, UnsafeProjection}
    import org.apache.spark.sql.execution.SQLExecution
    import org.apache.spark.sql.types.StructType
    val session = wide.sparkSession.asInstanceOf[classic.SparkSession]
    val wideRdd = classic.Dataset.ofRows(session, wide.queryExecution.logical)
      .queryExecution.toRdd
    val parts = wideRdd.getNumPartitions
    val values = flags.schema.fields.filterNot(f => f.name == pidCol || f.name == flagKey)
    val wideSchema = wide.schema
    val schema = StructType(wideSchema.fields ++ values)
    // an empty relation can plan with no partitions: nothing to route
    if (parts == 0)
      return fromInternalRows(session, session.sparkContext.emptyRDD[InternalRow], schema)
    val routed = flags.repartitionById(parts, functions.col(pidCol))
      .select((flagKey +: values.map(_.name).toSeq).map(functions.col): _*)
    val flagRdd = SQLExecution.withNewExecutionId(routed.queryExecution,
      Some("appendRouted"))(routed.queryExecution.toRdd)
    require(flagRdd.getNumPartitions == parts,
      s"flags routed to ${flagRdd.getNumPartitions} partitions, wide has $parts")

    val keyAt = wideSchema.fieldIndex(wideKey)
    val keyType = wideSchema(keyAt).dataType
    val n = wideSchema.length
    val out = wideSchema.fields.zipWithIndex.map { case (f, i) =>
      BoundReference(i, f.dataType, f.nullable) } ++
      values.zipWithIndex.map { case (f, j) =>
        BoundReference(n + 1 + j, f.dataType, f.nullable) }
    val rows = wideRdd.zipPartitions(flagRdd) { (wideIt, flagIt) =>
      val byKey = new java.util.HashMap[Any, InternalRow]()
      flagIt.foreach { f =>
        if (!f.isNullAt(0)) {
          val kept = f.copy()
          val k = kept.get(0, keyType)
          if (byKey.put(k, kept) != null)
            throw new IllegalStateException(s"key $k flagged twice")
        }
      }
      val append = UnsafeProjection.create(out.toSeq)
      val joined = new JoinedRow
      wideIt.filterNot(_.isNullAt(keyAt)).map { w =>
        val f = byKey.get(w.get(keyAt, keyType))
        if (f == null)
          throw new IllegalStateException(
            s"no flag row for key ${w.get(keyAt, keyType)}: routing lost it")
        append(joined(w, f)): InternalRow
      }
    }
    fromInternalRows(session, rows, schema)
  }

  /** A DataFrame's analyzed logical plan. */
  def analyzed(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed
}
