package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec

/** What specs read or force through Spark's private[sql] API. */
object TestSqlBridge {
  /** Names of the SQL functions `ext` registers into a fresh registry:
    * the registration step Spark runs at session build is private[sql].
    */
  def names(ext: SparkSessionExtensions): Set[String] =
    ext.registerFunctions(new SimpleFunctionRegistry).listFunction().map(_.funcName).toSet

  /** The catalyst kernel `k` over `c`, as a column: the Column-API form
    * of a kernel that production code builds only inside its own ops.
    */
  def kernel(c: Column)(k: Expression => Expression): Column =
    GraftSqlBridge.column(k(GraftSqlBridge.expression(c)))

  /** True when the session's CacheManager holds no cached plans —
    * lets specs pin "this library call released every DataFrame-level
    * persist it took" (RDD-level persists are lifecycle-managed by
    * ContextCleaner and excluded on purpose: their release is
    * GC-driven, so asserting on them would be flaky).
    */
  def noCachedPlans(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty

  /** Force-compile a WholeStageCodegenExec node's generated source.
    * At runtime a janino failure only logs a WARN and silently falls
    * back to interpreted evaluation; routed through this, it THROWS —
    * which lets PlanSpec pin "the stage-2 projection actually
    * codegens" as a hard test instead of a log grep.
    */
  def compileWholeStage(ws: WholeStageCodegenExec): Unit = {
    val (_, code) = ws.doCodeGen()
    CodeGenerator.compile(code)
  }
}
