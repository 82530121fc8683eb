package graft

import org.apache.spark.sql.functions._

import graft.plans.{CosineSimilarity, GraftFunctions}

/** Native cosine expression: parity with the higher-order-function fold,
  * codegen + interpreted paths, SQL registration, codegen-span fusion.
  */
class CosineSpec extends SparkTestBase {

  /** Left-to-right fold dot product over two double arrays: the
    * interpreted form the native kernels replaced.
    */
  private def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private val vecs = Seq(
    (Array(1.0, 0.0, 0.0), Array(1.0, 0.0, 0.0)),   // identical -> 1
    (Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0)),   // orthogonal -> 0
    (Array(1.0, 2.0, 3.0), Array(-1.0, -2.0, -3.0)), // opposite -> -1
    (Array(0.3, -0.7, 0.64), Array(0.11, 0.52, -0.9)),
    (Array(1e-8, 2e8, -3.5), Array(7.7, -1e-9, 2.25))
  )

  test("expression equals the left-to-right higher-order fold, bit for bit") {
    import spark.implicits._
    val df = vecs.toDF("a", "b")
    val hof = dot(col("a"), col("b")) /
      (sqrt(dot(col("a"), col("a"))) *
        sqrt(dot(col("b"), col("b"))))
    val rows = df.select(CosineSimilarity(col("a"), col("b")).as("native"),
      hof.as("fold")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)), r.toString)
    }
  }

  test("L2SqDistance equals the zip_with/aggregate fold bit for bit, SQL-callable") {
    import spark.implicits._
    import graft.plans.L2SqDistance
    val df = vecs.toDF("a", "b")
    val hof = aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)
    df.select(L2SqDistance(col("a"), col("b")).as("native"), hof.as("fold"))
      .collect().foreach { r =>
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
          java.lang.Double.doubleToLongBits(r.getDouble(1)), r.toString)
      }
    GraftFunctions.register(spark)
    val viaSql = spark.sql(
      "SELECT l2sq(array(1.0d, 2.0d), array(4.0d, 6.0d))").collect().head.getDouble(0)
    assert(viaSql === 25.0)
  }

  test("interpreted path (no codegen) matches codegen path") {
    import spark.implicits._
    val df = vecs.toDF("a", "b")
    val expect = df.select(CosineSimilarity(col("a"), col("b"))).collect()
      .map(_.getDouble(0)).toSeq
    withSQLConf("spark.sql.wholeStageCodegen.enabled" -> "false") {
      val got = df.select(CosineSimilarity(col("a"), col("b"))).collect()
        .map(_.getDouble(0)).toSeq
      assert(got === expect)
    }
  }

  test("null-intolerant: null array in, null out") {
    import spark.implicits._
    val r = Seq((Array(1.0), null.asInstanceOf[Array[Double]])).toDF("a", "b")
      .select(CosineSimilarity(col("a"), col("b"))).head()
    assert(r.isNullAt(0))
  }

  test("registered in FunctionRegistry: callable from SQL text") {
    GraftFunctions.register(spark)
    val got = spark.sql(
      "SELECT cosine_sim(array(1.0d, 2.0d), array(2.0d, 4.0d)) AS c")
      .head().getDouble(0)
    assert(math.abs(got - 1.0) < 1e-12)
  }

  test("ANN scoring stays in one whole-stage-codegen span (no UDF SerDe break)") {
    val p = graft.queries.SimilarityQueries.annTopK(spark, "/root/testdata/sf0.001")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"cosine must be a native expression, not a UDF:\n$p")
  }
}
