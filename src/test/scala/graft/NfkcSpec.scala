package graft

import org.apache.spark.sql.functions._

import graft.plans.{GraftFunctions, NfkcNormalize}

/** Native NFKC expression: semantics vs the UDF baseline and the JVM
  * Normalizer, codegen + interpreted paths, SQL registration.
  */
class NfkcSpec extends SparkTestBase {

  private val samples = Seq(
    "plain ascii",
    "ﬁ ligature and ﬂow",          // U+FB01/U+FB02 -> fi / fl
    "ｆｕｌｌｗｉｄｔｈ ４２",        // fullwidth forms -> ascii
    "é combining acute",      // e + U+0301 -> é (composed)
    "²³ superscripts ½ fractions",
    " nbsp and ① circled one",
    "",
    "already normalized text 123"
  )

  test("expression equals UDF baseline and java.text.Normalizer") {
    import spark.implicits._
    val df = (samples :+ null.asInstanceOf[String]).toDF("s")
    val rows = df.select(
      NfkcNormalize(col("s")).as("native"),
      graft.text.NormalizeRef.nfkc(col("s")).as("viaUdf")).collect()
    rows.foreach { r => assert(r.get(0) === r.get(1)) }
    samples.foreach { s =>
      val expect = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKC)
      val got = Seq(s).toDF("s").select(NfkcNormalize(col("s"))).head().getString(0)
      assert(got === expect, s"for input '$s'")
    }
  }

  test("interpreted path (no codegen) matches") {
    import spark.implicits._
    withSQLConf("spark.sql.wholeStageCodegen.enabled" -> "false") {
      val got = samples.toDF("s").select(NfkcNormalize(col("s")).as("n"))
        .as[String].collect().toSeq
      val want = samples.map(java.text.Normalizer.normalize(_, java.text.Normalizer.Form.NFKC))
      assert(got === want)
    }
  }

  test("null-intolerant: null in, null out") {
    import spark.implicits._
    val r = Seq(null.asInstanceOf[String]).toDF("s")
      .select(NfkcNormalize(col("s"))).head()
    assert(r.isNullAt(0))
  }

  test("registered in FunctionRegistry: callable from SQL text") {
    GraftFunctions.register(spark)
    val got = spark.sql("SELECT nfkc('ﬁｆｕｌｌ') AS n").head().getString(0)
    assert(got === java.text.Normalizer.normalize("ﬁｆｕｌｌ", java.text.Normalizer.Form.NFKC))
  }

  test("CollapseNfkc optimizer rule removes nested applications") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // parquet-backed source so ConvertToLocalRelation can't pre-evaluate
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val df = docs
      .select(NfkcNormalize(NfkcNormalize(NfkcNormalize(col("text")))).as("n"))
    val optimized = df.queryExecution.optimizedPlan
    var count = 0
    optimized.transformAllExpressions {
      case e: graft.plans.NfkcNormalize => count += 1; e
    }
    assert(count === 1, s"expected nested nfkc collapsed to one:\n$optimized")
    // semantics preserved vs a single application
    val got = df.limit(5).as[String].collect().toSeq
    val want = docs.select(NfkcNormalize(col("text")).as("n"))
      .limit(5).as[String].collect().toSeq
    assert(got === want)
  }
}
