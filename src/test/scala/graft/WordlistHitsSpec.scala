package graft

import org.apache.spark.sql.TestSqlBridge
import org.apache.spark.sql.functions._

import graft.plans.WordlistHits
import graft.text.{LangId, Toxicity}

/** Native multi-wordlist counting kernel: parity with the HOF form on
  * adversarial token arrays, codegen + interpreted paths, and the
  * staged lang-ID/toxicity columns that ride on it.
  */
class WordlistHitsSpec extends SparkTestBase {

  private val texts = Seq(
    "the cat and the dog and the bird",          // repeats count per occurrence
    "der hund und die katze und der vogel",
    "no stopwords here whatsoever",
    "the der el le mixed language soup",
    "", "   ",
    "kill the stupid sex crap talk",             // toxicity hits
    null.asInstanceOf[String]
  )

  test("kernel counts equal the HOF filter/array_contains form") {
    import spark.implicits._
    val toks = regexp_extract_all(lower(coalesce(col("s"), lit(""))),
      lit("\\p{L}+"), lit(0))
    val df = texts.toDF("s").withColumn("toks", toks)
    val lists = Seq(LangId.En, LangId.De, LangId.Es, LangId.Fr)
    val hof = lists.zipWithIndex.map { case (ws, i) =>
      size(filter(col("toks"), t => array_contains(typedlit(ws), t))).as(s"h$i")
    }
    val rows = df.select(
      TestSqlBridge.kernel(col("toks"))(WordlistHits(_, "langid")).as("native") +: hof: _*).collect()
    rows.foreach { r =>
      val native = r.getSeq[Int](0)
      (0 until 4).foreach { i =>
        assert(native(i) == r.getInt(i + 1), s"list $i in row $r")
      }
    }
  }

  test("interpreted path matches codegen path") {
    import spark.implicits._
    val df = texts.toDF("s").withColumn("toks",
      regexp_extract_all(lower(coalesce(col("s"), lit(""))), lit("\\w+"), lit(0)))
    val expect = df.select(TestSqlBridge.kernel(col("toks"))(WordlistHits(_, "toxicity"))).collect()
      .map(_.getSeq[Int](0))
    withSQLConf("spark.sql.wholeStageCodegen.enabled" -> "false") {
      val got = df.select(TestSqlBridge.kernel(col("toks"))(WordlistHits(_, "toxicity"))).collect()
        .map(_.getSeq[Int](0))
      assert(got.toSeq == expect.toSeq)
    }
  }

  test("staged toxicity columns equal the inline scores form") {
    import spark.implicits._
    val df = texts.filter(_ != null).toDF("text")
    val names = Seq("toxicity", "severe_toxicity", "insult", "threat",
      "identity_attack", "sexual_explicit")
    val inline = {
      val sc = graft.text.ToxicityRef.scores(col("text"))
      df.select(names.map(n => sc(n).as(n)): _*).collect().map(_.toSeq)
    }
    val staged = Toxicity.withToxicityColumns(df, col("text"))
      .select(names.map(col): _*).collect().map(_.toSeq)
    assert(staged.toSeq == inline.toSeq)
  }

  test("unknown profile is rejected at construction") {
    intercept[IllegalArgumentException] {
      TestSqlBridge.kernel(col("x"))(WordlistHits(_, "nope"))
    }
  }

  test("registered in FunctionRegistry: callable from SQL text") {
    graft.plans.GraftFunctions.register(spark)
    val got = spark.sql(
      "SELECT wordlist_hits(array('the', 'der', 'the'), 'langid') AS h")
      .head().getSeq[Int](0)
    assert(got == Seq(2, 1, 0, 0))
  }
}
