package graft

import java.util.regex.Pattern

import org.apache.spark.sql.TestSqlBridge
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.text.Pii

/** Parity contract for the linear-time email kernel
  * ([[graft.plans.EmailScan]]): value-identical to java.util.regex on
  * the reference pattern — the engine it replaces — across randomized
  * and adversarial inputs, through both the interpreted and codegen
  * paths, while staying linear on the shapes that send the regex
  * engine quadratic.
  */
class EmailScanSpec extends SparkTestBase {

  private val P = Pattern.compile(Pii.EmailRe)

  private def refCount(s: String): Int = {
    val m = P.matcher(s)
    var n = 0
    while (m.find()) n += 1
    n
  }

  private def refMask(s: String): String =
    P.matcher(s).replaceAll("<EMAIL>")

  private def kCount(s: String): Int =
    graft.plans.EmailScan.count(UTF8String.fromString(s))

  private def kMask(s: String): String =
    graft.plans.EmailScan.mask(UTF8String.fromString(s),
      UTF8String.fromString("<EMAIL>")).toString

  private def assertParity(raw: String): Unit = {
    // canonicalize through UTF8String first: in Spark, BOTH the regexp_*
    // expressions and the kernel receive post-conversion bytes (lone
    // surrogates become '?'), so parity is defined at that boundary —
    // comparing the regex on the raw JVM string would test a
    // representation Spark never evaluates
    val s = UTF8String.fromString(raw).toString
    assert(kCount(s) === refCount(s), s"count diverged on: ${s.take(120)}")
    assert(kMask(s) === refMask(s), s"mask diverged on: ${s.take(120)}")
  }

  test("edge fixtures: every boundary the pattern semantics can reach") {
    val cases = Seq(
      "", "@", "a@", "@b.cc", "a@b.cc", "a@b.c", "a@b.c1", "a@b.cc1",
      "a@.cc", "a@b..cc", "a@.b.cc", "a@b.", "a@b", ".@b.cc", "-a@b.cc",
      "a.@b.cc", "a@b-.cc", "a@-b.cc", "a@b.c-c", "a@b.cc.dd",
      "a@b.cc2dd.ee", "a@bb.ccxx@dd.ee", "x@y.cc@z.dd", "a@@b.cc",
      "a@b.cc c@d.ee", "a@b.ccc@d.ee", "a@b.cc@d.ee", "a%b_c+d-e@f.gg",
      "pre a@b.cc post", "UPPER@CASE.COM", "mixed@Ca.Se",
      "a@b.cc\nx@y.zz", "tab\ta@b.cc", "a@b.cccccccccc",
      "1@2.cc", "a@1.cc", "a@b1.cc", "a@b.1c", "a@b.c1c",
      "a@b.cc.", "a@b.cc-", "a@b.cc_", "_@b.cc", "+@b.cc", "%@b.cc",
      "a@b.cc🎉x@y.zz", "🎉a@b.cc", "ü@b.cc", "a@ü.cc", "a@b.üc",
      "\ud83da@b.cc", "a@b.cc\ude00", "a.b.c@d.e.ff",
      "john.doe+tag@sub.domain-name.co.uk",
      "a@b.cc" * 50, "x" * 500 + "@y.zz", "a@" + "b" * 500 + ".cc",
      "a@b." + "c" * 500, "." * 300 + "@b.cc", "a@b" + "." * 300 + "cc")
    cases.foreach(assertParity)
  }

  test("randomized parity: 4000 seeded strings over a biased alphabet") {
    val alphabet: IndexedSeq[Char] =
      "ab1AZ09._%+-@@.. \n\tü日" + "🎉".charAt(0) + "🎉".charAt(1)
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 4000) {
      val len = rnd.nextInt(80)
      val s = (1 to len).map(_ => alphabet(rnd.nextInt(alphabet.length)))
        .mkString
      assertParity(s)
    }
  }

  test("randomized parity: dense email-like soup") {
    // higher hit density: concatenated near-emails with separators
    val parts = Seq("a@b.cc", "x@y", "@z.dd", "w.v", "@", ".", "-", " ",
      "m@n.oo", "..", "q@r.s", "t@u.vvv", "%+_", "1@2.33", "a@b.c")
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 1500) {
      val s = (1 to rnd.nextInt(12)).map(_ => parts(rnd.nextInt(parts.length)))
        .mkString
      assertParity(s)
    }
  }

  test("kernel matches the regex engine through Spark columns (codegen path)") {
    import spark.implicits._
    val fixtures = Seq("a@b.cc and x@y.zz!", "no emails here", "",
      "john.doe+tag@sub.domain-name.co.uk mid", "a@@b.cc a@b.c1")
    val df = fixtures.toDF("text").repartition(2)
    val rows = df.select(
      graft.plans.EmailCount(col("text")).as("kc"),
      regexp_count(col("text"), lit(Pii.EmailRe)).as("rc"),
      TestSqlBridge.kernel(col("text"))(graft.plans.EmailMask(_)).as("km"),
      regexp_replace(col("text"), Pii.EmailRe, "<EMAIL>").as("rm")).collect()
    rows.foreach { r =>
      assert(r.getInt(0) === r.getInt(1))
      assert(r.getString(2) === r.getString(3))
    }
  }

  test("null flows through (null-intolerant expression, no NPE)") {
    import spark.implicits._
    val df = Seq[Option[String]](None, Some("a@b.cc")).toDF("text")
    val rows = df.select(TestSqlBridge.kernel(col("text"))(graft.plans.EmailMask(_)).as("m"),
      graft.plans.EmailCount(col("text")).as("c")).collect()
    assert(rows.exists(r => r.isNullAt(0) && r.isNullAt(1)))
    assert(rows.exists(r => !r.isNullAt(0) && r.getString(0) == "<EMAIL>"))
  }

  test("wrong-typed SQL call fails at analysis, not execution") {
    graft.plans.GraftFunctions.register(spark)
    for (q <- Seq("SELECT email_hits(42)", "SELECT email_mask(array(1,2))")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(q).collect()
      }
      assert(e.getMessage.toLowerCase.contains("type"), s"$q: ${e.getMessage}")
    }
  }

  test("linear on the shapes that send java.util.regex quadratic") {
    // tools/RegexAudit: the regex engine exceeds 2 s at 50k chars on
    // these; the kernel must do 400k chars in milliseconds. Generous
    // 500 ms bound — CI noise tolerant, still 3 orders under the regex.
    val shapes = Seq("x" * 400000, "a.b-c_d%e+" * 40000,
      "1" * 400000, "x" * 399994 + "@a.com", "a@" + "x" * 399998)
    for (s <- shapes) {
      val t0 = System.nanoTime()
      kCount(s); kMask(s)
      val ms = (System.nanoTime() - t0) / 1e6
      assert(ms < 500.0, f"kernel took $ms%.0f ms on ${s.take(20)}...")
    }
  }
}
