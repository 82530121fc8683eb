package graft

import org.apache.spark.sql.functions._

/** Skew routing must be result-identical to the plain window path. */
class SkewSpec extends SparkTestBase {

  test("nonDegenerate nulls out empty and null keys") {
    import spark.implicits._
    val r = Seq("x", "", "  ", null).toDF("k")
      .select(SkewSpec.nonDegenerate(col("k"))).collect().map(r =>
        if (r.isNullAt(0)) null else r.getString(0))
    assert(r.toSeq === Seq("x", null, null, null))
  }

  // 99%-one-language corpus: the fixture from the verdict's skew item.
  // 990 'en' docs + 10 spread over 5 tail languages, adversarial score
  // ties (score = id % 7) so the id tie-break is load-bearing.
  private def skewedLangs = {
    import spark.implicits._
    ((0 until 990).map(i => (i.toLong, "en", (i % 7).toDouble, 3L + i % 5)) ++
      (990 until 1000).map(i =>
        (i.toLong, s"l${i % 5}", (i % 7).toDouble, 3L + i % 5)))
      .toDF("doc_id", "lang", "score", "toks")
      .repartition(7, col("doc_id"))
  }

  test("budgetSelectPerGroup: skew-routed two-pass path equals the window path") {
    import graft.ops.Sampling
    def run(threshold: Long) = Sampling.budgetSelectPerGroup(
        skewedLangs, "lang", "doc_id", "score", "toks", budgetPerGroup = 200L,
        skewThreshold = threshold)
      .select("doc_id", "lang", "cum_before", "kept")
      .collect().map(_.toSeq).toSet
    val windowOnly = run(threshold = 1000000L) // nothing routes
    val routed = run(threshold = 100L)         // 'en' takes the two-pass path
    val bothRouted = run(threshold = 0L)       // every group routed
    assert(routed === windowOnly)
    assert(bothRouted === windowOnly)
    // sanity: the budget actually cuts inside the dominant group
    val keptEn = windowOnly.count(r => r(1) == "en" && r(3) == true)
    assert(keptEn > 0 && keptEn < 990, s"budget cut degenerate: $keptEn")
  }

  test("budgetSelectPerGroup: null group keys survive skew routing") {
    import graft.ops.Sampling
    import spark.implicits._
    val withNulls = Seq((1L, "en", 1.0, 5L), (2L, null, 2.0, 5L),
      (3L, null, 1.0, 5L), (4L, "fr", 1.0, 5L))
      .toDF("doc_id", "lang", "score", "toks")
    def run(threshold: Long) = Sampling.budgetSelectPerGroup(
        withNulls, "lang", "doc_id", "score", "toks", budgetPerGroup = 7L,
        skewThreshold = threshold)
      .select("doc_id", "cum_before", "kept").collect().map(_.toSeq).toSet
    assert(run(0L) === run(100L))
    assert(run(0L).size === 4, "null-group rows were dropped by routing")
  }
}

object SkewSpec {
  import org.apache.spark.sql.Column

  /** Null-safe key extraction with a degenerate-key guard: nulls and
    * empties never enter a keyed shuffle (they would all land on one
    * partition).
    */
  def nonDegenerate(c: Column): Column =
    when(c.isNull || trim(c.cast("string")) === "", lit(null)).otherwise(c)
}
