package graft

/** Mixture weights: temperature scaling and document allocation. */
class MixtureSpec extends SparkTestBase {

  test("temperature weights: alpha=1 is natural, alpha->0 flattens, sums to 1") {
    import spark.implicits._
    import graft.ops.Mixture
    // masses 8000 : 1000 : 1000 (one head stratum, two tails)
    val df = ((1 to 80).map(i => (i, "head", 100L))
      ++ (1 to 10).map(i => (100 + i, "tail_a", 100L))
      ++ (1 to 10).map(i => (200 + i, "tail_b", 100L)))
      .toDF("id", "src", "chars")
    def weights(alpha: Double) =
      Mixture.temperatureWeights(df, "src", "chars", alpha, budgetDocs = 1000L)
        .select("src", "weight").as[(String, Double)].collect().toMap
    val natural = weights(1.0)
    assert(math.abs(natural("head") - 0.8) < 1e-12)
    assert(math.abs(natural("tail_a") - 0.1) < 1e-12)
    val cooled = weights(0.3)
    // flattening: head loses, tails gain, order preserved
    assert(cooled("head") < natural("head"))
    assert(cooled("tail_a") > natural("tail_a"))
    assert(cooled("head") > cooled("tail_a"))
    assert(math.abs(cooled.values.sum - 1.0) < 1e-12)
    // allocation floors never oversubscribe the budget
    val alloc = Mixture.temperatureWeights(df, "src", "chars", 0.3, 1000L)
      .agg(org.apache.spark.sql.functions.sum("docs_alloc")).collect()(0).getLong(0)
    assert(alloc <= 1000L)
  }
}
