package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mixture construction (beyond the reference's constant mixture_name:
  * scoring_and_mixture.py:138 tags but never samples). A real
  * pretraining run samples each subset/source at a target weight —
  * this computes those weights.
  */
object Mixture {

  /** Temperature-scaled mixture weights (the multilingual-sampling rule
    * from the XLM-R / mT5 line of work): stratum i gets weight
    * mass_i^alpha / Σ_j mass_j^alpha. alpha = 1 reproduces natural
    * proportions; alpha -> 0 flattens toward uniform, up-weighting tail
    * strata so high-resource sources don't drown them. The p^alpha
    * normalization constant cancels, so raw masses feed `pow` directly.
    *
    * Shape: one row per stratum after a keyed agg; the normalizing total
    * is a one-row broadcast joined back — no window, no second shuffle of
    * the strata frame.
    */
  def temperatureWeights(df: DataFrame, strataCol: String, massCol: String,
                         alpha: Double, budgetDocs: Long): DataFrame = {
    require(alpha > 0.0, "alpha must be positive")
    val mass = df.groupBy(strataCol)
      .agg(sum(col(massCol)).cast("long").as("mass"))
      .withColumn("pw", pow(col("mass").cast("double"), alpha))
    val total = mass.agg(sum("pw").as("__tot"))
    mass.crossJoin(broadcast(total))
      .withColumn("weight", col("pw") / col("__tot"))
      // floor, not round: HALF_UP (Spark) vs half-even drift across engines
      .withColumn("docs_alloc", floor(col("weight") * budgetDocs).cast("long"))
      .drop("pw", "__tot")
  }
}
