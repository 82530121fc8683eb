package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Keyword-heuristic toxicity scoring (SURVEY.md §2.3 M9).
  *
  * Word lists are behavioral data from the reference
  * (text_clean_and_filter.py:303-322); they exist to FILTER OUT toxic
  * content from training corpora. Scores are scaled hit fractions in
  * [0,1], exactly the reference arithmetic
  * (text_clean_and_filter.py:325-366).
  */
object Toxicity {

  val BadWords = Seq(
    "fuck", "fucking", "shit", "bitch", "bastard", "asshole", "crap",
    "damn", "dick", "piss")
  val InsultWords = Seq("idiot", "moron", "stupid", "loser", "dumb")
  val ThreatWords = Seq("kill", "murder", "hurt", "shoot", "stab")
  val SexualWords = Seq("sex", "porn", "nude", "naked")
  val SlurWords   = Seq("nigger", "nigga", "faggot", "retard")

  /** The ONE copy of the six-column toxicity scoring arithmetic over a
    * staged (token count, hit accessor) pair — shared by
    * [[withToxicityColumns]] and [[graft.text.LangId.withLangToxColumns]]
    * so a cutoff tune can never silently diverge between the stagings.
    */
  private[text] def appendToxColumns(df: org.apache.spark.sql.DataFrame,
      n: Column, hit: Int => Column): org.apache.spark.sql.DataFrame = {
    val (bad, ins, thr, sex, slr) = (hit(1), hit(2), hit(3), hit(4), hit(5))
    val toxicity = least(lit(1.0), (bad + ins + thr + sex + slr) / n * 5.0)
    df.withColumn("toxicity", toxicity)
      .withColumn("severe_toxicity", when(toxicity >= 0.9, 1.0).otherwise(0.0))
      .withColumn("insult", least(lit(1.0), ins / n * 5.0))
      .withColumn("threat", least(lit(1.0), thr / n * 5.0))
      .withColumn("identity_attack", least(lit(1.0), slr / n * 5.0))
      .withColumn("sexual_explicit", least(lit(1.0), sex / n * 5.0))
  }

  /** Staged fast path: one compiled [[graft.plans.TextProfileStats]]
    * pass counts the tokens and all five lists, scores come from
    * attributes. Value-identical to the test-scope ToxicityRef.scores
    * (the per-column HOF form) — same arithmetic over
    * the same counts; the WordlistHits-over-token-array staging it
    * replaced is the parity anchor (test-scope ToxicityRef).
    */
  def withToxicityColumns(df: org.apache.spark.sql.DataFrame,
                          c: Column): org.apache.spark.sql.DataFrame = {
    val staged = df
      .withColumn("__tox_k",
        graft.plans.TextProfileStats(coalesce(c, lit("")), "toxicity"))
      .withColumn("__tox_n",
        greatest(lit(1L), element_at(col("__tox_k"), 1)).cast("double"))
    appendToxColumns(staged, col("__tox_n"),
      i => element_at(col("__tox_k"), i + 1).cast("double"))
      .drop("__tox_k", "__tox_n")
  }
}
