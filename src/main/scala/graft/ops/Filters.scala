package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The drop-reason machinery (SURVEY.md §2.4, F1–F28).
  *
  * Reference semantics: each stage assigns `drop_reason` to failing rows
  * only if it is still NULL — an ordered first-match-wins CASE chain —
  * then splits kept (`drop_reason IS NULL`) vs dropped. One
  * `coalesce(existing, when(r1,..), when(r2,..), ...)` per stage keeps
  * the whole chain inside a single codegen'd projection; the kept/dropped
  * split is two filters over one (cacheable) parent plan, never a
  * recomputation of the rules.
  */
object Filters {

  /** Apply an ordered rule chain, respecting any existing drop_reason. */
  def applyRules(df: DataFrame, rules: Seq[(Column, String)]): DataFrame = {
    val existing =
      if (df.columns.contains("drop_reason")) col("drop_reason")
      else lit(null).cast("string")
    df.withColumn(
      "drop_reason",
      coalesce(existing +: rules.map { case (p, r) => when(p, lit(r)) }: _*))
  }

  def kept(df: DataFrame): DataFrame = df.filter(col("drop_reason").isNull)

  /** Null-like strings (behavioral data, text_clean_and_filter.py:150-160). */
  val NullLike: Seq[String] = Seq("nan", "none", "null", "n/a", "null value")

  /** F1–F8 (stage 2a, text_clean_and_filter.py:130-184).
    * F2 (non_string) is moot under a typed schema. F6's `& ~empty_after_clean`
    * guard is implied: char_len is NULL exactly when text_norm is NULL, and
    * NULL predicates never fire a `when`.
    */
  def prefilterRules(raw: Column, norm: Column, charLen: Column,
                     wordCount: Column, minChars: Int = 20,
                     maxChars: Int = 100000): Seq[(Column, String)] = Seq(
    raw.isNull -> "missing",
    norm.isNull -> "empty_after_clean",
    lower(coalesce(norm, lit(""))).isin(NullLike: _*) -> "null_like",
    coalesce(norm, lit("")).rlike("^[\\d\\.\\-]+$") -> "numeric_like",
    (charLen < minChars) -> "too_short_chars",
    (wordCount < 2) -> "too_short_words",
    (charLen > maxChars) -> "too_long"
  )

  /** F9–F12 (stage 2b language filters, text_clean_and_filter.py:474-499). */
  def langRules(pred: Column, score: Column, nonLatinRatio: Column,
                allowed: Seq[String] = Seq("en"), minConf: Double = 0.80,
                nonLatinThreshold: Double = 0.50): Seq[(Column, String)] = Seq(
    (pred === "unk") -> "lang_unknown",
    (!pred.isin(allowed: _*) && pred =!= "unk") -> "non_english",
    (pred.isin(allowed: _*) && score < minConf) -> "low_lang_confidence",
    (nonLatinRatio > nonLatinThreshold) -> "non_latin_heavy"
  )

  /** F13–F20 thresholds and literals — the operator contract
    * (text_clean_and_filter.py:537-595), named once so the rule chain
    * below and the fused [[graft.plans.DropReasonStage2]] kernel share
    * ONE source of truth instead of duplicating magic numbers.
    */
  val QualityMinWords = 5
  val QualityMaxWords = 5000
  val QualityMinAlphaRatio = 0.5
  val QualityMaxRepetition = 0.8
  val QualityMaxPiiHits = 20
  val QualityMaxToxicity = 0.8
  /** The blocked-URL pattern is an alternation of these literals
    * (find() semantics == multi-literal contains, which is how the
    * kernel evaluates it).
    */
  val BlockedUrlLiterals: Seq[String] = Seq("/ads/", "example-spam-site.com")
  private val BlockedUrlRe =
    BlockedUrlLiterals.map(_.replace(".", "\\.")).mkString("|")

  /** F13–F20 (stage 2c row-quality, text_clean_and_filter.py:537-595). */
  def qualityRules(text: Column, nWords: Column, alphaRatio: Column,
                   repetitionRatio: Column, url: Column, emailHits: Column,
                   phoneHits: Column, toxicity: Column): Seq[(Column, String)] = Seq(
    (text.isNull || trim(text) === "") -> "empty_text",
    (nWords < QualityMinWords) -> "too_short",
    (nWords > QualityMaxWords) -> "too_long",
    (alphaRatio < QualityMinAlphaRatio) -> "low_alpha_ratio",
    (repetitionRatio > QualityMaxRepetition) -> "high_repetition",
    coalesce(url, lit("")).rlike(BlockedUrlRe) -> "blocked_url",
    (emailHits + phoneHits > QualityMaxPiiHits) -> "pii_heavy",
    (toxicity >= QualityMaxToxicity) -> "high_toxicity"
  )

  /** F21–F24 (stage 3 low-info filters, deep_clean_and_pii.py:418-497). */
  def deepCleanRules(tokenCount: Column, maxTokenFreqRatio: Column,
                     uniqueTokenRatio: Column, stopwordRatio: Column,
                     hasPii: Column, dropPii: Boolean = false): Seq[(Column, String)] = {
    val base = Seq(
      (tokenCount >= 3 && maxTokenFreqRatio > 0.70) -> "repetitive_token_spam",
      (tokenCount >= 10 && uniqueTokenRatio < 0.20) -> "low_unique_token_ratio",
      (tokenCount >= 10 && stopwordRatio > 0.95) -> "high_stopword_ratio"
    )
    if (dropPii) base :+ (hasPii -> "pii") else base
  }

  /** F27–F28 (stage 6 token-length gates, Tokenisation_JSONL_export.py:137-142). */
  def tokenLengthRules(nTokens: Column, minTokens: Int = 10,
                       maxTokens: Int = 2048): Seq[(Column, String)] = Seq(
    (nTokens < minTokens) -> "too_few_tokens",
    (nTokens > maxTokens) -> "too_many_tokens"
  )
}
