package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Per-row numeric text metrics (SURVEY.md §2.3, M1–M6).
  *
  * Reference behavior:
  *  - M1/M2 char_len/word_count:  text_clean_and_filter.py:124-127
  *  - M3/M4 quality metrics:      text_clean_and_filter.py:206-236
  *  - M5 token stats:             deep_clean_and_pii.py:219-260
  *  - M6 non_latin_ratio:         text_clean_and_filter.py:451-469
  *
  * All native expressions (higher-order array functions, no UDFs) so the
  * whole metric block stays inside one whole-stage-codegen span.
  */
object TextMetrics {

  /** Whitespace tokens; empty/null/whitespace-only -> empty array
    * (Spark's split("") would yield [""], the reference yields []).
    */
  def tokens(c: Column): Column =
    when(c.isNull || trim(c) === "", array().cast("array<string>"))
      .otherwise(split(trim(c), "\\s+"))

  /** M1 on text_norm: length; stays NULL for null input (pandas .str.len). */
  def charLen(c: Column): Column = length(c)

  /** M2: whitespace token count; null -> 0 (reference fillna("")).
    * Counted by the string-walking [[graft.plans.TokenTextStats]]
    * kernel — no token array, no regex; bit-equal to the
    * `size(split(trim(c), "\\s+"))` form (test-scope TextMetricsRef,
    * the parity anchor).
    */
  def wordCount(c: Column): Column = wordCountFrom(textTokenStats(c))

  /** The [[graft.plans.TokenTextStats]] kernel behind [[wordCount]] and
    * [[repetitionRatio]] (null -> ""). Codegen does not share a kernel
    * call between `when` branches, so a projection that needs both
    * stages this once as an attribute and derives them with the `From`
    * forms (Pipeline.cleanAndFilter).
    */
  def textTokenStats(c: Column): Column =
    graft.plans.TokenTextStats(coalesce(c, lit("")), Nil)

  /** [[wordCount]] from a staged [[textTokenStats]]. */
  def wordCountFrom(k: Column): Column = element_at(k, 1).cast("int")

  /** M1' (compute_quality_metrics n_chars): null -> 0. */
  def nChars(c: Column): Column = coalesce(length(c), lit(0))

  /** M3: alphabetic chars / total chars; 0 when empty. Python isalpha ~ \p{L}.
    * Letter units come from the compiled one-pass kernel
    * ([[graft.plans.CharClassStats]]) — bit-equal to the
    * `length(regexp_replace(c, "[^\p{L}]", ""))` form it replaced
    * (parity-pinned in TextOpsSpec), without that form's per-row
    * filtered-copy allocation (62% of cleanAndFilter profiled at 10×,
    * together with [[nonLatinRatio]]'s double strip).
    */
  def alphaRatio(c: Column): Column = alphaRatioFrom(c, charClassStats(c))

  /** The [[graft.plans.CharClassStats]] kernel behind [[alphaRatio]] and
    * [[nonLatinRatio]] (null -> ""), staged like [[textTokenStats]].
    */
  def charClassStats(c: Column): Column =
    graft.plans.CharClassStats(coalesce(c, lit("")))

  /** [[alphaRatio]] of `c` from its staged [[charClassStats]] `k`. The
    * when(n > 0) guard returns 0.0 for NULL input before `k` is read.
    */
  def alphaRatioFrom(c: Column, k: Column): Column = {
    val n = length(c)
    when(n > 0, element_at(k, 1).cast("double") / n.cast("double"))
      .otherwise(lit(0.0))
  }

  /** M4: 1 - unique_words/n_words; 0 when no words. Tokenized AND
    * distinct-counted by the one-pass string-walking
    * [[graft.plans.TokenTextStats]] kernel — the split+array form this
    * replaces built a full token array per row just to count it
    * (integer counts, so parity with the kernel-over-split form is
    * equality, TextOpsSpec).
    */
  def repetitionRatio(c: Column): Column = repetitionRatioFrom(textTokenStats(c))

  /** [[repetitionRatio]] from a staged [[textTokenStats]]. */
  def repetitionRatioFrom(k: Column): Column = {
    val n = element_at(k, 1)
    when(n > 0,
      lit(1.0) - element_at(k, 2).cast("double") / n.cast("double"))
      .otherwise(lit(0.0))
  }

  /** M5 stopword set (behavioral data, deep_clean_and_pii.py:211-216). */
  val EnStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "for", "on", "at",
    "is", "it", "this", "that", "with", "as", "by", "from", "be", "are",
    "was", "were", "will", "would", "can", "could", "has", "have", "had",
    "about", "into", "over", "after", "before", "between", "up", "down")

  /** M5: (token_count, unique_tokens, unique_token_ratio, stopword_ratio).
    * Stopword match lowercases the token; uniqueness is case-sensitive —
    * exactly the reference's asymmetry.
    */
  def tokenCount(c: Column): Column = size(tokens(c))

  def uniqueTokenRatio(c: Column): Column = {
    val t = tokens(c)
    when(size(t) > 0,
      element_at(graft.plans.TokenSetStats(t, Nil), 1).cast("double")
        / size(t).cast("double"))
      .otherwise(lit(0.0))
  }

  /** M6: non-ASCII alphabetic chars / alphabetic chars; 0 if no letters.
    * Same one-pass kernel as [[alphaRatio]] (the regex form built TWO
    * filtered copies per row); parity-pinned in TextOpsSpec.
    */
  def nonLatinRatio(c: Column): Column = nonLatinRatioFrom(charClassStats(c))

  /** [[nonLatinRatio]] from a staged [[charClassStats]]. */
  def nonLatinRatioFrom(k: Column): Column = {
    val total = element_at(k, 1)
    when(total > 0,
      element_at(k, 2).cast("double") / total.cast("double"))
      .otherwise(lit(0.0))
  }

  /** Shannon entropy (nats) of a doc's token distribution — the
    * repetition/diversity quality signal: near 0 for "spam spam spam",
    * ln(n) for all-distinct tokens. Computed per row with ZERO shuffles
    * via H = ln(n) − (Σ c·ln c)/n over per-distinct-token counts c (the
    * explode → groupBy formulation spends two exchanges on what is
    * row-local arithmetic). The distinct array is SORTED before the sum
    * so float addition order — and thus the bits — match the oracle's
    * (DuckDB `list_distinct` has no order guarantee; `list_sort` +
    * `array_sort` pin one).
    *
    * Evaluated by the compiled one-pass kernel
    * ([[graft.plans.TokenDistStats]]: sort once, run-length count) —
    * bit-equal to the interpreted `aggregate(transform(array_sort(
    * array_distinct(t)), ...)` chain it replaced (same ascending-binary
    * fold order, same StrictMath.log; TokenDistStatsSpec pins the bits),
    * without that chain's O(distinct·n)-per-row cost: a row of 150k
    * UNIQUE tokens took minutes interpreted and takes milliseconds
    * compiled (HostileInputSpec's distinct-token flood). coalesce
    * mirrors the old `when(size > 0, ...)` null-array fallthrough.
    */
  def tokenEntropyFromTokens(t: Column): Column =
    coalesce(element_at(graft.plans.TokenDistStats(t), 1), lit(0.0))

  /** M5+A4 staged: tokenize ONCE into an attribute, derive all five
    * token stats from it (value-identical to the single-column forms —
    * same expressions over a bound array instead of an inline split,
    * which would otherwise re-run per reference and, inside the A4
    * lambda, per distinct token).
    */
  def withTokenStats(df: org.apache.spark.sql.DataFrame,
                     c: Column): org.apache.spark.sql.DataFrame = {
    // All five stats from ONE string-walking compiled pass
    // ([[graft.plans.TokenTextStats]]) — no token array is ever
    // materialized (the former staging split the text, then ran
    // TokenSetStats + TokenDistStats over the array: three walks plus
    // one UTF8String allocation per token). Value parity with the
    // array stagings is exact because every output is an integer
    // count and each ratio is a single IEEE division of exact
    // integers — identical operands, identical bits (KernelFuzzSpec
    // pins all four against the array staging, test-scope
    // TextMetricsRef.withTokenStatsArr; TextOpsSpec pins the
    // column semantics). coalesce("") keeps the tokens() null guard:
    // the kernel maps the empty string to [0,0,0,0], the same
    // zero-stats row the empty-array staging produced.
    val staged = df.withColumn("__tts",
      graft.plans.TokenTextStats(coalesce(c, lit("")), EnStopwords))
    val n = element_at(col("__tts"), 1)
    val nd = n.cast("double")
    staged
      .withColumn("token_count", n)
      .withColumn("unique_tokens", element_at(col("__tts"), 2))
      .withColumn("unique_token_ratio",
        when(n > 0, element_at(col("__tts"), 2).cast("double") / nd)
          .otherwise(lit(0.0)))
      .withColumn("stopword_ratio",
        when(n > 0, element_at(col("__tts"), 3).cast("double") / nd)
          .otherwise(lit(0.0)))
      .withColumn("max_token_freq_ratio",
        when(n > 0, element_at(col("__tts"), 4).cast("double") / nd)
          .otherwise(lit(0.0)))
      .drop("__tts")
  }
}
