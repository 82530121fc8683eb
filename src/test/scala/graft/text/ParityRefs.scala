package graft.text

import org.apache.spark.sql.{Column, DataFrame, TestSqlBridge}
import org.apache.spark.sql.functions._

// The regex/HOF/array forms the compiled text kernels replaced, kept in
// test scope as the parity references the specs (KernelFuzzSpec,
// TextOpsSpec, HostileInputSpec, WordlistHitsSpec) evaluate next to the
// production columns. Each is the executable spec of its kernel's
// semantics; no production path calls them. One object per main-scope
// source.

/** References for [[Normalize]]'s kernels. */
object NormalizeRef {

  /** NFKC through java.text.Normalizer as a UDF: the differential-test
    * baseline of the codegen'd [[graft.plans.NfkcNormalize]].
    */
  val nfkc = udf { (s: String) =>
    if (s == null) null
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKC)
  }

  /** Control chars the reference strips: U+0000-U+001F and U+007F-U+009F. */
  val ControlChars = "[\\x00-\\x1F\\x7F-\\x9F]"

  /** [[Normalize.BoilerplatePatterns]] as one alternation. */
  val BoilerRe: String = Normalize.BoilerplatePatterns.mkString("(", ")|(", ")")

  /** The two-regex form of [[Normalize.normalizeText]]'s scrub tail
    * (CtrlWsNormalize), also the oracle-SQL statement of the semantics.
    */
  def normalizeTextRegex(c: Column, applyNfkc: Boolean = true): Column = {
    val base = if (applyNfkc) graft.plans.NfkcNormalize(c) else c
    val cleaned = trim(regexp_replace(
      regexp_replace(base, ControlChars, " "), "\\s+", " "))
    nullif(cleaned, lit(""))
  }

  /** The regex form of [[Normalize.stripHtml]] (StripTags). */
  def stripHtmlRegex(c: Column): Column =
    regexp_replace(c, "<[^>]+>", " ")

  /** The HOF form of [[Normalize.removeBoilerplateLines]]
    * (BoilerplateScrub): P3's split/filter/join/trim semantics.
    */
  def removeBoilerplateLinesHof(c: Column): Column =
    trim(array_join(
      filter(split(c, "\n"), l => !lower(l).rlike(BoilerRe)),
      "\n"))

  /** The backref-regex pair of [[Normalize.normalizeRepeatedChars]]
    * (CollapseRepeats): P4's semantics.
    */
  def normalizeRepeatedCharsRegex(c: Column): Column =
    regexp_replace(
      regexp_replace(c, "([!?.,])\\1{2,}", "$1$1"),
      "(.)\\1{3,}", "$1$1$1")

  /** The regex form of [[Normalize.canonExact]] (LowerWsCanon). */
  def canonExactRegex(c: Column): Column =
    trim(regexp_replace(lower(coalesce(c, lit(""))), "\\s+", " "))
}

/** References for [[TextMetrics]]' kernels. */
object TextMetricsRef {
  import TextMetrics.{tokens, EnStopwords}

  /** Distinct-token count through [[graft.plans.TokenSetStats]], the
    * count half of [[TextMetrics.uniqueTokenRatio]].
    */
  def uniqueTokens(c: Column): Column =
    element_at(graft.plans.TokenSetStats(tokens(c), Nil), 1).cast("int")

  /** The split form of [[TextMetrics.wordCount]]. */
  def wordCountSplit(c: Column): Column = size(tokens(c))

  /** The regex form of [[TextMetrics.alphaRatio]] (CharClassStats). */
  def alphaRatioRegex(c: Column): Column = {
    val n = length(c)
    when(n > 0,
      length(regexp_replace(c, "[^\\p{L}]", "")).cast("double") / n.cast("double"))
      .otherwise(lit(0.0))
  }

  /** The array_distinct form of [[TextMetrics.repetitionRatio]]. */
  def repetitionRatioHof(c: Column): Column = {
    val t = tokens(c)
    when(size(t) > 0,
      lit(1.0) - size(array_distinct(t)).cast("double") / size(t).cast("double"))
      .otherwise(lit(0.0))
  }

  /** The HOF form of [[TextMetrics.uniqueTokenRatio]]. */
  def uniqueTokenRatioHof(c: Column): Column = {
    val t = tokens(c)
    when(size(t) > 0, size(array_distinct(t)).cast("double") / size(t).cast("double"))
      .otherwise(lit(0.0))
  }

  /** English-stopword share of the tokens, through the compiled
    * [[graft.plans.TokenSetStats]] kernel (the production stage reads
    * the same count from [[TextMetrics.withTokenStats]]).
    */
  def stopwordRatio(c: Column): Column = {
    val t = tokens(c)
    when(size(t) > 0,
      element_at(graft.plans.TokenSetStats(t, EnStopwords), 2).cast("double")
        / size(t).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Max single-token frequency / token count over a token array,
    * through the compiled [[graft.plans.TokenDistStats]] kernel.
    */
  def maxTokenFreqFromTokens(t: Column): Column =
    coalesce(element_at(graft.plans.TokenDistStats(t), 2), lit(0.0))

  /** [[maxTokenFreqFromTokens]] straight from a text column. */
  def maxTokenFreqRatio(c: Column): Column = maxTokenFreqFromTokens(tokens(c))

  /** The HOF form of [[stopwordRatio]]. */
  def stopwordRatioHof(c: Column): Column = {
    val t = tokens(c)
    val stops = typedlit(EnStopwords)
    when(size(t) > 0,
      size(filter(t, tok => array_contains(stops, lower(tok)))).cast("double")
        / size(t).cast("double"))
      .otherwise(lit(0.0))
  }

  /** The regex form of [[TextMetrics.nonLatinRatio]] (CharClassStats). */
  def nonLatinRatioRegex(c: Column): Column = {
    val letters = regexp_replace(coalesce(c, lit("")), "[^\\p{L}]", "")
    val total = length(letters)
    when(total > 0,
      length(regexp_replace(letters, "[\\x00-\\x7F]", "")).cast("double")
        / total.cast("double"))
      .otherwise(lit(0.0))
  }

  /** The array-staged form of [[TextMetrics.withTokenStats]]
    * (TokenTextStats): the five columns from a token array through
    * TokenSetStats and TokenDistStats.
    */
  def withTokenStatsArr(df: DataFrame, c: Column): DataFrame = {
    val staged = df.withColumn("__toks", tokens(c))
      .withColumn("__tss", graft.plans.TokenSetStats(col("__toks"), EnStopwords))
    val t = col("__toks")
    staged
      .withColumn("token_count", size(t).cast("long"))
      .withColumn("unique_tokens", element_at(col("__tss"), 1))
      .withColumn("unique_token_ratio",
        when(size(t) > 0,
          element_at(col("__tss"), 1).cast("double") / size(t).cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("stopword_ratio",
        when(size(t) > 0,
          element_at(col("__tss"), 2).cast("double") / size(t).cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("max_token_freq_ratio", maxTokenFreqFromTokens(t))
      .drop("__toks", "__tss")
  }
}

/** References for [[LangId.withLangColumns]] (TextProfileStats). */
object LangIdRef {

  /** Lowercased `\p{L}+` runs of the text. */
  def letterTokens(c: Column): Column =
    regexp_extract_all(lower(coalesce(c, lit(""))), lit("\\p{L}+"), lit(0))

  private[text] def hitsIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => array_contains(typedlit(words), t)))

  /** The per-column HOF form: (lang_pred, lang_score) from a lowered
    * letter-token array, one array filter per language. Tie-break
    * priority on equal stopword hits: en > de > es > fr.
    */
  def detect(c: Column): (Column, Column) = {
    val s = coalesce(c, lit(""))
    val cjk = length(regexp_replace(s, "[^一-鿿]", ""))
    val toks = letterTokens(c)
    LangId.predScoreFrom(c, size(toks), hitsIn(toks, LangId.En), hitsIn(toks, LangId.De),
      hitsIn(toks, LangId.Es), hitsIn(toks, LangId.Fr), cjk)
  }

  /** The WordlistHits-over-token-array staging. What it independently
    * reproduces is the hit-count staging; the pred/score derivation over
    * the counts goes through [[LangId.predScoreFrom]] like every other
    * staging, so a tuning change cannot diverge here.
    */
  def withLangColumnsArr(df: DataFrame, c: Column,
      predName: String = "lang_pred",
      scoreName: String = "lang_score"): DataFrame = {
    val s = coalesce(c, lit(""))
    val staged = df
      .withColumn("__lang_toks", letterTokens(c))
      .withColumn("__cjk", length(regexp_replace(s, "[^一-鿿]", "")))
      .withColumn("__lang_hits",
        TestSqlBridge.kernel(col("__lang_toks"))(graft.plans.WordlistHits(_, "langid")))
      .withColumn("__he", element_at(col("__lang_hits"), 1))
      .withColumn("__hd", element_at(col("__lang_hits"), 2))
      .withColumn("__hs", element_at(col("__lang_hits"), 3))
      .withColumn("__hf", element_at(col("__lang_hits"), 4))
      .withColumn("__ln", size(col("__lang_toks")))
    val (pred, score) = LangId.predScoreFrom(c, col("__ln"), col("__he"),
      col("__hd"), col("__hs"), col("__hf"), col("__cjk"))
    staged
      .withColumn(predName, pred)
      .withColumn(scoreName, score)
      .drop("__lang_toks", "__cjk", "__lang_hits",
        "__he", "__hd", "__hs", "__hf", "__ln")
  }
}

/** References for [[Toxicity.withToxicityColumns]] (TextProfileStats). */
object ToxicityRef {
  import Toxicity._
  import LangIdRef.hitsIn

  /** `\w+` tokens of the lowercased text (reference tokenization). */
  def toxTokens(c: Column): Column =
    regexp_extract_all(lower(coalesce(c, lit(""))), lit("\\w+"), lit(0))

  /** The six reference score columns as inline HOF expressions over the
    * text column (the reference arithmetic; n_tokens floor of 1 matches
    * `max(1, len(tokens))`). Re-tokenizes once per referenced score:
    * lambdas block subexpression elimination.
    */
  def scores(c: Column): Map[String, Column] = {
    val toks = toxTokens(c)
    val n = greatest(lit(1), size(toks)).cast("double")
    val bad = hitsIn(toks, BadWords).cast("double")
    val ins = hitsIn(toks, InsultWords).cast("double")
    val thr = hitsIn(toks, ThreatWords).cast("double")
    val sex = hitsIn(toks, SexualWords).cast("double")
    val slr = hitsIn(toks, SlurWords).cast("double")
    val toxicity = least(lit(1.0), (bad + ins + thr + sex + slr) / n * 5.0)
    Map(
      "toxicity" -> toxicity,
      "severe_toxicity" -> when(toxicity >= 0.9, 1.0).otherwise(0.0),
      "insult" -> least(lit(1.0), ins / n * 5.0),
      "threat" -> least(lit(1.0), thr / n * 5.0),
      "identity_attack" -> least(lit(1.0), slr / n * 5.0),
      "sexual_explicit" -> least(lit(1.0), sex / n * 5.0)
    )
  }

  /** The WordlistHits-over-token-array staging. */
  def withToxicityColumnsArr(df: DataFrame, c: Column): DataFrame = {
    val staged = df
      .withColumn("__tox_toks", toxTokens(c))
      .withColumn("__tox_hits",
        TestSqlBridge.kernel(col("__tox_toks"))(graft.plans.WordlistHits(_, "toxicity")))
      .withColumn("__tox_n",
        greatest(lit(1), size(col("__tox_toks"))).cast("double"))
    val n = col("__tox_n")
    def hit(i: Int) = element_at(col("__tox_hits"), i).cast("double")
    val (bad, ins, thr, sex, slr) = (hit(1), hit(2), hit(3), hit(4), hit(5))
    val toxicity = least(lit(1.0), (bad + ins + thr + sex + slr) / n * 5.0)
    staged
      .withColumn("toxicity", toxicity)
      .withColumn("severe_toxicity", when(toxicity >= 0.9, 1.0).otherwise(0.0))
      .withColumn("insult", least(lit(1.0), ins / n * 5.0))
      .withColumn("threat", least(lit(1.0), thr / n * 5.0))
      .withColumn("identity_attack", least(lit(1.0), slr / n * 5.0))
      .withColumn("sexual_explicit", least(lit(1.0), sex / n * 5.0))
      .drop("__tox_toks", "__tox_hits", "__tox_n")
  }
}

/** The reference for [[Tokenize.native]] (TokenizeText). */
object TokenizeRef {

  /** GPT-2-style pre-tokenization pattern (public knowledge: the GPT-2
    * paper's regex, simplified to Java syntax without unicode captures).
    */
  val PreToken =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+".r

  /** Deterministic id: stable across JVMs (String.hashCode is
    * spec-defined) and mapped into [IdOffset, IdOffset + VocabSize).
    */
  def tokenId(tok: String): Int =
    math.floorMod(tok.hashCode, Tokenize.VocabSize) + Tokenize.IdOffset

  /** The pre-tokens of `text`, whitespace-only ones dropped, as ids. */
  def encode(text: String): Seq[Int] =
    if (text == null || text.isEmpty) Seq.empty
    else PreToken.findAllIn(text).filterNot(_.forall(_.isWhitespace))
      .map(tokenId).toSeq

  /** UDF returning struct<input_ids, attention_mask, n_tokens> through
    * [[encode]]: the executable grammar spec the one-pass
    * scanner kernel is held id-identical to.
    */
  val tokenize = udf { (s: String) =>
    val ids = encode(s)
    (ids, Seq.fill(ids.length)(1), ids.length)
  }
}
