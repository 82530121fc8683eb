package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Filters, Score, Shard}
import graft.text.{LangId, Normalize, Pii, TextMetrics, Tokenize}

/** The full reference pipeline as pure DataFrame -> DataFrame stages
  * (SURVEY.md §3 E1/E2). Each stage is a single select/withColumn chain
  * that Catalyst fuses into one codegen'd pass; the only shuffles in the
  * whole pipeline are dedup's two windows and its flag routing, all over
  * a narrow projection (the wide rows never cross an exchange). The
  * shard sequencing numbers the rows where they lie, since they reach it
  * in `ingest_seq` order.
  *
  * Design notes vs the reference:
  *  - Single-frame drop_reason semantics: the reference physically splits
  *    kept/dropped per stage and computes later columns only on kept rows.
  *    We keep one frame and let first-match-wins reasons mask dropped
  *    rows — identical values on kept rows, one pass, no ragged unions.
  *    `Filters.kept/dropped` reproduce the split at any point.
  *  - The double-execution bug of the reference stage 2 and its mutable
  *    global counters are deliberately NOT replicated (SURVEY §4).
  */
object Pipeline {

  /** Stage 1 — ingest raw (url, text): stable ingest_seq assigned at the
    * source (partition-order zipWithIndex on internal rows,
    * [[GraftSqlBridge.withRowIndex]], resilient to later
    * repartitioning), SHA1 doc id (with the reference's null->"nan"
    * quirk), constant source, one driver-side batch timestamp — which
    * is INJECTABLE (P11): production takes the default `Instant.now`,
    * while fixtures pass a literal so the batch constant becomes
    * oracle-replayable (q_pipeline_full_fixed hash-checks it).
    */
  def ingest(raw: DataFrame, source: String = "mainpipe_v1",
             ingestTs: Option[String] = None): DataFrame =
    GraftSqlBridge.withRowIndex(raw, "ingest_seq")
      .withColumn("doc_id", Normalize.sha1DocId(col("url"), col("text")))
      .withColumn("source", lit(source))
      .withColumn("ingest_ts",
        lit(ingestTs.getOrElse(java.time.Instant.now.toString)))

  /** Stage 2 — normalize, prefilter, metrics, language, PII hits,
    * toxicity, quality rules (text_clean_and_filter.py:605-813).
    */
  def cleanAndFilter(df: DataFrame, allowedLangs: Seq[String] = Seq("en"),
                     minConf: Double = 0.80,
                     applyNfkc: Boolean = true): DataFrame = {
    // Each text kernel is staged ONCE as an attribute (the
    // withTokenStats `__tts` precedent) and the metrics derive from it:
    // the ratios read the kernel inside `when` branches, where codegen
    // does not eliminate common subexpressions, so the unstaged forms
    // compiled to 4 CharClassStats and 3 TokenTextStats call sites on
    // text_norm (PlanSpec counts them)
    val norm = df
      .withColumn("text_norm",
        Normalize.normalizeText(col("text"), applyNfkc = applyNfkc))
      .withColumn("__tts", TextMetrics.textTokenStats(col("text_norm")))
      .withColumn("__ccs", TextMetrics.charClassStats(col("text_norm")))
      .withColumn("char_len", TextMetrics.charLen(col("text_norm")).cast("long"))
      .withColumn("word_count", TextMetrics.wordCountFrom(col("__tts")).cast("long"))
    val pre = Filters.applyRules(norm, Filters.prefilterRules(
      col("text"), col("text_norm"), col("char_len"), col("word_count")))

    val t = col("text_norm") // reference promotes text_norm to text post-split
    // lang-ID + toxicity from ONE fused kernel pass (one toLowerCase +
    // one traversal instead of two of each — value-identical to the
    // withToxicityColumns(withLangColumns(..)) composition, TextOpsSpec)
    val metered = LangId.withLangToxColumns(pre, t)
      .withColumn("n_chars", TextMetrics.nChars(t))
      .withColumn("n_words", TextMetrics.wordCountFrom(col("__tts")).cast("long"))
      .withColumn("alpha_ratio", TextMetrics.alphaRatioFrom(t, col("__ccs")))
      .withColumn("repetition_ratio", TextMetrics.repetitionRatioFrom(col("__tts")))
      .withColumn("non_latin_ratio", TextMetrics.nonLatinRatioFrom(col("__ccs")))
      .withColumn("email_hits", Pii.emailHits(t).cast("long"))
      .withColumn("phone_hits", Pii.phoneHitsSimple(t).cast("long"))
      .withColumn("model_q", lit(0.5))
      .drop("__tts", "__ccs")
    // The F9–F20 ladder as ONE compact kernel expression instead of the
    // coalesce(CASE…)×12 chain: under whole-stage codegen the CaseWhen
    // branches are bound-variable code janino cannot method-split, and
    // the chain over this wide column set grew processNext() past its
    // limit (InternalCompilerException at ~11k generated lines), sil-
    // ently dropping the hottest map stage of the graded chain to the
    // interpreted path (VERDICT r11). Bit-parity with the
    // Filters.applyRules(langRules)+applyRules(qualityRules) composition
    // is pinned in FiltersDedupSpec (null/threshold fuzz).
    metered.withColumn("drop_reason", graft.plans.DropReasonStage2(
      col("drop_reason"), col("lang_pred"), col("lang_score"),
      col("non_latin_ratio"), t, col("n_words"), col("alpha_ratio"),
      col("repetition_ratio"),
      if (df.columns.contains("url")) col("url") else lit(""),
      col("email_hits"), col("phone_hits"), col("toxicity"),
      allowedLangs, minConf, nonLatinThreshold = 0.50))
  }

  /** Stage 3 — structural deep clean, token stats, low-info filters,
    * PII masking (deep_clean_and_pii.py).
    */
  def deepCleanAndPii(df: DataFrame, dropPii: Boolean = false,
                      collapseRepeats: Boolean = true): DataFrame = {
    val cleaned = df.withColumn("text_deep_clean",
      if (collapseRepeats) Normalize.structuralCleanup(col("text_norm"))
      else Normalize.structuralCleanupNoRepeats(col("text_norm")))
    val t = col("text_deep_clean")
    // Hit counters AND the mask chain from ONE fused scan family
    // (pii_scan staged as a struct attribute): one string conversion
    // per row, and until the first pattern matches each chain stage's
    // count+mask share a single scan — the former two-kernel staging
    // (pii_counts + pii_mask) paid two conversions and a second email
    // scan even on the no-PII majority (kernel == regex parity and
    // fused == two-kernel parity: PiiScanSpec).
    val stats = TextMetrics.withTokenStats(cleaned, t)
      .withColumn("__pii_sc", graft.plans.PiiScanFused(t))
      .withColumn("text_pii_masked", col("__pii_sc").getField("masked"))
      .withColumn("pii_email_hits",
        coalesce(element_at(col("__pii_sc").getField("counts"), 1), lit(0)).cast("long"))
      .withColumn("pii_phone_hits",
        coalesce(element_at(col("__pii_sc").getField("counts"), 2), lit(0)).cast("long"))
      .withColumn("pii_cc_hits",
        coalesce(element_at(col("__pii_sc").getField("counts"), 3), lit(0)).cast("long"))
      .withColumn("pii_iban_hits",
        coalesce(element_at(col("__pii_sc").getField("counts"), 4), lit(0)).cast("long"))
      .drop("__pii_sc")
    val flagged = stats.withColumn("has_pii", Pii.hasPii(
      col("pii_email_hits"), col("pii_phone_hits"),
      col("pii_cc_hits"), col("pii_iban_hits")))
    Filters.applyRules(flagged, Filters.deepCleanRules(
      col("token_count"), col("max_token_freq_ratio"),
      col("unique_token_ratio"), col("stopword_ratio"),
      col("has_pii"), dropPii))
  }

  /** Stage 4 — dedup on the masked text (duplication.py). */
  def dedup(df: DataFrame): DataFrame =
    Dedup.dedupStage(df, textCol = "text_pii_masked")

  /** Stage 5 — scoring + mixture (scoring_and_mixture.py). */
  def score(df: DataFrame, mixtureName: String = "web_sample"): DataFrame =
    df.withColumn("quality_score", Score.qualityScore(
      col("lang_score"), col("token_count"),
      col("unique_token_ratio"), col("has_pii")))
      .withColumn("mixture_name", lit(mixtureName))
      .withColumn("subset", Score.subset(col("quality_score")))

  /** Stage 6 — tokenise + length gates (Tokenisation_JSONL_export.py). */
  def tokenise(df: DataFrame): DataFrame = {
    val t = Tokenize.native(col("text_pii_masked"))
    val tokked = df
      .withColumn("input_ids", t.getField("input_ids"))
      .withColumn("attention_mask", t.getField("attention_mask"))
      .withColumn("n_tokens", t.getField("n_tokens").cast("long"))
    Filters.applyRules(tokked, Filters.tokenLengthRules(col("n_tokens")))
  }

  /** Stage 7 — shard assignment over the kept rows. */
  def shard(df: DataFrame, docsPerShard: Int = Shard.DocsPerShard): DataFrame =
    Shard.assignShards(Filters.kept(df), docsPerShard = docsPerShard)

  /** Stages 2-6 fused into one lazy DAG (the fast path; per-stage parquet
    * checkpointing is the caller's choice, matching the reference's
    * resumable mode).
    *
    * Dedup reads the pre-dedup frame through a [[Persisted.rows]]
    * branch point, registered with the caller's [[Persisted.owned]]
    * scope and released when the scope's action is done. Outside a
    * scope it leaves no cached plan: the rows are an RDD persist that
    * the ContextCleaner drops once the frames reading them are
    * unreachable.
    */
  def run(raw: DataFrame): DataFrame =
    tokenise(score(dedup(deepCleanAndPii(cleanAndFilter(raw)))))

  /** Adapt the driver's documents table to the pipeline's raw contract. */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.withColumn("url", concat(lit("https://"), col("source"),
      lit("/doc/"), col("doc_id").cast("string")))
}
