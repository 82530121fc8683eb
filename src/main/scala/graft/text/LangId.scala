package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic language identification (SURVEY.md §2.3 L1).
  *
  * The reference uses langdetect (an n-gram naive-Bayes model, seeded —
  * text_clean_and_filter.py:385-408). No such model exists in this
  * offline environment, so we implement the classic public-knowledge
  * alternative: a stopword/character-profile scorer over the five
  * languages present in the corpus (en/fr/es/de/zh), behind the same
  * `(lang_pred, lang_score)` contract ('unk', 0.0 on empty/unknown).
  *
  * Deliberately built from pure native expressions with no UDF so that
  * (a) it stays inside whole-stage codegen and (b) the exact same
  * computation is expressible in DuckDB SQL — making L1 oracle-checkable,
  * which the reference's langdetect never was. `duckdbSql` generates that
  * SQL from the same word lists, so the two can never drift.
  */
object LangId {

  // Distinctive function words per language (public knowledge).
  val En = Seq("the", "and", "of", "to", "in", "is", "that", "it", "for",
    "was", "with", "as", "on", "be", "at", "by", "this", "have", "from",
    "or", "are", "not", "but", "a")
  val De = Seq("der", "die", "das", "und", "ist", "von", "zu", "den",
    "dem", "ein", "eine", "nicht", "mit", "sich", "auf", "als",
    "auch", "werden", "aus", "dass", "wird", "bei", "einem", "einer")
  val Es = Seq("el", "los", "las", "del", "una", "es", "que", "por",
    "con", "para", "su", "al", "lo", "como", "pero", "este", "esta",
    "cuando", "muy", "sin", "sobre", "tambien", "hasta", "donde")
  val Fr = Seq("le", "les", "des", "du", "et", "une", "est", "qui",
    "dans", "pour", "pas", "sur", "avec", "au", "ce", "il", "elle",
    "nous", "vous", "ne", "se", "sont", "mais", "ses")

  /** Scaling constants: hit-ratio -> confidence score. */
  private val StopwordGain = 4.0
  private val CjkGain = 5.0
  private val CjkMinRatio = 0.05

  /** The ONE copy of the pred/score derivation over staged hit counts
    * (the isZh gate, the en > de > es > fr tie-break, the capped
    * stopword-gain score) — shared by [[withLangColumns]],
    * [[withLangToxColumns]] and the test-scope references
    * (LangIdRef.detect, LangIdRef.withLangColumnsArr) so a tuning
    * change can never silently diverge between the stagings.
    */
  private[text] def predScoreFrom(c: Column, n: Column, he: Column,
      hd: Column, hs: Column, hf: Column,
      cjk: Column): (Column, Column) = {
    val nch = length(coalesce(c, lit("")))
    val isZh = (cjk > 0) &&
      (cjk.cast("double") * lit(CjkGain) / nch.cast("double") > lit(CjkMinRatio * CjkGain))
    val maxHits = greatest(he, hd, hs, hf)
    val empty = c.isNull || trim(c) === ""
    val pred =
      when(empty, "unk")
        .when(isZh, "zh")
        .when(n === 0 || maxHits === 0, "unk")
        .when(he === maxHits, "en")
        .when(hd === maxHits, "de")
        .when(hs === maxHits, "es")
        .otherwise("fr")
    val score =
      when(empty, 0.0)
        .when(isZh, least(lit(1.0), cjk.cast("double") * lit(CjkGain) / nch.cast("double")))
        .when(n === 0 || maxHits === 0, 0.0)
        .otherwise(least(lit(1.0), maxHits.cast("double") * lit(StopwordGain) / n.cast("double")))
    (pred, score)
  }

  /** Staged variant: one compiled [[graft.plans.TextProfileStats]]
    * pass extracts letter-token count, all four language hit counts
    * and the CJK codepoint count from the raw string — no lowered
    * copy, no regexp_extract_all token array, no CJK regex strip (the
    * three per-row allocations the previous WordlistHits staging still
    * paid; that form survives as the parity anchor, test-scope
    * LangIdRef.withLangColumnsArr). Scoring reads the counts as
    * attributes.
    * Value-identical to the test-scope LangIdRef.detect (the per-column
    * HOF form): same arithmetic, same decisions.
    */
  def withLangColumns(df: org.apache.spark.sql.DataFrame, c: Column,
                      predName: String = "lang_pred",
                      scoreName: String = "lang_score"): org.apache.spark.sql.DataFrame = {
    val s = coalesce(c, lit(""))
    val staged = df
      .withColumn("__lang_k", graft.plans.TextProfileStats(s, "langid"))
      .withColumn("__ln", element_at(col("__lang_k"), 1))
      .withColumn("__he", element_at(col("__lang_k"), 2))
      .withColumn("__hd", element_at(col("__lang_k"), 3))
      .withColumn("__hs", element_at(col("__lang_k"), 4))
      .withColumn("__hf", element_at(col("__lang_k"), 5))
      .withColumn("__cjk", element_at(col("__lang_k"), 6))
    val (pred, score) = predScoreFrom(c, col("__ln"), col("__he"),
      col("__hd"), col("__hs"), col("__hf"), col("__cjk"))
    staged
      .withColumn(predName, pred)
      .withColumn(scoreName, score)
      .drop("__lang_k", "__cjk", "__he", "__hd", "__hs", "__hf", "__ln")
  }

  /** Lang-ID AND toxicity columns from ONE fused kernel pass
    * ([[graft.plans.TextLangToxStats]]) — the stage-2 staging for the
    * pipeline, where both column families are always projected
    * together: one toLowerCase copy + one traversal instead of the two
    * walks of `withToxicityColumns(withLangColumns(df, c), c)`.
    * Value-identical to that composition (the fused array's halves are
    * bit-equal to the single-profile kernels — TextOpsSpec fuzz — and
    * the derivations below are the same expressions).
    */
  def withLangToxColumns(df: org.apache.spark.sql.DataFrame, c: Column,
      predName: String = "lang_pred",
      scoreName: String = "lang_score"): org.apache.spark.sql.DataFrame = {
    val s = coalesce(c, lit(""))
    val staged = df
      .withColumn("__lt_k", graft.plans.TextLangToxStats(s))
      .withColumn("__ln", element_at(col("__lt_k"), 1))
      .withColumn("__he", element_at(col("__lt_k"), 2))
      .withColumn("__hd", element_at(col("__lt_k"), 3))
      .withColumn("__hs", element_at(col("__lt_k"), 4))
      .withColumn("__hf", element_at(col("__lt_k"), 5))
      .withColumn("__cjk", element_at(col("__lt_k"), 6))
      .withColumn("__tox_n",
        greatest(lit(1L), element_at(col("__lt_k"), 7)).cast("double"))
    val (pred, score) = predScoreFrom(c, col("__ln"), col("__he"),
      col("__hd"), col("__hs"), col("__hf"), col("__cjk"))
    Toxicity.appendToxColumns(
        staged.withColumn(predName, pred).withColumn(scoreName, score),
        col("__tox_n"),
        i => element_at(col("__lt_k"), 7 + i).cast("double"))
      .drop("__lt_k", "__cjk", "__he", "__hd", "__hs", "__hf", "__ln", "__tox_n")
  }

  // ---- pluggable real-model path ----------------------------------------

  /** The contract a real language-ID model satisfies (langdetect's
    * n-gram naive Bayes, a fastText wrapper, any JNI model): one
    * instance per executor, one call per document, `(lang, score)` out
    * with the same ('unk', 0.0) empty/unknown convention as
    * [[withLangColumns]].
    * Implementations hold their loaded profiles; the FACTORY is what
    * ships to executors, not the model.
    */
  trait LangModel extends Serializable {
    def predict(text: String): (String, Double)
  }

  /** Model-backed variant of [[withLangColumns]] — the slot the
    * reference's langdetect call occupies (text_clean_and_filter.py:
    * 385-408). Same output contract (predName/scoreName columns
    * appended), so the two paths interchange freely downstream.
    *
    * The factory is invoked lazily INSIDE each task (transient lazy
    * val), so profile loading happens once per executor JVM instead of
    * once per row — the batched-init idiom a real model needs (loading
    * langdetect's 55 profiles per row would dominate the scan). Scoring
    * itself is a plain scalar UDF: a model call is driver-opaque by
    * nature, so there is nothing for codegen or an oracle to see —
    * which is exactly why the DEFAULT path is the expression scorer
    * and this one is the opt-in for when a real model matters more
    * than oracle-checkability.
    */
  def withLangColumnsModel(df: org.apache.spark.sql.DataFrame, c: Column,
                           init: () => LangModel,
                           predName: String = "lang_pred",
                           scoreName: String = "lang_score"): org.apache.spark.sql.DataFrame = {
    val holder = new LangModelHolder(init)
    val predict = udf((t: String) => holder.predict(t))
    df.withColumn("__lang_ps", predict(c))
      .withColumn(predName, col("__lang_ps").getField("_1"))
      .withColumn(scoreName, col("__lang_ps").getField("_2"))
      .drop("__lang_ps")
  }

  /** Serializable envelope: ships the factory, materializes the model
    * lazily on first use in each deserialized task instance.
    */
  private final class LangModelHolder(init: () => LangModel)
      extends Serializable {
    @transient private lazy val model: LangModel = init()
    def predict(t: String): (String, Double) = model.predict(t)
  }

  private def sqlList(ws: Seq[String]): String = ws.mkString("['", "', '", "']")

  /** DuckDB SQL fragments computing the identical (pred, score) pair for
    * text column `t`. Emitted into oracleSql so the word lists and the
    * arithmetic stay mechanically in sync with `predScoreFrom`.
    */
  def duckdbExprs(t: String): (String, String) = {
    val cjk = s"length(regexp_replace($t, '[^\\x{4e00}-\\x{9fff}]', '', 'g'))"
    val nch = s"length($t)"
    val isZh = s"($cjk > 0 AND CAST($cjk AS DOUBLE) * $CjkGain / CAST($nch AS DOUBLE) > ${CjkMinRatio * CjkGain})"
    val toks = s"regexp_extract_all(lower($t), '\\p{L}+')"
    val n = s"len($toks)"
    def hits(ws: Seq[String]) =
      s"len(list_filter($toks, x -> list_contains(${sqlList(ws)}, x)))"
    val (he, hd, hs, hf) = (hits(En), hits(De), hits(Es), hits(Fr))
    val maxHits = s"greatest($he, $hd, $hs, $hf)"
    val empty = s"($t IS NULL OR trim($t) = '')"
    val pred =
      s"""CASE WHEN $empty THEN 'unk'
         | WHEN $isZh THEN 'zh'
         | WHEN $n = 0 OR $maxHits = 0 THEN 'unk'
         | WHEN $he = $maxHits THEN 'en'
         | WHEN $hd = $maxHits THEN 'de'
         | WHEN $hs = $maxHits THEN 'es'
         | ELSE 'fr' END""".stripMargin.replace("\n", " ")
    val score =
      s"""CASE WHEN $empty THEN 0.0
         | WHEN $isZh THEN least(1.0, CAST($cjk AS DOUBLE) * $CjkGain / CAST($nch AS DOUBLE))
         | WHEN $n = 0 OR $maxHits = 0 THEN 0.0
         | ELSE least(1.0, CAST($maxHits AS DOUBLE) * $StopwordGain / CAST($n AS DOUBLE)) END""".stripMargin.replace("\n", " ")
    (pred, score)
  }
}
