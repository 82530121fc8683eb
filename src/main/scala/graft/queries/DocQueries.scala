package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Dedup, Filters, Score}
import graft.text.{LangId, Normalize, Pii, TextMetrics, Toxicity, TrigramLangModel}
import graft.Persisted

/** Pipeline operators exposed as standalone queries over the `documents`
  * table, each paired with DuckDB oracle SQL (SURVEY.md §5.4).
  *
  * Shared building blocks: the SQL fragments are generated from the same
  * Scala constants (stopword lists, regexes, thresholds) that drive the
  * column expressions, so engine and oracle cannot drift.
  *
  * NFKC is dropped from these queries (DuckDB has none; the corpus is
  * ASCII so results are identical) — the full pipeline in graft.Pipeline
  * applies it.
  */
object DocQueries {

  // ---- shared SQL fragments -------------------------------------------

  /** P1 (sans NFKC) over a column named `text`. */
  private val NormSql =
    """nullif(trim(regexp_replace(regexp_replace(text, '[\x00-\x1f\x7f-\x9f]', ' ', 'g'), '\s+', ' ', 'g')), '')"""

  private def toksSql(t: String) = OracleSql.toks(t)

  private def sqlStrList(ws: Seq[String]) = ws.mkString("['", "', '", "']")

  // ---- q_doc_metrics: P1 + M1-M4 --------------------------------------

  def docMetrics(s: SparkSession, dir: String): DataFrame = {
    val norm = Normalize.normalizeText(col("text"), applyNfkc = false)
    Tables.documents(s, dir)
      .select(col("doc_id"), norm.as("text_norm"))
      .select(
        col("doc_id"),
        col("text_norm"),
        TextMetrics.charLen(col("text_norm")).cast("long").as("char_len"),
        TextMetrics.wordCount(col("text_norm")).cast("long").as("word_count"),
        TextMetrics.alphaRatio(col("text_norm")).as("alpha_ratio"),
        TextMetrics.repetitionRatio(col("text_norm")).as("repetition_ratio"))
  }

  val docMetricsSql: String =
    s"""WITH n AS (SELECT doc_id, $NormSql AS text_norm FROM documents),
       |t AS (SELECT *, ${toksSql("text_norm")} AS toks FROM n)
       |SELECT doc_id, text_norm,
       | length(text_norm) AS char_len,
       | len(toks) AS word_count,
       | CASE WHEN length(text_norm) > 0 THEN CAST(length(regexp_replace(text_norm, '[^\\p{L}]', '', 'g')) AS DOUBLE) / CAST(length(text_norm) AS DOUBLE) ELSE 0.0 END AS alpha_ratio,
       | CASE WHEN len(toks) > 0 THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS repetition_ratio
       |FROM t""".stripMargin

  // ---- q_doc_prefilter: F1-F8 drop-reason chain ------------------------

  def docPrefilter(s: SparkSession, dir: String): DataFrame = {
    val norm = Normalize.normalizeText(col("text"), applyNfkc = false)
    val df = Tables.documents(s, dir)
      .withColumn("text_norm", norm)
      .withColumn("char_len", TextMetrics.charLen(col("text_norm")).cast("long"))
      .withColumn("word_count", TextMetrics.wordCount(col("text_norm")).cast("long"))
    Filters.applyRules(df,
      Filters.prefilterRules(col("text"), col("text_norm"), col("char_len"), col("word_count")))
      .select("doc_id", "char_len", "word_count", "drop_reason")
  }

  val docPrefilterSql: String = {
    val nullLike = sqlStrList(Filters.NullLike)
    s"""WITH n AS (SELECT doc_id, text, $NormSql AS text_norm FROM documents),
       |m AS (SELECT *, length(text_norm) AS char_len,
       |       len(${toksSql("text_norm")}) AS word_count FROM n)
       |SELECT doc_id, char_len, word_count,
       | CASE WHEN text IS NULL THEN 'missing'
       |  WHEN text_norm IS NULL THEN 'empty_after_clean'
       |  WHEN list_contains($nullLike, lower(coalesce(text_norm, ''))) THEN 'null_like'
       |  WHEN regexp_matches(coalesce(text_norm, ''), '^[\\d\\.\\-]+$$') THEN 'numeric_like'
       |  WHEN char_len < 20 THEN 'too_short_chars'
       |  WHEN word_count < 2 THEN 'too_short_words'
       |  WHEN char_len > 100000 THEN 'too_long'
       | END AS drop_reason
       |FROM m""".stripMargin
  }

  // ---- q_dedup_exact / q_dedup_near: D1-D3 -----------------------------

  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactDedup(Tables.documents(s, dir), textCol = "text")
      .select("doc_id", "exact_hash", "is_dup_exact", "dup_of")

  val dedupExactSql: String =
    """WITH c AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS dedup_id,
      |  sha256(trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g'))) AS exact_hash
      | FROM documents),
      |w AS (SELECT *,
      |  row_number() OVER (PARTITION BY exact_hash ORDER BY doc_id) AS rn,
      |  first_value(dedup_id) OVER (PARTITION BY exact_hash ORDER BY doc_id) AS fid
      | FROM c)
      |SELECT doc_id, exact_hash, rn > 1 AS is_dup_exact,
      | CASE WHEN rn > 1 THEN fid END AS dup_of
      |FROM w""".stripMargin

  def dedupNear(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupStage(Tables.documents(s, dir), textCol = "text")
      .select("doc_id", "is_dup_exact", "is_dup_near", "dup_of", "drop_reason")

  val dedupNearSql: String =
    s"""WITH c AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS dedup_id,
       |  trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g')) AS canon
       | FROM documents),
       |e AS (SELECT *, sha256(canon) AS exact_hash,
       |  substr(canon, 1, ${Dedup.NearKeyChars}) AS near_key, length(canon) AS clen FROM c),
       |w AS (SELECT *,
       |  row_number() OVER (PARTITION BY exact_hash ORDER BY doc_id) AS rne,
       |  first_value(dedup_id) OVER (PARTITION BY exact_hash ORDER BY doc_id) AS fide
       | FROM e),
       |x AS (SELECT *, rne > 1 AS is_dup_exact,
       |  CASE WHEN rne > 1 THEN fide END AS dup_of_e FROM w),
       |nw AS (SELECT doc_id AS ndoc,
       |  row_number() OVER (PARTITION BY near_key ORDER BY doc_id) AS rnn,
       |  first_value(dedup_id) OVER (PARTITION BY near_key ORDER BY doc_id) AS fidn
       | FROM x WHERE clen >= ${Dedup.NearDupMinLen} AND near_key <> ''),
       |j AS (SELECT x.*, nw.rnn, nw.fidn FROM x LEFT JOIN nw ON x.doc_id = nw.ndoc)
       |SELECT doc_id, is_dup_exact,
       | coalesce(rnn > 1 AND NOT is_dup_exact, false) AS is_dup_near,
       | coalesce(dup_of_e, CASE WHEN rnn > 1 AND NOT is_dup_exact THEN fidn END) AS dup_of,
       | CASE WHEN is_dup_exact THEN 'exact_duplicate'
       |      WHEN coalesce(rnn > 1 AND NOT is_dup_exact, false) THEN 'near_duplicate' END AS drop_reason
       |FROM j""".stripMargin

  // ---- q_token_stats: M5 ----------------------------------------------

  def tokenStats(s: SparkSession, dir: String): DataFrame =
    TextMetrics.withTokenStats(Tables.documents(s, dir), col("text"))
      .select("doc_id", "token_count", "unique_tokens",
        "unique_token_ratio", "stopword_ratio")

  val tokenStatsSql: String = {
    val stops = sqlStrList(TextMetrics.EnStopwords)
    s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents)
       |SELECT doc_id,
       | len(toks) AS token_count,
       | len(list_distinct(toks)) AS unique_tokens,
       | CASE WHEN len(toks) > 0 THEN CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS unique_token_ratio,
       | CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains($stops, lower(x)))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS stopword_ratio
       |FROM t""".stripMargin
  }

  // ---- q_langid: L1 + F9-F12 -------------------------------------------

  def langId(s: SparkSession, dir: String): DataFrame = {
    val df = LangId.withLangColumns(Tables.documents(s, dir), col("text"))
      .withColumn("non_latin_ratio", TextMetrics.nonLatinRatio(col("text")))
    Filters.applyRules(df,
      Filters.langRules(col("lang_pred"), col("lang_score"), col("non_latin_ratio")))
      .select("doc_id", "lang_pred", "lang_score", "non_latin_ratio", "drop_reason")
  }

  val langIdSql: String = {
    val (pred, score) = LangId.duckdbExprs("text")
    s"""WITH l AS (SELECT doc_id, $pred AS lang_pred, $score AS lang_score,
       |  CASE WHEN length(regexp_replace(coalesce(text, ''), '[^\\p{L}]', '', 'g')) > 0
       |   THEN CAST(length(regexp_replace(regexp_replace(coalesce(text, ''), '[^\\p{L}]', '', 'g'), '[\\x00-\\x7f]', '', 'g')) AS DOUBLE)
       |        / CAST(length(regexp_replace(coalesce(text, ''), '[^\\p{L}]', '', 'g')) AS DOUBLE)
       |   ELSE 0.0 END AS non_latin_ratio
       | FROM documents)
       |SELECT doc_id, lang_pred, lang_score, non_latin_ratio,
       | CASE WHEN lang_pred = 'unk' THEN 'lang_unknown'
       |  WHEN lang_pred <> 'en' THEN 'non_english'
       |  WHEN lang_pred = 'en' AND lang_score < 0.80 THEN 'low_lang_confidence'
       |  WHEN non_latin_ratio > 0.50 THEN 'non_latin_heavy'
       | END AS drop_reason
       |FROM l""".stripMargin
  }

  // ---- q_langid_model: L1 via the trained-model slot -------------------

  /** The trained trigram model ([[TrigramLangModel]], Cavnar–Trenkle
    * profiles across ten languages) riding the [[LangId.LangModel]]
    * slot — the path the reference's langdetect occupies. Rows-only by
    * design: a model scored inside a UDF has no SQL oracle (same class
    * as the tokenizer); LangIdModelSpec pins held-out accuracy and the
    * factory-per-executor init instead. Rolled up per predicted
    * language so the output is small and order-stable.
    */
  def langIdModel(s: SparkSession, dir: String): DataFrame =
    LangId.withLangColumnsModel(Tables.documents(s, dir), col("text"),
        () => TrigramLangModel.default())
      .groupBy("lang_pred")
      .agg(count(lit(1)).as("n_docs"),
        avg(col("lang_score")).as("avg_score"))
      .orderBy("lang_pred")

  // ---- q_langid_ct: Cavnar-Trenkle model, ORACLE-CHECKED ---------------

  /** The oracle-gated twin of [[langIdModel]]: the REAL trained model
    * ([[TrigramLangModel]] — same profiles, same out-of-place distance,
    * same declared-order tie-break) over non-BMP-scrubbed text, scored
    * per doc as (lang_pred, floor(score*1e4)).
    *
    * The oracle replays the ENTIRE model — training included — because
    * every ingredient is deterministic rank arithmetic over an
    * in-source corpus: the SQL inlines [[TrigramLangModel.Samples]]
    * verbatim (generated from the same constants, so the training text
    * is byte-identical by construction), rebuilds the 1..3-gram
    * profiles with the (-count, gram) tie-break as a window rank,
    * rebuilds each scrubbed document's capped profile the same way,
    * and replays out-of-place distance + earliest-declared-language
    * tie-break + the exact IEEE score expression. The scrub removes
    * supplementary codepoints so Java's UTF-16 substring trigrams and
    * DuckDB's codepoint substr agree; both engines' simple per-codepoint
    * lowercase mappings (Character.toLowerCase / utf8proc) coincide on
    * BMP input.
    */
  def langIdCt(s: SparkSession, dir: String): DataFrame = {
    val scrub = regexp_replace(coalesce(col("text"), lit("")),
      lit("[\\x{10000}-\\x{10FFFF}]"), lit(""))
    val docs = Tables.documents(s, dir).withColumn("__t", scrub)
    LangId.withLangColumnsModel(docs, col("__t"),
        () => TrigramLangModel.default())
      .select(col("doc_id"), col("lang_pred"),
        floor(col("lang_score") * lit(10000.0)).cast("long").as("score_q"))
  }

  val langIdCtSql: String = {
    val k = TrigramLangModel.ProfileSize
    val samples = TrigramLangModel.Languages.zipWithIndex.map {
      case (l, i) =>
        val body = TrigramLangModel.Samples(l).replace("'", "''")
        s"('$l', $i, '$body')"
    }.mkString(",\n  ")
    // normalize(t): '_' + lowercased letters with non-letter runs
    // collapsed to single '_' (leading run dropped, trailing run kept),
    // + trailing '_' after a final letter — the exact [[TrigramLangModel
    // .normalize]] automaton, rebuilt from regexp_replace primitives.
    // single-line on purpose: interpolated into a stripMargin template,
    // where a line-leading '||' would lose a pipe to margin stripping
    def norm(t: String): String = {
      val r = s"regexp_replace(regexp_replace(lower($t), '[^\\p{L}]+', '_', 'g'), '^_', '')"
      s"CASE WHEN $r = '' THEN '_' ELSE '_' || $r || " +
        s"(CASE WHEN ends_with($r, '_') THEN '' ELSE '_' END) END"
    }
    s"""WITH samples(lang, lord, body) AS (VALUES
       |  $samples),
       |ln AS MATERIALIZED (SELECT lang, lord, ${norm("body")} AS s FROM samples),
       |lg AS (
       |  SELECT lang, lord, substr(s, u.i, v.n) AS g
       |  FROM ln, unnest(range(1, len(s)+1)) AS u(i), unnest([1,2,3]) AS v(n)
       |  WHERE u.i + v.n - 1 <= len(s)),
       |lp AS MATERIALIZED (
       |  SELECT lang, lord, g,
       |    row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, g) - 1 AS r
       |  FROM lg WHERE g NOT IN ('_', '__', '___') GROUP BY lang, lord, g
       |  QUALIFY r < $k),
       |docs AS MATERIALIZED (
       |  SELECT doc_id, ${norm(
      "regexp_replace(coalesce(text, ''), '[\\x{10000}-\\x{10FFFF}]', '', 'g')")} AS s
       |  FROM documents),
       |dg AS (
       |  SELECT doc_id, substr(s, u.i, v.n) AS g
       |  FROM docs, unnest(range(1, len(s)+1)) AS u(i), unnest([1,2,3]) AS v(n)
       |  WHERE u.i + v.n - 1 <= len(s)),
       |dp AS MATERIALIZED (
       |  SELECT doc_id, g,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, g) - 1 AS r
       |  FROM dg WHERE g NOT IN ('_', '__', '___') GROUP BY doc_id, g
       |  QUALIFY r < ${TrigramLangModel.DocProfileSize}),
       |dist AS (
       |  SELECT dp.doc_id, l.lang, l.lord,
       |    sum(CASE WHEN lp.r IS NULL THEN $k ELSE abs(lp.r - dp.r) END) AS dist,
       |    count(*) AS dlen
       |  FROM dp
       |  CROSS JOIN (SELECT DISTINCT lang, lord FROM samples) l
       |  LEFT JOIN lp ON lp.lang = l.lang AND lp.g = dp.g
       |  GROUP BY dp.doc_id, l.lang, l.lord),
       |pick AS (
       |  SELECT doc_id, lang,
       |    CAST(floor((1 - dist / CAST(dlen * $k AS DOUBLE)) * 10000) AS BIGINT)
       |      AS score_q,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY dist, lord) AS rk
       |  FROM dist)
       |SELECT d.doc_id,
       |  coalesce(p.lang, 'unk') AS lang_pred,
       |  coalesce(p.score_q, 0) AS score_q
       |FROM documents d
       |LEFT JOIN (SELECT * FROM pick WHERE rk = 1) p USING (doc_id)""".stripMargin
  }

  // ---- q_spam_exploded: A4 scalable max-token-frequency ----------------

  /** The explode->two-level-aggregate form of the spam ratio — the shape
    * that survives pathological documents (millions of tokens) where the
    * per-row array form would blow a single task.
    */
  def spamExploded(s: SparkSession, dir: String): DataFrame =
    graft.ops.Report.maxTokenFreqExploded(
      Tables.documents(s, dir).filter(trim(coalesce(col("text"), lit(""))) =!= ""),
      "doc_id", TextMetrics.tokens(col("text")))
      .select(col("doc_id"), col("max_freq"), col("n_tokens"),
        col("max_token_freq_ratio"))

  val spamExplodedSql: String =
    s"""WITH t AS (SELECT doc_id, unnest(${toksSql("text")}) AS tok
       |           FROM documents WHERE trim(coalesce(text, '')) <> ''),
       |g AS (SELECT doc_id, tok, count(*) AS cnt FROM t GROUP BY doc_id, tok)
       |SELECT doc_id, max(cnt) AS max_freq, CAST(sum(cnt) AS BIGINT) AS n_tokens,
       | CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS max_token_freq_ratio
       |FROM g GROUP BY doc_id""".stripMargin

  // ---- q_pii: M7/M8 counts + mask chain --------------------------------

  def piiMask(s: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    Tables.documents(s, dir).select(
      col("doc_id"),
      Pii.piiEmailHits(t).cast("long").as("pii_email_hits"),
      Pii.piiPhoneHits(t).cast("long").as("pii_phone_hits"),
      Pii.piiCcHits(t).cast("long").as("pii_cc_hits"),
      Pii.piiIbanHits(t).cast("long").as("pii_iban_hits"),
      Pii.hasPii(Pii.piiEmailHits(t), Pii.piiPhoneHits(t),
        Pii.piiCcHits(t), Pii.piiIbanHits(t)).as("has_pii"),
      Pii.maskPii(t).as("text_pii_masked"))
  }

  val piiMaskSql: String = {
    def cnt(pat: String) = s"len(regexp_extract_all(text, '$pat'))"
    val e = cnt(Pii.EmailRe)
    val p = cnt(Pii.PhoneRe)
    val c = cnt(Pii.CreditCardRe)
    val i = cnt(Pii.IbanRe)
    s"""SELECT doc_id,
       | $e AS pii_email_hits,
       | $p AS pii_phone_hits,
       | $c AS pii_cc_hits,
       | $i AS pii_iban_hits,
       | ($e + $p + $c + $i) > 0 AS has_pii,
       | regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
       |   '${Pii.EmailRe}', '<EMAIL>', 'g'),
       |   '${Pii.PhoneRe}', '<PHONE>', 'g'),
       |   '${Pii.CreditCardRe}', '<CREDIT_CARD>', 'g'),
       |   '${Pii.IbanRe}', '<IBAN>', 'g') AS text_pii_masked
       |FROM documents""".stripMargin
  }

  // ---- q_pii_extended: beyond-ref PII types (ip, ssn) -------------------

  def piiExtended(s: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    Tables.documents(s, dir).select(
      col("doc_id"),
      Pii.piiIpHits(t).cast("long").as("pii_ip_hits"),
      Pii.piiSsnHits(t).cast("long").as("pii_ssn_hits"),
      Pii.maskPiiExtended(t).as("text_pii_masked_ext"))
  }

  val piiExtendedSql: String = {
    def cnt(pat: String) = s"len(regexp_extract_all(text, '$pat'))"
    s"""SELECT doc_id,
       | ${cnt(Pii.IpRe)} AS pii_ip_hits,
       | ${cnt(Pii.SsnRe)} AS pii_ssn_hits,
       | regexp_replace(regexp_replace(regexp_replace(
       |   regexp_replace(regexp_replace(regexp_replace(text,
       |     '${Pii.EmailRe}', '<EMAIL>', 'g'),
       |     '${Pii.IpRe}', '<IP>', 'g'),
       |     '${Pii.SsnRe}', '<SSN>', 'g'),
       |   '${Pii.PhoneRe}', '<PHONE>', 'g'),
       |   '${Pii.CreditCardRe}', '<CREDIT_CARD>', 'g'),
       |   '${Pii.IbanRe}', '<IBAN>', 'g') AS text_pii_masked_ext
       |FROM documents""".stripMargin
  }

  // ---- q_toxicity: M9 ---------------------------------------------------

  def toxicity(s: SparkSession, dir: String): DataFrame =
    Toxicity.withToxicityColumns(Tables.documents(s, dir), col("text"))
      .select("doc_id", "toxicity", "severe_toxicity", "insult", "threat",
        "identity_attack", "sexual_explicit")

  val toxicitySql: String = {
    val toks = "regexp_extract_all(lower(coalesce(text, '')), '\\w+')"
    def hits(ws: Seq[String]) =
      s"CAST(len(list_filter($toks, x -> list_contains(${sqlStrList(ws)}, x))) AS DOUBLE)"
    val n = s"CAST(greatest(1, len($toks)) AS DOUBLE)"
    val bad = hits(Toxicity.BadWords)
    val ins = hits(Toxicity.InsultWords)
    val thr = hits(Toxicity.ThreatWords)
    val sex = hits(Toxicity.SexualWords)
    val slr = hits(Toxicity.SlurWords)
    val tox = s"least(1.0, ($bad + $ins + $thr + $sex + $slr) / $n * 5.0)"
    s"""SELECT doc_id,
       | $tox AS toxicity,
       | CASE WHEN $tox >= 0.9 THEN 1.0 ELSE 0.0 END AS severe_toxicity,
       | least(1.0, $ins / $n * 5.0) AS insult,
       | least(1.0, $thr / $n * 5.0) AS threat,
       | least(1.0, $slr / $n * 5.0) AS identity_attack,
       | least(1.0, $sex / $n * 5.0) AS sexual_explicit
       |FROM documents""".stripMargin
  }

  // ---- q_quality_score: Q1/Q2 end-to-end over documents ----------------

  /** Adds `token_count` and `quality_score` to a documents-shaped frame
    * (existing columns kept — q_domain_quality rides its url column
    * through in the same single pass).
    */
  private[queries] def qualityScored(docs: DataFrame): DataFrame = {
    val t = col("text")
    val hasPii = Pii.hasPii(Pii.piiEmailHits(t), Pii.piiPhoneHits(t),
      Pii.piiCcHits(t), Pii.piiIbanHits(t))
    LangId.withLangColumns(docs, t, predName = "__lang_pred_unused")
      .drop("__lang_pred_unused")
      .withColumn("token_count", TextMetrics.tokenCount(t).cast("long"))
      .withColumn("unique_token_ratio", TextMetrics.uniqueTokenRatio(t))
      .withColumn("has_pii", hasPii)
      .withColumn("quality_score", Score.qualityScore(
        col("lang_score"), col("token_count"), col("unique_token_ratio"), col("has_pii")))
  }

  def qualityScore(s: SparkSession, dir: String): DataFrame =
    qualityScored(Tables.documents(s, dir))
      .select(col("doc_id"), col("token_count"), col("quality_score"),
        Score.subset(col("quality_score")).as("subset"),
        lit("web_sample").as("mixture_name"))

  /** The quality-score CTE chain (ends at `q`: doc_id, token_count,
    * quality_score) — shared verbatim between q_quality_score and
    * q_domain_quality so the two oracles cannot drift.
    */
  private[queries] val qualityCtesSql: String = {
    val (_, langScoreSql) = LangId.duckdbExprs("text")
    def cnt(pat: String) = s"len(regexp_extract_all(text, '$pat'))"
    val hasPiiSql =
      s"(${cnt(Pii.EmailRe)} + ${cnt(Pii.PhoneRe)} + ${cnt(Pii.CreditCardRe)} + ${cnt(Pii.IbanRe)}) > 0"
    val scoreExpr = Score.duckdbExpr("lang_score", "token_count",
      "unique_token_ratio", "has_pii")
    s"""t AS (SELECT doc_id, text, ${toksSql("text")} AS toks FROM documents),
       |m AS (SELECT doc_id,
       |  $langScoreSql AS lang_score,
       |  len(toks) AS token_count,
       |  CASE WHEN len(toks) > 0 THEN CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS unique_token_ratio,
       |  $hasPiiSql AS has_pii
       | FROM t),
       |q AS (SELECT doc_id, token_count, $scoreExpr AS quality_score FROM m)""".stripMargin
  }

  val qualityScoreSql: String =
    s"""WITH $qualityCtesSql
       |SELECT doc_id, token_count, quality_score,
       | CASE WHEN quality_score >= ${Score.HighQualityThreshold} THEN 'high_quality' ELSE 'rest' END AS subset,
       | 'web_sample' AS mixture_name
       |FROM q""".stripMargin

  // ---- q_budget_select: token-budget-constrained selection --------------

  private val SelectBudget = 10000L

  /** Quality-first corpus selection under a global token budget
    * ([[graft.ops.Sampling.budgetSelect]]): the standard
    * data-constrained-pretraining move — sort by quality, cut at the
    * token-budget line. Oracle-checked end to end because the running
    * total is a pure function of the (quality DESC, doc_id) order,
    * which DuckDB replays as a window sum over the same hash-exact
    * quality chain ([[qualityCtesSql]]); the ENGINE computes it with
    * the two-pass partition-offset scheme instead of a global-order
    * window.
    */
  def budgetSelect(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.budgetSelect(
        qualityScore(s, dir).select("doc_id", "token_count", "quality_score"),
        "doc_id", "quality_score", "token_count", SelectBudget)
      .select(col("doc_id"),
        col("token_count").cast("long").as("tokens"),
        floor(col("quality_score") * 10000).cast("long").as("score_q"),
        col("cum_before"),
        col("kept"))

  val budgetSelectSql: String =
    s"""WITH $qualityCtesSql,
       |o AS (SELECT doc_id, token_count, quality_score,
       |  coalesce(sum(token_count) OVER (
       |    ORDER BY quality_score DESC, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       | FROM q)
       |SELECT doc_id, CAST(token_count AS BIGINT) AS tokens,
       |  CAST(floor(quality_score * 10000) AS BIGINT) AS score_q,
       |  CAST(cum_before AS BIGINT) AS cum_before,
       |  cum_before + token_count <= $SelectBudget AS kept
       |FROM o""".stripMargin

  // ---- q_lang_budget: per-language token budgets ------------------------

  private val PerLangBudget = 2000L

  /** Per-group budget selection ([[graft.ops.Sampling
    * .budgetSelectPerGroup]]) keyed on language — "N tokens of each
    * language, best documents first", the way multilingual pre-training
    * mixes are specified. Rolled up per language so the output is
    * small: docs kept, docs total, tokens kept (≤ budget by
    * construction — asserted by the oracle hash).
    */
  def langBudget(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.budgetSelectPerGroup(
        qualityScored(Tables.documents(s, dir))
          .select(col("doc_id"), coalesce(col("lang"), lit("")).as("lang"),
            col("token_count"), col("quality_score")),
        "lang", "doc_id", "quality_score", "token_count", PerLangBudget)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("token_count")).otherwise(0L))
          .as("tokens_kept"))

  val langBudgetSql: String =
    s"""WITH $qualityCtesSql,
       |j AS (SELECT q.doc_id, coalesce(d.lang, '') AS lang, q.token_count,
       |        q.quality_score
       |      FROM q JOIN documents d USING (doc_id)),
       |o AS (SELECT lang, token_count,
       |  coalesce(sum(token_count) OVER (PARTITION BY lang
       |    ORDER BY quality_score DESC, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       | FROM j)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN cum_before + token_count <= $PerLangBudget
       |           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(sum(CASE WHEN cum_before + token_count <= $PerLangBudget
       |           THEN token_count ELSE 0 END) AS BIGINT) AS tokens_kept
       |FROM o GROUP BY lang""".stripMargin

  // ---- q_dedup_tokens: order-preserving intra-doc token dedup -----------

  /** Within-document repeated-token removal, first occurrence kept in
    * order — one codegen'd array expression per row (array_distinct
    * preserves encounter order), zero shuffles. The oracle has no
    * order-preserving dedup primitive and must reconstruct it the
    * explode + row_number + re-aggregate way — the exact shape this
    * formulation avoids at scale.
    */
  def dedupTokens(s: SparkSession, dir: String): DataFrame = {
    val uniq = array_distinct(split(trim(coalesce(col("text"), lit(""))), "\\s+"))
    Tables.documents(s, dir).select(col("doc_id"),
      array_join(uniq, " ").as("text_unique_tokens"),
      size(uniq).cast("long").as("n_unique"))
  }

  val dedupTokensSql: String =
    """WITH t AS (SELECT doc_id,
      |             string_split_regex(trim(coalesce(text, '')), '\s+') AS toks
      |           FROM documents),
      |x AS (SELECT doc_id, unnest(toks) AS tok,
      |        unnest(range(1, len(toks) + 1)) AS i FROM t),
      |u AS (SELECT doc_id, i, tok,
      |        row_number() OVER (PARTITION BY doc_id, tok ORDER BY i) AS rn
      |      FROM x)
      |SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text_unique_tokens,
      |       count(*) AS n_unique
      |FROM u WHERE rn = 1 GROUP BY doc_id""".stripMargin

  // ---- q_token_pack: concat-and-chop context-window layout --------------

  private val PackCapacity = 512L

  /** Sequence-packing layout (graft.ops.Pack): global token offsets in
    * doc_id order, 512-token context windows. The oracle states the same
    * layout as one global window cumsum — fine for DuckDB's single node,
    * exactly the shuffle shape Pack.withRunningTotal exists to avoid.
    */
  def tokenPack(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"),
      size(TextMetrics.tokens(col("text"))).cast("long").as("n_toks"))
    graft.ops.Pack.packTokens(docs, "doc_id", "n_toks", PackCapacity)
      .select("doc_id", "n_toks", "start_offset", "pack_first", "pack_last",
        "spans_packs")
  }

  val tokenPackSql: String =
    s"""WITH t AS (SELECT doc_id,
       |             CAST(len(${toksSql("text")}) AS BIGINT) AS n_toks
       |           FROM documents),
       |s AS (SELECT doc_id, n_toks,
       |        -- DuckDB sum(BIGINT) is HUGEINT -> pandas float; pin BIGINT
       |        CAST(coalesce(sum(n_toks) OVER (ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |          AS start_offset
       |      FROM t)
       |SELECT doc_id, n_toks, start_offset,
       |  start_offset // $PackCapacity AS pack_first,
       |  CASE WHEN n_toks > 0 THEN (start_offset + n_toks - 1) // $PackCapacity
       |       ELSE start_offset // $PackCapacity END AS pack_last,
       |  (CASE WHEN n_toks > 0 THEN (start_offset + n_toks - 1) // $PackCapacity
       |        ELSE start_offset // $PackCapacity END)
       |    > start_offset // $PackCapacity AS spans_packs
       |FROM s""".stripMargin

  // ---- q_pack_manifest: per-context-window sizing over the pack layout ---

  /** Docs-starting and tokens-contributed per pack id — the run-sizing
    * aggregate a loader uses to plan shard files aligned to whole packs.
    */
  def packManifest(s: SparkSession, dir: String): DataFrame =
    tokenPack(s, dir)
      .groupBy(col("pack_first").as("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_toks").as("n_tokens"),
        sum(when(col("spans_packs"), 1L).otherwise(0L)).as("n_straddlers"))

  val packManifestSql: String =
    s"""WITH pack AS ($tokenPackSql)
       |SELECT pack_first AS pack_id, count(*) AS n_docs,
       |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN spans_packs THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
       |FROM pack GROUP BY pack_first""".stripMargin

  // ---- q_invisible_scrub: zero-width / format-char hygiene ---------------

  /** Half the docs (content-addressed bucket) get a ZWSP planted at the
    * front — the fixture is synthetic ASCII, so the query seeds its own
    * invisibles, then proves detection (count) and exact restoration
    * (clean md5 == original md5).
    */
  def invisibleScrub(s: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("long") % 100
    Tables.documents(s, dir)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("t"),
        bucket.as("bucket"))
      .withColumn("dt",
        when(col("bucket") < 50, concat(lit("\u200B"), col("t")))
          .otherwise(col("t")))
      .withColumn("ct", Normalize.stripInvisible(col("dt")))
      .select(col("doc_id"),
        (length(col("dt")) - length(col("ct"))).cast("long").as("n_invisible"),
        md5(col("ct")).as("clean_md5"),
        (md5(col("ct")) === md5(col("t"))).as("roundtrip_ok"))
  }

  val invisibleScrubSql: String =
    """WITH d AS (SELECT doc_id,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 100 AS bucket,
      |    coalesce(text, '') AS t FROM documents),
      |x AS (SELECT doc_id, t,
      |    CASE WHEN bucket < 50 THEN chr(8203) || t ELSE t END AS dt FROM d),
      |s AS (SELECT doc_id, t, dt,
      |    regexp_replace(dt,
      |      '[\x{200B}\x{200C}\x{200D}\x{2060}\x{FEFF}\x{00AD}\x{200E}\x{200F}]',
      |      '', 'g') AS ct
      |  FROM x)
      |SELECT doc_id, CAST(length(dt) - length(ct) AS BIGINT) AS n_invisible,
      |  md5(ct) AS clean_md5, md5(ct) = md5(t) AS roundtrip_ok
      |FROM s""".stripMargin

  // ---- q_confusable_scrub: homoglyph folding (self-seeded) ---------------

  /** Self-seeded like q_invisible_scrub: half the docs (md5 bucket) get a
    * Cyrillic homoglyph attack (a→а, e→е, o→о — every hash changes,
    * nothing a reader sees does), then [[Normalize.foldConfusables]]
    * folds back; roundtrip_ok proves exact-dup identity is restored for
    * every row. Both sides are a single `translate` — the from/to maps
    * are generated from ONE Scala constant so they cannot drift.
    */
  def confusableScrub(s: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("long") % 100
    Tables.documents(s, dir)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("t"),
        bucket.as("bucket"))
      .withColumn("dt",
        when(col("bucket") < 50, translate(col("t"), "aeo", "аео"))
          .otherwise(col("t")))
      .withColumn("ct", Normalize.foldConfusables(col("dt")))
      .select(col("doc_id"),
        (length(col("dt")) -
          length(translate(col("dt"), Normalize.ConfusablesFrom, "")))
          .cast("long").as("n_confusable"),
        md5(col("ct")).as("folded_md5"),
        (md5(col("ct")) === md5(col("t"))).as("roundtrip_ok"))
  }

  val confusableScrubSql: String = {
    val cf = Normalize.ConfusablesFrom
    val ct = Normalize.ConfusablesTo
    s"""WITH d AS (SELECT doc_id,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 100 AS bucket,
       |    coalesce(text, '') AS t FROM documents),
       |x AS (SELECT doc_id, t,
       |    CASE WHEN bucket < 50 THEN translate(t, 'aeo', 'аео') ELSE t END AS dt FROM d),
       |f AS (SELECT doc_id, t, dt, translate(dt, '$cf', '$ct') AS ctx FROM x)
       |SELECT doc_id,
       |  CAST(length(dt) - length(translate(dt, '$cf', '')) AS BIGINT) AS n_confusable,
       |  md5(ctx) AS folded_md5, md5(ctx) = md5(t) AS roundtrip_ok
       |FROM f""".stripMargin
  }

  // ---- q_mojibake: ftfy-style encoding repair ---------------------------

  /** Mojibake repair, oracle-exact. Each doc's text gets a non-ASCII
    * suffix (é = 2 UTF-8 bytes through the Latin-1 printable range,
    * № and € = 3 bytes each crossing the C1-control range), then the
    * UTF-8 bytes are re-read as ISO-8859-1 — the EXACT upstream
    * accident (mislabeled Content-Type) that produces `Ã©` web text.
    * (Spark's `decode` charset whitelist has no windows-1252; the
    * cp1252 remap arm of the kernel is pinned by FixMojibakeSpec
    * instead.) The fix_mojibake codegen kernel must invert the damage
    * perfectly: the oracle computes the intended clean string
    * directly, so `recovered` must be uniformly true and the md5 must
    * match char-for-char; `chars_reclaimed` pins the byte-level
    * accounting (corrupt chars = clean UTF-8 bytes).
    */
  def mojibake(s: SparkSession, dir: String): DataFrame = {
    val orig = concat(coalesce(col("text"), lit("")),
      lit(" café №€"), col("doc_id").cast("string"))
    val corrupt = decode(encode(orig, "UTF-8"), "ISO-8859-1")
    Tables.documents(s, dir)
      .select(col("doc_id"), orig.as("__orig"), corrupt.as("__corrupt"))
      .select(col("doc_id"),
        graft.plans.FixMojibake(col("__corrupt")).as("__fixed"),
        col("__orig"), col("__corrupt"))
      .select(col("doc_id"),
        md5(col("__fixed").cast("binary")).as("fixed_md5"),
        (col("__fixed") === col("__orig")).as("recovered"),
        (length(col("__corrupt")) - length(col("__fixed")))
          .cast("long").as("chars_reclaimed"))
  }

  val mojibakeSql: String =
    """WITH o AS (SELECT doc_id,
      |  coalesce(text, '') || ' café №€' || CAST(doc_id AS VARCHAR) AS orig
      | FROM documents)
      |SELECT doc_id, md5(orig) AS fixed_md5, true AS recovered,
      |  CAST(octet_length(encode(orig)) - length(orig) AS BIGINT) AS chars_reclaimed
      |FROM o""".stripMargin

  // ---- q_weighted_sample: RNG-free Efraimidis–Spirakis sample -----------

  /** Length-weighted corpus sample (graft.ops.Sampling.weightedSample):
    * A-ES priorities from md5-derived uniforms, so the SAMPLE ITSELF is
    * deterministic and oracle-checkable — the content-addressed answer
    * to the RNG-excluded O4 seeded sample.
    */
  def weightedSample(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.weightedSample(
      Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
      "doc_id", "n_chars", k = 50)

  val weightedSampleSql: String =
    """WITH w AS (SELECT doc_id, source, n_chars,
      |  CAST(floor(ln((CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE) + 1.0) / 4294967297.0)
      |    / greatest(CAST(coalesce(n_chars, 1) AS DOUBLE), 1e-4) * 1e12) AS BIGINT) AS es_key_q
      | FROM documents)
      |SELECT doc_id, source, n_chars, es_key_q FROM w
      |ORDER BY es_key_q DESC, doc_id LIMIT 50""".stripMargin

  // ---- q_phrase_hits: Aho-Corasick boilerplate-phrase counts -------------

  def phraseHits(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.plans.PhraseHits(lower(coalesce(col("text"), lit(""))),
          "boilerplate").as("__h"))
      .select(col("doc_id"),
        element_at(col("__h"), 1).cast("long").as("nav_hits"),
        element_at(col("__h"), 2).cast("long").as("legal_hits"))

  /** Oracle generated from the SAME profile object: per phrase,
    * non-overlapping occurrences via replace-length arithmetic — equal
    * to the kernel's match-end counts because every profile phrase is
    * border-free (PhraseHitsSpec enforces that precondition).
    */
  val phraseHitsSql: String = {
    // SQL-escape quotes; divide by CODEPOINT count (DuckDB length()),
    // not UTF-16 units — an astral-plane phrase would otherwise divide
    // by the wrong length and miscount silently
    def listSql(phrases: Seq[String]): String = phrases
      .map { p =>
        val esc = p.replace("'", "''")
        val cp = p.codePointCount(0, p.length)
        s"CAST((length(t) - length(replace(t, '$esc', ''))) // $cp AS BIGINT)"
      }
      .mkString("(", " + ", ")")
    val lists = graft.plans.PhraseHits.Profiles("boilerplate")
    s"""WITH d AS (SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents)
       |SELECT doc_id,
       |  ${listSql(lists(0))} AS nav_hits,
       |  ${listSql(lists(1))} AS legal_hits
       |FROM d""".stripMargin
  }

  // ---- q_compress_ratio: DEFLATE compressibility signal ------------------

  /** Rows-only by design (no DEFLATE in DuckDB — engine-defined, like
    * the tokenizer); DeflateSpec pins the kernel against a reference
    * java.util.zip computation and the repetitive≪natural ordering.
    */
  def compressRatio(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("octet_length(coalesce(text, ''))").cast("long").as("n_bytes"),
        graft.plans.DeflateLength(coalesce(col("text"), lit("")))
          .cast("long").as("deflate_len"))
      .withColumn("compress_ratio",
        when(col("n_bytes") > 0,
          col("deflate_len").cast("double") / col("n_bytes").cast("double")))

  // ---- q_compress_stored: the oracle-checked stored-block twin -----------

  /** Graded twin of q_compress_ratio ([[graft.plans
    * .DeflateStoredLength]]): zlib STORED-block (level 0) lengths are
    * fixed by RFC 1950/1951 alone — 2 + 5·⌈n/65535⌉ + n + 4 — so
    * DuckDB replays them arithmetically, hash-checking the plumbing
    * the level-6 kernel shares (UTF-8 byte length, framing, expression
    * wiring). Each doc is measured twice: as-is (single block) and
    * repeated past 65535 bytes (`repeat` to ≥70000), so the multi-
    * block framing is exercised on every row. The compression LEVEL
    * itself stays covered by DeflateSpec, incl. the Inflater
    * round-trip proving the stored encoding is valid zlib.
    */
  def compressStored(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("t"))
      // floor() both sides: Spark CAST(double AS INT) truncates where
      // DuckDB rounds, so the repeat count must be floored explicitly
      .withColumn("big",
        expr("repeat(t, 1 + CAST(floor(70000 / greatest(octet_length(t), 1)) AS INT))"))
      .select(col("doc_id"),
        expr("octet_length(t)").cast("long").as("n_bytes"),
        graft.plans.DeflateStoredLength(col("t")).cast("long")
          .as("stored_len"),
        expr("octet_length(big)").cast("long").as("n_bytes_big"),
        graft.plans.DeflateStoredLength(col("big")).cast("long")
          .as("stored_len_big"))

  val compressStoredSql: String = {
    def storedLen(c: String) =
      s"CAST(2 + 5 * greatest(1, CAST(ceil(CAST(strlen($c) AS DOUBLE) / CAST(65535 AS DOUBLE)) AS BIGINT)) + strlen($c) + 4 AS BIGINT)"
    s"""WITH d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
       |b AS (SELECT doc_id, t,
       |    repeat(t, 1 + CAST(floor(70000 / greatest(strlen(t), 1)) AS INT)) AS big
       |  FROM d)
       |SELECT doc_id,
       |  CAST(strlen(t) AS BIGINT) AS n_bytes,
       |  ${storedLen("t")} AS stored_len,
       |  CAST(strlen(big) AS BIGINT) AS n_bytes_big,
       |  ${storedLen("big")} AS stored_len_big
       |FROM b""".stripMargin
  }

  // ---- q_token_entropy: per-doc token-distribution entropy ---------------

  /** Shannon entropy of each doc's token distribution (TextMetrics),
    * floor-quantized at 1e4 for cross-engine float parity. Token array
    * staged as an attribute (inline subtrees re-evaluate inside HOF
    * lambdas).
    */
  def tokenEntropy(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("__toks", TextMetrics.tokens(col("text")))
      .select(col("doc_id"),
        size(col("__toks")).cast("long").as("n_toks"),
        floor(TextMetrics.tokenEntropyFromTokens(col("__toks")) * 10000)
          .cast("long").as("entropy_q"))

  val tokenEntropySql: String =
    s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
       |c AS (SELECT doc_id, toks,
       |        list_transform(list_sort(list_distinct(toks)),
       |          x -> CAST(len(list_filter(toks, y -> y = x)) AS DOUBLE)) AS cnts
       |      FROM t)
       |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
       |  CAST(floor((CASE WHEN len(toks) > 0 THEN
       |      ln(CAST(len(toks) AS DOUBLE))
       |        - list_sum(list_transform(cnts, c -> c * ln(c)))
       |          / CAST(len(toks) AS DOUBLE)
       |    ELSE 0.0 END) * 10000) AS BIGINT) AS entropy_q
       |FROM c""".stripMargin

  // ---- q_temperature_mix: alpha-scaled source sampling weights -----------

  private val MixAlpha = 0.7
  private val MixBudget = 100000L

  /** Temperature-scaled per-source weights (graft.ops.Mixture) over
    * character mass, alpha = 0.7 — weight and allocation floor-quantized.
    */
  def temperatureMix(s: SparkSession, dir: String): DataFrame =
    graft.ops.Mixture.temperatureWeights(Tables.documents(s, dir),
        strataCol = "source", massCol = "n_chars",
        alpha = MixAlpha, budgetDocs = MixBudget)
      .select(col("source"), col("mass"),
        floor(col("weight") * 10000).cast("long").as("weight_q"),
        col("docs_alloc"))

  val temperatureMixSql: String =
    s"""WITH m AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS mass
       |           FROM documents GROUP BY source),
       |p AS (SELECT source, mass, pow(CAST(mass AS DOUBLE), $MixAlpha) AS pw FROM m),
       |t AS (SELECT sum(pw) AS tot FROM p)
       |SELECT source, mass,
       |  CAST(floor(pw / tot * 10000) AS BIGINT) AS weight_q,
       |  CAST(floor(pw / tot * $MixBudget) AS BIGINT) AS docs_alloc
       |FROM p CROSS JOIN t""".stripMargin

  // ---- q_quality_ensemble: the composite quality gate --------------------

  private val GateMinQuality = 0.55
  private val GateMinEntropyQ = 28000L
  private val GateMinMeanLpQ = -34050L
  private val GateMaxToxicity = 0.5

  /** FineWeb-style rule ensemble over every quality signal the engine
    * computes — heuristic score, token-distribution entropy, corpus-LM
    * fluency, toxicity — with first-match-wins fail reasons (the same
    * drop-reason discipline as ops.Filters).
    *
    * Shape: the three PER-ROW signals (quality score, entropy,
    * toxicity) are column expressions over ONE corpus scan — they
    * reuse the exact expression builders the individually-validated
    * queries use, so values cannot drift — and only the fluency signal
    * keeps its inherent vocabulary join (one doc_id join). The
    * composed four-query join form this replaces scanned the corpus
    * four times and shuffled three joins; the signals' own oracles
    * plus this query's oracle (unchanged, still the four-CTE join)
    * pin the fused form's equivalence. Isolated min-of-N at sf0.1:
    * 1.85 s composed → 1.46 s fused (an earlier pre-email-kernel
    * fusion experiment showed no gain because regex dominated; the
    * kernel moved that floor and the shared scan now pays off).
    */
  def qualityEnsemble(s: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val base = qualityScored(Tables.documents(s, dir))
      .withColumn("__toks", TextMetrics.tokens(t))
      .withColumn("entropy_q",
        floor(TextMetrics.tokenEntropyFromTokens(col("__toks")) * 10000)
          .cast("long"))
    val withTox = graft.text.Toxicity.withToxicityColumns(base, t)
      .select(col("doc_id"), col("quality_score"), col("entropy_q"),
        col("toxicity"))
    withTox
      .join(unigramLogprob(s, dir), Seq("doc_id"))
      .withColumn("qs_q", floor(col("quality_score") * 10000).cast("long"))
      .withColumn("mean_lp_q",
        when(col("n_toks") > 0,
          floor(col("lp_sum_q").cast("double") / col("n_toks")).cast("long")))
      .withColumn("fail_reason",
        when(col("quality_score") < GateMinQuality, "low_quality")
          .when(col("entropy_q") < GateMinEntropyQ, "low_entropy")
          .when(col("mean_lp_q").isNull || col("mean_lp_q") < GateMinMeanLpQ,
            "low_fluency")
          .when(col("toxicity") >= GateMaxToxicity, "toxic"))
      .withColumn("keep", col("fail_reason").isNull)
      .select("doc_id", "qs_q", "entropy_q", "mean_lp_q", "fail_reason", "keep")
  }

  // lazy: interpolates unigramLogprobSql, declared LATER in this object —
  // a plain val would capture null at initialization order
  lazy val qualityEnsembleSql: String =
    s"""WITH qs_full AS ($qualityScoreSql),
       |qs AS (SELECT doc_id, quality_score FROM qs_full),
       |ent_full AS ($tokenEntropySql),
       |ent AS (SELECT doc_id, entropy_q FROM ent_full),
       |lp AS ($unigramLogprobSql),
       |tox_full AS ($toxicitySql),
       |tox AS (SELECT doc_id, toxicity FROM tox_full),
       |j AS (SELECT qs.doc_id, quality_score, entropy_q, n_toks, lp_sum_q, toxicity
       |      FROM qs JOIN ent USING (doc_id) JOIN lp USING (doc_id)
       |      JOIN tox USING (doc_id)),
       |g AS (SELECT doc_id,
       |  CAST(floor(quality_score * 10000) AS BIGINT) AS qs_q,
       |  entropy_q,
       |  CASE WHEN n_toks > 0 THEN
       |    CAST(floor(CAST(lp_sum_q AS DOUBLE) / n_toks) AS BIGINT) END AS mean_lp_q,
       |  CASE WHEN quality_score < $GateMinQuality THEN 'low_quality'
       |       WHEN entropy_q < $GateMinEntropyQ THEN 'low_entropy'
       |       WHEN n_toks = 0
       |            OR CAST(floor(CAST(lp_sum_q AS DOUBLE) / n_toks) AS BIGINT)
       |               < $GateMinMeanLpQ THEN 'low_fluency'
       |       WHEN toxicity >= $GateMaxToxicity THEN 'toxic' END AS fail_reason
       | FROM j)
       |SELECT doc_id, qs_q, entropy_q, mean_lp_q, fail_reason,
       |  fail_reason IS NULL AS keep
       |FROM g""".stripMargin

  // ---- q_bpe_vocab / q_bpe_tokenize: learned subword vocabulary ----------

  private val BpeMerges = 200

  /** BPE merge table learned from the corpus (graft.text.Bpe) —
    * deterministic, so rows-only checking still pins run-to-run
    * stability. Engine-defined (iterative training has no SQL oracle).
    */
  def bpeVocab(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val model = graft.text.Bpe.train(Tables.documents(s, dir), "text",
      numMerges = BpeMerges)
    model.merges.zipWithIndex
      .map { case ((a, b), r) => (r.toLong, a, b, a + b) }
      .toDF("rank", "left", "right", "merged")
  }

  /** Corpus re-encoded under the learned vocabulary: subword count and
    * an order-sensitive hash per doc (harness-sortable scalars).
    */
  def bpeTokenize(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val enc = graft.text.Bpe.encodeUdf(
      graft.text.Bpe.train(docs, "text", numMerges = BpeMerges))
    docs.withColumn("__sub", enc(col("text")))
      .select(col("doc_id"),
        size(col("__sub")).cast("long").as("n_subwords"),
        xxhash64(to_json(col("__sub"))).as("subword_hash"))
  }

  // ---- q_bpe_merges: BPE TRAINING, ORACLE-CHECKED ------------------------

  /** The oracle-gated twin of [[bpeVocab]]: the REAL training loop
    * (`Bpe.train` — same corpus aggregation, same argmax tie-break, same
    * leftmost-non-overlapping re-segmentation) over input scrubbed
    * identically on both engines (non-BMP removed so Java-char and
    * codepoint word splits agree and UTF-16 vs codepoint tie-break
    * orders coincide; C0 controls + the Unicode space family collapsed
    * to single spaces so Java `\s+` and RE2 `\s+` tokenize alike, and
    * so U+0001 is free to act as the oracle's symbol separator).
    *
    * The oracle replays all `BpeMerges` training ROUNDS — not just a
    * checksum — as a recursive CTE whose working table is the word
    * segmentation state: each step cross-joins the previous state's
    * argmax pair (sum-of-word-frequency pair counts, ties broken
    * lexicographically, exactly `trainFromCounts`) and re-segments
    * every word with a `list_reduce` fold over a chr(1)-separated
    * symbol encoding. The fold is provably equivalent to the scanner's
    * leftmost-non-overlapping pass because a just-merged symbol `a||b`
    * is strictly longer than `a` and so can never re-match as a left
    * element within the same round. Early exhaustion (no pairs left)
    * terminates both loops identically: the recursion stops when the
    * argmax subquery is empty, and `trainFromCounts` sets `exhausted`.
    */
  private[graft] val BpeScrubWs =
    "[\\x00-\\x1F\\x{85}\\x{A0}\\x{1680}\\x{2000}-\\x{200A}" +
      "\\x{2028}\\x{2029}\\x{202F}\\x{205F}\\x{3000}\\s]+"

  def bpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scrubbed = Tables.documents(s, dir).select(
      regexp_replace(
        regexp_replace(coalesce(col("text"), lit("")),
          lit("[\\x{10000}-\\x{10FFFF}]"), lit("")),
        lit(BpeScrubWs), lit(" ")).as("text"))
    val model = graft.text.Bpe.train(scrubbed, "text", numMerges = BpeMerges)
    model.merges.zipWithIndex
      .map { case ((a, b), r) => (r.toLong, a, b, a + b) }
      .toDF("merge_rank", "lft", "rgt", "merged")
  }

  val bpeMergesSql: String =
    s"""WITH RECURSIVE
       |docs AS (
       |  SELECT regexp_replace(regexp_replace(coalesce(text, ''),
       |    '[\\x{10000}-\\x{10FFFF}]', '', 'g'),
       |    '[\\x00-\\x1F\\x{85}\\x{A0}\\x{1680}\\x{2000}-\\x{200A}\\x{2028}\\x{2029}\\x{202F}\\x{205F}\\x{3000}\\s]+',
       |    ' ', 'g') AS t
       |  FROM documents),
       |w AS (
       |  SELECT word, count(*) AS n FROM (
       |    SELECT unnest(CASE WHEN trim(t) = '' THEN CAST([] AS VARCHAR[])
       |                  ELSE string_split_regex(trim(t), '\\s+') END) AS word
       |    FROM docs)
       |  GROUP BY word ORDER BY n DESC, word LIMIT 100000),
       |st(iter, n, syms) AS (
       |  SELECT 0, n, regexp_extract_all(word, '.') FROM w
       |  UNION ALL
       |  SELECT iter + 1, st.n,
       |    string_split(list_reduce(st.syms, (acc, x) -> CASE
       |      WHEN (acc = bp.ba OR ends_with(acc, chr(1) || bp.ba)) AND x = bp.bb
       |      THEN acc || x ELSE acc || chr(1) || x END), chr(1))
       |  FROM st CROSS JOIN (
       |    SELECT a AS ba, b AS bb FROM (
       |      SELECT unnest(syms[:len(syms)-1]) AS a, unnest(syms[2:]) AS b, n
       |      FROM st)
       |    GROUP BY a, b ORDER BY sum(n) DESC, a, b LIMIT 1) bp
       |  WHERE st.iter < ${BpeMerges - 1}),
       |pairs AS (
       |  SELECT iter, a, b, sum(n) AS cnt FROM (
       |    SELECT iter, unnest(syms[:len(syms)-1]) AS a, unnest(syms[2:]) AS b, n
       |    FROM st)
       |  GROUP BY iter, a, b),
       |best AS (
       |  SELECT iter, a, b FROM (
       |    SELECT *, row_number() OVER (PARTITION BY iter ORDER BY cnt DESC, a, b) AS rk
       |    FROM pairs) WHERE rk = 1)
       |SELECT CAST(iter AS BIGINT) AS merge_rank, a AS lft, b AS rgt,
       |  a || b AS merged
       |FROM best""".stripMargin

  // ---- q_bpe_encode: BPE corpus re-encoding, ORACLE-CHECKED --------------

  /** The oracle-gated twin of [[bpeTokenize]]: train on the scrubbed
    * corpus (the [[bpeMerges]] twin's scrub) and re-encode every doc,
    * exposing per-doc subword count + a position-weighted checksum of
    * the subwords' token ids (the [[graft.text.Tokenize]] id mapping).
    *
    * The oracle composes three replays: (1) the [[bpeMergesSql]]
    * recursive training loop; (2) a second recursion re-segmenting
    * every DISTINCT corpus word by applying merge rank r at step r —
    * valid because sequential-by-rank application equals the agenda
    * encoder (BpeSpec pins that equivalence on randomized words), and
    * total even under `maxWords` truncation since it re-derives
    * segmentations rather than reading training state; (3) the
    * `String.hashCode` fold from [[PipelineQueries.tokenIdsSql]] for
    * the id checksum. Subword order is globally pinned by
    * (token position, subword position) row numbering, so a wrong
    * merge table, a wrong overlap rule, or a permuted flattening all
    * hash-mismatch. Non-recursive CTE dependencies of the recursions
    * are MATERIALIZED — DuckDB otherwise re-inlines the whole training
    * recursion once per encode step (measured 39 s → 0.9 s).
    */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val scrub = regexp_replace(
      regexp_replace(coalesce(col("text"), lit("")),
        lit("[\\x{10000}-\\x{10FFFF}]"), lit("")),
      lit(BpeScrubWs), lit(" "))
    val docs = Tables.documents(s, dir).withColumn("__t", scrub)
    val model = graft.text.Bpe.train(
      docs.select(col("__t").as("text")), "text", numMerges = BpeMerges)
    val enc = graft.text.Bpe.encodeUdf(model)
    val vocab = graft.text.Tokenize.VocabSize
    val offset = graft.text.Tokenize.IdOffset
    val chk = udf { (subs: Seq[String]) =>
      subs.zipWithIndex.map { case (w, i) =>
        (math.floorMod(w.hashCode, vocab) + offset).toLong * (i + 1)
      }.sum
    }
    docs.withColumn("__sub", enc(col("__t")))
      .select(col("doc_id"),
        size(col("__sub")).cast("long").as("n_subwords"),
        chk(col("__sub")).as("sub_checksum"))
  }

  val bpeEncodeSql: String = {
    val toksOf = (t: String) =>
      s"CASE WHEN trim($t) = '' THEN CAST([] AS VARCHAR[]) " +
        s"ELSE string_split_regex(trim($t), '\\s+') END"
    s"""WITH RECURSIVE
       |docs AS MATERIALIZED (
       |  SELECT doc_id, regexp_replace(regexp_replace(coalesce(text, ''),
       |    '[\\x{10000}-\\x{10FFFF}]', '', 'g'),
       |    '[\\x00-\\x1F\\x{85}\\x{A0}\\x{1680}\\x{2000}-\\x{200A}\\x{2028}\\x{2029}\\x{202F}\\x{205F}\\x{3000}\\s]+',
       |    ' ', 'g') AS t
       |  FROM documents),
       |w AS (
       |  SELECT word, count(*) AS n FROM (
       |    SELECT unnest(${toksOf("t")}) AS word FROM docs)
       |  GROUP BY word ORDER BY n DESC, word LIMIT 100000),
       |st(iter, n, syms) AS (
       |  SELECT 0, n, regexp_extract_all(word, '.') FROM w
       |  UNION ALL
       |  SELECT iter + 1, st.n,
       |    string_split(list_reduce(st.syms, (acc, x) -> CASE
       |      WHEN (acc = bp.ba OR ends_with(acc, chr(1) || bp.ba)) AND x = bp.bb
       |      THEN acc || x ELSE acc || chr(1) || x END), chr(1))
       |  FROM st CROSS JOIN (
       |    SELECT a AS ba, b AS bb FROM (
       |      SELECT unnest(syms[:len(syms)-1]) AS a, unnest(syms[2:]) AS b, n
       |      FROM st)
       |    GROUP BY a, b ORDER BY sum(n) DESC, a, b LIMIT 1) bp
       |  WHERE st.iter < ${BpeMerges - 1}),
       |best AS MATERIALIZED (
       |  SELECT iter, a, b FROM (
       |    SELECT *, row_number() OVER (PARTITION BY iter ORDER BY cnt DESC, a, b) AS rk
       |    FROM (SELECT iter, a, b, sum(n) AS cnt FROM (
       |      SELECT iter, unnest(syms[:len(syms)-1]) AS a, unnest(syms[2:]) AS b, n
       |      FROM st)
       |      GROUP BY iter, a, b)) WHERE rk = 1),
       |dw AS (
       |  SELECT DISTINCT unnest(${toksOf("t")}) AS word FROM docs),
       |enc(iter, word, syms) AS (
       |  SELECT 0, word, regexp_extract_all(word, '.') FROM dw
       |  UNION ALL
       |  SELECT e.iter + 1, e.word,
       |    string_split(list_reduce(e.syms, (acc, x) -> CASE
       |      WHEN (acc = b.a OR ends_with(acc, chr(1) || b.a)) AND x = b.b
       |      THEN acc || x ELSE acc || chr(1) || x END), chr(1))
       |  FROM enc e JOIN best b ON b.iter = e.iter),
       |ef AS (
       |  SELECT word, syms FROM enc WHERE iter = (SELECT max(iter) FROM enc)),
       |dt AS (
       |  SELECT doc_id, unnest(toks) AS word, unnest(range(1, len(toks)+1)) AS pos
       |  FROM (SELECT doc_id, ${toksOf("t")} AS toks FROM docs)),
       |flat AS (
       |  SELECT dt.doc_id, dt.pos,
       |    unnest(ef.syms) AS subw, unnest(range(1, len(ef.syms)+1)) AS spos
       |  FROM dt JOIN ef USING (word)),
       |numbered AS (
       |  SELECT doc_id, subw,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY pos, spos) AS rn
       |  FROM flat),
       |hashed AS (
       |  SELECT doc_id, rn,
       |    list_reduce(list_transform(regexp_extract_all(subw, '.'),
       |      c -> CAST(unicode(c) AS BIGINT)),
       |      (a, b2) -> (a * 31 + b2) & 4294967295) AS h
       |  FROM numbered),
       |chk AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_subwords,
       |    CAST(sum((((CASE WHEN h >= 2147483648 THEN h - 4294967296 ELSE h END)
       |        % 50000 + 50000) % 50000 + 256) * rn) AS BIGINT) AS sub_checksum
       |  FROM hashed GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(c.n_subwords, 0) AS n_subwords,
       |  coalesce(c.sub_checksum, 0) AS sub_checksum
       |FROM documents d LEFT JOIN chk c USING (doc_id)""".stripMargin
  }

  // ---- q_unigram_logprob: LM-style quality scoring -----------------------

  /** Corpus-unigram log-probability per doc (graft.ops.Score) — the
    * perplexity-filter shape with integer-quantized per-token logprobs
    * (order-proof sums, see Score.unigramLogprobs).
    */
  def unigramLogprob(s: SparkSession, dir: String): DataFrame =
    graft.ops.Score.unigramLogprobs(Tables.documents(s, dir), "doc_id", "text")

  val unigramLogprobSql: String =
    s"""WITH t AS (SELECT doc_id, unnest(${toksSql("text")}) AS tok FROM documents),
       |v AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
       |tot AS (SELECT count(*) AS n FROM t),
       |sc AS (SELECT t.doc_id,
       |         CAST(floor(ln(CAST(v.cnt AS DOUBLE) / tot.n) * 10000) AS BIGINT) AS lp_q
       |       FROM t JOIN v USING (tok) CROSS JOIN tot)
       |SELECT d.doc_id,
       |  CAST(count(sc.lp_q) AS BIGINT) AS n_toks,
       |  CAST(coalesce(sum(sc.lp_q), 0) AS BIGINT) AS lp_sum_q
       |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
       |GROUP BY d.doc_id""".stripMargin

  // ---- q_pmi_bigrams: PMI collocation mining -----------------------------

  /** Corpus-level PMI phrase mining ([[graft.ops.Score.pmiCollocations]]):
    * adjacent-pair association over the whole corpus with a min-count
    * floor, quantized per the log-parity contract. The oracle rebuilds
    * both count tables and the identical ln-ratio expression.
    */
  def pmiBigrams(s: SparkSession, dir: String): DataFrame =
    graft.ops.Score.pmiCollocations(Tables.documents(s, dir), "text",
      minCount = 5)

  val pmiBigramsSql: String =
    s"""WITH c AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
       |t AS (SELECT unnest(toks) AS tok FROM c),
       |u AS (SELECT tok, count(*) AS c1 FROM t GROUP BY tok),
       |n1 AS (SELECT CAST(sum(c1) AS BIGINT) AS n FROM u),
       |b AS (SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
       |        i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS bg
       |      FROM c WHERE len(toks) >= 2),
       |bc AS (SELECT bg.w1 AS w1, bg.w2 AS w2, count(*) AS c12
       |       FROM b GROUP BY 1, 2),
       |n2 AS (SELECT CAST(sum(c12) AS BIGINT) AS n FROM bc),
       |f AS (SELECT * FROM bc WHERE c12 >= 5)
       |SELECT f.w1, f.w2, CAST(f.c12 AS BIGINT) AS n12,
       |  CAST(floor(ln((CAST(f.c12 AS DOUBLE) / n2.n) /
       |    ((CAST(ua.c1 AS DOUBLE) / n1.n) * (CAST(ub.c1 AS DOUBLE) / n1.n)))
       |    * 10000) AS BIGINT) AS pmi_q
       |FROM f JOIN u ua ON ua.tok = f.w1 JOIN u ub ON ub.tok = f.w2
       |CROSS JOIN n1 CROSS JOIN n2""".stripMargin

  // ---- q_url_canon: URL canonicalization for dedup keys ------------------

  /** Canonicalize a deterministically-messied URL (tracking params,
    * default port, www, fragment, case) — graft.ops.Domains. The mess is
    * synthesized from doc_id/source so the oracle rebuilds it verbatim.
    */
  def urlCanon(s: SparkSession, dir: String): DataFrame = {
    val messy = concat(lit("https://WWW."), col("source"),
      lit(".com:443/Doc/"), col("doc_id").cast("string"),
      lit("/?utm_source=feed&id="), col("doc_id").cast("string"),
      lit("&fbclid=abc#frag"))
    val canon = graft.ops.Domains.canonicalizeUrl(messy)
    Tables.documents(s, dir).select(col("doc_id"),
      canon.as("url_canon"),
      graft.ops.Domains.domainOf(canon).as("domain"))
  }

  val urlCanonSql: String =
    """WITH u AS (SELECT doc_id,
      |  lower('https://WWW.' || source || '.com:443/Doc/' || CAST(doc_id AS VARCHAR)
      |    || '/?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
      |    || '&fbclid=abc#frag') AS l
      |  FROM documents),
      |c AS (SELECT doc_id,
      |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(l,
      |    '#.*$', '', 'g'),
      |    '([?&])(utm_[a-z0-9]+|gclid|fbclid)=[^&#]*', '\1', 'g'),
      |    '\?&+', '?', 'g'),
      |    '&&+', '&', 'g'),
      |    '[?&]+$', '', 'g'),
      |    '^(https?://)www\.', '\1', 'g'),
      |    '^(http://(?:[^/?#]*@)?[^/:?#]+):80([/?]|$)', '\1\2', 'g'),
      |    '^(https://(?:[^/?#]*@)?[^/:?#]+):443([/?]|$)', '\1\2', 'g') AS nearly
      | FROM u)
      |SELECT doc_id,
      |  regexp_replace(nearly, '/$', '', 'g') AS url_canon,
      |  lower(regexp_extract(regexp_replace(nearly, '/$', '', 'g'),
      |    '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)', 1)) AS domain
      |FROM c""".stripMargin

  // ---- q_domain_cap: per-domain document caps ----------------------------

  private val DomainCap = 20

  /** Crawl-curation cap (graft.ops.Domains): synthesize the reference's
    * url column, extract the host, keep the `cap` smallest doc ids per
    * domain. The oracle states the keep rule as the per-domain
    * row_number window the engine deliberately avoids.
    */
  def domainCap(s: SparkSession, dir: String): DataFrame =
    graft.ops.Domains.capPerDomain(
        graft.Pipeline.fromDocuments(Tables.documents(s, dir)),
        urlCol = "url", idCol = "doc_id", cap = DomainCap)
      .select("doc_id", "domain", "domain_rank", "kept")

  // ---- q_bigram_logprob: bigram conditional fluency ---------------------

  def bigramLogprob(s: SparkSession, dir: String): DataFrame =
    graft.ops.Score.bigramLogprobs(Tables.documents(s, dir), "doc_id", "text")

  val bigramLogprobSql: String =
    s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
       |b AS (SELECT doc_id,
       |        unnest(toks[1 : len(toks) - 1]) AS w1,
       |        unnest(toks[2 : len(toks)]) AS w2
       |      FROM t WHERE len(toks) >= 2),
       |cb AS (SELECT w1, w2, count(*) AS cb FROM b GROUP BY 1, 2),
       |cs AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cs FROM cb GROUP BY w1),
       |sc AS (SELECT b.doc_id,
       |         CAST(floor(ln(CAST(cb.cb AS DOUBLE) / CAST(cs.cs AS DOUBLE)) * 10000) AS BIGINT) AS blp_q
       |       FROM b JOIN cb USING (w1, w2) JOIN cs USING (w1)),
       |agg AS (SELECT doc_id, count(*) AS n_bigrams,
       |          CAST(sum(blp_q) AS BIGINT) AS blp_sum_q
       |        FROM sc GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |  CAST(coalesce(a.blp_sum_q, 0) AS BIGINT) AS blp_sum_q
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin

  // ---- q_corr_chars_words: grouped Pearson correlation ------------------

  /** Per-source correlation between character and word counts
    * (ops.Report.corrGrouped — exact integer moments, not Spark's
    * partition-order-sensitive `corr`).
    */
  def corrCharsWords(s: SparkSession, dir: String): DataFrame =
    graft.ops.Report.corrGrouped(
      Tables.documents(s, dir).withColumn("n_words",
        size(graft.text.TextMetrics.tokens(col("text"))).cast("long")),
      "source", "n_chars", "n_words")

  val corrCharsWordsSql: String =
    s"""WITH t AS (SELECT source, n_chars,
       |             CAST(len(${toksSql("text")}) AS BIGINT) AS n_words
       |           FROM documents),
       |a AS (SELECT source, count(*) AS n,
       |        CAST(sum(n_chars) AS BIGINT) AS sx,
       |        CAST(sum(n_words) AS BIGINT) AS sy,
       |        CAST(sum(n_chars * n_words) AS BIGINT) AS sxy,
       |        CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx,
       |        CAST(sum(n_words * n_words) AS BIGINT) AS syy
       |      FROM t
       |      WHERE n_chars IS NOT NULL AND n_words IS NOT NULL
       |      GROUP BY source)
       |SELECT source, CAST(n AS BIGINT) AS n,
       |  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0.0
       |        AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0.0
       |  THEN CAST(floor(
       |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
       |    sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
       |         (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       |    * 10000.0) AS BIGINT)
       |  END AS corr_q
       |FROM a""".stripMargin

  /** The composed curation gauntlet, end to end in ONE hash-checked
    * artifact: Gopher gate → C4 gate → exact dedup among survivors →
    * quality-ordered token-budget cut over what remains — the
    * literature-stack analogue of q_pipeline_graded_full, turning four
    * independently-green stage checks into one end-to-end proof that
    * the stages COMPOSE (the dedup windows see only gate survivors;
    * the budget's running total orders only post-dedup docs). Output:
    * one row per input document with its final disposition
    * (first-cut-wins: gopher:<reason> / c4:<reason> / dup_exact /
    * over_budget / kept) and the tokens it contributes if kept.
    */
  def curationE2e(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.{Curation, Dedup, Sampling}
    val docs = Tables.documents(s, dir)
    // STRUCTURAL Gopher subset: the stopword rule is last in the
    // first-match-wins chain and would cut the ENTIRE synthetic corpus
    // (its vocabulary contains no English stopwords), leaving the
    // downstream dedup/budget stages unexercised — so the composed
    // gauntlet gates on the corpus-independent structural rules and
    // the stopword rule stays proven by q_gopher_rules itself. Being
    // last in the chain, masking it cannot hide a structural reason.
    val g = Curation.gopherRules(Curation.gopherSignals(docs, "text"))
      .select(col("doc_id"),
        when(col("gopher_reason") === "insufficient_stopwords", lit(null))
          .otherwise(col("gopher_reason")).as("gopher_reason"))
    val c = Curation.c4Rules(docs).select(col("doc_id"), col("c4_reason"))
    // gates and dd are each consumed TWICE (survivor/scored filters,
    // then the final disposition join-back) — without the persists the
    // assemble stage re-runs the whole gopher/C4 signal chain and the
    // dedup windows (catalog-managed, narrow doc_id+flag frames;
    // measured at the 100x layout: q_curation_e2e 194.0 -> 132.5 s
    // min-of-3 — the assembled chain now beats its own budget-only
    // prefix because every stage reuses the cached gates/dd)
    val gates = Persisted(docs.select("doc_id").join(g, Seq("doc_id"))
      .join(c, Seq("doc_id")))
    val survivors = gates
      .filter(col("gopher_reason").isNull && col("c4_reason").isNull)
      .select("doc_id")
    val dd = Persisted(
      Dedup.exactDedup(docs.join(survivors, Seq("doc_id")), textCol = "text")
        .select(col("doc_id"), col("is_dup_exact")))
    val scored = qualityScore(s, dir)
      .select("doc_id", "token_count", "quality_score")
      .join(dd.filter(!col("is_dup_exact")).select("doc_id"), Seq("doc_id"))
    val sel = Sampling.budgetSelect(scored, "doc_id", "quality_score",
      "token_count", SelectBudget)
      .select(col("doc_id"), col("token_count"), col("kept"))
    gates
      .join(dd, Seq("doc_id"), "left")
      .join(sel, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("gopher_reason").isNotNull,
          concat(lit("gopher:"), col("gopher_reason")))
          .when(col("c4_reason").isNotNull,
            concat(lit("c4:"), col("c4_reason")))
          .when(col("is_dup_exact"), lit("dup_exact"))
          .when(!col("kept"), lit("over_budget"))
          .otherwise(lit("kept")).as("disposition"),
        when(col("kept"), col("token_count")).otherwise(lit(0L))
          .cast("long").as("tokens_kept"))
  }

  val curationE2eSql: String =
    s"""WITH gop AS (SELECT doc_id,
       |    CASE WHEN gopher_reason = 'insufficient_stopwords' THEN NULL
       |         ELSE gopher_reason END AS gopher_reason
       |  FROM (${graft.queries.CurationQueries.gopherRulesSql})),
       |c4g AS (SELECT doc_id, c4_reason
       |  FROM (${graft.queries.CurationQueries.c4FiltersSql})),
       |surv AS (SELECT d.doc_id, d.text FROM documents d
       |  JOIN gop USING (doc_id) JOIN c4g USING (doc_id)
       |  WHERE gopher_reason IS NULL AND c4_reason IS NULL),
       |dd AS (SELECT doc_id, row_number() OVER (
       |    PARTITION BY sha256(trim(regexp_replace(lower(coalesce(text, '')),
       |      '\\s+', ' ', 'g')))
       |    ORDER BY doc_id) AS rn FROM surv),
       |$qualityCtesSql,
       |sel AS (SELECT q.doc_id, q.token_count,
       |    coalesce(sum(q.token_count) OVER (
       |      ORDER BY q.quality_score DESC, q.doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM q JOIN dd ON q.doc_id = dd.doc_id AND dd.rn = 1)
       |SELECT d.doc_id,
       |  CASE WHEN gop.gopher_reason IS NOT NULL THEN 'gopher:' || gop.gopher_reason
       |       WHEN c4g.c4_reason IS NOT NULL THEN 'c4:' || c4g.c4_reason
       |       WHEN dd.rn > 1 THEN 'dup_exact'
       |       WHEN sel.cum_before + sel.token_count > $SelectBudget
       |         THEN 'over_budget'
       |       ELSE 'kept' END AS disposition,
       |  CAST(CASE WHEN gop.gopher_reason IS NULL AND c4g.c4_reason IS NULL
       |         AND dd.rn = 1
       |         AND sel.cum_before + sel.token_count <= $SelectBudget
       |       THEN sel.token_count ELSE 0 END AS BIGINT) AS tokens_kept
       |FROM documents d
       |JOIN gop USING (doc_id) JOIN c4g USING (doc_id)
       |LEFT JOIN dd USING (doc_id) LEFT JOIN sel USING (doc_id)""".stripMargin

  /** Flesch reading-ease (Flesch 1948 — the classic readability
    * heuristic curation stacks keep next to length/stopword ratios):
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words), with
    * sentences = [.!?]+ runs (floor 1) and syllables = vowel-group
    * count per word (floor 1 — the standard cheap approximation).
    * All three counts are integers both engines extract with the same
    * RE2-safe patterns; the final expression is mirrored IEEE
    * arithmetic, floor-quantized ×100. Contract: docs with ≥1 word
    * (division domain); per-row, shuffle-free — at 100 TB this is a
    * scan-speed column like the other quality features.
    */
  def readability(s: SparkSession, dir: String): DataFrame =
    readabilityOf(graft.Tables.documents(s, dir))

  /** The column logic over any (doc_id, text) frame — split out so the
    * spec can pin hand-computed rows and hostile text directly.
    */
  def readabilityOf(docs: DataFrame): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    val toks = graft.text.TextMetrics.tokens(t)
    val nWords = size(toks).cast("long")
    val nSent = greatest(lit(1L), regexp_count(t, lit("[.!?]+")).cast("long"))
    val nSyl = aggregate(
      transform(toks, w =>
        greatest(lit(1L), regexp_count(lower(w), lit("[aeiouy]+")).cast("long"))),
      lit(0L), (acc, x) => acc + x)
    val score = lit(206.835) -
      lit(1.015) * (nWords.cast("double") / nSent.cast("double")) -
      lit(84.6) * (nSyl.cast("double") / nWords.cast("double"))
    // contract filter FIRST: under ANSI mode the score's divisions must
    // never see a 0-word row (DIVIDE_BY_ZERO is an error, not a NULL)
    docs.filter(size(toks) >= 1)
      .select(col("doc_id"), nWords.as("n_words"), nSent.as("n_sentences"),
        nSyl.as("n_syllables"),
        floor(score * lit(100.0)).cast("long").as("flesch_q"))
  }

  val readabilitySql: String = {
    val toks = graft.queries.OracleSql.toks("coalesce(text, '')")
    s"""WITH t AS (SELECT doc_id, coalesce(text, '') AS txt, $toks AS toks
       |  FROM documents),
       |c AS (SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_words,
       |    greatest(1, CAST(len(regexp_extract_all(txt, '[.!?]+')) AS BIGINT))
       |      AS n_sentences,
       |    CAST(list_aggregate(list_transform(toks, w ->
       |      greatest(1, len(regexp_extract_all(lower(w), '[aeiouy]+')))),
       |      'sum') AS BIGINT) AS n_syllables
       |  FROM t)
       |SELECT doc_id, n_words, n_sentences, n_syllables,
       |  CAST(floor((CAST(206835 AS DOUBLE) / 1000
       |    - (CAST(1015 AS DOUBLE) / 1000)
       |      * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
       |    - (CAST(846 AS DOUBLE) / 10)
       |      * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)))
       |    * 100) AS BIGINT) AS flesch_q
       |FROM c WHERE n_words >= 1""".stripMargin
  }

  val domainCapSql: String =
    s"""WITH u AS (SELECT doc_id,
       |             'https://' || source || '/doc/' || CAST(doc_id AS VARCHAR) AS url
       |           FROM documents),
       |d AS (SELECT doc_id, lower(regexp_extract(url,
       |        '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)', 1)) AS domain
       |      FROM u),
       |r AS (SELECT doc_id, domain,
       |        row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
       |      FROM d)
       |SELECT doc_id, domain,
       |  CASE WHEN rn <= $DomainCap THEN rn ELSE NULL END AS domain_rank,
       |  rn <= $DomainCap AS kept
       |FROM r""".stripMargin

  // ---- q_code_detect: code-vs-prose routing heuristic --------------------

  /** Code-vs-prose routing — the StarCoder/Pile-style pre-filter
    * reduced to its deterministic core: production pipelines route
    * code through different cleaning (no NFKC, no boilerplate lines,
    * different dedup granularity), so the corpus needs the routing
    * BIT before stage 2. Three integer signals per doc: code-symbol
    * density (per-mille of `{}[]();=<>#` chars), indented-line share
    * (lines opening with two spaces or a tab), and whitespace-token
    * keyword hits from a fixed 14-word set (via the TokensInSet
    * kernel). `is_code` = symbols ≥ 50‰ AND (≥2 keywords OR
    * indentation ≥ 300‰) — thresholds are the documented heuristic,
    * not learned. Every 6th doc self-seeds a code scaffold so the
    * rule demonstrably fires. Zero shuffles; all ratios division-free
    * until the final per-mille (exact BIGINT `div` both engines).
    */
  val CodeKeywords = Seq("def", "class", "import", "return", "function",
    "const", "var", "public", "void", "#include", "fn", "lambda", "{", "}")

  def codeDetect(s: SparkSession, dir: String): DataFrame = {
    // seeded docs BECOME a code file (replacing, not appending: a
    // snippet pasted into long prose rightly stays prose) — doc_id in
    // the body keeps seeded contents distinct per doc
    val scaffold = concat(
      lit("def f(x):\n  return {x: [1, 2]};\n  y = (x <= "),
      (col("doc_id") % 7).cast("string"),
      lit(");\nclass A:\n  import os\n  def g():\n    return [x];\n"))
    val t = when(col("doc_id") % 6 === 0, scaffold)
      .otherwise(coalesce(col("text"), lit("")))
    val symbols =
      (length(t) - length(regexp_replace(t, "[{}\\[\\]();=<>#]", "")))
        .cast("long")
    val lines = split(t, "\n")
    val indented = size(filter(lines,
      l => l.startsWith("  ") || l.startsWith("\t"))).cast("long")
    val nLines = size(lines).cast("long")
    val kw = size(graft.plans.TokensInSet(
      graft.text.TextMetrics.tokens(t), CodeKeywords)).cast("long")
    Tables.documents(s, dir).select(col("doc_id"),
        (col("doc_id") % 6 === 0).as("is_seeded"),
        kw.as("kw_hits"),
        symbols.as("__sym"), indented.as("__ind"), nLines.as("__nl"),
        greatest(length(t).cast("long"), lit(1L)).as("__nc"))
      .withColumn("symbol_permille", expr("__sym * 1000 div __nc"))
      .withColumn("indent_permille", expr("__ind * 1000 div greatest(__nl, 1)"))
      .withColumn("is_code", col("symbol_permille") >= 50 &&
        (col("kw_hits") >= 2 || col("indent_permille") >= 300))
      .drop("__sym", "__ind", "__nl", "__nc")
  }

  val codeDetectSql: String = {
    val kws = CodeKeywords.map(k => s"'$k'").mkString("[", ", ", "]")
    s"""WITH d AS (SELECT doc_id,
       |  CASE WHEN doc_id % 6 = 0 THEN
       |    'def f(x):' || chr(10) || '  return {x: [1, 2]};' || chr(10)
       |    || '  y = (x <= ' || CAST(doc_id % 7 AS VARCHAR) || ');' || chr(10)
       |    || 'class A:' || chr(10) || '  import os' || chr(10)
       |    || '  def g():' || chr(10) || '    return [x];' || chr(10)
       |  ELSE coalesce(text, '') END AS t
       | FROM documents),
       |m AS (SELECT doc_id,
       |  CAST(len(t) - len(regexp_replace(t, '[{}\\[\\]();=<>#]', '', 'g'))
       |    AS BIGINT) AS n_sym,
       |  CAST(len(list_filter(string_split(t, chr(10)),
       |    l -> starts_with(l, '  ') OR starts_with(l, chr(9)))) AS BIGINT) AS n_ind,
       |  CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines,
       |  CAST(len(list_filter(${OracleSql.toks("t")},
       |    x -> list_contains($kws, x))) AS BIGINT) AS kw_hits,
       |  greatest(CAST(len(t) AS BIGINT), 1) AS n_chars1
       | FROM d)
       |SELECT doc_id, doc_id % 6 = 0 AS is_seeded, kw_hits,
       |  n_sym * 1000 // n_chars1 AS symbol_permille,
       |  n_ind * 1000 // greatest(n_lines, 1) AS indent_permille,
       |  n_sym * 1000 // n_chars1 >= 50
       |    AND (kw_hits >= 2 OR n_ind * 1000 // greatest(n_lines, 1) >= 300)
       |    AS is_code
       |FROM m""".stripMargin
  }

  // ---- q_markdown_strip: markdown -> plain-text normalization ------------

  /** Markdown normalization — the web-adjacent sibling of the HTML tag
    * strip: corpora mined from READMEs, forums and docs carry markdown
    * syntax that inflates token counts and pollutes n-gram statistics.
    * The ordered chain (fences → images → links → emphasis → inline
    * code → headers) keeps the VISIBLE text (link/image alt text,
    * emphasized words) and drops the syntax. Every pattern is
    * RE2-clean (no pattern backreferences); replacement group refs are
    * `$$1` under java.util.regex and `\\1` under RE2 — syntax differs,
    * semantics identical, and the oracle md5 of the full output pins
    * them byte for byte. Every 4th doc self-seeds a scaffold
    * exercising all six constructs. Zero shuffles.
    */
  def markdownStrip(s: SparkSession, dir: String): DataFrame = {
    val scaffold = concat(
      lit("# Title "), col("doc_id").cast("string"),
      lit("\n**bold** *ital* [link](https://x) ![img](y.png) `code`\n" +
        "```\nfenced block\n```\n## Sub\n"),
      coalesce(col("text"), lit("")))
    val md = when(col("doc_id") % 4 === 0, scaffold)
      .otherwise(coalesce(col("text"), lit("")))
    // the compiled linear chain — the regex form it replaced is the
    // parity anchor in MarkdownScanSpec, which fuzzes them equal
    // (several patterns are quadratic under java.util.regex on
    // unclosed-opener floods)
    val out = graft.plans.MarkdownStrip(md)
    Tables.documents(s, dir).select(col("doc_id"),
      (col("doc_id") % 4 === 0).as("is_seeded"),
      length(out).cast("long").as("plain_len"),
      md5(out).as("plain_md5"))
  }

  val markdownStripSql: String =
    """WITH d AS (SELECT doc_id,
      |  CASE WHEN doc_id % 4 = 0 THEN
      |    '# Title ' || CAST(doc_id AS VARCHAR) || chr(10)
      |    || '**bold** *ital* [link](https://x) ![img](y.png) `code`' || chr(10)
      |    || '```' || chr(10) || 'fenced block' || chr(10) || '```' || chr(10)
      |    || '## Sub' || chr(10) || coalesce(text, '')
      |  ELSE coalesce(text, '') END AS md
      | FROM documents),
      |o AS (SELECT doc_id,
      |  regexp_replace(
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(
      |          regexp_replace(
      |            regexp_replace(md, '(?s)```.*?```', '', 'g'),
      |            '!\[([^\]]*)\]\(([^)]*)\)', '\1', 'g'),
      |          '\[([^\]]*)\]\(([^)]*)\)', '\1', 'g'),
      |        '\*{1,3}([^*]+)\*{1,3}', '\1', 'g'),
      |      '`([^`]+)`', '\1', 'g'),
      |    '(?m)^#{1,6}[ \t]+', '', 'g') AS plain
      | FROM d)
      |SELECT doc_id, doc_id % 4 = 0 AS is_seeded,
      |  CAST(len(plain) AS BIGINT) AS plain_len, md5(plain) AS plain_md5
      |FROM o""".stripMargin

  // ---- q_fim_transform: fill-in-the-middle training reordering -----------

  /** The FIM data transform for code/infilling models (Bavarian et al.
    * 2022, "Efficient Training of Language Models to Fill in the
    * Middle"): with rate ~[[FimRatePct]]% a document is reordered into
    * PSM form `<PRE>prefix<SUF>suffix<MID>middle`, teaching the model
    * to infill; the rest pass through unchanged. Both the gate and the
    * two cut points are md5-derived (the epochShuffle convention:
    * hash-derived, not seeded-RNG, so the transform is resumable,
    * layout-invariant and ORACLE-EXACT — the paper samples uniformly,
    * this derives deterministically). Cuts are character positions in
    * [0, n]; prefix+middle+suffix is always a permutation-free
    * partition of the original text (spec-pinned reassembly). Pure
    * per-row string arithmetic, zero shuffles.
    */
  val FimRatePct = 50

  def fimTransform(s: SparkSession, dir: String): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    val n = length(t).cast("long")
    def h(tag: String) =
      conv(substring(md5(concat(lit(tag), col("doc_id").cast("string"))),
        1, 8), 16, 10).cast("long")
    val gate = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
      16, 10).cast("long") % 100
    val c1 = h("fim1:") % (n + 1)
    val c2 = h("fim2:") % (n + 1)
    val lo = least(c1, c2)
    val hi = greatest(c1, c2)
    val ft = when(gate < FimRatePct, concat(
        lit("<PRE>"), t.substr(lit(1), lo.cast("int")),
        lit("<SUF>"), t.substr((hi + 1).cast("int"), n.cast("int")),
        lit("<MID>"), t.substr((lo + 1).cast("int"), (hi - lo).cast("int"))))
      .otherwise(t)
    Tables.documents(s, dir).select(col("doc_id"),
      (gate < FimRatePct).as("is_fim"),
      lo.as("cut_lo"), hi.as("cut_hi"),
      length(ft).cast("long").as("fim_len"),
      md5(ft).as("fim_md5"))
  }

  val fimTransformSql: String =
    s"""WITH d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
       |c AS (SELECT doc_id, t, len(t) AS n,
       |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 100 AS gate,
       |  CAST('0x' || substr(md5('fim1:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS h1,
       |  CAST('0x' || substr(md5('fim2:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS h2
       | FROM d),
       |s AS (SELECT doc_id, t, gate < $FimRatePct AS is_fim,
       |  least(h1 % (n + 1), h2 % (n + 1)) AS lo,
       |  greatest(h1 % (n + 1), h2 % (n + 1)) AS hi
       | FROM c),
       |f AS (SELECT doc_id, is_fim, lo, hi,
       |  CASE WHEN is_fim THEN
       |    '<PRE>' || substr(t, 1, CAST(lo AS INT))
       |    || '<SUF>' || substr(t, CAST(hi AS INT) + 1)
       |    || '<MID>' || substr(t, CAST(lo AS INT) + 1, CAST(hi - lo AS INT))
       |  ELSE t END AS ft
       | FROM s)
       |SELECT doc_id, is_fim, CAST(lo AS BIGINT) AS cut_lo,
       |  CAST(hi AS BIGINT) AS cut_hi,
       |  CAST(len(ft) AS BIGINT) AS fim_len, md5(ft) AS fim_md5
       |FROM f""".stripMargin

  // ---- q_content_extract: link-density main-content extraction ----------

  /** Main-content extraction by BLOCK-level link density — the
    * Boilerpipe/trafilatura-class web-extraction step reduced to its
    * deterministic core (the reference's P3 removes boilerplate LINES
    * by phrase lists; this removes STRUCTURAL chrome no phrase list
    * can enumerate): split into paragraph blocks, strip tags per block
    * (the P2 kernel's `'<[^>]+>' -> ' '` semantics: tags act as
    * separators, so adjacent words never fuse), measure each
    * block's anchor-text share via `<a(?:\s[^>]*)?>(.*?)</a>` (lazy;
    * java's dot excludes \n, \r, NEL and U+2028/9 while RE2's
    * excludes only \n — see the dialect note on
    * [[graft.plans.MarkdownScan.anchorTextLen]] — so the divergent
    * terminators are NORMALIZED to \n before the block split, in both
    * engines: \r\n collapses to one \n, stray \r/NEL/LS/PS map to \n.
    * Blocks then carry no character the two dialects disagree on and
    * the oracle contract holds for ANY corpus, not just one free of
    * those shapes), and keep blocks that are long enough (≥ $ExtractMinLen visible
    * chars) AND not link-dominated (anchor·1000 < $ExtractMaxPermille
    * ·visible — the division-free integer cross-multiply). Every 3rd
    * doc is self-seeded with a nav-bar scaffold (five links, visible
    * length above the floor) so the DENSITY rule demonstrably fires,
    * and the content `<p>` block survives with its tags stripped.
    * Pure per-row HOF work — zero shuffles, and every quantity is a
    * string/integer both engines replay (main text is md5'd so the
    * hash check pins the exact extracted bytes).
    */
  val ExtractMinLen = 20
  val ExtractMaxPermille = 500

  def contentExtract(s: SparkSession, dir: String): DataFrame = {
    val nav = "<div><a href=\"#\">Home</a> <a href=\"#\">About</a> " +
      "<a href=\"#\">Contact</a> <a href=\"#\">Careers</a> " +
      "<a href=\"#\">Blog</a></div>"
    val html = when(col("doc_id") % 3 === 0,
        concat(lit(nav + "\n\n<p>"), coalesce(col("text"), lit("")), lit("</p>")))
      .otherwise(coalesce(col("text"), lit("")))
    // dialect-divergent terminators out before the split (doc above)
    val norm = translate(regexp_replace(html, "\r\n", "\n"),
      "\r\u0085\u2028\u2029", "\n\n\n\n")
    val blocks = split(norm, "\n\n")
    // both per-block measures run compiled linear scanners: StripTags
    // (the P2 kernel) and AnchorTextLen (the anchor pattern is O(n²)
    // under java.util.regex on `<a x><a x>…` floods before a newline —
    // see plans/MarkdownScan; MarkdownScanSpec keeps the regex form as
    // the parity anchor)
    val stats = transform(blocks, b => struct(
      graft.plans.StripTags(b).as("vis"),
      graft.plans.AnchorTextLen(b).as("alen")))
    val kept = filter(stats, st =>
      length(st.getField("vis")) >= ExtractMinLen &&
        st.getField("alen") * 1000 <
          greatest(length(st.getField("vis")), lit(1)) * ExtractMaxPermille)
    val main = array_join(transform(kept, st => st.getField("vis")), "\n\n")
    Tables.documents(s, dir).select(col("doc_id"),
      size(blocks).cast("long").as("n_blocks"),
      size(kept).cast("long").as("n_kept"),
      length(main).cast("long").as("main_len"),
      md5(main).as("main_md5"))
  }

  val contentExtractSql: String = {
    val nav = "<div><a href=\"#\">Home</a> <a href=\"#\">About</a> " +
      "<a href=\"#\">Contact</a> <a href=\"#\">Careers</a> " +
      "<a href=\"#\">Blog</a></div>"
    // SQL string literals are single-quoted: only ' needs escaping —
    // the double quotes inside the href attributes pass through as-is
    // (they MUST, or the two engines would hash different nav bytes)
    val navSql = nav.replace("'", "''")
    s"""WITH d0 AS (SELECT doc_id,
       |  CASE WHEN doc_id % 3 = 0
       |    THEN '$navSql' || chr(10) || chr(10) || '<p>' || coalesce(text, '') || '</p>'
       |    ELSE coalesce(text, '') END AS html
       | FROM documents),
       |d AS (SELECT doc_id,
       |  replace(replace(replace(replace(replace(html,
       |    chr(13) || chr(10), chr(10)), chr(13), chr(10)),
       |    chr(133), chr(10)), chr(8232), chr(10)), chr(8233), chr(10)) AS html
       | FROM d0),
       |bl AS (SELECT doc_id, string_split(html, chr(10) || chr(10)) AS blks FROM d),
       |bi AS (SELECT doc_id, blks,
       |         unnest(generate_series(1, len(blks))) AS i FROM bl),
       |b AS (SELECT doc_id, i, blks[i] AS blk FROM bi),
       |v AS (SELECT doc_id, i,
       |  regexp_replace(blk, '<[^>]+>', ' ', 'g') AS vis,
       |  CASE WHEN len(regexp_extract_all(blk, '<a(?:\\s[^>]*)?>(.*?)</a>', 1)) = 0
       |       THEN 0
       |       ELSE list_reduce(list_transform(
       |         regexp_extract_all(blk, '<a(?:\\s[^>]*)?>(.*?)</a>', 1),
       |         x -> len(x)), (a, b) -> a + b) END AS alen
       | FROM b),
       |k AS (SELECT doc_id, i, vis FROM v
       |      WHERE len(vis) >= $ExtractMinLen
       |        AND alen * 1000 < $ExtractMaxPermille * greatest(len(vis), 1)),
       |nb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks FROM b GROUP BY 1),
       |mk AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |         string_agg(vis, chr(10) || chr(10) ORDER BY i) AS main
       |       FROM k GROUP BY 1)
       |SELECT nb.doc_id, nb.n_blocks,
       |  coalesce(mk.n_kept, 0) AS n_kept,
       |  CAST(len(coalesce(mk.main, '')) AS BIGINT) AS main_len,
       |  md5(coalesce(mk.main, '')) AS main_md5
       |FROM nb LEFT JOIN mk USING (doc_id)""".stripMargin
  }
}
