package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Curation, KMeans}
import graft.Persisted

/** Published corpus-curation heuristics as standalone oracle-checked
  * queries: Gopher quality rules, Gopher/RefinedWeb repetition signals,
  * DSIR importance weights, and unsupervised k-means centroid training
  * for the IVF index (graft.ops.Curation, graft.ops.KMeans).
  */
object CurationQueries {

  // same whitespace tokenization contract as DocQueries.toksSql
  private def toksSql(t: String) = OracleSql.toks(t)

  /** DuckDB mirror of Curation.dsirBucket — ONE definition so the
    * md5-bucket formula cannot drift between the queries that share
    * the feature space (dsir weights/selection, source KL).
    */
  private def bucketSql(tok: String): String =
    s"""(instr('0123456789abcdef', substr(md5($tok), 1, 1)) - 1) * 16
       |  + (instr('0123456789abcdef', substr(md5($tok), 2, 1)) - 1)""".stripMargin

  // ---- q_gopher_rules: Gopher document-quality gate ---------------------

  def gopherRules(s: SparkSession, dir: String): DataFrame =
    Curation.gopherRules(
      Curation.gopherSignals(Tables.documents(s, dir), "text"))
      .select("doc_id", "n_words", "mean_word_len_q", "alpha_word_frac_q",
        "symbol_ratio_q", "stop_hits", "gopher_reason", "gopher_keep")

  /** The Gopher gate CTE chain (ends at `r`: doc_id, signals,
    * gopher_reason), kept as a reusable chain like the BM25/quality
    * ones.
    */
  private val gopherCtesSql: String = {
    val stop = Curation.GopherStopwords.mkString("['", "', '", "']")
    s"""t AS (SELECT doc_id, text, ${toksSql("text")} AS toks FROM documents),
       |s AS (SELECT doc_id, len(toks) AS n,
       |  coalesce(list_sum(list_transform(toks, t -> CAST(length(t) AS BIGINT))), 0) AS sum_len,
       |  len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS alpha_words,
       |  len(list_filter($stop,
       |    w -> list_contains(list_transform(toks, t -> lower(t)), w))) AS stop_hits,
       |  CASE WHEN text IS NULL THEN 0
       |       ELSE len(regexp_extract_all(text, '#|\\.\\.\\.')) END AS symbol_hits
       | FROM t),
       |q AS (SELECT doc_id, CAST(n AS BIGINT) AS n_words,
       |  CASE WHEN n > 0 THEN CAST(floor(CAST(sum_len AS DOUBLE) * 10000.0 / CAST(n AS DOUBLE)) AS BIGINT) ELSE 0 END AS mean_word_len_q,
       |  CASE WHEN n > 0 THEN CAST(floor(CAST(alpha_words AS DOUBLE) * 10000.0 / CAST(n AS DOUBLE)) AS BIGINT) ELSE 0 END AS alpha_word_frac_q,
       |  CASE WHEN n > 0 THEN CAST(floor(CAST(symbol_hits AS DOUBLE) * 10000.0 / CAST(n AS DOUBLE)) AS BIGINT) ELSE 0 END AS symbol_ratio_q,
       |  CAST(stop_hits AS BIGINT) AS stop_hits
       | FROM s),
       |r AS (SELECT *,
       |  CASE WHEN n_words < ${Curation.GopherMinWords} THEN 'too_few_words'
       |       WHEN n_words > ${Curation.GopherMaxWords} THEN 'too_many_words'
       |       WHEN mean_word_len_q < ${Curation.GopherMinMeanWordLenQ}
       |         OR mean_word_len_q > ${Curation.GopherMaxMeanWordLenQ} THEN 'mean_word_len_out_of_range'
       |       WHEN symbol_ratio_q > ${Curation.GopherMaxSymbolRatioQ} THEN 'high_symbol_ratio'
       |       WHEN alpha_word_frac_q < ${Curation.GopherMinAlphaWordFracQ} THEN 'low_alpha_word_frac'
       |       WHEN stop_hits < ${Curation.GopherMinStopHits} THEN 'insufficient_stopwords'
       |  END AS gopher_reason FROM q)""".stripMargin
  }

  val gopherRulesSql: String =
    s"""WITH $gopherCtesSql
       |SELECT doc_id, n_words, mean_word_len_q, alpha_word_frac_q,
       |  symbol_ratio_q, stop_hits, gopher_reason,
       |  gopher_reason IS NULL AS gopher_keep
       |FROM r""".stripMargin

  // ---- q_dup_ngrams: repetition signals ---------------------------------

  def dupNgrams(s: SparkSession, dir: String): DataFrame =
    Curation.dupNgramStats(Tables.documents(s, dir), "text")
      .select("doc_id", "n_words", "total_chars",
        "top2gram_frac_q", "dup3gram_frac_q")

  val dupNgramsSql: String =
    s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
       |g AS (SELECT doc_id, len(toks) AS n,
       |  coalesce(list_sum(list_transform(toks, t -> CAST(length(t) AS BIGINT))), 0) AS total_chars,
       |  CASE WHEN len(toks) >= 2 THEN
       |    list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1])
       |  ELSE CAST([] AS VARCHAR[]) END AS g2,
       |  CASE WHEN len(toks) >= 3 THEN
       |    list_transform(generate_series(1, len(toks) - 2), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
       |  ELSE CAST([] AS VARCHAR[]) END AS g3
       | FROM t),
       |w AS (SELECT doc_id, n, total_chars,
       |  coalesce(list_max(list_transform(list_distinct(g2),
       |    x -> CAST(len(list_filter(g2, y -> y = x)) * length(replace(x, ' ', '')) AS BIGINT))), 0) AS top2_num,
       |  coalesce(list_sum(list_transform(list_distinct(g3),
       |    x -> CASE WHEN len(list_filter(g3, y -> y = x)) > 1
       |      THEN CAST(len(list_filter(g3, y -> y = x)) * length(replace(x, ' ', '')) AS BIGINT)
       |      ELSE 0 END)), 0) AS dup3_num
       | FROM g)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_words, CAST(total_chars AS BIGINT) AS total_chars,
       |  CASE WHEN total_chars > 0 THEN CAST(floor(CAST(top2_num AS DOUBLE) * 10000.0 / CAST(total_chars AS DOUBLE)) AS BIGINT) ELSE 0 END AS top2gram_frac_q,
       |  CASE WHEN total_chars > 0 THEN CAST(floor(CAST(dup3_num AS DOUBLE) * 10000.0 / CAST(total_chars AS DOUBLE)) AS BIGINT) ELSE 0 END AS dup3gram_frac_q
       |FROM w""".stripMargin

  // ---- q_dsir_weights: hashed-unigram importance weights ----------------

  /** Target slice = doc_id % 10 == 0 (the same deterministic split the
    * contamination queries use); every other doc gets a DSIR log-weight.
    */
  def dsirWeights(s: SparkSession, dir: String): DataFrame =
    Curation.dsirLogWeights(Tables.documents(s, dir), "doc_id", "text",
      isTarget = col("doc_id") % 10 === 0)

  val dsirWeightsSql: String = {
    val b = Curation.DsirBuckets
    s"""WITH tk AS (SELECT doc_id, (doc_id % 10 = 0) AS tgt, unnest(${toksSql("text")}) AS tok
       |           FROM documents),
       |bk AS (SELECT doc_id, tgt,
       |  ${bucketSql("tok")} AS bucket
       | FROM tk),
       |dist AS (SELECT bucket,
       |    CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
       |    CAST(sum(CASE WHEN NOT tgt THEN 1 ELSE 0 END) AS BIGINT) AS cc
       |  FROM bk GROUP BY bucket),
       |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cc) AS BIGINT) AS nc FROM dist),
       |lr AS (SELECT bucket,
       |    CAST(floor(ln((CAST(ct + 1 AS DOUBLE) * CAST(nc + $b AS DOUBLE))
       |      / (CAST(cc + 1 AS DOUBLE) * CAST(nt + $b AS DOUBLE))) * 10000.0) AS BIGINT) AS lr_q
       |  FROM dist CROSS JOIN tot),
       |sc AS (SELECT bk.doc_id, count(*) AS n_toks, sum(lr.lr_q) AS dsir_q
       |       FROM bk JOIN lr USING (bucket) WHERE NOT bk.tgt GROUP BY bk.doc_id)
       |SELECT d.doc_id, CAST(coalesce(sc.n_toks, 0) AS BIGINT) AS n_toks,
       |  CAST(coalesce(sc.dsir_q, 0) AS BIGINT) AS dsir_q
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
       |LEFT JOIN sc USING (doc_id)""".stripMargin
  }

  // ---- q_kmeans: Lloyd centroid training over the embeddings ------------

  private val KmK = 4
  private val KmIters = 2

  /** Per-cluster training report after 2 integer-quantized Lloyd rounds:
    * member count, inertia (sum of scaled squared distances under the
    * round-2 assignment), and the first four components of the final
    * centroid. The oracle unrolls the same two rounds as CTEs.
    */
  def kmeansTrain(s: SparkSession, dir: String): DataFrame = {
    val (assigned, cents) = KMeans.lloyd(Tables.embeddings(s, dir),
      k = KmK, iters = KmIters, dim = Tables.EmbeddingDim)
    assigned.groupBy("cluster")
      .agg(count(lit(1)).as("n_members"), sum("dist_q").as("inertia_q"))
      .join(cents, Seq("cluster"))
      .select(col("cluster").cast("long").as("cluster_id"), col("n_members"),
        col("inertia_q"),
        element_at(col("cv"), 1).as("c1_q"), element_at(col("cv"), 2).as("c2_q"),
        element_at(col("cv"), 3).as("c3_q"), element_at(col("cv"), 4).as("c4_q"))
  }

  private def centCte(from: String, to: String) =
    s"""$to AS (SELECT cluster, list(c ORDER BY p) AS cv FROM (
       |  SELECT cluster, p, CAST(floor(avg(qv[p])) AS BIGINT) AS c
       |  FROM $from CROSS JOIN pos GROUP BY cluster, p) GROUP BY cluster)""".stripMargin

  private def assignCte(cents: String, to: String) =
    s"""$to AS (SELECT vec_id, qv, cluster, dist FROM (
       |  SELECT vec_id, qv, cluster, dist,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
       |  FROM (SELECT e.vec_id, e.qv, c.cluster,
       |          list_sum(list_transform(generate_series(1, 64),
       |            i -> (e.qv[i] - c.cv[i]) * (e.qv[i] - c.cv[i]))) AS dist
       |        FROM e CROSS JOIN $cents c)) WHERE rn = 1)""".stripMargin

  /** The two unrolled Lloyd rounds as CTEs ending at `a2` (the final
    * assignment, with dist) — shared by the k-means and SemDeDup
    * oracles.
    */
  private lazy val kmeansCtes: String =
    s"""e AS (SELECT vec_id,
       |    list_transform(embedding::DOUBLE[],
       |      x -> CAST(floor(x * ${KMeans.Quant}.0) AS BIGINT)) AS qv
       |  FROM embeddings),
       |pos AS (SELECT unnest(generate_series(1, 64)) AS p),
       |a0 AS (SELECT vec_id, qv, CAST(vec_id % $KmK AS INT) AS cluster FROM e),
       |${centCte("a0", "c1")},
       |${assignCte("c1", "a1")},
       |${centCte("a1", "c2")},
       |${assignCte("c2", "a2")}""".stripMargin

  lazy val kmeansTrainSql: String =
    s"""WITH $kmeansCtes,
       |${centCte("a2", "c3")},
       |m AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
       |        CAST(sum(dist // ${KMeans.Quant}) AS BIGINT) AS inertia_q
       |      FROM a2 GROUP BY cluster)
       |SELECT CAST(c3.cluster AS BIGINT) AS cluster_id, m.n_members, m.inertia_q,
       |  c3.cv[1] AS c1_q, c3.cv[2] AS c2_q, c3.cv[3] AS c3_q, c3.cv[4] AS c4_q
       |FROM c3 JOIN m USING (cluster)""".stripMargin

  // ---- q_semdedup: within-cluster semantic dedup ------------------------

  private val SemThreshold = 0.3

  /** SemDeDup (Abbas et al. 2023): cluster the embedding space, then
    * mark within-cluster pairs above a cosine threshold; each close
    * group keeps its lowest id. Clustering bounds the candidate set —
    * cosine is only evaluated inside a cluster, never all-pairs (at
    * production scale the within-cluster step is further capped by
    * cluster-size limits or an ε-ball around the centroid; the paper's
    * pairwise form is used here). Cosine runs through the codegen'd
    * native kernel, bit-identical to the oracle's
    * list_cosine_similarity (CosineSpec).
    */
  def semDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val (assigned, _) = KMeans.lloyd(emb, k = KmK, iters = KmIters, dim = Tables.EmbeddingDim)
    val clustered = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .join(assigned.select("vec_id", "cluster"), Seq("vec_id"))
    val other = clustered
      .select(col("cluster"), col("vec_id").as("b_id"), col("v").as("b_v"))
    val close = clustered.join(other, Seq("cluster"))
      .filter(col("b_id") < col("vec_id"))
      .filter(graft.plans.CosineSimilarity(col("v"), col("b_v")) >= SemThreshold)
      .groupBy("vec_id").agg(count(lit(1)).as("n_close_lower"))
    clustered.select("vec_id", "cluster")
      .join(close, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
        coalesce(col("n_close_lower"), lit(0L)).as("n_close_lower"),
        col("n_close_lower").isNotNull.as("is_semdup"))
  }

  lazy val semDedupSql: String =
    s"""WITH $kmeansCtes,
       |ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |m AS (SELECT a2.vec_id, a2.cluster, ev.v FROM a2 JOIN ev USING (vec_id)),
       |p AS (SELECT a.vec_id, count(*) AS n_close_lower
       |      FROM m a JOIN m b ON a.cluster = b.cluster AND b.vec_id < a.vec_id
       |      WHERE list_cosine_similarity(a.v, b.v) >= $SemThreshold
       |      GROUP BY a.vec_id)
       |SELECT m.vec_id, CAST(m.cluster AS BIGINT) AS cluster,
       |  CAST(coalesce(p.n_close_lower, 0) AS BIGINT) AS n_close_lower,
       |  p.n_close_lower IS NOT NULL AS is_semdup
       |FROM m LEFT JOIN p USING (vec_id)""".stripMargin

  // ---- q_ccnet_buckets: per-source perplexity buckets -------------------

  /** CCNet-style head/middle/tail split: per-doc mean corpus-unigram
    * log-probability (the perplexity proxy, already oracle-validated),
    * bucketed at each source's 33rd/67th percentile. The percentile
    * table is one tiny aggregate broadcast back — no per-source window
    * over the corpus.
    */
  def ccnetBuckets(s: SparkSession, dir: String): DataFrame = {
    val lp = DocQueries.unigramLogprob(s, dir)
      .filter(col("n_toks") > 0)
      .withColumn("mean_lp_q",
        floor(col("lp_sum_q").cast("double") / col("n_toks")).cast("long"))
    val m = lp.join(Tables.documents(s, dir).select("doc_id", "source"), Seq("doc_id"))
    // interpolated percentiles are the one cross-engine comparison that
    // must be quantized: Spark and DuckDB lerp with different fp shapes,
    // so an exact-boundary doc could flip buckets on a 1-ulp cut
    // difference. floor(p*1e4) vs value*1e4 keeps the comparison integral.
    val cuts = m.groupBy("source")
      .agg(floor(expr("percentile(mean_lp_q, 0.33)") * 10000.0d).cast("long").as("p33_q"),
        floor(expr("percentile(mean_lp_q, 0.67)") * 10000.0d).cast("long").as("p67_q"))
    m.join(broadcast(cuts), Seq("source"))
      .withColumn("bucket",
        when(col("mean_lp_q") * 10000L >= col("p67_q"), "head")
          .when(col("mean_lp_q") * 10000L >= col("p33_q"), "middle")
          .otherwise("tail"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum("mean_lp_q").as("mean_lp_sum"))
  }

  lazy val ccnetBucketsSql: String =
    s"""WITH lp AS (${DocQueries.unigramLogprobSql}),
       |m AS (SELECT d.source, lp.doc_id,
       |        CAST(floor(CAST(lp_sum_q AS DOUBLE) / n_toks) AS BIGINT) AS mean_lp_q
       |      FROM lp JOIN documents d USING (doc_id) WHERE n_toks > 0),
       |q AS (SELECT source,
       |        CAST(floor(quantile_cont(mean_lp_q, 0.33) * 10000.0) AS BIGINT) AS p33_q,
       |        CAST(floor(quantile_cont(mean_lp_q, 0.67) * 10000.0) AS BIGINT) AS p67_q
       |      FROM m GROUP BY source)
       |SELECT m.source,
       |  CASE WHEN mean_lp_q * 10000 >= p67_q THEN 'head'
       |       WHEN mean_lp_q * 10000 >= p33_q THEN 'middle' ELSE 'tail' END AS bucket,
       |  count(*) AS n_docs, CAST(sum(mean_lp_q) AS BIGINT) AS mean_lp_sum
       |FROM m JOIN q USING (source)
       |GROUP BY 1, 2""".stripMargin

  // ---- q_dsir_select: DSIR top-quantile importance selection ------------

  val DsirSelectQuantile = 0.8

  /** The selection step DSIR weights exist for: keep the top 20% of
    * non-target docs by importance weight. The cutoff is one exact
    * percentile over the weight table, broadcast back — per-source
    * counts show how selection tilts the mixture toward target-like
    * sources. (Xie et al. resample with probability ∝ weight; a
    * deterministic top-quantile gate is the oracle-checkable variant.)
    */
  def dsirSelect(s: SparkSession, dir: String): DataFrame = {
    // NOT persisted, measured (r14 A/B at sf0.1: 1.25 s unpersisted vs
    // 1.49 s persisted): the weight table feeds the percentile cutoff
    // and the selection join, but both references end in the same
    // aggregate exchanges and AQE's stage reuse already dedups them —
    // a persist here only adds the cache write.
    val w = dsirWeights(s, dir)
    // quantized cut, same reason as ccnetBuckets: the interpolated
    // percentile is the only value the two engines compute with
    // different fp shapes
    val thr = w.agg(floor(expr(s"percentile(dsir_q, $DsirSelectQuantile)") *
      10000.0d).cast("long").as("thr_q"))
    w.join(Tables.documents(s, dir).select("doc_id", "source"), Seq("doc_id"))
      .crossJoin(broadcast(thr))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dsir_q") * 10000L >= col("thr_q"), 1L).otherwise(0L))
          .as("n_selected"))
  }

  lazy val dsirSelectSql: String =
    s"""WITH w AS ($dsirWeightsSql),
       |thr AS (SELECT CAST(floor(quantile_cont(dsir_q, $DsirSelectQuantile) * 10000.0) AS BIGINT) AS thr_q FROM w)
       |SELECT d.source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN w.dsir_q * 10000 >= thr.thr_q THEN 1 ELSE 0 END) AS BIGINT) AS n_selected
       |FROM w JOIN documents d USING (doc_id) CROSS JOIN thr
       |GROUP BY d.source""".stripMargin

  // ---- q_source_kl: per-source token-distribution drift -----------------

  def sourceKl(s: SparkSession, dir: String): DataFrame =
    Curation.sourceKl(Tables.documents(s, dir))

  val sourceKlSql: String = {
    val b = Curation.DsirBuckets
    s"""WITH tk AS (SELECT source, unnest(${toksSql("text")}) AS tok FROM documents),
       |bk AS (SELECT source,
       |  ${bucketSql("tok")} AS bucket
       | FROM tk),
       |c AS (SELECT source, bucket, count(*) AS cs FROM bk GROUP BY 1, 2),
       |st AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ns FROM c GROUP BY source),
       |co AS (SELECT bucket, CAST(sum(cs) AS BIGINT) AS cc FROM c GROUP BY bucket),
       |ct AS (SELECT CAST(sum(cc) AS BIGINT) AS nc FROM co)
       |SELECT c.source, max(st.ns) AS n_toks,
       |  CAST(sum(CAST(floor(
       |    (CAST(cs + 1 AS DOUBLE) / CAST(ns + $b AS DOUBLE)) *
       |    (ln(CAST(cs + 1 AS DOUBLE) / CAST(ns + $b AS DOUBLE)) -
       |     ln(CAST(cc + 1 AS DOUBLE) / CAST(nc + $b AS DOUBLE)))
       |    * 10000.0) AS BIGINT)) AS BIGINT) AS kl_q
       |FROM c JOIN st USING (source) JOIN co USING (bucket) CROSS JOIN ct
       |GROUP BY c.source""".stripMargin
  }

  // ---- shared pseudo-line segmentation (CCNet/C4 line ops) --------------

  /** DuckDB mirror of Curation.segments: fixed 10-token pseudo-lines.
    * Real scrape splits on '\n' (see the operator doc); list slices are
    * 1-based inclusive, matching Spark's slice(arr, start, len).
    */
  private def segsSql(toks: String, segLen: Int): String =
    s"""CASE WHEN len($toks) > 0 THEN
       |  list_transform(generate_series(0, CAST(floor((len($toks) - 1) / $segLen.0) AS INT)),
       |    i -> array_to_string(($toks)[i * $segLen + 1 : i * $segLen + $segLen], ' '))
       |ELSE CAST([] AS VARCHAR[]) END""".stripMargin

  // ---- q_line_dedup: corpus-frequency boilerplate line removal ----------

  def lineDedup(s: SparkSession, dir: String): DataFrame =
    Curation.lineDedup(Tables.documents(s, dir))

  val lineDedupSql: String =
    s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
       |sl AS (SELECT doc_id, ${segsSql("toks", Curation.LineDedupSegLen)} AS segs FROM t),
       |lines AS (SELECT doc_id, unnest(segs) AS line,
       |            unnest(generate_series(0, len(segs) - 1)) AS pos FROM sl),
       |freq AS (SELECT line FROM lines GROUP BY line
       |         HAVING count(DISTINCT doc_id) >= ${Curation.LineDedupMinDocs}),
       |agg AS (SELECT l.doc_id, count(*) AS n_lines, count(f.line) AS n_removed,
       |          md5(coalesce(string_agg(CASE WHEN f.line IS NULL THEN l.line END,
       |            ' ' ORDER BY l.pos), '')) AS clean_md5
       |        FROM lines l LEFT JOIN freq f ON l.line = f.line
       |        GROUP BY l.doc_id)
       |SELECT d.doc_id, CAST(coalesce(a.n_lines, 0) AS BIGINT) AS n_lines,
       |  CAST(coalesce(a.n_removed, 0) AS BIGINT) AS n_removed,
       |  coalesce(a.clean_md5, md5('')) AS clean_md5
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin

  // ---- q_dup_spans: duplicated n-gram span coverage ---------------------

  def dupSpans(s: SparkSession, dir: String): DataFrame =
    Curation.dupSpans(Tables.documents(s, dir))

  val dupSpansSql: String =
    s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
       |sp AS (SELECT doc_id, CASE WHEN len(toks) >= ${Curation.DupSpanN} THEN
       |    list_transform(generate_series(1, len(toks) - ${Curation.DupSpanN - 1}),
       |      i -> array_to_string(toks[i : i + ${Curation.DupSpanN - 1}], ' '))
       |  ELSE CAST([] AS VARCHAR[]) END AS spans FROM t),
       |s AS (SELECT doc_id, unnest(spans) AS span FROM sp),
       |dup AS (SELECT span FROM s GROUP BY span
       |        HAVING count(DISTINCT doc_id) >= ${Curation.DupSpanMinDocs}),
       |agg AS (SELECT s.doc_id, count(*) AS n_spans, count(d2.span) AS dup_spans
       |        FROM s LEFT JOIN dup d2 ON s.span = d2.span GROUP BY s.doc_id)
       |SELECT d.doc_id, CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans,
       |  CAST(coalesce(a.dup_spans, 0) AS BIGINT) AS dup_spans,
       |  CASE WHEN coalesce(a.n_spans, 0) > 0
       |    THEN CAST(floor(CAST(a.dup_spans AS DOUBLE) * 10000.0 / CAST(a.n_spans AS DOUBLE)) AS BIGINT)
       |    ELSE 0 END AS dup_frac_q
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin

  // ---- q_c4_filters: C4 line + document heuristics ----------------------

  def c4Filters(s: SparkSession, dir: String): DataFrame =
    Curation.c4Rules(Tables.documents(s, dir))
      .select("doc_id", "n_lines", "n_kept_lines", "c4_reason", "c4_keep")

  val c4FiltersSql: String =
    s"""WITH t AS (SELECT doc_id, text, ${toksSql("text")} AS toks FROM documents),
       |sl AS (SELECT doc_id, text, ${segsSql("toks", Curation.LineDedupSegLen)} AS segs FROM t),
       |k AS (SELECT doc_id, text, CAST(len(segs) AS BIGINT) AS n_lines,
       |  CAST(len(list_filter(segs, s ->
       |    len(string_split(s, ' ')) >= ${Curation.C4MinLineWords}
       |    AND NOT contains(s, '{')
       |    AND NOT contains(lower(s), 'javascript'))) AS BIGINT) AS n_kept_lines
       | FROM sl)
       |SELECT doc_id, n_lines, n_kept_lines,
       |  CASE WHEN contains(lower(text), 'lorem ipsum') THEN 'lorem_ipsum'
       |       WHEN contains(text, '{') THEN 'brace'
       |       WHEN n_kept_lines < ${Curation.C4MinKeptLines} THEN 'too_few_lines'
       |  END AS c4_reason,
       |  (CASE WHEN contains(lower(text), 'lorem ipsum') THEN 'lorem_ipsum'
       |        WHEN contains(text, '{') THEN 'brace'
       |        WHEN n_kept_lines < ${Curation.C4MinKeptLines} THEN 'too_few_lines'
       |   END) IS NULL AS c4_keep
       |FROM k""".stripMargin

  // ---- q_source_overlap: cross-source shared-shingle matrix ------------

  def sourceOverlap(s: SparkSession, dir: String): DataFrame =
    Curation.sourceOverlap(Tables.documents(s, dir),
      sourceCol = "source", textCol = "text", shingleSize = 3)

  val sourceOverlapSql: String =
    s"""WITH c AS (SELECT source, ${toksSql("text")} AS toks FROM documents
       |           WHERE trim(coalesce(text, '')) <> ''),
       |sgl AS (SELECT source,
       |  CASE WHEN len(toks) >= 3 THEN
       |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
       |      i -> array_to_string(toks[i:i+2], ' ')))
       |  ELSE [array_to_string(toks, ' ')] END AS sh
       | FROM c),
       |sv AS (SELECT DISTINCT source AS src, unnest(sh) AS g FROM sgl),
       |z AS (SELECT src, CAST(count(*) AS BIGINT) AS n_sh FROM sv GROUP BY src),
       |p AS (SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_shared
       |      FROM sv a JOIN sv b ON a.g = b.g AND a.src < b.src GROUP BY 1, 2)
       |SELECT p.src_a, p.src_b, CAST(p.n_shared AS BIGINT) AS n_shared,
       |  CAST(p.n_shared AS DOUBLE) / CAST(least(za.n_sh, zb.n_sh) AS DOUBLE) AS overlap
       |FROM p JOIN z za ON za.src = p.src_a
       |       JOIN z zb ON zb.src = p.src_b""".stripMargin

  // ---- q_domain_quality: domain-level quality blocklist -----------------

  val DomainMinKeepRateQ = 5000L

  /** Per-doc verdict for the domain gate: the engine's own Q1 quality
    * score against a mid-distribution cut (the Gopher gate is all-fail
    * on the synthetic corpus — its stopword list barely intersects the
    * fixture vocabulary — so it cannot discriminate domains here).
    */
  val DomainKeepScore = 0.6

  /** Per-domain quality-score pass rates → blocklist (RefinedWeb domain
    * filtering: a spam farm is removed wholesale where per-doc rules
    * only trim it). One fused pass: url synthesis + quality scoring +
    * the verdict stay in the scan projection; the only shuffle is the
    * per-domain aggregate, and the (domain, blocked) output is the
    * broadcast-sized artifact that filters the corpus.
    */
  def domainQuality(s: SparkSession, dir: String): DataFrame =
    graft.ops.Domains.domainQualityBlocklist(
      DocQueries.qualityScored(
          graft.Pipeline.fromDocuments(Tables.documents(s, dir)))
        .withColumn("__keep", col("quality_score") >= DomainKeepScore),
      urlCol = "url", keepCol = "__keep",
      minKeepRateQ = DomainMinKeepRateQ)

  val domainQualitySql: String =
    s"""WITH ${DocQueries.qualityCtesSql},
       |k AS (SELECT doc_id, quality_score >= $DomainKeepScore AS keep FROM q),
       |u AS (SELECT doc_id, lower(regexp_extract(
       |        'https://' || source || '/doc/' || CAST(doc_id AS VARCHAR),
       |        '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)', 1)) AS domain
       |      FROM documents),
       |a AS (SELECT domain, count(*) AS n_docs,
       |        sum(CASE WHEN k.keep THEN 1 ELSE 0 END) AS n_keep
       |      FROM u JOIN k USING (doc_id) GROUP BY domain)
       |SELECT domain, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_keep AS BIGINT) AS n_keep,
       |  CAST(floor(CAST(n_keep AS DOUBLE) * 10000.0 / CAST(n_docs AS DOUBLE)) AS BIGINT) AS keep_rate_q,
       |  CAST(floor(CAST(n_keep AS DOUBLE) * 10000.0 / CAST(n_docs AS DOUBLE)) AS BIGINT)
       |    < $DomainMinKeepRateQ AS blocked
       |FROM a""".stripMargin

  // ---- q_topic_assign: keyword-list topic bucketing ---------------------

  def topicAssign(s: SparkSession, dir: String): DataFrame =
    Curation.topicAssign(Tables.documents(s, dir))

  val topicAssignSql: String = {
    val names = Curation.Topics.map(_._1)
    val hitCols = Curation.Topics.map { case (name, words) =>
      val lst = words.mkString("['", "', '", "']")
      s"len(list_filter(toks, x -> list_contains($lst, x))) AS hits_$name"
    }.mkString(",\n|  ")
    // First-match-wins over "≥ every LATER topic" = argmax with
    // declared-order tie-break: if arm i fires, hits_i dominates all
    // later topics, and every earlier arm failed only because some
    // later topic (≤ hits_i) beat it — so hits_i is the global max.
    val caseArms = names.zipWithIndex.map { case (n, i) =>
      val laters = names.drop(i + 1)
      if (laters.isEmpty) s"ELSE '$n'"
      else s"WHEN ${laters.map(m => s"hits_$n >= hits_$m").mkString(" AND ")} THEN '$n'"
    }.mkString("\n|       ")
    val top = names.map(n => s"hits_$n").mkString("greatest(", ", ", ")")
    s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
       |h AS (SELECT doc_id,
       |  $hitCols
       | FROM t)
       |SELECT doc_id,
       |  ${names.map(n => s"CAST(hits_$n AS BIGINT) AS hits_$n").mkString(", ")},
       |  CASE WHEN $top = 0 THEN 'unlabeled'
       |       $caseArms END AS topic,
       |  CAST($top AS BIGINT) AS topic_hits
       |FROM h""".stripMargin
  }

  // ---- q_intra_dedup: within-doc repeated-segment removal ---------------

  def intraDedup(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.intraDedup(Tables.documents(s, dir))

  val intraDedupSql: String =
    s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
       |sl AS (SELECT doc_id, ${segsSql("toks", Curation.LineDedupSegLen)} AS segs FROM t),
       |k AS (SELECT doc_id, segs,
       |  list_filter(segs, (x, i) -> list_position(segs, x) = i) AS kept FROM sl)
       |SELECT doc_id, CAST(len(segs) AS BIGINT) AS n_segs,
       |  CAST(len(kept) AS BIGINT) AS n_kept,
       |  md5(array_to_string(kept, ' ')) AS clean_md5
       |FROM k""".stripMargin

  // ---- q_novelty_curve: per-batch first-sighting rate -------------------

  val NoveltyBatchSize = 100

  def noveltyCurve(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.noveltyCurve(Tables.documents(s, dir),
      batchSize = NoveltyBatchSize)

  val noveltyCurveSql: String =
    s"""WITH b AS (SELECT CAST(floor(doc_id / $NoveltyBatchSize) AS BIGINT) AS batch,
       |             md5(coalesce(text, '')) AS h FROM documents),
       |fs AS (SELECT h, min(batch) AS batch FROM b GROUP BY h),
       |nv AS (SELECT batch, count(*) AS n_novel FROM fs GROUP BY batch),
       |tt AS (SELECT batch, count(*) AS n_docs FROM b GROUP BY batch)
       |SELECT tt.batch, CAST(tt.n_docs AS BIGINT) AS n_docs,
       |  CAST(coalesce(nv.n_novel, 0) AS BIGINT) AS n_novel,
       |  CAST(floor(CAST(coalesce(nv.n_novel, 0) AS DOUBLE) * 10000.0 /
       |    CAST(tt.n_docs AS DOUBLE)) AS BIGINT) AS novelty_q
       |FROM tt LEFT JOIN nv USING (batch)""".stripMargin

  // ---- q_quality_classifier: trained fastText-style quality filter ------

  /** Hashed-BoW logistic regression ([[graft.ops.Classifier]]) on a
    * self-supervised curation task: each document gets a spam-injected
    * twin (one of four spam phrases chosen by doc_id — deterministic,
    * no RNG), the model trains on a 70% doc_id split and is scored on
    * the held-out 30%. Output is the confusion matrix — small,
    * order-stable, and a direct read on whether the learned filter
    * separates clean from spam text.
    *
    * Rows-only by design: learned weights are the product of an
    * iterative distributed fit, not SQL-expressible (same class as
    * k-means training). ClassifierSpec pins bit-reproducible training
    * and held-out accuracy; the confusion matrix here shows the result
    * end-to-end on the fixture corpus.
    */
  val ClassifierDim = 256

  private val SpamPhrases = Seq(
    "free prize winner click here claim your bonus now",
    "casino jackpot lucky spins deposit bonus win big today",
    "cheap pills discount meds order online no prescription",
    "congratulations you have been selected exclusive offer act fast")

  def qualityClassifier(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Classifier
    import graft.text.TextMetrics
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val spamArr = array(SpamPhrases.map(lit): _*)
    val neg = docs.select(col("doc_id"),
        concat_ws(" ", col("text"),
          element_at(spamArr, (pmod(col("doc_id"), lit(4)) + 1).cast("int")))
          .as("text"))
      .withColumn("label", lit(1))          // 1 = spam (the filter target)
    val pos = docs.withColumn("label", lit(0))
    val feat = pos.unionByName(neg).select(col("doc_id"), col("label"),
      Classifier.features(TextMetrics.tokens(col("text")), ClassifierDim)
        .as("x"))
    val isTrain = pmod(col("doc_id"), lit(10)) < 7
    // 100 full-batch steps: the un-normalized count features make GD
    // oscillate through ~iter 40 before settling (measured: heldout
    // 0.55 at 30 iters, 1.00 at 100); each step is one tiny job over
    // the persisted feature sliver, so the extra steps are cheap.
    val model = Classifier.trainLogistic(feat.filter(isTrain), "x", "label",
      ClassifierDim, iters = 100, lr = 0.5)
    feat.filter(!isTrain)
      .select(col("label"),
        (model.scoreCol(col("x")) >= 0.5).cast("int").as("predicted"))
      .groupBy("label", "predicted")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("label", "predicted")
  }

  // ---- q_classifier_fp: ORACLE-CHECKED fixed-point classifier twin ------

  private val FpIters = 30
  private val FpLrDen = 16L

  /** Graded twin of q_quality_classifier ([[graft.ops.Classifier
    * .trainFixedPoint]]): the same model class (full-batch GD, same
    * hashed-BoW features, same spam-twin task and 70/30 split) with
    * the transcendental sigmoid replaced by the hard sigmoid and every
    * quantity a bounded integer in µ-units — so DuckDB replays ALL 30
    * training rounds in a recursive CTE (the q_bpe_merges pattern:
    * weight state as one row per dimension, the per-round gradient an
    * aggregate over the materialized train sliver joined with the
    * previous round's weights) and then the held-out scoring, margin
    * sums included, hash-exactly. Divisions TRUNCATE toward zero on
    * both engines (Scala Long `/` ≡ DuckDB `//`). Held-out accuracy
    * 0.953 on the fixture task (ClassifierSpec-pinned ≥ 0.9); the
    * production model stays the libm-sigmoid q_quality_classifier.
    */
  def classifierFp(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Classifier
    import graft.text.TextMetrics
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val spamArr = array(SpamPhrases.map(lit): _*)
    val neg = docs.select(col("doc_id"),
        concat_ws(" ", col("text"),
          element_at(spamArr, (pmod(col("doc_id"), lit(4)) + 1).cast("int")))
          .as("text"))
      .withColumn("label", lit(1))
    val pos = docs.withColumn("label", lit(0))
    val feat = Persisted(pos.unionByName(neg).select(col("doc_id"), col("label"),
      Classifier.features(TextMetrics.tokens(col("text")), ClassifierDim)
        .cast("array<long>").as("x")))
    val isTrain = pmod(col("doc_id"), lit(10)) < 7
    // the train split is a corpus FRACTION, not a fixed-size sliver, so
    // it goes through the size-gated front door: collected only below
    // the local gate, per-round treeAggregate above it (bit-identical
    // either way — integer gradients are order-free). The previous
    // unconditional collect() here is what the 1000x plan sweep killed:
    // 70% of a 5M-doc corpus shipped to the driver.
    val w = Classifier.trainFixedPoint(feat.filter(isTrain), "x", "label",
      ClassifierDim, FpIters, FpLrDen)
    feat.filter(!isTrain)
      .select(col("label").cast("long").as("label"),
        Classifier.fpMargin(col("x"), w).as("m"))
      .select(col("label"),
        (Classifier.fpProbCol(col("m")) >= 500000L).cast("long")
          .as("predicted"),
        col("m"))
      .groupBy("label", "predicted")
      .agg(count(lit(1)).as("n_docs"), sum(col("m")).as("margin_sum"))
  }

  val classifierFpSql: String = {
    val dim = ClassifierDim
    val spamArr = "[" + SpamPhrases.map(p => s"'$p'").mkString(",") + "]"
    def hx(n: Int) = s"(instr('0123456789abcdef', substr(h, $n, 1)) - 1)"
    val toks = graft.queries.OracleSql.toks("t")
    s"""WITH RECURSIVE
       |raw AS MATERIALIZED (
       |  SELECT doc_id, 0 AS label, coalesce(text, '') AS t FROM documents
       |  UNION ALL
       |  SELECT doc_id, 1 AS label,
       |    coalesce(text, '') || ' ' || $spamArr[CAST(doc_id % 4 AS INT) + 1] AS t
       |  FROM documents),
       |prs AS MATERIALIZED (
       |  SELECT doc_id, label,
       |    list_transform(list_transform($toks, tk -> md5(tk)), h -> struct_pack(
       |      b := CAST((${hx(1)} * 16 + ${hx(2)}) % $dim AS INT),
       |      s := CASE WHEN ${hx(3)} % 2 = 0 THEN CAST(1 AS BIGINT)
       |                ELSE CAST(-1 AS BIGINT) END)) AS prs
       |  FROM raw),
       |feat AS MATERIALIZED (
       |  SELECT doc_id, label,
       |    list_transform(generate_series(0, ${dim - 1}), i ->
       |      CAST(coalesce(list_sum(list_transform(prs, p ->
       |        CASE WHEN p.b = i THEN p.s ELSE CAST(0 AS BIGINT) END)), 0)
       |        AS BIGINT)) AS x
       |  FROM prs),
       |train AS MATERIALIZED (
       |  SELECT doc_id * 2 + label AS did, label, x FROM feat
       |  WHERE doc_id % 10 < 7),
       |ntr AS MATERIALIZED (SELECT count(*) AS n FROM train),
       |st(iter, d, wd) AS (
       |  SELECT 0, d, CAST(0 AS BIGINT) FROM generate_series(1, $dim) g(d)
       |  UNION ALL
       |  SELECT st.iter + 1, st.d,
       |    CAST(st.wd - g.g // ($FpLrDen * (SELECT n FROM ntr)) AS BIGINT)
       |  FROM st JOIN (
       |    SELECT dd.d AS d, sum(e.e * e.x[dd.d]) AS g
       |    FROM (
       |      SELECT t.did,
       |        least(1000000, greatest(0,
       |          500000 + (sum(s2.wd * t.x[s2.d]) // 4)))
       |          - any_value(t.label) * 1000000 AS e,
       |        any_value(t.x) AS x
       |      FROM train t CROSS JOIN st s2
       |      GROUP BY t.did) e
       |    CROSS JOIN generate_series(1, $dim) dd(d)
       |    GROUP BY dd.d) g ON g.d = st.d
       |  WHERE st.iter < $FpIters),
       |w AS MATERIALIZED (SELECT d, wd FROM st WHERE iter = $FpIters),
       |scored AS (
       |  SELECT f.label,
       |    (SELECT CAST(sum(w.wd * f.x[w.d]) AS BIGINT) FROM w) AS m
       |  FROM feat f WHERE f.doc_id % 10 >= 7)
       |SELECT CAST(label AS BIGINT) AS label,
       |  CAST(CASE WHEN least(1000000, greatest(0, 500000 + (m // 4))) >= 500000
       |       THEN 1 ELSE 0 END AS BIGINT) AS predicted,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(m) AS BIGINT) AS margin_sum
       |FROM scored GROUP BY label, predicted""".stripMargin
  }

  // ---- q_kn_perplexity: Kneser–Ney LM score + CCNet tertile buckets -----

  /** Interpolated Kneser–Ney bigram scoring (graft.ops.Score
    * .knBigramLogprobs) with the CCNet head/middle/tail assignment
    * (Wenzek et al. 2020 §4.3): docs ranked by quantized per-bigram
    * perplexity proxy (−Σlp/n), split into tertiles — bucket 1 = head
    * (most fluent), 3 = tail, 0 = unscorable (< 2 tokens). The tertile
    * rank reuses Shard.withGlobalSeq's two-pass partition-offset scheme
    * (the same scale-safe ntile as q_order_quartiles — no global-order
    * window).
    */
  def knPerplexity(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.{Score, Shard}
    // the scored sliver (4 longs/doc) feeds THREE consumers — the
    // tertile count, the two-pass rank, and the unscorable union —
    // so persist it or the whole KN scoring DAG runs three times
    val scored = Persisted(Score.knBigramLogprobs(
      Tables.documents(s, dir), "doc_id", "text")
      .withColumn("ppl_q",
        when(col("n_bigrams") > 0,
          floor((-col("kn_lp_sum_q")).cast("double")
            / col("n_bigrams").cast("double")))
          .otherwise(lit(0L)).cast("long")))
    val pos = scored.filter(col("n_bigrams") > 0)
    val n = pos.count()
    val ranked = Shard.withGlobalSeq(pos, Seq("ppl_q", "doc_id"), "__rk")
    val k = col("__rk") + lit(1L) // 1-based, tie-free rank
    val lo = n / 3L
    val cut = (n % 3L) * (lo + 1L) // rows in the big buckets
    val bucket = when(k <= cut, ceil(k.cast("double") / (lo + 1L)))
      .otherwise(lit(n % 3L) + ceil((k - cut).cast("double") / math.max(lo, 1L)))
      .cast("long")
    ranked.withColumn("ppl_bucket", bucket)
      .select("doc_id", "n_bigrams", "kn_lp_sum_q", "ppl_q", "ppl_bucket")
      .unionByName(scored.filter(col("n_bigrams") <= 0)
        .withColumn("ppl_bucket", lit(0L))
        .select("doc_id", "n_bigrams", "kn_lp_sum_q", "ppl_q", "ppl_bucket"))
  }

  val knPerplexitySql: String = {
    val d = graft.ops.Score.KnDiscount
    s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
       |b AS (SELECT doc_id, unnest(toks[1 : len(toks) - 1]) AS w1,
       |             unnest(toks[2 : len(toks)]) AS w2
       |      FROM t WHERE len(toks) >= 2),
       |cb AS (SELECT w1, w2, count(*) AS cb FROM b GROUP BY 1, 2),
       |cs AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cs, count(*) AS n1f
       |       FROM cb GROUP BY w1),
       |cr AS (SELECT w2, count(*) AS n1r FROM cb GROUP BY w2),
       |tt AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM cb),
       |sc AS (SELECT b.doc_id,
       |  CAST(floor(ln((greatest(CAST(cb.cb AS DOUBLE) - $d, 0.0)
       |    + (($d * cs.n1f) * cr.n1r) / tt.t) / cs.cs) * 10000) AS BIGINT) AS klp_q
       | FROM b JOIN cb USING (w1, w2) JOIN cs USING (w1) JOIN cr USING (w2)
       | CROSS JOIN tt),
       |agg AS (SELECT doc_id, count(*) AS n_bigrams,
       |          CAST(sum(klp_q) AS BIGINT) AS kn_lp_sum_q
       |        FROM sc GROUP BY doc_id),
       |pq AS (SELECT doc_id, n_bigrams, kn_lp_sum_q,
       |   CAST(floor(CAST(-kn_lp_sum_q AS DOUBLE) / CAST(n_bigrams AS DOUBLE)) AS BIGINT) AS ppl_q
       | FROM agg),
       |rk AS (SELECT *, CAST(ntile(3) OVER (ORDER BY ppl_q, doc_id) AS BIGINT) AS ppl_bucket FROM pq)
       |SELECT d.doc_id, CAST(coalesce(rk.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |  CAST(coalesce(rk.kn_lp_sum_q, 0) AS BIGINT) AS kn_lp_sum_q,
       |  CAST(coalesce(rk.ppl_q, 0) AS BIGINT) AS ppl_q,
       |  CAST(coalesce(rk.ppl_bucket, 0) AS BIGINT) AS ppl_bucket
       |FROM documents d LEFT JOIN rk USING (doc_id)""".stripMargin
  }

  // ---- q_kn_trigram: order-3 interpolated Kneser–Ney ---------------------

  /** Trigram KN scoring (graft.ops.Score.knTrigramLogprobs) with the
    * quantized per-trigram perplexity proxy — the order-3 step toward
    * the 5-gram KenLM CCNet filters with, continuation-smoothed at
    * every backoff level.
    */
  def knTrigram(s: SparkSession, dir: String): DataFrame =
    graft.ops.Score.knTrigramLogprobs(
      Tables.documents(s, dir), "doc_id", "text")
      .withColumn("ppl3_q",
        when(col("n_trigrams") > 0,
          floor((-col("kn3_lp_sum_q")).cast("double")
            / col("n_trigrams").cast("double")))
          .otherwise(lit(0L)).cast("long"))

  val knTrigramSql: String = {
    val d = graft.ops.Score.KnDiscount
    s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
       |tr AS (SELECT doc_id, unnest(toks[1 : len(toks) - 2]) AS w1,
       |              unnest(toks[2 : len(toks) - 1]) AS w2,
       |              unnest(toks[3 : len(toks)]) AS w3
       |       FROM t WHERE len(toks) >= 3),
       |b AS (SELECT unnest(toks[1 : len(toks) - 1]) AS w1,
       |             unnest(toks[2 : len(toks)]) AS w2
       |      FROM t WHERE len(toks) >= 2),
       |c3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM tr GROUP BY 1, 2, 3),
       |ctx3 AS (SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS cs3,
       |           count(*) AS n1f3 FROM c3 GROUP BY w1, w2),
       |cont2 AS (SELECT w2, w3, count(*) AS n1p23 FROM c3 GROUP BY w2, w3),
       |midctx AS (SELECT w2, CAST(sum(n1p23) AS BIGINT) AS denom2,
       |             count(*) AS n1fc2 FROM cont2 GROUP BY w2),
       |cb2 AS (SELECT w1, w2, count(*) AS cb FROM b GROUP BY 1, 2),
       |n1r AS (SELECT w2 AS w3, count(*) AS n1r FROM cb2 GROUP BY w2),
       |tt AS (SELECT CAST(count(*) AS DOUBLE) AS t2 FROM cb2),
       |sc AS (SELECT tr.doc_id,
       |  CAST(floor(ln((greatest(CAST(c3.c3 AS DOUBLE) - $d, 0.0)
       |    + ($d * ctx3.n1f3) * ((greatest(CAST(cont2.n1p23 AS DOUBLE) - $d, 0.0)
       |        + (($d * midctx.n1fc2) * n1r.n1r) / tt.t2) / midctx.denom2))
       |    / ctx3.cs3) * 10000) AS BIGINT) AS k3lp_q
       | FROM tr JOIN c3 USING (w1, w2, w3) JOIN ctx3 USING (w1, w2)
       |      JOIN cont2 USING (w2, w3) JOIN midctx USING (w2)
       |      JOIN n1r USING (w3) CROSS JOIN tt),
       |agg AS (SELECT doc_id, count(*) AS n_trigrams,
       |          CAST(sum(k3lp_q) AS BIGINT) AS kn3_lp_sum_q
       |        FROM sc GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(a.n_trigrams, 0) AS BIGINT) AS n_trigrams,
       |  CAST(coalesce(a.kn3_lp_sum_q, 0) AS BIGINT) AS kn3_lp_sum_q,
       |  CAST(CASE WHEN coalesce(a.n_trigrams, 0) > 0
       |    THEN floor(CAST(-a.kn3_lp_sum_q AS DOUBLE) / CAST(a.n_trigrams AS DOUBLE))
       |    ELSE 0 END AS BIGINT) AS ppl3_q
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin
  }

  // ---- q_span_removal: maximal duplicated-span excision -----------------

  def spanRemoval(s: SparkSession, dir: String): DataFrame =
    Curation.removeDupSpans(Tables.documents(s, dir))

  val spanRemovalSql: String = {
    val n = Curation.DupSpanN
    val m = Curation.DupSpanMinDocs
    s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
       |p AS (SELECT doc_id, unnest(toks) AS tok,
       |             unnest(generate_series(0, len(toks) - 1)) AS pos
       |      FROM t WHERE len(toks) > 0),
       |g AS (SELECT doc_id,
       |      unnest(CASE WHEN len(toks) >= $n THEN
       |        list_transform(generate_series(0, len(toks) - $n),
       |          i -> array_to_string(toks[i + 1 : i + $n], ' '))
       |        ELSE CAST([] AS VARCHAR[]) END) AS gram,
       |      unnest(CASE WHEN len(toks) >= $n THEN generate_series(0, len(toks) - $n)
       |        ELSE CAST([] AS BIGINT[]) END) AS gpos FROM t),
       |dup AS (SELECT gram FROM g GROUP BY gram
       |        HAVING count(DISTINCT doc_id) >= $m),
       |mk AS (SELECT DISTINCT g.doc_id, g.gpos FROM g JOIN dup USING (gram)),
       |cov AS (SELECT p.doc_id, p.pos, p.tok,
       |        CASE WHEN count(m.gpos) > 0 THEN 1 ELSE 0 END AS cov
       |        FROM p LEFT JOIN mk m ON m.doc_id = p.doc_id
       |          AND p.pos BETWEEN m.gpos AND m.gpos + ${n - 1}
       |        GROUP BY p.doc_id, p.pos, p.tok),
       |sp AS (SELECT doc_id, pos, tok, cov,
       |       CASE WHEN cov = 1 AND coalesce(lag(cov) OVER (PARTITION BY doc_id ORDER BY pos), 0) = 0
       |            THEN 1 ELSE 0 END AS cut_start FROM cov),
       |agg AS (SELECT doc_id, count(*) AS n_tokens,
       |        CAST(sum(cov) AS BIGINT) AS n_removed,
       |        CAST(sum(cut_start) AS BIGINT) AS n_cut_spans,
       |        md5(coalesce(string_agg(CASE WHEN cov = 0 THEN tok END, ' ' ORDER BY pos), '')) AS clean_md5
       |        FROM sp GROUP BY doc_id)
       |SELECT d.doc_id, CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(a.n_removed, 0) AS BIGINT) AS n_removed,
       |  CAST(coalesce(a.n_cut_spans, 0) AS BIGINT) AS n_cut_spans,
       |  coalesce(a.clean_md5, md5('')) AS clean_md5
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin
  }
}
