package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Decontaminate, SketchDedup, Similarity}
import graft.Persisted

/** Similarity-search and sketch-dedup queries over the embeddings and
  * documents tables (builder brief: dedup + ANN as first-class ops).
  */
object SimilarityQueries {

  private val NearDupThreshold = 0.25
  private val LshBits = 8
  private val LshTables = 8

  // ---- q_ann_topk: brute-force cosine top-k (exact baseline) -----------

  def annTopK(s: SparkSession, dir: String): DataFrame =
    Similarity.annTopK(Tables.embeddings(s, dir), nQueries = 10, k = 5)

  val annTopKSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |s AS (SELECT query_id, vec_id, list_cosine_similarity(qv, v) AS cosine
      |      FROM q JOIN e ON vec_id <> query_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank FROM s)
      |SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 5""".stripMargin

  // ---- q_embed_neardup: multi-table sign-bit LSH cosine pairs ----------

  def embedNearDup(s: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairsLsh(Tables.embeddings(s, dir),
      threshold = NearDupThreshold, nbits = LshBits, tables = LshTables)

  val embedNearDupSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (SELECT vec_id, v, t,
       |  list_reduce(list_transform(generate_series(t * $LshBits + 1, t * $LshBits + $LshBits),
       |    i -> CASE WHEN v[i] > 0 THEN 1 ELSE 0 END), (a, b) -> a * 2 + b) AS bucket
       | FROM e CROSS JOIN (SELECT unnest(generate_series(0, ${LshTables - 1})) AS t)),
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
       | FROM b a JOIN b b2 ON a.t = b2.t AND a.bucket = b2.bucket
       |   AND a.vec_id < b2.vec_id)
       |SELECT c.id_a, c.id_b, list_cosine_similarity(ea.v, eb.v) AS cosine
       |FROM cand c JOIN e ea ON ea.vec_id = c.id_a
       |            JOIN e eb ON eb.vec_id = c.id_b
       |WHERE list_cosine_similarity(ea.v, eb.v) >= $NearDupThreshold""".stripMargin

  // ---- q_hashed_embed / q_text_ann: feature-hashed text vectors ---------

  /** Shared oracle fragment: the signed-count hashed vector per doc
    * (graft.ops.HashedEmbed) — bucket from md5 hex chars 1-2 mod dim,
    * ±1 sign from hex char 3 parity, integer-valued components so all
    * downstream dot products are exact.
    */
  private def hashedVecCtesSql(dim: Int): String = {
    def hx(n: Int) = s"(instr('0123456789abcdef', substr(md5(tk), $n, 1)) - 1)"
    val bucket = s"CAST((${hx(1)} * 16 + ${hx(2)}) % $dim AS INT)"
    // CAST ... AS DOUBLE throughout: bare 1.0 literals are DECIMAL(2,1)
    // in DuckDB and the reduce's running sum overflows that type
    val sgn = s"CASE WHEN ${hx(3)} % 2 = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END"
    s"""ht AS (SELECT doc_id, ${OracleSql.toks("text")} AS toks FROM documents),
       |hv AS (SELECT doc_id, toks,
       |  list_transform(generate_series(0, ${dim - 1}), i ->
       |    CASE WHEN len(toks) = 0 THEN CAST(0.0 AS DOUBLE) ELSE
       |      list_reduce(list_transform(toks, tk ->
       |        CASE WHEN $bucket = i THEN $sgn ELSE CAST(0.0 AS DOUBLE) END), (a, b) -> a + b)
       |    END) AS vec
       | FROM ht)""".stripMargin
  }

  def hashedEmbed(s: SparkSession, dir: String): DataFrame =
    graft.ops.HashedEmbed.embedDocs(Tables.documents(s, dir))

  val hashedEmbedSql: String =
    s"""WITH ${hashedVecCtesSql(graft.ops.HashedEmbed.Dim)}
       |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(list_filter(vec, x -> x <> 0.0)) AS BIGINT) AS nnz,
       |  CAST(list_reduce(list_transform(vec, x -> x * x), (a, b) -> a + b) AS BIGINT) AS norm_sq,
       |  md5(array_to_string(list_transform(vec,
       |    x -> CAST(CAST(x AS BIGINT) AS VARCHAR)), ',')) AS emb_md5
       |FROM hv""".stripMargin

  val TextAnnQueries = 5
  val TextAnnK = 5

  def textAnn(s: SparkSession, dir: String): DataFrame =
    graft.ops.HashedEmbed.textAnnTopK(Tables.documents(s, dir),
      nQueries = TextAnnQueries, k = TextAnnK)

  val textAnnSql: String =
    s"""WITH ${hashedVecCtesSql(graft.ops.HashedEmbed.Dim)},
       |hn AS (SELECT doc_id, vec,
       |        list_reduce(list_transform(vec, x -> x * x), (a, b) -> a + b) AS n2
       |       FROM hv),
       |he AS (SELECT doc_id AS vec_id, vec FROM hn WHERE n2 > 0),
       |hq AS (SELECT vec_id AS query_id, vec AS qv FROM he WHERE vec_id < $TextAnnQueries),
       |hs AS (SELECT query_id, vec_id, list_cosine_similarity(qv, vec) AS cosine
       |       FROM hq JOIN he ON vec_id <> query_id),
       |hr AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |         ORDER BY cosine DESC, vec_id) AS rank FROM hs)
       |SELECT query_id, vec_id, cosine, CAST(rank AS BIGINT) AS rank
       |FROM hr WHERE rank <= $TextAnnK""".stripMargin

  // ---- q_text_neardup: model-free semantic near-dup on raw text ---------

  val TextNearDupThreshold = 0.9

  /** Random-hyperplane banding (RpLshBuckets), 8 tables × 16 bits over
    * 128-dim hashed vectors. Axis-aligned sign bits are structurally
    * wrong here: hashed count vectors share their common-token dims
    * corpus-wide, the raw signs barely vary between documents, and the
    * nominal 2¹⁶ bucket space collapsed to 46 occupied buckets at
    * sf0.1 — candidates were ALL 12.5M pairs, the banding did nothing.
    * With random ±1 hyperplanes the per-bit collision law is
    * 1 − θ/π regardless of the data distribution: background pairs
    * (cos ≈ 0.6 ⇒ p ≈ 0.70) collide per table with p¹⁶ ≈ 0.4%, while
    * planted near-dups (cos ≥ 0.97 ⇒ p ≥ 0.94) surface through the
    * 8-table OR with P ≈ 0.98. Recall at exactly the 0.9 threshold is
    * ≈ 0.5 — the S-curve midpoint sits there by choice, so borderline
    * pairs are traded for the ~400× candidate cut; the pinned
    * paraphrase fixtures (cos > 0.97) are found deterministically.
    */
  val TextNearDupDim = 128
  val TextNearDupBits = 16

  def textNearDup(s: SparkSession, dir: String): DataFrame =
    graft.ops.HashedEmbed.textNearDup(Tables.documents(s, dir),
      threshold = TextNearDupThreshold, nbits = TextNearDupBits,
      tables = LshTables, dim = TextNearDupDim)

  /** Rebuilds the kernel's hyperplane matrix from the same
    * md5("rp_t:b:d")-parity strings, dots each vector against it, and
    * assembles MSB-first buckets — byte-for-byte the RpLshBuckets
    * arithmetic (dots are exact integers, so engine sum order is
    * irrelevant).
    */
  val textNearDupSql: String =
    s"""WITH ${hashedVecCtesSql(TextNearDupDim)},
       |hn AS (SELECT doc_id AS vec_id, vec AS v FROM hv
       |       WHERE list_reduce(list_transform(vec, x -> x * x), (a, b) -> a + b) > 0),
       |rp AS (SELECT tt.t, bb.b, dd.d,
       |    CASE WHEN (instr('0123456789abcdef',
       |        substr(md5('rp_' || tt.t || ':' || bb.b || ':' || dd.d), 1, 1)) - 1) % 2 = 0
       |      THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END AS r
       |  FROM (SELECT unnest(generate_series(0, ${LshTables - 1})) AS t) tt
       |  CROSS JOIN (SELECT unnest(generate_series(0, ${TextNearDupBits - 1})) AS b) bb
       |  CROSS JOIN (SELECT unnest(generate_series(1, $TextNearDupDim)) AS d) dd),
       |dots AS (SELECT vec_id, t, b, sum(v[d] * r) AS dot
       |         FROM hn CROSS JOIN rp GROUP BY vec_id, t, b),
       |bkt AS (SELECT vec_id, t,
       |          sum(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) << (${TextNearDupBits - 1} - b)
       |                   ELSE CAST(0 AS BIGINT) END) AS bucket
       |        FROM dots GROUP BY vec_id, t),
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
       | FROM bkt a JOIN bkt b2 ON a.t = b2.t AND a.bucket = b2.bucket
       |   AND a.vec_id < b2.vec_id)
       |SELECT c.id_a, c.id_b, list_cosine_similarity(ea.v, eb.v) AS cosine
       |FROM cand c JOIN hn ea ON ea.vec_id = c.id_a
       |            JOIN hn eb ON eb.vec_id = c.id_b
       |WHERE list_cosine_similarity(ea.v, eb.v) >= $TextNearDupThreshold""".stripMargin

  // ---- q_ivf_assign: IVF coarse-quantizer assignment --------------------

  def ivfAssign(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfAssign(Tables.embeddings(s, dir))

  val ivfAssignSql: String =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |pos AS (SELECT unnest(generate_series(1, 64)) AS p),
      |cent AS (
      | SELECT label AS centroid_label, list(cx ORDER BY p) AS cv
      | FROM (SELECT label, p, avg(v[p]) AS cx FROM e CROSS JOIN pos GROUP BY label, p)
      | GROUP BY label),
      |scored AS (
      | SELECT vec_id, label, centroid_label,
      |  list_cosine_similarity(v, cv) AS cosine
      | FROM e CROSS JOIN cent),
      |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, centroid_label) AS rn FROM scored)
      |SELECT vec_id, label, centroid_label AS assigned_centroid FROM r WHERE rn = 1""".stripMargin

  // ---- q_ivf_topk: probe-limited IVF ANN search -------------------------

  def ivfTopK(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(Tables.embeddings(s, dir), nQueries = 10, k = 5, probes = 2)

  val ivfTopKSql: String =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |pos AS (SELECT unnest(generate_series(1, 64)) AS p),
      |cent AS (
      | SELECT label AS centroid_label, list(cx ORDER BY p) AS cv
      | FROM (SELECT label, p, avg(v[p]) AS cx FROM e CROSS JOIN pos GROUP BY label, p)
      | GROUP BY label),
      |assigned AS (
      | SELECT vec_id, v, centroid_label AS assigned_centroid FROM (
      |  SELECT e.vec_id, e.v, cent.centroid_label,
      |   row_number() OVER (PARTITION BY e.vec_id
      |     ORDER BY list_cosine_similarity(e.v, cent.cv) DESC, cent.centroid_label) AS rn
      |  FROM e CROSS JOIN cent)
      | WHERE rn = 1),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |probes AS (
      | SELECT query_id, qv, centroid_label AS probe_centroid FROM (
      |  SELECT q.query_id, q.qv, cent.centroid_label,
      |   row_number() OVER (PARTITION BY q.query_id
      |     ORDER BY list_cosine_similarity(q.qv, cent.cv) DESC, cent.centroid_label) AS pr
      |  FROM q CROSS JOIN cent)
      | WHERE pr <= 2),
      |cand AS (
      | SELECT p.query_id, a.vec_id,
      |  list_cosine_similarity(p.qv, a.v) AS cosine
      | FROM probes p JOIN assigned a
      |   ON p.probe_centroid = a.assigned_centroid AND a.vec_id <> p.query_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY cosine DESC, vec_id) AS rank FROM cand)
      |SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 5""".stripMargin

  // ---- q_pq_encode / q_pq_search: product quantization ------------------

  private val PqM = 16
  private val PqSub = 64 / PqM
  private val PqShortlist = 100

  /** Shared oracle fragments: L2-normalized vectors, per-subspace
    * label-mean codebooks, the mirrored left-to-right squared-L2 fold
    * (m=16 subspaces × 4 dims), and the per-subspace argmin encoding.
    */
  private val pqCbSql: String =
    s"""e0 AS (SELECT vec_id, label, embedding::DOUBLE[] AS v0 FROM embeddings),
       |e AS (SELECT vec_id, label,
       |  CASE WHEN sqrt(list_reduce(list_transform(v0, y -> y * y), (a, b) -> a + b)) > 0
       |    THEN list_transform(v0,
       |      x -> x / sqrt(list_reduce(list_transform(v0, y -> y * y), (a, b) -> a + b)))
       |    ELSE v0 END AS v
       | FROM e0),
       |pos AS (SELECT unnest(generate_series(1, 64)) AS p),
       |cb AS (SELECT CAST((p - 1) // $PqSub AS INT) AS m_idx, label AS code,
       |         list(cx ORDER BY p) AS cv
       |       FROM (SELECT label, p, avg(v[p]) AS cx
       |             FROM e CROSS JOIN pos GROUP BY label, p)
       |       GROUP BY 1, 2)""".stripMargin

  private def pqL2Sql(vec: String): String =
    s"""list_reduce(list_transform(generate_series(1, $PqSub),
       |      i -> ($vec[cb.m_idx * $PqSub + i] - cv[i]) * ($vec[cb.m_idx * $PqSub + i] - cv[i])),
       |      (a, b) -> a + b)""".stripMargin

  private val pqEncSql: String =
    s"""d AS (SELECT e.vec_id, cb.m_idx, cb.code, ${pqL2Sql("v")} AS dist
       |      FROM e CROSS JOIN cb),
       |enc AS (SELECT vec_id, m_idx, code FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id, m_idx
       |    ORDER BY dist, code) AS rn FROM d) WHERE rn = 1)""".stripMargin

  def pqEncode(s: SparkSession, dir: String): DataFrame = {
    val enc = graft.ops.Pq.encode(Tables.embeddings(s, dir), m = PqM, dim = 64)
    enc.select(col("vec_id"),
      concat_ws("-", (0 until PqM).map(i => col(s"code_$i")): _*).as("pq_code"))
  }

  val pqEncodeSql: String =
    s"""WITH $pqCbSql,
       |$pqEncSql
       |SELECT vec_id,
       |  string_agg(CAST(code AS VARCHAR), '-' ORDER BY m_idx) AS pq_code
       |FROM enc GROUP BY vec_id""".stripMargin

  def pqSearch(s: SparkSession, dir: String): DataFrame =
    graft.ops.Pq.adcRerankTopK(Tables.embeddings(s, dir),
      nQueries = 10, k = 5, shortlist = PqShortlist, m = PqM, dim = 64)

  val pqSearchSql: String =
    s"""WITH $pqCbSql,
       |$pqEncSql,
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
       |tab AS (SELECT q.query_id, cb.m_idx, cb.code,
       |    CAST(floor(${pqL2Sql("qv")} * 10000) AS BIGINT) AS dq
       |  FROM q CROSS JOIN cb),
       |cand AS (SELECT t.query_id, enc.vec_id, CAST(sum(t.dq) AS BIGINT) AS dist_q
       |  FROM enc JOIN tab t ON t.m_idx = enc.m_idx AND t.code = enc.code
       |    AND enc.vec_id <> t.query_id
       |  GROUP BY 1, 2),
       |short AS (SELECT query_id, vec_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY dist_q, vec_id) AS srank FROM cand) WHERE srank <= $PqShortlist),
       |rr AS (SELECT s.query_id, s.vec_id,
       |    list_cosine_similarity(q.qv0, ev.v0) AS cosine
       |  FROM short s
       |  JOIN e0 ev ON ev.vec_id = s.vec_id
       |  JOIN (SELECT vec_id AS query_id, v0 AS qv0 FROM e0 WHERE vec_id < 10) q
       |    ON q.query_id = s.query_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, vec_id) AS rank FROM rr)
       |SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 5""".stripMargin

  // ---- q_ivfpq_search: IVF-PQ composite (coarse cells + ADC + rerank) ---

  private val IvfPqProbes = 4
  private val IvfPqShortlist = 50

  def ivfPqSearch(s: SparkSession, dir: String): DataFrame =
    graft.ops.Pq.ivfPqTopK(Tables.embeddings(s, dir),
      nQueries = 10, k = 5, probes = IvfPqProbes,
      shortlist = IvfPqShortlist, m = PqM, dim = 64)

  // ---- q_ivfpq_residual: the full production arrangement (rows-only) ----

  /** Residual IVF-PQ ([[graft.ops.Pq.ivfPqResidualTopK]]) — trained
    * coarse quantizer + PQ codebooks over residuals, the Faiss
    * production form whose recall the label-mean q_ivfpq_search stands
    * in for (0.58 → 0.74 at the identical probes/shortlist budget,
    * measured). Rows-only by design: the coarse quantizer AND sixteen
    * per-subspace codebooks are iterative k-means fits (deterministic,
    * seedless modulo init, but a 17-recursion oracle is not a
    * reasonable replay); q_kmeans proves the Lloyd loop itself
    * oracle-exactly, q_ivfpq_search proves the composite plan shape,
    * and SimilaritySpec pins this arrangement's recall floors
    * (≥0.7 at the budget, strictly above label-mean, near its coarse
    * ceiling, ≥0.8 at probes=6).
    */
  def ivfPqResidual(s: SparkSession, dir: String): DataFrame =
    graft.ops.Pq.ivfPqResidualTopK(Tables.embeddings(s, dir),
      nQueries = 10, k = 5, probes = IvfPqProbes,
      shortlist = IvfPqShortlist, m = PqM, dim = 64)

  // ---- q_ivfpq_residual_fixed: the residual machinery, hash-checked ----

  /** [[graft.ops.Pq.ivfPqResidualFixedTopK]] with multi-assignment
    * (assign=2): every moving part of the residual arrangement —
    * in-row centering, per-(query, cell) ADC tables at 1e-8 ticks,
    * the best-score dedup of multi-assigned candidates, shortlist,
    * exact rerank — with the two Lloyd fits swapped for label-mean
    * stand-ins, making the whole chain closed-form arithmetic DuckDB
    * replays CTE by CTE. q_ivfpq_residual stays rows-only for the
    * trained recall; THIS twin is the hash gate on the machinery.
    */
  def ivfPqResidualFixed(s: SparkSession, dir: String): DataFrame =
    graft.ops.Pq.ivfPqResidualFixedTopK(Tables.embeddings(s, dir),
      nQueries = 10, k = 5, probes = IvfPqProbes,
      shortlist = IvfPqShortlist, m = PqM, dim = 64, assign = 2)

  /** Replays the fixed-quantizer residual chain: normalized label-mean
    * cells, per-vector top-2 cell assignment, per-cell residuals,
    * label-mean residual codebooks from PRIMARY residuals, per-cell
    * encoding, per-(query, probed cell) ADC tables, min-over-cells
    * candidate dedup, shortlist, exact rerank.
    */
  val ivfPqResidualFixedSql: String =
    s"""WITH e0 AS (SELECT vec_id, label, embedding::DOUBLE[] AS v0 FROM embeddings),
       |e AS (SELECT vec_id, label,
       |  CASE WHEN sqrt(list_reduce(list_transform(v0, y -> y * y), (a, b) -> a + b)) > 0
       |    THEN list_transform(v0,
       |      x -> x / sqrt(list_reduce(list_transform(v0, y -> y * y), (a, b) -> a + b)))
       |    ELSE v0 END AS v
       | FROM e0),
       |pos AS (SELECT unnest(generate_series(1, 64)) AS p),
       |cent AS (
       | SELECT label AS centroid_label, list(cx ORDER BY p) AS cv
       | FROM (SELECT label, p, avg(v[p]) AS cx FROM e CROSS JOIN pos GROUP BY label, p)
       | GROUP BY label),
       |cells AS (
       | SELECT vec_id, centroid_label AS cell, rn FROM (
       |  SELECT e.vec_id, cent.centroid_label,
       |   row_number() OVER (PARTITION BY e.vec_id
       |     ORDER BY list_cosine_similarity(e.v, cent.cv) DESC, cent.centroid_label) AS rn
       |  FROM e CROSS JOIN cent)
       | WHERE rn <= 2),
       |res AS (
       | SELECT c.vec_id, c.cell, c.rn,
       |   list_transform(generate_series(1, 64), i -> e.v[i] - cent.cv[i]) AS rv
       | FROM cells c JOIN e USING (vec_id)
       | JOIN cent ON cent.centroid_label = c.cell),
       |cb AS (
       | SELECT CAST((p - 1) // $PqSub AS INT) AS m_idx, label AS code,
       |        list(cx ORDER BY p) AS cv
       | FROM (SELECT e.label, p, avg(r.rv[p]) AS cx
       |       FROM res r JOIN e USING (vec_id) CROSS JOIN pos
       |       WHERE r.rn = 1 GROUP BY e.label, p)
       | GROUP BY 1, 2),
       |d AS (SELECT r.vec_id, r.cell, cb.m_idx, cb.code,
       |        ${pqL2Sql("r.rv")} AS dist
       |      FROM res r CROSS JOIN cb),
       |enc AS (SELECT vec_id, cell, m_idx, code FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id, cell, m_idx
       |    ORDER BY dist, code) AS rn2 FROM d) WHERE rn2 = 1),
       |qr AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
       |probes AS (
       | SELECT query_id, centroid_label AS cell FROM (
       |  SELECT qr.query_id, cent.centroid_label,
       |   row_number() OVER (PARTITION BY qr.query_id
       |     ORDER BY list_cosine_similarity(qr.qv, cent.cv) DESC, cent.centroid_label) AS pr
       |  FROM qr CROSS JOIN cent)
       | WHERE pr <= $IvfPqProbes),
       |qres AS (
       | SELECT p.query_id, p.cell,
       |   list_transform(generate_series(1, 64), i -> qr.qv[i] - cent.cv[i]) AS qrv
       | FROM probes p JOIN qr USING (query_id)
       | JOIN cent ON cent.centroid_label = p.cell),
       |qtab AS (SELECT q.query_id, q.cell, cb.m_idx, cb.code,
       |    CAST(floor(${pqL2Sql("q.qrv")} * CAST(100000000 AS DOUBLE)) AS BIGINT) AS dq
       |  FROM qres q CROSS JOIN cb),
       |cand0 AS (SELECT t.query_id, enc.vec_id, enc.cell,
       |    CAST(sum(t.dq) AS BIGINT) AS dist_cell
       |  FROM enc
       |  JOIN qtab t ON t.cell = enc.cell AND t.m_idx = enc.m_idx
       |    AND t.code = enc.code
       |  WHERE enc.vec_id <> t.query_id
       |  GROUP BY 1, 2, 3),
       |cand AS (SELECT query_id, vec_id, min(dist_cell) AS dist_q
       |  FROM cand0 GROUP BY 1, 2),
       |short AS (SELECT query_id, vec_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY dist_q, vec_id) AS srank FROM cand) WHERE srank <= $IvfPqShortlist),
       |rr AS (SELECT s.query_id, s.vec_id,
       |    list_cosine_similarity(q2.qv0, ev.v0) AS cosine
       |  FROM short s
       |  JOIN e0 ev ON ev.vec_id = s.vec_id
       |  JOIN (SELECT vec_id AS query_id, v0 AS qv0 FROM e0 WHERE vec_id < 10) q2
       |    ON q2.query_id = s.query_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, vec_id) AS rank FROM rr)
       |SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 5""".stripMargin

  /** Composes the two validated chains: the IVF coarse CTEs (raw-vector
    * centroids/assignment/probes — verbatim shapes from [[ivfTopKSql]])
    * and the PQ CTEs (normalized codebooks/encoding/ADC tables —
    * verbatim from [[pqSearchSql]]), restricted to probed cells.
    */
  val ivfPqSearchSql: String =
    s"""WITH $pqCbSql,
       |$pqEncSql,
       |cent AS (
       | SELECT label AS centroid_label, list(cx ORDER BY p) AS cv
       | FROM (SELECT label, p, avg(v0[p]) AS cx FROM e0 CROSS JOIN pos GROUP BY label, p)
       | GROUP BY label),
       |assigned AS (
       | SELECT vec_id, centroid_label AS assigned_centroid FROM (
       |  SELECT e0.vec_id, cent.centroid_label,
       |   row_number() OVER (PARTITION BY e0.vec_id
       |     ORDER BY list_cosine_similarity(e0.v0, cent.cv) DESC, cent.centroid_label) AS rn
       |  FROM e0 CROSS JOIN cent)
       | WHERE rn = 1),
       |qr AS (SELECT vec_id AS query_id, v0 AS qv0 FROM e0 WHERE vec_id < 10),
       |probes AS (
       | SELECT query_id, centroid_label AS probe_centroid FROM (
       |  SELECT qr.query_id, cent.centroid_label,
       |   row_number() OVER (PARTITION BY qr.query_id
       |     ORDER BY list_cosine_similarity(qr.qv0, cent.cv) DESC, cent.centroid_label) AS pr
       |  FROM qr CROSS JOIN cent)
       | WHERE pr <= $IvfPqProbes),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
       |tab AS (SELECT q.query_id, cb.m_idx, cb.code,
       |    CAST(floor(${pqL2Sql("qv")} * 10000) AS BIGINT) AS dq
       |  FROM q CROSS JOIN cb),
       |cand AS (SELECT p.query_id, a.vec_id, CAST(sum(t.dq) AS BIGINT) AS dist_q
       |  FROM assigned a
       |  JOIN probes p ON p.probe_centroid = a.assigned_centroid
       |  JOIN enc ON enc.vec_id = a.vec_id
       |  JOIN tab t ON t.query_id = p.query_id AND t.m_idx = enc.m_idx
       |    AND t.code = enc.code
       |  WHERE a.vec_id <> p.query_id
       |  GROUP BY 1, 2),
       |short AS (SELECT query_id, vec_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY dist_q, vec_id) AS srank FROM cand) WHERE srank <= $IvfPqShortlist),
       |rr AS (SELECT s.query_id, s.vec_id,
       |    list_cosine_similarity(q2.qv0, ev.v0) AS cosine
       |  FROM short s
       |  JOIN e0 ev ON ev.vec_id = s.vec_id
       |  JOIN qr q2 ON q2.query_id = s.query_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, vec_id) AS rank FROM rr)
       |SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 5""".stripMargin

  // ---- q_containment: asymmetric shingle-containment pairs --------------

  private val ContainMaxDf = 20
  private val ContainThreshold = 0.9

  def containment(s: SparkSession, dir: String): DataFrame =
    SketchDedup.containmentPairs(Tables.documents(s, dir),
      idCol = "doc_id", textCol = "text",
      shingleSize = 3, maxDf = ContainMaxDf, threshold = ContainThreshold)

  /** Shared shingling CTEs (tokenize → distinct 3-shingles → posting
    * table) — the ONE copy both the pairs oracle and the band-report
    * oracle replay, so the accounting can never drift from the pairs. */
  private val ContainShingleCtes: String =
    """WITH c AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |           FROM documents WHERE trim(coalesce(text, '')) <> ''),
      |s AS (SELECT doc_id,
      |  CASE WHEN len(toks) >= 3 THEN
      |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
      |      i -> array_to_string(toks[i:i+2], ' ')))
      |  ELSE [array_to_string(toks, ' ')] END AS sh
      | FROM c),
      |e AS (SELECT doc_id, unnest(sh) AS g FROM s)""".stripMargin

  val containmentSql: String = ContainShingleCtes + ",\n" +
    s"""f AS (SELECT g FROM e GROUP BY g
       |      HAVING count(*) BETWEEN 2 AND $ContainMaxDf),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
       |      FROM e a JOIN f ON f.g = a.g
       |      JOIN e b ON b.g = a.g AND a.doc_id <> b.doc_id
       |      GROUP BY 1, 2),
       |z AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh FROM s)
       |SELECT p.id_a, p.id_b, CAST(p.n_shared AS BIGINT) AS n_shared,
       |  CAST(p.n_shared AS DOUBLE) / CAST(z.n_sh AS DOUBLE) AS containment
       |FROM p JOIN z ON z.doc_id = p.id_a
       |WHERE CAST(p.n_shared AS DOUBLE) / CAST(z.n_sh AS DOUBLE) >= $ContainThreshold""".stripMargin

  // ---- q_containment_report: the df band's truncation, made visible -----

  /** Truncation accounting for [[containment]]'s df band (VERDICT r12
    * nit): how many shingle groups the [2, maxDf] gate dropped above
    * the band and how many postings went with them — the "what did the
    * cap silently cost" number a pipeline operator reads next to the
    * pairs, oracle-replayed like everything else.
    */
  def containmentReport(s: SparkSession, dir: String): DataFrame =
    SketchDedup.containmentBandReport(Tables.documents(s, dir),
      idCol = "doc_id", textCol = "text",
      shingleSize = 3, maxDf = ContainMaxDf)

  val containmentReportSql: String = ContainShingleCtes + ",\n" +
    s"""d AS (SELECT g, count(*) AS n FROM e GROUP BY g)
       |SELECT CAST(count(*) AS BIGINT) AS n_groups,
       |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_singleton,
       |  CAST(sum(CASE WHEN n BETWEEN 2 AND $ContainMaxDf THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_in_band,
       |  CAST(sum(CASE WHEN n > $ContainMaxDf THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_above_band,
       |  CAST(sum(CASE WHEN n > $ContainMaxDf THEN n ELSE 0 END) AS BIGINT)
       |    AS n_postings_dropped
       |FROM d""".stripMargin

  // ---- q_ngram_jaccard: blocked exact Jaccard near-dup pairs ------------

  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    SketchDedup.ngramJaccardPairs(Tables.documents(s, dir),
      idCol = "doc_id", textCol = "text",
      shingleSize = 3, blockTokens = 8, threshold = 0.8)

  val ngramJaccardSql: String =
    """WITH c AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |           FROM documents WHERE trim(coalesce(text, '')) <> ''),
      |s AS (SELECT doc_id,
      |  array_to_string(toks[1:8], ' ') AS block_key,
      |  CASE WHEN len(toks) >= 3 THEN
      |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
      |      i -> array_to_string(toks[i:i+2], ' ')))
      |  ELSE [array_to_string(toks, ' ')] END AS sh
      | FROM c)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      | CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |   / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jaccard
      |FROM s a JOIN s b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |   / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.8""".stripMargin

  // ---- q_minhash_md5: fully oracle-checked MinHash+LSH ------------------

  def minhashMd5(s: SparkSession, dir: String): DataFrame =
    SketchDedup.minhashMd5Pairs(Tables.documents(s, dir),
      idCol = "doc_id", textCol = "text",
      shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.7)

  /** Replays the engine's md5 MinHash byte-for-byte: per-slot min over
    * md5(j:shingle) hex (memcmp order on both engines), 4-band
    * signature concat, bucket self-join, exact-Jaccard verify.
    */
  val minhashMd5Sql: String =
    """WITH c AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |           FROM documents WHERE trim(coalesce(text, '')) <> ''),
      |s AS (SELECT doc_id,
      |  CASE WHEN len(toks) >= 3 THEN
      |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
      |      i -> array_to_string(toks[i:i+2], ' ')))
      |  ELSE [array_to_string(toks, ' ')] END AS sh
      | FROM c),
      |g AS (SELECT doc_id, sh,
      |  list_transform(generate_series(0, 15), j ->
      |    list_aggregate(list_transform(sh, x -> md5(CAST(j AS VARCHAR) || ':' || x)), 'min')) AS sig
      | FROM s),
      |bd AS (SELECT doc_id, b, array_to_string(sig[b*4+1 : b*4+4], '') AS band
      |       FROM g CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b)),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      |         FROM bd a JOIN bd b2 ON a.b = b2.b AND a.band = b2.band
      |           AND a.doc_id < b2.doc_id)
      |SELECT cd.id_a, cd.id_b,
      |  CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
      |    / CAST(len(list_distinct(x.sh || y.sh)) AS DOUBLE) AS jaccard
      |FROM cand cd JOIN s x ON x.doc_id = cd.id_a
      |             JOIN s y ON y.doc_id = cd.id_b
      |WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
      |    / CAST(len(list_distinct(x.sh || y.sh)) AS DOUBLE) >= 0.7""".stripMargin

  // ---- q_incr_neardup: incremental near-dedup vs a corpus state ---------

  /** Incremental MinHash dedup with a FULL oracle: even doc_ids play the
    * standing corpus (its sketch state is what a daily run would have on
    * disk), odd doc_ids the incoming batch. Flags per batch doc: dup of
    * an earlier batch row (keep-first) and/or of a corpus row, with the
    * lowest matching id as lineage. The corpus×corpus pair space is
    * never generated — history participates only through the band-key
    * join — which is the entire point of the incremental shape. md5
    * sketch variant so DuckDB replays signatures, banding, candidates
    * and verification end to end.
    */
  def incrNearDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    // the corpus state is REFERENCED twice inside the op (band keys +
    // verify join); in production it is a parquet-backed state table
    // (cheap to scan twice, never re-sketched), but here it is computed
    // in-query — persist it or the 16-digest md5 sketch of the corpus
    // half runs once per reference
    val corpusState =
      Persisted(SketchDedup.minhashMd5SketchTable(corpus, "doc_id", "text"))
    val r = SketchDedup.incrementalFromSketches(batch,
      SketchDedup.minhashMd5SketchTable(batch, "doc_id", "text"),
      corpusState,
      "doc_id", threshold = 0.7)
    r.flagged.select(col("doc_id"),
      col("is_dup_near_batch").as("is_dup_batch"),
      col("batch_dup_of").cast("long").as("batch_dup_of"),
      col("is_dup_near_corpus").as("is_dup_corpus"),
      col("near_dup_of").cast("long").as("corpus_dup_of"))
  }

  val incrNearDedupSql: String =
    """WITH c AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |           FROM documents WHERE trim(coalesce(text, '')) <> ''),
      |s AS (SELECT doc_id,
      |  CASE WHEN len(toks) >= 3 THEN
      |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
      |      i -> array_to_string(toks[i:i+2], ' ')))
      |  ELSE [array_to_string(toks, ' ')] END AS sh
      | FROM c),
      |g AS (SELECT doc_id, sh,
      |  list_transform(generate_series(0, 15), j ->
      |    list_aggregate(list_transform(sh, x -> md5(CAST(j AS VARCHAR) || ':' || x)), 'min')) AS sig
      | FROM s),
      |bd AS (SELECT doc_id, b, array_to_string(sig[b*4+1 : b*4+4], '') AS band
      |       FROM g CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b)),
      |cand AS (SELECT DISTINCT n.doc_id AS id_n, m.doc_id AS id_m
      |         FROM bd n JOIN bd m ON n.b = m.b AND n.band = m.band
      |         WHERE n.doc_id % 2 = 1
      |           AND (m.doc_id % 2 = 0 OR m.doc_id < n.doc_id)),
      |ver AS (SELECT cd.id_n, cd.id_m FROM cand cd
      |        JOIN s x ON x.doc_id = cd.id_n
      |        JOIN s y ON y.doc_id = cd.id_m
      |        WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
      |            / CAST(len(list_distinct(x.sh || y.sh)) AS DOUBLE) >= 0.7),
      |mb AS (SELECT id_n AS doc_id, min(id_m) AS batch_dup_of
      |       FROM ver WHERE id_m % 2 = 1 GROUP BY id_n),
      |mc AS (SELECT id_n AS doc_id, min(id_m) AS corpus_dup_of
      |       FROM ver WHERE id_m % 2 = 0 GROUP BY id_n)
      |SELECT d.doc_id,
      |  mb.batch_dup_of IS NOT NULL AS is_dup_batch, mb.batch_dup_of,
      |  mc.corpus_dup_of IS NOT NULL AS is_dup_corpus, mc.corpus_dup_of
      |FROM documents d
      |LEFT JOIN mb ON mb.doc_id = d.doc_id
      |LEFT JOIN mc ON mc.doc_id = d.doc_id
      |WHERE d.doc_id % 2 = 1""".stripMargin

  // ---- q_dedup_funnel: survivor counts through every dedup tier ---------

  /** The whole dedup stack as one report: reference stage-4 flags
    * (exact then near, chained first-match-wins) plus the sketch tier
    * (Jaccard pair graph → connected components). One row — the
    * numbers an operator watches when tuning thresholds. Each tier is
    * the already-oracle-checked operator; this composes them, so the
    * funnel doubles as an integration check across the family.
    */
  def dedupFunnel(s: SparkSession, dir: String): DataFrame = {
    val flags = graft.ops.Dedup.dedupStage(
      graft.Tables.documents(s, dir), textCol = "text")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dup_exact"), 1L).otherwise(0L)).as("n_dup_exact"),
        sum(when(!col("is_dup_exact") && col("is_dup_near"), 1L)
          .otherwise(0L)).as("n_dup_near"),
        sum(when(!col("is_dup_exact") && !col("is_dup_near"), 1L)
          .otherwise(0L)).as("n_kept"))
    val clusters = dupClusters(s, dir)
      .agg(count(lit(1)).as("n_clustered_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"))
    flags.crossJoin(clusters)
  }

  lazy val dedupFunnelSql: String =
    s"""WITH n AS (${DocQueries.dedupNearSql}),
       |f AS (SELECT count(*) AS n_docs,
       |  CAST(sum(CASE WHEN is_dup_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_exact,
       |  CAST(sum(CASE WHEN NOT is_dup_exact AND is_dup_near THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_near,
       |  CAST(sum(CASE WHEN NOT is_dup_exact AND NOT is_dup_near THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       | FROM n),
       |cl AS (SELECT CAST(count(*) AS BIGINT) AS n_clustered_docs,
       |         CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters
       |       FROM ($dupClustersSql))
       |SELECT * FROM f CROSS JOIN cl""".stripMargin

  // ---- q_prefix_jaccard: lossless prefix-filtered Jaccard join ----------

  /** PPJoin-style prefix filtering (SketchDedup.prefixJaccardPairs):
    * the lossless upgrade of q_ngram_jaccard's first-8-token blocking —
    * output IS the exact all-pairs Jaccard >= 0.8 result. The oracle
    * mirrors the prefix pipeline (df table, frequency-ordered prefix,
    * candidate join, exact verify), which is semantically all-pairs by
    * the prefix-filter guarantee while staying cheap at oracle scale.
    */
  def prefixJaccard(s: SparkSession, dir: String): DataFrame =
    SketchDedup.prefixJaccardPairs(Tables.documents(s, dir),
      idCol = "doc_id", textCol = "text", shingleSize = 3, threshold = 0.8)

  val prefixJaccardSql: String =
    """WITH c AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |           FROM documents WHERE trim(coalesce(text, '')) <> ''),
      |s AS (SELECT doc_id,
      |  CASE WHEN len(toks) >= 3 THEN
      |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
      |      i -> array_to_string(toks[i:i+2], ' ')))
      |  ELSE [array_to_string(toks, ' ')] END AS sh
      | FROM c),
      |e AS (SELECT doc_id, unnest(sh) AS sg FROM s),
      |d AS (SELECT sg, count(*) AS df_s FROM e GROUP BY sg),
      |o AS (SELECT e.doc_id,
      |        list_sort(list(struct_pack(df_s := d.df_s, s := e.sg))) AS ord
      |      FROM e JOIN d USING (sg) GROUP BY e.doc_id),
      |pz AS (SELECT doc_id, list_transform(ord, x -> x.s) AS osh,
      |         CAST(len(ord) - ceil(CAST(len(ord) AS DOUBLE) * 0.8) + 1 AS INT) AS p
      |       FROM o),
      |pr AS (SELECT doc_id, unnest(osh[1:p]) AS sg FROM pz),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |         FROM pr a JOIN pr b ON a.sg = b.sg AND a.doc_id < b.doc_id),
      |v AS (SELECT cand.id_a, cand.id_b,
      |        CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) AS inter,
      |        CAST(len(sa.sh) + len(sb.sh) AS DOUBLE) AS szsum
      |      FROM cand
      |      JOIN s sa ON cand.id_a = sa.doc_id
      |      JOIN s sb ON cand.id_b = sb.doc_id)
      |SELECT id_a, id_b, inter / (szsum - inter) AS jaccard
      |FROM v WHERE inter / (szsum - inter) >= 0.8""".stripMargin

  // ---- q_tri_neardup: triangle counts over the near-dup graph -----------

  /** Per-node triangle counts ([[graft.ops.Triangles]]) over the
    * embedding near-dup pair graph: the cluster-quality diagnostic —
    * triangle-dense components are real duplicate cliques; a component
    * whose members have zero triangles is threshold chaining. The
    * oracle composes the pair SQL and counts triangles the direct way
    * (one ordered 3-way join over the canonical u<v edge list), which
    * is independent of the engine's degree-ordered orientation — so a
    * miscount from a wrong orientation or a double-counted wedge is a
    * hash mismatch.
    */
  def triNearDup(s: SparkSession, dir: String): DataFrame =
    graft.ops.Triangles.perNode(embedNearDup(s, dir), "id_a", "id_b")

  val triNearDupSql: String =
    s"""WITH p AS ($embedNearDupSql),
       |e AS (SELECT least(id_a, id_b) AS u, greatest(id_a, id_b) AS v
       |      FROM p WHERE id_a <> id_b GROUP BY 1, 2),
       |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |        FROM e e1
       |        JOIN e e2 ON e2.u = e1.v
       |        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
       |n AS (SELECT unnest([a, b, c]) AS id FROM tri)
       |SELECT id, CAST(count(*) AS BIGINT) AS n_tri FROM n GROUP BY id""".stripMargin

  // ---- q_edit_neardup: PassJoin edit-distance near-dup join -------------

  /** Word-level edit-distance near-dup pairs over the hashed-alphabet
    * signature ([[graft.ops.EditDedup]]): PassJoin segment blocking +
    * banded-Levenshtein verify. The blocking is lossless (pigeonhole
    * over the d+1 segments), so the oracle computes the same result the
    * DIRECT way — length-band pairs + levenshtein — which is feasible at
    * oracle scale and is precisely the contract the Spark plan must
    * reproduce without ever going all-pairs.
    */
  def editNearDup(s: SparkSession, dir: String): DataFrame =
    graft.ops.EditDedup.editNearDupPairs(Tables.documents(s, dir),
      idCol = "doc_id", textCol = "text", d = 3)

  val editNearDupSql: String = {
    val toks = graft.queries.OracleSql.toks("text")
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       |sg AS (SELECT doc_id, coalesce(list_aggregate(
       |    list_transform(toks, x -> substr(md5(x), 1, 1)),
       |    'string_agg', ''), '') AS sig FROM t),
       |f AS (SELECT doc_id, sig, length(sig) AS n FROM sg
       |      WHERE length(sig) >= 4)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(levenshtein(a.sig, b.sig) AS BIGINT) AS dist
       |FROM f a JOIN f b
       |  ON b.n BETWEEN a.n - 3 AND a.n + 3 AND a.doc_id < b.doc_id
       |WHERE levenshtein(a.sig, b.sig) <= 3""".stripMargin
  }

  // ---- q_dup_clusters: connected components over near-dup pairs ---------

  /** Duplicate clusters from the Jaccard pair list: min-label-propagation
    * connected components (graft.ops.DupClusters). The DuckDB oracle
    * computes the same fixpoint as a recursive transitive-closure CTE —
    * feasible at oracle scale, while the Spark loop is the shape that
    * survives 100 TB (one keyed shuffle per round, diameter-bounded).
    */
  def dupClusters(s: SparkSession, dir: String): DataFrame =
    graft.ops.DupClusters.connectedComponents(ngramJaccard(s, dir))
      .select(col("id").as("doc_id"), col("cluster_id"))

  val dupClustersSql: String =
    s"""WITH RECURSIVE pairs AS ($ngramJaccardSql),
       |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |      UNION SELECT id_b, id_a FROM pairs),
       |reach(id, lab) AS (
       |  SELECT src, src FROM e
       |  UNION
       |  SELECT e.src, reach.lab FROM e JOIN reach ON e.dst = reach.id)
       |SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id""".stripMargin

  // ---- q_cluster_best: keep-BEST-per-cluster dedup policy ---------------

  /** Quality-aware cluster representative: for each near-dup cluster,
    * keep the member with the highest quality score (doc_id ascending on
    * ties) — the dedup policy production corpora actually want (the
    * keep-FIRST windows elsewhere keep the earliest, not the best).
    * Argmax is a `max(struct(score, -id))` aggregate — map-side partial,
    * deterministic, no per-cluster window. Scores are quantized longs so
    * the struct comparison is integer-exact in both engines.
    */
  def clusterBest(s: SparkSession, dir: String): DataFrame = {
    val clusters = dupClusters(s, dir)
    val scored = graft.queries.DocQueries.qualityScore(s, dir)
      .select(col("doc_id"),
        floor(col("quality_score") * 10000).cast("long").as("qs_q"))
    clusters.join(scored, Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("qs_q"), (-col("doc_id")).as("neg_id"))).as("best"))
      .select(col("cluster_id"), col("n_members"),
        (-col("best.neg_id")).cast("long").as("best_doc_id"),
        col("best.qs_q").as("best_qs_q"))
  }

  val clusterBestSql: String =
    s"""WITH clusters AS ($dupClustersSql),
       |scored AS (SELECT doc_id,
       |    CAST(floor(quality_score * 10000) AS BIGINT) AS qs_q
       |  FROM (${graft.queries.DocQueries.qualityScoreSql})),
       |r AS (SELECT c.cluster_id, c.doc_id, s.qs_q,
       |        row_number() OVER (PARTITION BY c.cluster_id
       |          ORDER BY s.qs_q DESC, c.doc_id ASC) AS rn,
       |        count(*) OVER (PARTITION BY c.cluster_id) AS n_members
       |      FROM clusters c JOIN scored s USING (doc_id))
       |SELECT cluster_id, n_members, doc_id AS best_doc_id, qs_q AS best_qs_q
       |FROM r WHERE rn = 1""".stripMargin

  // ---- q_contamination: benchmark n-gram decontamination ----------------

  /** Benchmark decontamination over a deterministic split of the corpus:
    * docs with doc_id % 10 == 0 play the eval set; every other doc is
    * scored by how many distinct 4-grams it shares with that set
    * (graft.ops.Decontaminate — broadcast semi-match, corpus never
    * shuffles).
    */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Decontaminate.overlapReport(
      corpus = docs.filter(col("doc_id") % 10 =!= 0),
      benchmark = docs.filter(col("doc_id") % 10 === 0),
      idCol = "doc_id", textCol = "text", n = 4)
  }

  val contaminationSql: String =
    """WITH c AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |           FROM documents WHERE trim(coalesce(text, '')) <> ''),
      |s AS (SELECT doc_id,
      |  CASE WHEN len(toks) >= 4 THEN
      |    list_distinct(list_transform(generate_series(1, len(toks) - 3),
      |      i -> array_to_string(toks[i:i+3], ' ')))
      |  ELSE [array_to_string(toks, ' ')] END AS sh
      | FROM c),
      |g AS (SELECT doc_id, unnest(sh) AS gram FROM s),
      |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0),
      |hits AS (SELECT g.doc_id, count(*) AS n_shared
      |         FROM g JOIN bench USING (gram)
      |         WHERE g.doc_id % 10 <> 0 GROUP BY g.doc_id)
      |SELECT d.doc_id, coalesce(h.n_shared, 0) AS n_shared,
      |       coalesce(h.n_shared, 0) > 0 AS contaminated
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
      |LEFT JOIN hits h USING (doc_id)""".stripMargin

  // ---- q_semantic_contamination: the paraphrase leakage channel ---------

  /** Semantic decontamination over the same eval split
    * (graft.ops.Decontaminate.semanticOverlapReport): max
    * hashed-embedding cosine of each training doc vs ANY benchmark doc —
    * the rephrased-eval-leak screen the verbatim n-gram report cannot
    * see. Benchmark vectors broadcast; the corpus folds its max in one
    * pass; cosine bits match DuckDB's list_cosine_similarity (the
    * q_text_ann proof) so max and flag replay exactly.
    */
  /** The benchmark side is additionally capped to the base id range
    * (doc_id < 10⁶): an eval suite is FIXED-size in production, so the
    * split must not grow with corpus replication — without the cap the
    * 10× scale fixture (replica ids offset by 10⁷) would quadratically
    * inflate the corpus×bench pair count and measure the fixture, not
    * the op (23.6 s vs 2.4 s at 10×, measured).
    */
  def semanticContamination(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Decontaminate.semanticOverlapReport(
      corpus = docs.filter(col("doc_id") % 10 =!= 0),
      benchmark = docs.filter(col("doc_id") % 10 === 0
        && col("doc_id") < 1000000L),
      idCol = "doc_id", textCol = "text")
  }

  val semanticContaminationSql: String =
    s"""WITH ${hashedVecCtesSql(graft.ops.HashedEmbed.Dim)},
       |hn AS (SELECT doc_id, vec,
       |        list_reduce(list_transform(vec, x -> x * x), (a, b) -> a + b) AS n2
       |       FROM hv),
       |he AS (SELECT doc_id, vec FROM hn WHERE n2 > 0),
       |bench AS (SELECT vec AS bv FROM he
       |          WHERE doc_id % 10 = 0 AND doc_id < 1000000),
       |corp AS (SELECT doc_id, vec FROM he WHERE doc_id % 10 <> 0),
       |m AS (SELECT doc_id,
       |        max(list_cosine_similarity(vec, bv)) AS max_cosine
       |      FROM corp CROSS JOIN bench GROUP BY doc_id)
       |SELECT doc_id, max_cosine,
       |  max_cosine >= CAST(0.9 AS DOUBLE) AS contaminated
       |FROM m""".stripMargin

  // ---- q_semantic_contamination_lsh: the banded 100 TB form -------------

  /** LSH-pruned semantic decontamination
    * ([[Decontaminate.semanticOverlapReportLsh]]) — the scale path for
    * the paraphrase screen (VERDICT r11 #3): random-hyperplane bucket
    * keys on BOTH sides, benchmark bands broadcast, exact cosine only
    * within shared (table, bucket) keys. Semantics are the banding's
    * own (max cosine over COLLIDING bench docs, NULL when none) and the
    * oracle replays the identical hyperplane matrix, so the query is
    * hash-checked, not approximately-checked; recall vs the exact twin
    * is pinned in SimilaritySpec.
    */
  val SemLshBits = 16

  def semanticContaminationLsh(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Decontaminate.semanticOverlapReportLsh(
      corpus = docs.filter(col("doc_id") % 10 =!= 0),
      benchmark = docs.filter(col("doc_id") % 10 === 0
        && col("doc_id") < 1000000L),
      idCol = "doc_id", textCol = "text",
      nbits = SemLshBits, tables = LshTables)
  }

  val semanticContaminationLshSql: String = {
    val dim = graft.ops.HashedEmbed.Dim
    s"""WITH ${hashedVecCtesSql(dim)},
       |hn AS (SELECT doc_id, vec,
       |        list_reduce(list_transform(vec, x -> x * x), (a, b) -> a + b) AS n2
       |       FROM hv),
       |he AS (SELECT doc_id, vec FROM hn WHERE n2 > 0),
       |rp AS (SELECT tt.t, bb.b, dd.d,
       |    CASE WHEN (instr('0123456789abcdef',
       |        substr(md5('rp_' || tt.t || ':' || bb.b || ':' || dd.d), 1, 1)) - 1) % 2 = 0
       |      THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END AS r
       |  FROM (SELECT unnest(generate_series(0, ${LshTables - 1})) AS t) tt
       |  CROSS JOIN (SELECT unnest(generate_series(0, ${SemLshBits - 1})) AS b) bb
       |  CROSS JOIN (SELECT unnest(generate_series(1, $dim)) AS d) dd),
       |dots AS (SELECT doc_id, t, b, sum(vec[d] * r) AS dot
       |         FROM he CROSS JOIN rp GROUP BY doc_id, t, b),
       |bkt AS (SELECT doc_id, t,
       |          sum(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) << (${SemLshBits - 1} - b)
       |                   ELSE CAST(0 AS BIGINT) END) AS bucket
       |        FROM dots GROUP BY doc_id, t),
       |corp AS (SELECT doc_id, vec FROM he WHERE doc_id % 10 <> 0),
       |bench AS (SELECT doc_id AS bid, vec AS bv FROM he
       |          WHERE doc_id % 10 = 0 AND doc_id < 1000000),
       |cand AS (SELECT DISTINCT c.doc_id, be.bid
       |  FROM bkt c JOIN bkt b2 ON c.t = b2.t AND c.bucket = b2.bucket
       |  JOIN corp co ON co.doc_id = c.doc_id
       |  JOIN bench be ON be.bid = b2.doc_id),
       |m AS (SELECT cand.doc_id,
       |        max(list_cosine_similarity(co.vec, be.bv)) AS max_cosine
       |      FROM cand JOIN corp co ON co.doc_id = cand.doc_id
       |                JOIN bench be ON be.bid = cand.bid
       |      GROUP BY cand.doc_id)
       |SELECT co.doc_id, m.max_cosine,
       |  coalesce(m.max_cosine >= CAST(0.9 AS DOUBLE), false) AS contaminated
       |FROM corp co LEFT JOIN m ON m.doc_id = co.doc_id""".stripMargin
  }

  /** The Bloom-prefiltered form over the same split — EXACT answer (the
    * Bloom only prunes before the verify join), so it shares
    * [[contaminationSql]] verbatim as its oracle.
    */
  def bloomContamination(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Decontaminate.bloomOverlapReport(
      corpus = docs.filter(col("doc_id") % 10 =!= 0),
      benchmark = docs.filter(col("doc_id") % 10 === 0),
      idCol = "doc_id", textCol = "text", n = 4)
  }

  // ---- q_winnow_fp: rolling-hash winnowing fingerprint digest -----------

  private val WinnowK = 8
  private val WinnowW = 4

  def winnowFp(s: SparkSession, dir: String): DataFrame =
    SketchDedup.winnowDigest(Tables.documents(s, dir),
        idCol = "doc_id", textCol = "text", k = WinnowK, w = WinnowW)
      .withColumnRenamed("id", "doc_id")

  val winnowFpSql: String =
    s"""WITH c AS (SELECT doc_id,
       |  trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g')) AS canon
       | FROM documents),
       |g AS (SELECT doc_id, canon, length(canon) AS n FROM c
       |      WHERE length(canon) >= ${WinnowK + WinnowW - 1}),
       |h AS (SELECT doc_id, n, list_transform(generate_series(1, n - ${WinnowK - 1}),
       |        i -> md5(substr(canon, i, $WinnowK))) AS hs FROM g),
       |s AS (SELECT doc_id, list_sort(list_distinct(
       |        list_transform(generate_series(1, n - ${WinnowK + WinnowW - 2}),
       |          j -> list_min(hs[j:j+${WinnowW - 1}])))) AS fps FROM h)
       |SELECT doc_id, len(fps) AS n_fp, md5(array_to_string(fps, '')) AS fp_digest
       |FROM s""".stripMargin

  // ---- q_cdc_chunks: content-defined chunking ---------------------------

  private val CdcK = 8

  /** Rolling-hash chunk layout per document (graft.plans.CdcChunks):
    * 1-based offsets, lengths, md5 chunk hashes — the stable-under-edit
    * unit for chunk-level dedup of long documents.
    */
  def cdcChunks(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.text.Normalize.canonExact(col("text")).as("canon"))
      .filter(length(col("canon")) >= 1)
      .select(col("doc_id"),
        posexplode(graft.plans.CdcChunks(col("canon"), k = CdcK)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("chunk_idx"),
        col("col.start").as("start"), col("col.len").as("chunk_len"),
        col("col.hash").as("chunk_hash"))

  val cdcChunksSql: String =
    s"""WITH c AS (SELECT doc_id,
       |  trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g')) AS canon
       | FROM documents),
       |g AS (SELECT doc_id, canon, length(canon) AS n FROM c
       |      WHERE length(canon) >= 1),
       |b AS (SELECT doc_id, canon, n,
       |        list_prepend(CAST(1 AS BIGINT),
       |          list_filter(generate_series(2, n - ${CdcK - 1}),
       |            i -> substr(md5(substr(canon, i, $CdcK)), 1, 1) = '0')) AS starts
       |      FROM g),
       |x AS (SELECT doc_id, canon,
       |        unnest(starts) AS start,
       |        unnest(list_concat(starts[2:], [CAST(n + 1 AS BIGINT)])) AS nxt,
       |        unnest(range(1, len(starts) + 1)) AS chunk_idx
       |      FROM b)
       |SELECT doc_id, chunk_idx, start, nxt - start AS chunk_len,
       |       md5(substr(canon, start, nxt - start)) AS chunk_hash
       |FROM x""".stripMargin

  // ---- q_cdc_dedup: cross-document shared chunks ------------------------

  private val CdcMinChunk = 16

  /** Chunk-hash dedup over the CDC layout: chunks of >= CdcMinChunk
    * chars appearing in more than one document — the boilerplate/quote
    * payload an edit-stable chunker is built to find. One keyed agg over
    * the per-row chunk explode; tiny chunks are dropped before the
    * shuffle (they are both noise and the hot keys).
    */
  def cdcDedup(s: SparkSession, dir: String): DataFrame =
    cdcChunks(s, dir)
      .filter(col("chunk_len") >= CdcMinChunk)
      .groupBy("chunk_hash", "chunk_len")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_docs") > 1)

  val cdcDedupSql: String =
    s"""WITH chunks AS ($cdcChunksSql)
       |SELECT chunk_hash, chunk_len,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_occ
       |FROM chunks WHERE chunk_len >= $CdcMinChunk
       |GROUP BY chunk_hash, chunk_len HAVING count(DISTINCT doc_id) > 1""".stripMargin

  // ---- q_winnow_overlap: partial-overlap pairs via fingerprints ---------

  private val WinnowMaxDf = 20
  private val WinnowMinShared = 8

  /** Doc pairs sharing >= minShared rare winnowing fingerprints — the
    * quoted-paragraph/boilerplate-reuse detector whole-doc hashing and
    * LSH both miss (SketchDedup.winnowOverlapPairs).
    */
  def winnowOverlap(s: SparkSession, dir: String): DataFrame =
    SketchDedup.winnowOverlapPairs(Tables.documents(s, dir),
      idCol = "doc_id", textCol = "text", k = WinnowK, w = WinnowW,
      maxDf = WinnowMaxDf, minShared = WinnowMinShared)

  val winnowOverlapSql: String =
    s"""WITH c AS (SELECT doc_id,
       |  trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g')) AS canon
       | FROM documents),
       |g AS (SELECT doc_id, canon, length(canon) AS n FROM c
       |      WHERE length(canon) >= ${WinnowK + WinnowW - 1}),
       |h AS (SELECT doc_id, n, list_transform(generate_series(1, n - ${WinnowK - 1}),
       |        i -> md5(substr(canon, i, $WinnowK))) AS hs FROM g),
       |s AS (SELECT doc_id, list_distinct(
       |        list_transform(generate_series(1, n - ${WinnowK + WinnowW - 2}),
       |          j -> list_min(hs[j:j+${WinnowW - 1}]))) AS fps FROM h),
       |f AS (SELECT doc_id, unnest(fps) AS fp FROM s),
       |dfreq AS (SELECT fp, count(*) AS dfr FROM f GROUP BY fp),
       |kept AS (SELECT f.doc_id, f.fp FROM f JOIN dfreq USING (fp)
       |         WHERE dfr <= $WinnowMaxDf)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
       |FROM kept a JOIN kept b USING (fp) WHERE a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared""".stripMargin

  // ---- engine-defined sketches (hash-seeded; rows-only checks) ----------

  def minhashLsh(s: SparkSession, dir: String): DataFrame =
    SketchDedup.minhashLshPairs(Tables.documents(s, dir),
      idCol = "doc_id", textCol = "text",
      numHashes = 64, bands = 16, threshold = 0.7)

  def simhashPairs(s: SparkSession, dir: String): DataFrame =
    SketchDedup.simhashPairs(Tables.documents(s, dir),
      idCol = "doc_id", textCol = "text", maxHamming = 3)

  /** Graded twin of q_simhash_pairs (same banding + Hamming verify,
    * md5-replayable token hash) — the correctness proof of the SimHash
    * path, the way q_minhash_md5 proves the MinHash path.
    */
  def simhashMd5(s: SparkSession, dir: String): DataFrame =
    SketchDedup.simhashMd5Pairs(Tables.documents(s, dir),
      idCol = "doc_id", textCol = "text", maxHamming = 3)

  val simhashMd5Sql: String = {
    val toks = OracleSql.toks("text")
    s"""WITH t AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
       |h AS (SELECT doc_id,
       |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM t),
       |bits AS (SELECT doc_id, b, sum(((h >> b) & 1) * 2 - 1) AS v
       |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) bs
       |  GROUP BY doc_id, b),
       |sig AS (SELECT doc_id,
       |    sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b)
       |        ELSE CAST(0 AS BIGINT) END) AS sig
       |  FROM bits GROUP BY doc_id),
       |ch AS (SELECT doc_id, sig, i, (sig >> (15 * i)) & 32767 AS chunk
       |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) ii),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.sig AS sig_a, b.sig AS sig_b
       |  FROM ch a JOIN ch b ON a.i = b.i AND a.chunk = b.chunk
       |    AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3""".stripMargin
  }

  // ---- q_icp_order: semantic training order (in-context pretraining) ----

  /** The corpus in semantic training order (graft.ops.SemanticOrder —
    * the scalable space-filling-curve reduction of in-context
    * pretraining). Fully deterministic integer arithmetic end to end:
    * the oracle rebuilds the hashed vectors, replays the md5-parity
    * hyperplane projections and the min-max grid quantizer in exact
    * BIGINTs, walks the 16-level Hilbert recursion, and must agree on
    * EVERY position of the permutation.
    */
  def icpOrder(s: SparkSession, dir: String): DataFrame =
    graft.ops.SemanticOrder.semanticOrder(Tables.documents(s, dir))

  val icpOrderSql: String = {
    val dim = graft.ops.SemanticOrder.Dim
    def sgn(axis: String) =
      s"CASE WHEN (instr('0123456789abcdef', substr(md5('icp:$axis:' || CAST(i - 1 AS VARCHAR)), 3, 1)) - 1) % 2 = 0" +
        " THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END"
    s"""WITH RECURSIVE ${hashedVecCtesSql(dim)},
       |p AS (SELECT doc_id,
       |  CAST(list_reduce(list_transform(generate_series(1, $dim),
       |    i -> vec[i] * ${sgn("x")}), (a, b) -> a + b) AS BIGINT) AS px,
       |  CAST(list_reduce(list_transform(generate_series(1, $dim),
       |    i -> vec[i] * ${sgn("y")}), (a, b) -> a + b) AS BIGINT) AS py
       | FROM hv),
       |env AS (SELECT min(px) AS minx, max(px) AS maxx,
       |               min(py) AS miny, max(py) AS maxy FROM p),
       |c AS MATERIALIZED (SELECT doc_id,
       |  CASE WHEN maxx = minx THEN 0
       |       ELSE ((px - minx) * 65535) // (maxx - minx) END AS x,
       |  CASE WHEN maxy = miny THEN 0
       |       ELSE ((py - miny) * 65535) // (maxy - miny) END AS y
       | FROM p CROSS JOIN env),
       |hw(doc_id, x, y, d, s) AS (
       |  SELECT doc_id, x, y, CAST(0 AS BIGINT), CAST(32768 AS BIGINT) FROM c
       |  UNION ALL
       |  SELECT doc_id,
       |    CASE WHEN ry = 0 THEN
       |      CASE WHEN rx = 1 THEN s - 1 - y ELSE y END
       |    ELSE x END,
       |    CASE WHEN ry = 0 THEN
       |      CASE WHEN rx = 1 THEN s - 1 - x ELSE x END
       |    ELSE y END,
       |    d + s * s * xor(3 * rx, ry),
       |    s // 2
       |  FROM (SELECT doc_id, x, y, d, s,
       |          CASE WHEN (x & s) > 0 THEN 1 ELSE 0 END AS rx,
       |          CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END AS ry
       |        FROM hw WHERE s > 0) t),
       |k AS (SELECT doc_id, d AS h_key FROM hw WHERE s = 0)
       |SELECT c.doc_id, c.x AS gx, c.y AS gy, k.h_key,
       |  CAST(row_number() OVER (ORDER BY k.h_key, c.doc_id) - 1 AS BIGINT) AS icp_pos
       |FROM c JOIN k ON k.doc_id = c.doc_id""".stripMargin
  }

  // ---- q_icp_locality: does the curve order actually gain locality? -----

  /** The self-evaluation of q_icp_order ON THE REAL CORPUS (the spec's
    * planted-topic purity is a fixture; this is the measurement a
    * practitioner would demand): mean adjacent-pair cosine in semantic
    * order vs in plain doc_id order. Per-pair cosines are bit-exact
    * (the q_text_ann kernel) and each is floor-quantized to integer
    * micro-units BEFORE summing, so the totals are order-free BIGINTs
    * both engines replay; the verdict is a division-free
    * cross-multiply. Pairs touching a zero-norm doc are skipped on
    * both sides (cosine undefined). One scan for vectors + two
    * dense-position sliver self-joins — nothing corpus-sized shuffles
    * twice.
    */
  def icpLocality(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val vecs = docs.select(col("doc_id"),
        graft.ops.HashedEmbed.hashedVector(
          graft.text.TextMetrics.tokens(col("text")),
          graft.ops.HashedEmbed.Dim).as("v"))
      .withColumn("n2",
        aggregate(transform(col("v"), x => x * x), lit(0.0), (a, x) => a + x))
    val ordered = graft.ops.SemanticOrder.semanticOrder(docs)
      .select(col("doc_id"), col("icp_pos"))
    // consumed four times (both sides of both adjacency self-joins):
    // persist, or the ordering's two-pass numbering re-runs per consumer
    val withPos = Persisted(graft.ops.Shard.withGlobalSeq(
      vecs.join(ordered, Seq("doc_id")), "doc_id", "base_pos"))
    def adjSum(posCol: String): DataFrame =
      withPos.as("f").join(withPos.as("g"),
          col(s"f.$posCol") + 1 === col(s"g.$posCol"))
        .filter(col("f.n2") > 0.0 && col("g.n2") > 0.0)
        .select(floor(graft.ops.Similarity.cosine(col("f.v"), col("g.v"))
          * 1000000).cast("long").as("cos_q"))
        .agg(count(lit(1)).as("n_pairs"), sum("cos_q").as("sum_q"))
    val icp = adjSum("icp_pos").select(
      col("n_pairs").as("icp_pairs"), col("sum_q").as("icp_sum_q"))
    val base = adjSum("base_pos").select(
      col("n_pairs").as("base_pairs"), col("sum_q").as("base_sum_q"))
    icp.crossJoin(base).select(
      col("icp_pairs"), col("icp_sum_q"), col("base_pairs"), col("base_sum_q"),
      (col("icp_sum_q") * col("base_pairs") >
        col("base_sum_q") * col("icp_pairs")).as("locality_gained"))
  }

  val icpLocalitySql: String = {
    val dim = graft.ops.HashedEmbed.Dim
    s"""WITH ord AS ($icpOrderSql),
       |hvv AS (SELECT doc_id, vec,
       |  list_reduce(list_transform(vec, x -> x * x), (a, b) -> a + b) AS n2
       | FROM (WITH ${hashedVecCtesSql(dim)} SELECT doc_id, vec FROM hv) q),
       |wp AS MATERIALIZED (SELECT h.doc_id, h.vec, h.n2, o.icp_pos,
       |  row_number() OVER (ORDER BY h.doc_id) - 1 AS base_pos
       | FROM hvv h JOIN ord o ON o.doc_id = h.doc_id),
       |i AS (SELECT CAST(count(*) AS BIGINT) AS icp_pairs,
       |  CAST(sum(CAST(floor(list_cosine_similarity(f.vec, g.vec) * 1000000)
       |    AS BIGINT)) AS BIGINT) AS icp_sum_q
       | FROM wp f JOIN wp g ON f.icp_pos + 1 = g.icp_pos
       | WHERE f.n2 > 0 AND g.n2 > 0),
       |b AS (SELECT CAST(count(*) AS BIGINT) AS base_pairs,
       |  CAST(sum(CAST(floor(list_cosine_similarity(f.vec, g.vec) * 1000000)
       |    AS BIGINT)) AS BIGINT) AS base_sum_q
       | FROM wp f JOIN wp g ON f.base_pos + 1 = g.base_pos
       | WHERE f.n2 > 0 AND g.n2 > 0)
       |SELECT icp_pairs, icp_sum_q, base_pairs, base_sum_q,
       |  icp_sum_q * base_pairs > base_sum_q * icp_pairs AS locality_gained
       |FROM i CROSS JOIN b""".stripMargin
  }

  // ---- q_icp_pack: the semantic order as a packed training layout -------

  /** The payoff composition: the q_icp_order permutation driven into
    * the sequence-packing layout (graft.ops.Pack) — exclusive token
    * running totals in SEMANTIC order and the context-window id each
    * doc lands in (capacity 2048). This is the artifact in-context
    * pretraining actually trains on: related documents share packs.
    * The running total uses the two-pass partition-offset scheme
    * (never a global-sort window); token counts come from the same
    * compiled one-pass kernel the pipeline uses.
    */
  val IcpPackCapacity = 2048L

  def icpPack(s: SparkSession, dir: String): DataFrame = {
    val ordered = graft.ops.SemanticOrder.semanticOrder(
        Tables.documents(s, dir))
      .select(col("doc_id"), col("icp_pos"))
    val toks = Tables.documents(s, dir).select(col("doc_id"),
      element_at(graft.plans.TokenTextStats(
        coalesce(col("text"), lit("")), Nil), 1).as("n_tokens"))
    val laid = graft.ops.Pack.withRunningTotal(
      ordered.join(toks, Seq("doc_id")), "icp_pos", "n_tokens")
    laid.select(col("doc_id"), col("icp_pos"), col("n_tokens"),
      col("start_offset"),
      expr(s"start_offset div $IcpPackCapacity").as("pack_id"))
  }

  val icpPackSql: String = {
    val toks = OracleSql.toks("text")
    s"""WITH ord AS ($icpOrderSql),
       |t AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens
       |      FROM documents),
       |j AS (SELECT ord.doc_id, ord.icp_pos, t.n_tokens
       |      FROM ord JOIN t ON t.doc_id = ord.doc_id),
       |r AS (SELECT doc_id, icp_pos, n_tokens,
       |  CAST(coalesce(sum(n_tokens) OVER (ORDER BY icp_pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS start_offset
       | FROM j)
       |SELECT doc_id, icp_pos, n_tokens, start_offset,
       |  start_offset // $IcpPackCapacity AS pack_id
       |FROM r""".stripMargin
  }

}
