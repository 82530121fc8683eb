package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextMetrics

/** Lexical retrieval over the document corpus: BM25 ranked search and
  * per-document TF-IDF keyterm extraction — the index-side operators a
  * curation pipeline uses for targeted corpus probes (find documents
  * like X, what is this document about) without an embedding model.
  *
  * Float parity discipline (DuckDB oracle): idf and the BM25 tf-factor
  * are computed from integer corpus statistics with an identical
  * expression shape on both engines, floor-quantized to 1e-4 BIGINTs
  * per (doc, term), and only then combined with integer arithmetic —
  * the cross-row sums never touch a double, so accumulation order
  * cannot move a score (same discipline as Score.unigramLogprobs).
  */
object Retrieval {

  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** BM25 top-k document retrieval for a small set of bag-of-words
    * queries.
    *
    * Scale shape: the query term set is a literal broadcast — the
    * corpus explode is filtered to query terms *before* its one keyed
    * shuffle (tf per doc,term), so the shuffled volume is proportional
    * to query-term hits, not corpus size. Document length rides along
    * through the explode (no join back to the corpus for dl). Corpus
    * statistics (N, avgdl, per-term df) are one global agg + a
    * term-count-row table, both broadcast. Final ranking is the bounded
    * per-group TopK aggregate — map-side k, no per-query mega-partition
    * (the same shape PlanSpec pins for ANN/IVF).
    */
  def bm25TopK(df: DataFrame, queries: Seq[(Long, Seq[String])],
               idCol: String = "doc_id", textCol: String = "text",
               k: Int = 5): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val allTerms = queries.flatMap(_._2).distinct
    val queryTerms = queries
      .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")

    // ONE tokenize pass serves both consumers: per-doc length AND the
    // query-term hits project out of the same `__toks` array (tokenize
    // is the regex-heavy corpus cost — paying it twice, once for hits
    // and once for corpus stats, dominated this operator's runtime).
    // The persisted frame is corpus-length but NARROW — (id, dl,
    // ≤|query terms| matched tokens) — never the token arrays
    // themselves.
    val perDoc = graft.Persisted(df
      .withColumn("__toks", TextMetrics.tokens(col(textCol)))
      .select(col(idCol), size(col("__toks")).cast("long").as("dl"),
        // compiled hash-probe keep (duplicates preserved for tf) — the
        // interpreted filter+isin lambda this replaces paid a per-token
        // frame corpus-wide (graft.plans.TokensInSet parity spec)
        graft.plans.TokensInSet(col("__toks"), allTerms).as("__qt")))

    // (doc, dl, term) for query-term hits only — explode of the
    // pre-filtered sliver array, never the full token stream. Two
    // consumers (df(term) agg + scoring join) but deliberately NOT
    // persisted: recomputing this sliver off the persisted narrow
    // perDoc costs one cheap extra stage, while persisting it (and the
    // 1-row stats frame) added materialization barriers worth ~0.5 s of
    // the operator's ~1.6 s wall time at sf0.1 (measured round 6 —
    // min-of-7 1.59 s → 1.09 s when dropped). Only perDoc, the frame
    // whose recompute would re-tokenize the corpus, earns a persist.
    val tf = perDoc
      .select(col(idCol), col("dl"), explode(col("__qt")).as("term"))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))

    // corpus stats: N and avgdl over ALL docs (one global agg, 1 row,
    // two consumers: idf + scoring) — off the persisted narrow frame,
    // not a second tokenize scan
    val stats = perDoc
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .withColumn("avgdl_q", floor(col("sum_dl").cast("double") * 10000.0d /
        col("n_docs").cast("double")).cast("long"))
    val dfTerm = tf.groupBy("term").agg(countDistinct(col(idCol)).as("df_t"))

    // idf_q = floor(1e4 * ln(1 + (N - df + 0.5)/(df + 0.5))) — the
    // Robertson/Lucene non-negative form, from integer inputs
    val idf = dfTerm.crossJoin(broadcast(stats))
      .select(col("term"), floor(log(lit(1.0d) +
        ((col("n_docs").cast("double") - col("df_t").cast("double") + 0.5d) /
          (col("df_t").cast("double") + 0.5d))) * 10000.0d)
        .cast("long").as("idf_q"))

    // tffac_q = floor(1e4 * tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)))
    val tffac = col("tf").cast("double") * (Bm25K1 + 1.0d) /
      (col("tf").cast("double") + lit(Bm25K1) *
        (lit(1.0d) - Bm25B + lit(Bm25B) * col("dl").cast("double") /
          (col("avgdl_q").cast("double") / 10000.0d)))
    val scored = tf
      .join(broadcast(queryTerms), Seq("term"))
      .join(broadcast(idf), Seq("term"))
      .crossJoin(broadcast(stats.select("avgdl_q")))
      .withColumn("tffac_q", floor(tffac * 10000.0d).cast("long"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("idf_q") * col("tffac_q")).as("score_q"))

    // bounded top-k per query; score_q < 2^53 so the double view is exact
    TopK.perQuery(
      scored.select(col("query_id"),
        col("score_q").cast("double").as("cosine"),
        col(idCol).cast("long").as("vec_id")), k)
      .select(col("query_id"), col("rank"), col("vec_id").as(idCol),
        col("cosine").cast("long").as("score_q"))
  }

  val TfidfTopN = 3

  /** Top-N TF-IDF terms per document: tf·ln(N/df), integer-quantized.
    *
    * Scale shape: one explode + (doc, term) count agg; the per-term df
    * table is bounded by vocabulary size (Heaps' law — millions of
    * terms, not corpus-sized) and after the count agg it joins back by
    * term. Per-doc ranking uses a row_number window partitioned by
    * doc_id — safe here, unlike per-query ANN ranking: doc_id is the
    * table's primary key, so partitions stay tiny and their count
    * scales with the data (no mega-partition to pin).
    */
  def tfidfTopTerms(df: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text",
                    topN: Int = TfidfTopN): DataFrame = {
    val toks = df
      .withColumn("__toks", TextMetrics.tokens(col(textCol)))
      .select(col(idCol), explode(col("__toks")).as("term"))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val idf = tf.groupBy("term").agg(countDistinct(col(idCol)).as("df_t"))
      .crossJoin(broadcast(nDocs))
      .select(col("term"),
        floor(log(col("n_docs").cast("double") / col("df_t").cast("double")) *
          10000.0d).cast("long").as("idf_q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("tfidf_q").desc, col("term"))
    tf.join(broadcast(idf), Seq("term"))
      .withColumn("tfidf_q", col("tf") * col("idf_q"))
      .withColumn("term_rank", row_number().over(w).cast("long"))
      .filter(col("term_rank") <= topN)
      .select(col(idCol), col("term_rank"), col("term"), col("tf"),
        col("tfidf_q"))
  }

  /** Inverted-index materialization: one row per term with document
    * frequency, collection frequency, and an order-pinned digest of the
    * posting list (md5 of the comma-joined ascending doc ids — the
    * harness-sortable stand-in for the raw array; a real index sink
    * would write the sorted postings themselves, partitioned by term).
    *
    * Scale shape: explode -> (term, doc) count agg -> per-term agg.
    * Both shuffles key on term; posting lists are built inside the
    * aggregate with an explicit sort, so partition order can't leak
    * into the digest. Degenerate hot terms (stopwords) make one big
    * group each — a production index shards those postings by range;
    * here they stay single-group, bounded by corpus doc count.
    */
  def invertedIndex(df: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val perDoc = df
      .withColumn("__toks", TextMetrics.tokens(col(textCol)))
      .select(col(idCol), explode(col("__toks")).as("term"))
      .groupBy("term", idCol)
      .agg(count(lit(1)).as("cf"))
    perDoc.groupBy("term")
      .agg(count(lit(1)).as("df_t"), sum("cf").as("cf_t"),
        md5(array_join(
          transform(array_sort(collect_list(col(idCol).cast("long"))),
            i => i.cast("string")), ",").cast("binary")).as("postings_md5"))
  }

  /** Exact phrase search over positional postings — the operator the
    * positional arm of an inverted index exists for: phrase
    * (w0 … wL−1) matches document d at start p iff token(p+j) = wj for
    * every j. Returns one row per (query, matching doc) with the match
    * count (overlapping matches counted — "table table" hits twice in
    * "table table table") and the first match position.
    *
    * Scale shape: the corpus posexplode is filtered to phrase terms
    * BEFORE its one keyed shuffle (the same pre-shuffle term gate as
    * [[bm25TopK]]); the (term, offset) phrase table is a literal
    * broadcast. Candidate verification is ONE join + ONE keyed
    * aggregate for ANY phrase length: each posting proposes start =
    * pos − offset, and a start is a match iff all L offsets arrived —
    * no L-way self-join of posting lists, no per-doc token array
    * shipped. (pos, off) pairs are unique per candidate, so a plain
    * count equals the distinct-offset count.
    */
  def phraseSearch(df: DataFrame, phrases: Seq[(Long, Seq[String])],
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val terms = phrases.flatMap(_._2).distinct
    val offsets = phrases.flatMap { case (qid, ws) =>
      ws.zipWithIndex.map { case (w, j) => (qid, w, j, ws.length) }
    }.toDF("query_id", "term", "off", "plen")
    val postings = df
      .withColumn("__toks", TextMetrics.tokens(col(textCol)))
      .select(col(idCol), posexplode(col("__toks")).as(Seq("pos", "term")))
      .filter(col("term").isin(terms: _*))
    postings.join(broadcast(offsets), Seq("term"))
      .select(col("query_id"), col(idCol),
        (col("pos") - col("off")).as("start"), col("plen"))
      .filter(col("start") >= 0)
      .groupBy(col("query_id"), col(idCol), col("start"))
      .agg(count(lit(1)).as("__n_off"), max("plen").as("__plen"))
      .filter(col("__n_off") === col("__plen"))
      .groupBy(col("query_id"), col(idCol))
      .agg(count(lit(1)).as("n_matches"),
        min("start").cast("long").as("first_pos"))
  }

  /** Deterministic train/val/test assignment: bucket 0-99 from the
    * first 4 hex chars of md5(id) — content-addressed, so the split is
    * stable under repartitioning, re-ingestion, and engine choice
    * (md5 agrees everywhere; no RNG stream, no shared hash seed).
    * Pure per-row projection — no shuffle, no state.
    */
  def splitAssign(df: DataFrame, idCol: String = "doc_id",
                  trainPct: Int = 90, valPct: Int = 5): DataFrame =
    df.withColumn("bucket",
        conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10)
          .cast("long") % 100)
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))

  /** Overlapping passage extraction — the chunking step in front of any
    * passage-level index (BM25 shards, embedding stores): fixed
    * `window`-token passages every `stride` tokens, plus one final
    * window snapped to the end of the document so the tail is always
    * covered (the standard retrieval-chunking convention). Documents
    * shorter than `window` yield themselves as one passage.
    *
    * Entirely per-row (one explode, no shuffle): each doc emits
    * ~n/stride rows regardless of corpus size, so the op scales as a
    * pure map over the scan.
    */
  def passages(df: DataFrame, idCol: String = "doc_id",
               textCol: String = "text",
               window: Int = 32, stride: Int = 16): DataFrame = {
    val n = size(col("__toks"))
    val starts = array_union(
      when(n - window >= lit(1), sequence(lit(1), n - window, lit(stride)))
        .otherwise(array().cast("array<int>")),
      array(greatest(lit(1), n - window + 1)))
    df.filter(trim(coalesce(col(textCol), lit(""))) =!= "")
      .select(col(idCol).as("id"), TextMetrics.tokens(col(textCol)).as("__toks"))
      .select(col("id"), col("__toks"), explode(starts).as("start"))
      .select(col("id").as(idCol),
        concat(col("id").cast("string"), lit(":"), col("start")).as("passage_id"),
        col("start").cast("long").as("start"),
        least(lit(window), size(col("__toks")) - col("start") + 1)
          .cast("long").as("n_tok"),
        concat_ws(" ", slice(col("__toks"), col("start"), lit(window)))
          .as("passage"))
  }

  val RrfK = 60

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two per-query
    * rankings — the standard hybrid-retrieval combiner (lexical BM25 ⊕
    * embedding ANN) for retrieval-based curation: rank-only fusion
    * needs no score normalization across incommensurable scorers.
    * Score = Σ floor(1e6 / (rrfK + rank)) over the rankings listing the
    * doc, an integer so cross-engine float drift can't reorder ties;
    * absent rankings contribute 0 (and report rank 0).
    *
    * Scale shape: both inputs are already top-k bounded (|Q|·k rows —
    * the expensive corpus work happened inside their own scale-safe
    * plans), so the fusion is a full-outer join and a bounded-heap
    * re-rank over sliver-sized frames; the rank-detail join-back is a
    * broadcast of the fused top-k itself.
    */
  def rrfFuse(lex: DataFrame, vec: DataFrame, k: Int,
              rrfK: Int = RrfK): DataFrame = {
    def contrib(rank: Column): Column =
      floor(lit(1000000.0) / (lit(rrfK) + rank.cast("double"))).cast("long")
    val l = lex.select(col("query_id"), col("id").as("doc_id"),
      col("rank").as("lex_rank"))
    val v = vec.select(col("query_id").as("vq"), col("id").as("vd"),
      col("rank").as("vec_rank"))
    val fused = l.join(v,
        l("query_id") === v("vq") && l("doc_id") === v("vd"), "full_outer")
      .select(
        coalesce(col("query_id"), col("vq")).as("query_id"),
        coalesce(col("doc_id"), col("vd")).as("doc_id"),
        coalesce(col("lex_rank"), lit(0L)).cast("long").as("lex_rank"),
        coalesce(col("vec_rank"), lit(0L)).cast("long").as("vec_rank"))
      .withColumn("rrf_q",
        when(col("lex_rank") > 0, contrib(col("lex_rank"))).otherwise(lit(0L)) +
          when(col("vec_rank") > 0, contrib(col("vec_rank"))).otherwise(lit(0L)))
    // The per-modality ranks ride THROUGH the bounded heap as payload
    // (TopK.perQueryPayload), so the fused frame has exactly one
    // consumer: no persist, no rank-detail join-back, and the upstream
    // ranking pipelines (incl. annTopK's corpus-wide cosine scan) run
    // once by construction. Ranking order (rrf_q DESC, doc_id ASC) is
    // unchanged — payload slots never participate in the ordering.
    TopK.perQueryPayload(
      fused.select(col("query_id"), col("doc_id").as("vec_id"),
        col("rrf_q").cast("double").as("cosine"),
        col("lex_rank").as("p1"), col("vec_rank").as("p2")), k)
      .select(col("query_id"), col("rank"), col("vec_id").as("doc_id"),
        col("cosine").cast("long").as("rrf_q"),
        col("p1").as("lex_rank"), col("p2").as("vec_rank"))
  }
}
