package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextMetrics
import graft.Persisted

/** Corpus-curation signals beyond the reference's own filter set — the
  * published heuristics a production pretraining pipeline layers on top
  * of structural cleaning (builder brief: quality scoring is a
  * first-class engine component).
  *
  * - [[gopherSignals]]/[[gopherRules]]: the Gopher paper's document
  *   quality rules (Rae et al. 2021, §A1.1 "Quality filtering") —
  *   word-count bounds, mean word length window, symbol-to-word ratio,
  *   alphabetic-word fraction, required-stopword presence.
  * - [[dupNgramStats]]: the Gopher/RefinedWeb repetition signals —
  *   fraction of characters attributable to the most frequent 2-gram
  *   and to duplicated 3-grams.
  * - [[dsirLogWeights]]: DSIR-style importance weights (Xie et al.
  *   2023) — hashed unigram features, target-vs-corpus log-likelihood
  *   ratio scoring.
  *
  * Everything here is per-row column arithmetic over the whitespace
  * token array (one codegen'd pass, no shuffle) except the DSIR
  * distribution estimate, which is one explode + keyed agg and a
  * 256-row broadcast back — the identical scale shape at 100 TB.
  *
  * Float parity discipline (oracle-checked): every fractional signal is
  * floor-quantized to 1e-4 on identical double expressions, and every
  * sum that crosses rows is over already-quantized BIGINTs, so
  * accumulation order can't move the result.
  */
object Curation {

  /** Gopher's required-stopword list: a document failing to contain at
    * least [[GopherMinStopHits]] distinct members is likely not prose.
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  val GopherMinWords = 25       // Gopher uses 50; halved for short-doc corpora
  val GopherMaxWords = 100000
  val GopherMinMeanWordLenQ = 30000L  // 3.0, quantized 1e4
  val GopherMaxMeanWordLenQ = 100000L // 10.0
  val GopherMaxSymbolRatioQ = 1000L   // 0.1
  val GopherMinAlphaWordFracQ = 8000L // 0.8
  val GopherMinStopHits = 2

  /** The quality signals, appended as columns. `textCol` is tokenized
    * once into a staged attribute (single-use computed arrays inlined
    * into HOF lambdas re-evaluate per element — the CollapseProject
    * trap), then every signal folds over that array in one projection.
    */
  def gopherSignals(df: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = col("__toks")
    val n = size(toks)
    val sumLen = aggregate(transform(toks, t => length(t).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val alphaWords = size(filter(toks, t => t.rlike("[A-Za-z]")))
    // array_intersect evaluates both operands ONCE; the filter/contains
    // formulation re-materializes the lowered token array per stopword
    // (8n lower() calls per row — the CollapseProject inlining trap,
    // and a staged column wouldn't help because single-use projections
    // are collapsed back in). Members are distinct on both sides, so
    // the intersection size equals the contained-stopword count.
    val stopHits = size(array_intersect(
      transform(toks, t => lower(t)), lit(GopherStopwords.toArray)))
    val symbolHits = when(col(textCol).isNull, lit(0L))
      .otherwise(regexp_count(col(textCol), lit("#|\\.\\.\\.")))
    def q(numer: Column, denom: Column): Column =
      when(denom > 0, floor(numer.cast("double") * 10000.0d / denom.cast("double")))
        .otherwise(lit(0L)).cast("long")
    df.withColumn("__toks", TextMetrics.tokens(col(textCol)))
      .withColumn("n_words", n.cast("long"))
      .withColumn("mean_word_len_q", q(sumLen, n))
      .withColumn("alpha_word_frac_q", q(alphaWords, n))
      .withColumn("symbol_ratio_q", q(symbolHits, n))
      .withColumn("stop_hits", stopHits.cast("long"))
      .drop("__toks")
  }

  /** First-match-wins Gopher drop reason over [[gopherSignals]] output
    * (same discipline as ops.Filters): null reason = document passes.
    */
  def gopherRules(df: DataFrame): DataFrame =
    df.withColumn("gopher_reason",
        when(col("n_words") < GopherMinWords, "too_few_words")
          .when(col("n_words") > GopherMaxWords, "too_many_words")
          .when(col("mean_word_len_q") < GopherMinMeanWordLenQ ||
            col("mean_word_len_q") > GopherMaxMeanWordLenQ, "mean_word_len_out_of_range")
          .when(col("symbol_ratio_q") > GopherMaxSymbolRatioQ, "high_symbol_ratio")
          .when(col("alpha_word_frac_q") < GopherMinAlphaWordFracQ, "low_alpha_word_frac")
          .when(col("stop_hits") < GopherMinStopHits, "insufficient_stopwords"))
      .withColumn("gopher_keep", col("gopher_reason").isNull)

  /** Repetition signals: `top2gram_frac_q` = characters of the single
    * most frequent 2-gram (occurrences × gram characters, spaces
    * excluded) over total token characters; `dup3gram_frac_q` = the
    * same numerator summed over every 3-gram occurring more than once.
    * Occurrence-weighted (overlapping spans counted per occurrence) —
    * the cheap per-row form of Gopher's "fraction of characters within
    * duplicate n-grams"; fractions can exceed 1 on degenerate spam,
    * which is exactly when the filter should fire.
    *
    * Counting runs through the native one-pass kernel
    * (graft.plans.NgramRepStats, hash-map per row, codegen'd); the
    * declarative HOF form it replaced is CurationSpec's executable spec
    * and parity pin — its O(u·n) string comparisons made it the slowest
    * per-row query on the bench (2.6 s at sf0.1 vs ~0.3 s for the
    * kernel).
    */
  def dupNgramStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val st = col("__st")
    def q(numer: Column): Column =
      when(st.getField("total_chars") > 0,
        floor(numer.cast("double") * 10000.0d /
          st.getField("total_chars").cast("double")))
        .otherwise(lit(0L)).cast("long")
    df.withColumn("__st", graft.plans.NgramRepStats(TextMetrics.tokens(col(textCol))))
      .withColumn("n_words", st.getField("n_words"))
      .withColumn("total_chars", st.getField("total_chars"))
      .withColumn("top2gram_frac_q", q(st.getField("top2_num")))
      .withColumn("dup3gram_frac_q", q(st.getField("dup3_num")))
      .drop("__st")
  }

  val DsirBuckets = 256

  /** Hashed-unigram bucket id in [0, 256): the first two hex chars of
    * md5, parsed as base-16 — engine-portable (md5 hex is identical
    * everywhere; no shared integer-hash seed needed, same trick as the
    * winnowing kernel). The oracle parses the two chars by position
    * lookup since DuckDB has no conv().
    */
  def dsirBucket(tok: Column): Column =
    graft.plans.Md5PrefixLong(tok, 2).cast("int")

  /** DSIR importance weights: estimate hashed-unigram distributions for
    * a target slice and for the rest of the corpus (add-one smoothing
    * over [[DsirBuckets]] buckets), then score every non-target doc by
    * the summed log-likelihood ratio of its tokens. High scores = "looks
    * like the target domain" — the sampling weight for importance
    * resampling.
    *
    * Scale shape: one explode + one 256-row aggregate builds both
    * distributions in a single pass; the per-bucket log-ratio table
    * broadcast-joins back to the exploded tokens (nothing large ever
    * shuffles twice). Per-token log-ratios are floor-quantized to
    * BIGINT before the per-doc sum — order-proof.
    */
  def dsirLogWeights(df: DataFrame, idCol: String, textCol: String,
                     isTarget: Column): DataFrame = {
    val toks = df
      .withColumn("__target", isTarget)
      .select(col(idCol), col("__target"),
        explode(TextMetrics.tokens(col(textCol))).as("__tok"))
      .withColumn("__bucket", dsirBucket(col("__tok")))
    val dist = toks.groupBy("__bucket")
      .agg(sum(when(col("__target"), 1L).otherwise(0L)).as("__ct"),
        sum(when(!col("__target"), 1L).otherwise(0L)).as("__cc"))
    val totals = dist.agg(sum("__ct").as("__nt"), sum("__cc").as("__nc"))
    val lr = dist.crossJoin(broadcast(totals))
      .select(col("__bucket"),
        floor(log(
          ((col("__ct") + 1L).cast("double") * (col("__nc") + lit(DsirBuckets)).cast("double")) /
            ((col("__cc") + 1L).cast("double") * (col("__nt") + lit(DsirBuckets)).cast("double")))
          * 10000.0d).cast("long").as("__lr_q"))
    val scored = toks.filter(!col("__target"))
      .join(broadcast(lr), Seq("__bucket"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_toks"), sum("__lr_q").as("dsir_q"))
    // docs with zero tokens still get a (0, 0) row, like unigramLogprobs
    df.filter(!isTarget).select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("dsir_q"), lit(0L)).as("dsir_q"))
  }

  /** Per-source token-distribution drift: KL(source ‖ corpus) over the
    * hashed-unigram buckets (same 256-bucket md5 feature space as
    * [[dsirLogWeights]], add-one smoothing). High divergence = the
    * source's token mix differs from the corpus at large — the standard
    * mixture-health diagnostic next to temperature weighting.
    *
    * Scale shape: one explode feeds one (source, bucket) count agg —
    * at most |sources|·256 rows — and the corpus marginal folds from
    * that table; every fractional term is floor-quantized to 1e-4
    * before the per-source sum, so the divergence is order-proof.
    * KL terms use p·(ln p − ln q) with both logs on ratios of exact
    * integers — the identical expression shape the oracle states.
    * Terms are summed over the source's OBSERVED buckets; absent
    * buckets would each contribute only their smoothed floor mass
    * (~1/(ns+256)·ln-ratio) and omitting them keeps the aggregation
    * row-driven — a defined (truncated-support) KL variant, mirrored
    * by the oracle.
    */
  def sourceKl(df: DataFrame, sourceCol: String = "source",
               textCol: String = "text"): DataFrame = {
    // the count table is at most |sources|·256 rows but feeds three
    // marginal branches — cached so the corpus explode runs once, not
    // once per branch
    val counts = Persisted(df
      .select(col(sourceCol), explode(TextMetrics.tokens(col(textCol))).as("__tok"))
      .withColumn("__bucket", dsirBucket(col("__tok")))
      .groupBy(sourceCol, "__bucket")
      .agg(count(lit(1)).as("__cs")))
    val srcTot = counts.groupBy(sourceCol).agg(sum("__cs").as("__ns"))
    val corpus = counts.groupBy("__bucket").agg(sum("__cs").as("__cc"))
    val corpusTot = corpus.agg(sum("__cc").as("__nc"))
    // p = (cs+1)/(ns+256), q = (cc+1)/(nc+256); term = p*(ln p - ln q)
    val p = (col("__cs") + 1L).cast("double") /
      (col("__ns") + lit(DsirBuckets)).cast("double")
    val qq = (col("__cc") + 1L).cast("double") /
      (col("__nc") + lit(DsirBuckets)).cast("double")
    counts
      .join(broadcast(srcTot), Seq(sourceCol))
      .join(broadcast(corpus), Seq("__bucket"))
      .crossJoin(broadcast(corpusTot))
      .withColumn("__term_q", floor(p * (log(p) - log(qq)) * 10000.0d).cast("long"))
      .groupBy(sourceCol)
      .agg(max(col("__ns")).as("n_toks"), sum("__term_q").as("kl_q"))
  }

  /** Fixed-length pseudo-line segmentation: consecutive runs of `segLen`
    * whitespace tokens rejoined with single spaces (the final segment may
    * be shorter). Line-oriented curation rules (CCNet line dedup, C4
    * line filters) split on '\n' in real web scrape; the synthetic
    * corpus is newline-free, so the segmenter is the pluggable stand-in
    * — swap this Column for `split(text, '\n')` on real data and every
    * operator below is unchanged.
    */
  def segments(toks: Column, segLen: Int): Column =
    when(size(toks) > 0,
      // Column./ is double division — floor+cast restores the integer
      // quotient sequence() needs (n > 0 here, so floor = truncation)
      transform(sequence(lit(0), floor((size(toks) - 1) / lit(segLen)).cast("int")),
        i => array_join(slice(toks, i * segLen + 1, lit(segLen)), " ")))
      .otherwise(array().cast("array<string>"))

  val LineDedupMinDocs = 2
  val LineDedupSegLen = 10

  /** CCNet/RefinedWeb-style line-level corpus dedup: a line (segment)
    * that appears verbatim in >= `minDocs` distinct documents is
    * boilerplate (headers, nav bars, cookie banners in real scrape) and
    * is removed from every document; the per-doc output reports how much
    * was cut and the md5 of the reassembled text.
    *
    * Scale shape: explode lines -> one keyed agg builds the corpus
    * line-frequency table; HAVING >= minDocs shrinks it to the frequent
    * lines. How small that table really is depends on the corpus: "few
    * distinct strings" holds for curated fixtures, but across a 100 TB
    * web scrape the >= minDocs line set trends vocab-scale (every
    * boilerplate variant, license text, template fragment) — the same
    * analysis [[removeDupSpans]] documents for grams. So the join-back
    * carries NO forced broadcast hint: AQE broadcasts a genuinely small
    * sliver from its measured runtime size and falls back to a shuffle
    * join when the table outgrows the budget, instead of an OOM-by-hint.
    * Reassembly is one groupBy(doc) with an order-column sort inside the
    * aggregate — collect_list order is partition-dependent, array_sort
    * on (pos, line) pins it.
    */
  def lineDedup(df: DataFrame, idCol: String = "doc_id",
                textCol: String = "text", segLen: Int = LineDedupSegLen,
                minDocs: Int = LineDedupMinDocs): DataFrame =
    scrubLines(df, frequentLines(df, idCol, textCol, segLen, minDocs),
      idCol, textCol, segLen)

  /** The corpus boilerplate-line table: lines occurring in >= `minDocs`
    * distinct documents. Computed once over the corpus and reusable —
    * a later batch can be scrubbed against this table without
    * recounting history.
    */
  def frequentLines(df: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", segLen: Int = LineDedupSegLen,
                    minDocs: Int = LineDedupMinDocs): DataFrame =
    df.withColumn("__toks", TextMetrics.tokens(col(textCol)))
      .select(col(idCol), explode(segments(col("__toks"), segLen)).as("line"))
      .groupBy("line")
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("line"))

  /** Remove every line in `frequent` from every document; see
    * [[lineDedup]] for the combined build+scrub form.
    */
  def scrubLines(df: DataFrame, frequent: DataFrame,
                 idCol: String = "doc_id", textCol: String = "text",
                 segLen: Int = LineDedupSegLen): DataFrame = {
    val lines = df
      .withColumn("__toks", TextMetrics.tokens(col(textCol)))
      .select(col(idCol), posexplode(segments(col("__toks"), segLen))
        .as(Seq("pos", "line")))
    val perDoc = lines
      // no broadcast() hint: see lineDedup's scale note — frequent-line
      // tables are corpus-derived and can outgrow any broadcast budget
      // at web scale; AQE still broadcasts the genuinely-small case
      .join(frequent.select(col("line"), lit(1).as("__dup")),
        Seq("line"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_lines"),
        count(col("__dup")).as("n_removed"),
        // null when dropped -> collect_list skips it; sort restores pos order
        array_sort(collect_list(
          when(col("__dup").isNull, struct(col("pos"), col("line")))))
          .as("__kept"))
      .withColumn("clean_md5",
        md5(array_join(transform(col("__kept"), s => s.getField("line")), " ")
          .cast("binary")))
      .drop("__kept")
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("clean_md5"), md5(lit("").cast("binary"))).as("clean_md5"))
  }

  val DupSpanN = 8
  val DupSpanMinDocs = 2

  /** Duplicated-span coverage, the streaming-friendly approximation of
    * suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): every overlapping
    * `n`-token span is fingerprinted; a span occurring in >= `minDocs`
    * distinct documents is "duplicated", and the per-doc signal is the
    * fraction of span positions that are duplicated. (The exact
    * suffix-array method finds maximal repeats of any length; fixed-n
    * overlapping spans detect every repeat of length >= n at 1/n the
    * index cost — the standard production trade.)
    *
    * Scale shape mirrors [[lineDedup]]: explode spans -> keyed
    * doc-frequency agg -> HAVING shrinks to the duplicated set -> join
    * back -> one per-doc count agg. The join-back is deliberately NOT
    * hint-broadcast, matching [[removeDupSpans]]'s analysis of the
    * SAME sliver: duplicated n-grams across a 100 TB web corpus are
    * vocab-scale (boilerplate, licenses, templates), far past any
    * broadcast budget — AQE broadcasts the small case from measured
    * runtime stats and shuffle-joins the big one. Spans are
    * fingerprinted (xxhash64) before the persist/shuffle (r15) — the
    * output never exposes a span string, so DuckDB's raw-string replay
    * still agrees row-for-row (modulo a 64-bit collision; see the
    * inline note).
    */
  def dupSpans(df: DataFrame, idCol: String = "doc_id",
               textCol: String = "text", n: Int = DupSpanN,
               minDocs: Int = DupSpanMinDocs): DataFrame = {
    // Span strings are FINGERPRINTED to xxhash64 at build (r15): the
    // frequency aggregate and the join-back only ever test span
    // EQUALITY — the string itself never reaches the output — so the
    // persisted/shuffled stream carries 8 bytes per span instead of an
    // ~8-token string (~7× smaller cache at any scale, the r14 weak
    // finding's prescribed fix, and −29% wall at sf0.1). Results are
    // identical modulo a 64-bit collision between two spans of one
    // corpus (p ≈ n²/2⁶⁵; ~1e-5 at the sf0.1 volume — row equality at
    // sf0.01/sf0.1 in OPTIMIZATION_r15.md, and the DuckDB oracle, which
    // replays exact strings, re-verifies the hash). The span table feeds
    // the span-frequency aggregate AND the per-doc join: persist, or the
    // tokenize+explode+span-hash build runs twice.
    val spans = Persisted(df
      .withColumn("__toks", TextMetrics.tokens(col(textCol)))
      .select(col(idCol), explode(
        when(size(col("__toks")) >= n,
          transform(sequence(lit(0), size(col("__toks")) - n),
            i => xxhash64(array_join(slice(col("__toks"), i + 1, lit(n)), " "))))
          .otherwise(array().cast("array<long>"))).as("span")))
    val dup = spans.groupBy("span")
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("span"), lit(1).as("__dup"))
    val perDoc = spans
      .join(dup, Seq("span"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_spans"), count(col("__dup")).as("dup_spans"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"))
      .withColumn("dup_frac_q",
        when(col("n_spans") > 0,
          floor(col("dup_spans").cast("double") * 10000.0d /
            col("n_spans").cast("double")))
          .otherwise(lit(0L)).cast("long"))
  }

  /** Maximal duplicated-span EXCISION — the removal step of Lee et
    * al. 2022 that [[dupSpans]] only measures: every token covered by
    * any corpus-duplicated `n`-gram is cut, adjacent covered tokens
    * merge into one maximal span (exactly how overlapping duplicated
    * n-grams stitch into the maximal repeat the suffix-array method
    * would report), and the per-doc output is the excision accounting
    * plus an md5 of the surviving text for downstream equality checks.
    *
    * Returns (idCol, n_tokens, n_removed, n_cut_spans, clean_md5).
    *
    * Scale shape: the duplicated-gram sliver joins back keyed on the
    * gram STRING — a plain shuffle join, NOT a broadcast: duplicated
    * n-grams across a 100 TB web corpus are vocab-scale (boilerplate,
    * licenses, templates), far past any broadcast budget. Coverage and
    * span-merge are two window passes over (doc, pos) — both
    * partitioned by document, so the frame never exceeds one document
    * and the two windows share one Exchange. Token positions are dense
    * (posexplode), so the "any duplicated start within the last n−1
    * positions" test is a rowsBetween frame, no range scan.
    */
  def removeDupSpans(df: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", n: Int = DupSpanN,
                     minDocs: Int = DupSpanMinDocs): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE tokenize pass: the persisted (id, token-array) projection
    // feeds both the position explode and the gram build — tokenize is
    // the regex-heavy corpus cost, and grams/toks re-deriving it
    // independently would pay it twice
    val base = Persisted(df
      .select(col(idCol), TextMetrics.tokens(col(textCol)).as("__toks")))
    val toks = base
      .select(col(idCol), posexplode(col("__toks")).as(Seq("pos", "tok")))
    // Gram strings are FINGERPRINTED to xxhash64 at build (r15, same
    // treatment as dupSpans): coverage only needs gram EQUALITY — the
    // marked-position join keeps (id, gpos), never the string — so the
    // persisted/shuffled gram stream is 8 bytes per position instead
    // of an ~n-token string. That shrinks the r14 weak-finding cache
    // ~7× at any scale AND cut the query 2.51 → 1.72 s at sf0.1
    // (cold-JVM interleaved min-of-3). Identical results modulo a
    // 64-bit collision (p ≈ n²/2⁶⁵; row equality at sf0.01/sf0.1 in
    // OPTIMIZATION_r15.md, oracle hash re-verified).
    // Persisted like dupSpans' span table: the gram frame feeds BOTH
    // the duplicate-frequency aggregate and the marked-position join
    // (r15 cold-JVM A/B: dropping it costs +0.3 s at sf0.1 even with
    // the hashed stream). The first thing to drop if executor memory is
    // the constraint (re-derivation is one extra pass over the cached
    // token arrays).
    val grams = Persisted(base
      .select(col(idCol), posexplode(
        when(size(col("__toks")) >= n,
          transform(sequence(lit(0), size(col("__toks")) - n),
            i => xxhash64(array_join(slice(col("__toks"), i + 1, lit(n)), " "))))
          .otherwise(array().cast("array<long>"))).as(Seq("gpos", "gram"))))
    val dup = grams.groupBy("gram")
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("gram"))
    val marked = grams.join(dup, Seq("gram"))
      .select(col(idCol), col("gpos")).distinct()
    val byPos = Window.partitionBy(idCol).orderBy("pos")
    val trail = byPos.rowsBetween(-(n - 1), 0)
    val covered = toks
      .join(marked.withColumnRenamed("gpos", "pos")
        .withColumn("__start", lit(1)), Seq(idCol, "pos"), "left")
      .withColumn("__cov", max(coalesce(col("__start"), lit(0))).over(trail))
      .withColumn("__cut_start",
        (col("__cov") === 1 &&
          coalesce(lag(col("__cov"), 1).over(byPos), lit(0)) === 0)
          .cast("int"))
    val perDoc = covered.groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum("__cov").as("n_removed"),
        sum("__cut_start").as("n_cut_spans"),
        array_sort(collect_list(
          when(col("__cov") === 0, struct(col("pos"), col("tok")))))
          .as("__kept"))
      .withColumn("clean_md5",
        md5(array_join(transform(col("__kept"), s => s.getField("tok")), " ")
          .cast("binary")))
      .drop("__kept")
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("n_cut_spans"), lit(0L)).as("n_cut_spans"),
        coalesce(col("clean_md5"), md5(lit("").cast("binary"))).as("clean_md5"))
  }

  val C4MinLineWords = 5
  val C4MinKeptLines = 3

  /** C4's heuristic line + document rules (Raffel et al. 2020, §2.2),
    * over the same pluggable segmentation as [[lineDedup]]: a line
    * survives iff it has >= 5 words, no '{', and no "javascript"; a
    * document survives iff no "lorem ipsum", no '{' anywhere, and >= 3
    * surviving lines. (C4 additionally requires terminal punctuation
    * per line and drops bad-words docs — punctuation doesn't exist in
    * this corpus, and the bad-word gate is [[graft.text.Toxicity]]'s
    * job, so both are documented out rather than vacuously true.)
    *
    * Pure per-row column arithmetic over the staged segment array — one
    * codegen'd projection pass, no shuffle.
    */
  def c4Rules(df: DataFrame, idCol: String = "doc_id",
              textCol: String = "text",
              segLen: Int = LineDedupSegLen): DataFrame = {
    val segs = col("__segs")
    val keptLine = (s: Column) =>
      size(split(s, " ")) >= C4MinLineWords &&
        !s.contains("{") && !lower(s).contains("javascript")
    df.withColumn("__toks", TextMetrics.tokens(col(textCol)))
      .withColumn("__segs", segments(col("__toks"), segLen))
      .withColumn("n_lines", size(segs).cast("long"))
      .withColumn("n_kept_lines", size(filter(segs, keptLine)).cast("long"))
      .withColumn("c4_reason",
        when(lower(col(textCol)).contains("lorem ipsum"), "lorem_ipsum")
          .when(col(textCol).contains("{"), "brace")
          .when(col("n_kept_lines") < C4MinKeptLines, "too_few_lines"))
      .withColumn("c4_keep", col("c4_reason").isNull)
      .drop("__toks", "__segs")
  }

  /** Cross-source duplication matrix: for every pair of sources, how
    * many distinct k-shingles they share, normalized by the smaller
    * side's shingle vocabulary (the overlap coefficient). The
    * intake-audit companion to [[sourceKl]]: KL says two sources *talk
    * differently*, overlap says they *carry the same text* — a high
    * cell flags a mirror/re-crawl feeding the corpus twice under two
    * names, before doc-level dedup spends a corpus shuffle on it.
    *
    * Scale shape (r15, guide §2.3/§2.4): the exploded (source, shingle)
    * stream pays exactly ONE corpus-sized exchange — groupBy on
    * xxhash64(shingle) collecting the per-shingle source SET (map-side
    * collect_set partials dedup in place, so the previous explicit
    * `.distinct()` exchange is free) — and every downstream row is
    * vocabulary- or |sources|²-sized. The earlier distinct + self-join
    * form paid three vocab-sized exchanges ((src,sh) distinct, then sh
    * twice for the join), all carrying shingle STRINGS; the shingle is
    * an equality-only key that never reaches the output, so it ships as
    * 8 hashed bytes (the dup-span fingerprinting precedent; collision
    * odds ~1e-9 per 15M-shingle vocab, and the DuckDB oracle replays
    * exact strings, so a collision cannot pass unnoticed at the checked
    * SFs). Pair counts leave each map partition pre-aggregated —
    * ≤ |sources|² distinct keys — so the pair exchange is bytes, not
    * rows. Row-identical at sf0.01/sf0.1, 1.41 → 1.19 s at sf0.1
    * (OPTIMIZATION_r15.md).
    */
  def sourceOverlap(df: DataFrame, sourceCol: String = "source",
                    textCol: String = "text",
                    shingleSize: Int = 3): DataFrame = {
    // feeds the sizes aggregate + the pair explode — persist so the
    // corpus tokenize/explode/group runs once, not per branch
    val grouped = Persisted(df
      .filter(trim(coalesce(col(textCol), lit(""))) =!= "")
      .select(col(sourceCol).as("src"),
        explode(SketchDedup.shinglesFromTokens(
          TextMetrics.tokens(col(textCol)), shingleSize)).as("sh"))
      .groupBy(xxhash64(col("sh")).as("gh"))
      .agg(sort_array(collect_set(col("src"))).as("srcs"))
      .select(col("srcs")))
    val sizes = grouped.select(explode(col("srcs")).as("src"))
      .groupBy("src").agg(count(lit(1)).as("n_sh"))
    // all (a < b) pairs of the sorted source set, generated in-row —
    // fan-out bounded by |sources| per shingle, same bound the join had
    val pairs = grouped.filter(size(col("srcs")) >= 2)
      .select(explode(expr(
        """flatten(transform(srcs, a ->
          |  transform(filter(srcs, b -> b > a),
          |            b -> struct(a AS src_a, b AS src_b))))
          |""".stripMargin)).as("p"))
      .select(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(sizes.select(col("src").as("src_a"), col("n_sh").as("n_a"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("src").as("src_b"), col("n_sh").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        (col("n_shared").cast("double") /
          least(col("n_a"), col("n_b")).cast("double")).as("overlap"))
  }

  /** Keyword-list topic bucketing (WebOrganizer-style domain
    * classification, reduced to its deterministic keyword core): per
    * topic, count token occurrences from the topic's keyword list;
    * assign the argmax topic, declared order breaking ties, `unlabeled`
    * when no list hits at all. The per-topic mixture table this feeds
    * (group by topic) is how curation recipes rebalance a crawl toward
    * target domains.
    *
    * Scale shape: the token array is staged once as a real column
    * (inline HOF lambdas block subexpression elimination — the
    * Toxicity lesson), then every topic count plus the argmax is one
    * shuffle-free codegen'd pass. The argmax is the same
    * array_max-over-structs fold as IVF's bestCentroid: max of
    * (hits, -declared_idx, topic) ranks exactly like a first-match-wins
    * CASE over `hits >= all later hits`.
    */
  val Topics: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("join", "scan", "filter", "table"),
    "streaming" -> Seq("stream", "window", "batch"),
    "vector" -> Seq("vector", "hash", "key"),
    "queries" -> Seq("query", "sort", "group", "agg"))

  def topicAssign(df: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text",
                  topics: Seq[(String, Seq[String])] = Topics): DataFrame = {
    val staged = df.select(col(idCol),
      TextMetrics.tokens(col(textCol)).as("__toks"))
    val withHits = topics.foldLeft(staged) { case (d, (name, words)) =>
      d.withColumn(s"hits_$name",
        size(filter(col("__toks"), t => array_contains(typedlit(words), t))).cast("long"))
    }
    val packed = array(topics.zipWithIndex.map { case ((name, _), i) =>
      struct(col(s"hits_$name").as("hits"), lit(-i).as("neg_idx"),
        lit(name).as("topic"))
    }: _*)
    val best = array_max(packed)
    withHits
      .withColumn("topic", when(best.getField("hits") === 0, lit("unlabeled"))
        .otherwise(best.getField("topic")))
      .withColumn("topic_hits", best.getField("hits"))
      .drop("__toks")
  }
}
