package graft.ops

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.Normalize

/** Deduplication (SURVEY.md §2.9, D1–D3) — the reference's flagship
  * relational operator, re-expressed as hash-partitioned window functions.
  *
  * Reference behavior (duplication.py:100-196): canonicalise -> SHA256 ->
  * keep the FIRST occurrence per hash (pandas row order), mark the rest
  * `is_dup_exact` with `dup_of` = first row's dedup_id; then a near-dup
  * pass keyed on the first 500 canon chars, restricted to docs with
  * canon length >= 200, marking non-exact-dup later rows `near_duplicate`.
  *
  * Scale design: "first occurrence" order comes from the persistent
  * `ingest_seq` column (SURVEY §1), so the windows are plain
  * hash-partitioned shuffles — no global sort, no driver state. Near-dup
  * candidates are physically split out before the window so non-candidate
  * rows (including the degenerate empty-canon key) never enter the
  * shuffle — that's the skew hazard at 100 TB (SURVEY §2.9 scale note).
  */
object Dedup {

  val NearDupMinLen = 200
  val NearKeyChars = 500

  /** Rows already dropped by earlier stages sort LAST in the dedup
    * windows: the reference dedups the post-filter frame
    * (duplication.py:100-141), so a doomed row must never "win" a hash
    * group and shadow a kept row. Ordering doomed rows last (instead of
    * splitting them out) keeps one window, one scan, and identical
    * flags on kept rows — the doomed rows' own flags are audit-only
    * (their drop_reason is already set, first-match-wins preserves it).
    */
  private[graft] def doomedLast(df: DataFrame) =
    if (df.columns.contains("drop_reason")) col("drop_reason").isNotNull
    else lit(false)

  /** D1+D3: adds dedup_id, exact_canon_text, exact_hash, is_dup_exact,
    * dup_of, and the `exact_duplicate` drop reason.
    */
  def exactDedup(df: DataFrame, textCol: String = "text_pii_masked",
                 seqCol: String = "ingest_seq"): DataFrame = {
    val idCol =
      if (df.columns.contains("doc_id")) col("doc_id").cast("string")
      else col(seqCol).cast("string")
    val w = Window.partitionBy("exact_hash").orderBy(doomedLast(df), col(seqCol))
    val withFlags = df
      .withColumn("dedup_id", idCol)
      .withColumn("exact_canon_text", Normalize.canonExact(col(textCol)))
      .withColumn("exact_hash", Normalize.sha256Hex(col("exact_canon_text")))
      .withColumn("__rn", row_number().over(w))
      .withColumn("dup_of", when(col("__rn") > 1, first("dedup_id").over(w)))
      .withColumn("is_dup_exact", col("__rn") > 1)
      .drop("__rn")
    Filters.applyRules(withFlags, Seq(col("is_dup_exact") -> "exact_duplicate"))
  }

  /** D1∘D2 composition, reference stage-4 semantics — value-identical to
    * `nearDedup(exactDedup(df))` (the composed form FiltersDedupSpec keeps
    * as its parity reference) but
    * with the narrow-shuffle shape: by dedup time the pipeline frame
    * carries four text-sized columns (raw/norm/deep-clean/masked) plus
    * ~25 metrics, and the composed form drags ALL of it through two
    * window shuffles. Here both windows run over a projection of
    * (partition id, seq, doomed, id, exact-hash, md5'd near-key) — tens
    * of bytes per row — and the wide frame never crosses an exchange:
    * the flags are routed back to the partition their wide row lives in
    * (the partition id the first projection reads off the branch
    * point) and appended there
    * ([[org.apache.spark.sql.GraftSqlBridge.appendRouted]]). The only
    * row-sized exchanges are the two windows and that routing, all
    * narrow. The canon columns the output contract exposes are
    * recomputed after the append from the text (one cheap codegen'd
    * pass) instead of being shuffled.
    *
    * Near-window details preserved from the composed form: rows doomed
    * by earlier stages OR by the exact pass sort last (never shadow a
    * kept row), non-candidates get a per-row unique key ("u:"+seq —
    * disjoint from md5 hex, so no collision with real buckets) and thus
    * singleton groups, and the md5 of the 500-char near key stands in
    * for the key itself (grouping is identical up to md5 collisions,
    * ~2^-128 per pair). `seqCol` must be unique per row, as
    * `ingest_seq` is.
    *
    * Cache: both sides read one [[graft.Persisted.rows]] branch point,
    * released by the caller's [[graft.Persisted.owned]] scope (outside
    * one, see [[graft.Pipeline.run]]).
    */
  def dedupStage(df: DataFrame, textCol: String = "text_pii_masked",
                 seqCol: String = "ingest_seq"): DataFrame = {
    // The frame is read twice (the narrow window branch and the wide
    // side of the append), so both read one branch point: without it the
    // flags branch re-runs the whole upstream scalar chain (the
    // stage-2/3 regex pipeline at pipeline scale) on a second scan
    // (measured 7.1 s vs 4.5 s for q_pipeline_full at sf0.1), and the
    // partition ids the flags are routed by would name partitions of a
    // different scan. Node-local materialization, not a shuffle; a frame
    // the caller cached is read through its own cache.
    val rows = graft.Persisted.rows(df)
    val idExpr =
      if (df.columns.contains("doc_id")) col("doc_id").cast("string")
      else col(seqCol).cast("string")
    val narrow = rows
      .select(spark_partition_id().as("__pid"), col(seqCol).as("__seq"),
        doomedLast(df).as("__doomed"), idExpr.as("__did"),
        Normalize.canonExact(col(textCol)).as("__canon"))
      .select(col("__pid"), col("__seq"), col("__doomed"), col("__did"),
        Normalize.sha256Hex(col("__canon")).as("__eh"),
        substring(col("__canon"), 1, NearKeyChars).as("__nk"),
        length(col("__canon")).as("__clen"))
      .select(col("__pid"), col("__seq"), col("__doomed"), col("__did"),
        col("__eh"), md5(col("__nk")).as("__nkh"),
        (col("__clen") >= NearDupMinLen && col("__nk") =!= "").as("__cand"))
    val we = Window.partitionBy("__eh").orderBy(col("__doomed"), col("__seq"))
    val afterExact = narrow
      .withColumn("__rne", row_number().over(we))
      .withColumn("__fide", first("__did").over(we))
      .withColumn("__de", col("__doomed") || col("__rne") > 1)
      .withColumn("__nkk", when(col("__cand"), col("__nkh"))
        .otherwise(concat(lit("u:"), col("__seq").cast("string"))))
    val wn = Window.partitionBy("__nkk").orderBy(col("__de"), col("__seq"))
    val flags = afterExact
      .withColumn("__rnn", row_number().over(wn))
      .withColumn("__fidn", first("__did").over(wn))
      .select(col("__pid"), col("__seq"),
        (col("__rne") > 1).as("__isde"),
        when(col("__rne") > 1, col("__fide")).as("__dofe"),
        (col("__cand") && col("__rnn") > 1 && !(col("__rne") > 1)).as("__isdn"),
        col("__fidn"))
    // column order matters for schema parity: dup_of BEFORE
    // is_dup_exact, matching exactDedup's withColumn order, so the
    // composed and fused forms agree positionally too (parquet schema
    // diffs, select-by-index), not just by name
    val wide = GraftSqlBridge.appendRouted(rows, seqCol, flags, "__pid", "__seq")
      .withColumn("dedup_id", idExpr)
      .withColumn("exact_canon_text", Normalize.canonExact(col(textCol)))
      .withColumn("exact_hash", Normalize.sha256Hex(col("exact_canon_text")))
      .withColumn("dup_of", col("__dofe"))
      .withColumn("is_dup_exact", col("__isde"))
    val exactRuled = Filters.applyRules(wide,
      Seq(col("is_dup_exact") -> "exact_duplicate"))
    val near = exactRuled
      .withColumn("near_key", Normalize.canonNear(col(textCol), NearKeyChars))
      .withColumn("is_dup_near", col("__isdn"))
      .withColumn("dup_of",
        coalesce(col("dup_of"), when(col("is_dup_near"), col("__fidn"))))
      .drop("__isde", "__dofe", "__isdn", "__fidn")
    Filters.applyRules(near, Seq(col("is_dup_near") -> "near_duplicate"))
  }

  /** Within-document repeated-segment removal, keeping each segment's
    * first occurrence in reading order (the intra-doc counterpart of
    * [[Curation.lineDedup]]'s corpus-frequency removal — C4 applies
    * both: a nav bar repeated inside one page is noise even if no other
    * document shares it).
    *
    * Pure per-row array work: keep-first is
    * `filter(segs, (s, i) -> array_position(segs, s) == i+1)` — the
    * first occurrence is the only index where position-of-first-match
    * equals own index. O(n²) comparisons per row on segment counts
    * (tens, not thousands — segments, not tokens), zero shuffles, stays
    * in whole-stage codegen; at 100 TB this costs exactly one pass like
    * every other scalar stage.
    */
  def intraDedup(df: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text",
                 segLen: Int = Curation.LineDedupSegLen): DataFrame = {
    val staged = df.select(col(idCol),
      Curation.segments(graft.text.TextMetrics.tokens(col(textCol)), segLen).as("__segs"))
    val kept = filter(col("__segs"),
      (s, i) => array_position(col("__segs"), s) === (i + lit(1)))
    staged
      .withColumn("n_segs", size(col("__segs")).cast("long"))
      .withColumn("__kept", kept)
      .withColumn("n_kept", size(col("__kept")).cast("long"))
      .withColumn("clean_md5", md5(array_join(col("__kept"), " ")))
      .drop("__segs", "__kept")
  }

  /** Corpus novelty curve — the "is new data still new?" report that
    * decides when a crawl source is mined out: bucket the corpus into
    * ingest batches, credit each distinct content hash to the batch
    * where it FIRST appears, and report per batch how many of its rows
    * are first sightings. A falling novelty rate is the signal to
    * retire a source (or raise its dedup aggressiveness) before paying
    * to process another 10 TB of it.
    *
    * Scale shape: ONE corpus scan and ONE corpus-keyed shuffle — the
    * (hash, batch) count aggregate (map-side partial combine) — whose
    * persisted output is at most rows-sized and feeds both downstream
    * aggregates: per-batch totals directly, and min-batch-per-hash →
    * per-batch first-sighting counts. The final join touches two
    * batch-keyed slivers (rows = number of batches). Nothing
    * corpus-sized is ever joined or broadcast.
    */
  def noveltyCurve(df: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text",
                   batchSize: Int = 100): DataFrame = {
    val counts = graft.Persisted(df.select(
        floor(col(idCol) / batchSize).cast("long").as("batch"),
        md5(coalesce(col(textCol), lit(""))).as("__h"))
      .groupBy("__h", "batch").agg(count(lit(1)).as("n")))
    val totals = counts.groupBy("batch").agg(sum("n").as("n_docs"))
    val novel = counts.groupBy("__h").agg(min("batch").as("batch"))
      .groupBy("batch").agg(count(lit(1)).as("n_novel"))
    totals.join(novel, Seq("batch"), "left")
      .select(col("batch"), col("n_docs"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_q",
        floor(col("n_novel").cast("double") * 10000.0 /
          col("n_docs").cast("double")).cast("long"))
  }
}
