package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reporting / metrics aggregations (SURVEY.md §2.6, A1-A7 and H1-H3).
  *
  * The reference computes these in plots_charts.py (+ per-stage logged
  * summaries) with pandas value_counts/describe; here they are ordinary
  * shuffling aggregations returning small DataFrames. Rendering (PNG
  * plots) is presentation and out of engine scope — the aggregates ARE
  * the engine output (SURVEY §2.1 S8).
  */
object Report {

  /** A1: drop-reason counts, most frequent first. */
  def dropReasonCounts(df: DataFrame): DataFrame =
    df.groupBy("drop_reason").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc_nulls_first("drop_reason"))

  /** Grouped Pearson correlation from integer moment sums (beyond ref):
    * all six aggregates (n, Σx, Σy, Σxy, Σx², Σy²) are exact BIGINT
    * sums — partition-order-proof — and the formula
    * (nΣxy − ΣxΣy) / sqrt((nΣx² − (Σx)²)(nΣy² − (Σy)²)) is evaluated
    * once from those integers in double (products stay < 2^53 at the
    * tested scales; IEEE sqrt/division are exactly rounded, so any
    * engine computes the identical bits), floor-quantized to 1e-4.
    * Spark's native `corr` is a streaming moment aggregate whose low
    * bits depend on partition order — unusable for oracle parity.
    * Requires integer-valued x/y columns. Rows where either side is
    * NULL are excluded from ALL moments including n — counting them in
    * n but not the sums (count(*) + sum-skips-null) silently corrupts
    * the covariance, the standard pairwise-deletion bug.
    */
  def corrGrouped(df: DataFrame, groupCol: String, xCol: String,
                  yCol: String): DataFrame = {
    val pair = col(xCol).isNotNull && col(yCol).isNotNull
    val x = col(xCol).cast("long")
    val y = col(yCol).cast("long")
    def d(c: Column): Column = c.cast("double")
    val num = d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))
    val vx = d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))
    val vy = d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy"))
    df.filter(pair).groupBy(groupCol)
      .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
      .withColumn("corr_q",
        when(vx > 0.0d && vy > 0.0d,
          floor(num / sqrt(vx * vy) * 10000.0d).cast("long")))
      .select(col(groupCol), col("n"), col("corr_q"))
  }

  /** A2: numeric describe of a column — count/min/max/mean/std/quartiles,
    * the full pandas `.describe()` surface (text_clean_and_filter.py:662-682).
    * Exact percentiles (not approx) for oracle parity. Sample stddev is
    * computed from plain sums (sqrt((Σx² − (Σx)²/n)/(n−1))) rather than
    * Spark's streaming moment aggregate: for integer-valued columns the
    * partial sums are exact in double regardless of partition order, so
    * the result is bit-identical across engines (oracle-safe). The
    * textbook cancellation caveat applies only to float columns with
    * mean ≫ spread — quantize those comparisons instead.
    */
  def describeCol(df: DataFrame, c: String): DataFrame = {
    val x = col(c).cast("double")
    df.agg(
        count(col(c)).as("n"),
        min(col(c)).as("min"),
        max(col(c)).as("max"),
        avg(col(c)).as("mean"),
        sum(x).as("_sx"),
        sum(x * x).as("_sxx"),
        expr(s"percentile($c, 0.25)").as("p25"),
        expr(s"percentile($c, 0.5)").as("median"),
        expr(s"percentile($c, 0.75)").as("p75"))
      .withColumn("std",
        sqrt((col("_sxx") - col("_sx") * col("_sx") / col("n")) / (col("n") - 1)))
      .drop("_sx", "_sxx")
  }

  /** A2 over many metrics in ONE scan (the reference's
    * `df[metric_cols].describe()` shape): per-column aggregates computed
    * side by side in a single aggregation pass, then pivoted to one row
    * per metric. N metrics cost one job and one 1-row shuffle — not N
    * full-table passes. min/max are cast to double so all metrics share
    * one row schema (pandas describe emits floats too).
    */
  def describeCols(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "describeCols needs at least one column")
    val aggs = cols.flatMap { c =>
      val x = col(c).cast("double")
      Seq(count(col(c)).as(s"${c}__n"),
        min(x).as(s"${c}__min"), max(x).as(s"${c}__max"),
        avg(col(c)).as(s"${c}__mean"),
        sum(x).as(s"${c}__sx"), sum(x * x).as(s"${c}__sxx"),
        expr(s"percentile($c, 0.25)").as(s"${c}__p25"),
        expr(s"percentile($c, 0.5)").as(s"${c}__median"),
        expr(s"percentile($c, 0.75)").as(s"${c}__p75"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = array(cols.map { c =>
      val n = col(s"${c}__n")
      struct(lit(c).as("metric"), n.as("n"),
        col(s"${c}__min").as("min"), col(s"${c}__max").as("max"),
        col(s"${c}__mean").as("mean"),
        sqrt((col(s"${c}__sxx") - col(s"${c}__sx") * col(s"${c}__sx") / n)
          / (n - 1)).as("std"),
        col(s"${c}__p25").as("p25"), col(s"${c}__median").as("median"),
        col(s"${c}__p75").as("p75"))
    }: _*)
    one.select(explode(rows).as("m")).select("m.*")
  }

  /** A3: boolean/scalar sums over flag columns (replaces the reference's
    * mutable global counters with side-effect-free aggregation).
    */
  def piiTotals(df: DataFrame): DataFrame =
    df.agg(
      sum("pii_email_hits").as("email_hits"),
      sum("pii_phone_hits").as("phone_hits"),
      sum("pii_cc_hits").as("cc_hits"),
      sum("pii_iban_hits").as("iban_hits"),
      count(when(col("has_pii"), 1)).as("docs_with_pii"))

  /** A4 scalable variant: max-token-frequency via explode + two-level
    * aggregation (map-side combine on both) — for corpora whose largest
    * docs would blow up the per-row higher-order-function form.
    */
  def maxTokenFreqExploded(df: DataFrame, idCol: String, tokensCol: Column): DataFrame =
    df.select(col(idCol), explode(tokensCol).as("tok"))
      .groupBy(idCol, "tok").agg(count(lit(1)).as("cnt"))
      .groupBy(idCol).agg(max("cnt").as("max_freq"), sum("cnt").as("n_tokens"))
      .withColumn("max_token_freq_ratio",
        col("max_freq").cast("double") / col("n_tokens").cast("double"))

  /** H1: fixed-width histogram of a numeric column (bucket floor(c/w)). */
  def histogram(df: DataFrame, c: String, width: Double): DataFrame =
    df.filter(col(c).isNotNull)
      .groupBy(floor(col(c) / width).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))

  /** H2: top-N value counts with a deterministic tiebreak. */
  def topValues(df: DataFrame, c: String, n: Int = 30): DataFrame =
    df.groupBy(c).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc(c)).limit(n)

  /** One-row corpus data card — the intake summary a dataset release
    * ships (docs, sources, languages, token/char mass, blank share,
    * exact-dup rate via content hash). One scan, one aggregate;
    * the three distinct-aggregates expand into one grouped pass each —
    * a report query, run once per corpus build, not per stage. At
    * extreme cardinalities swap `countDistinct` for
    * `approx_count_distinct` (HLL++, bounded state), as
    * `approx_percentile` is for percentiles.
    */
  def dataCard(df: DataFrame, textCol: String = "text",
               sourceCol: String = "source",
               langCol: String = "lang"): DataFrame = {
    val txt = coalesce(col(textCol), lit(""))
    df.select(col(sourceCol).as("src"), col(langCol).as("lng"),
        size(graft.text.TextMetrics.tokens(col(textCol))).cast("long").as("n_tok"),
        length(txt).cast("long").as("n_chars"),
        (trim(txt) === "").as("is_empty"),
        md5(txt).as("h"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("src")).as("n_sources"),
        countDistinct(col("lng")).as("n_langs"),
        sum("n_tok").as("total_tokens"),
        sum("n_chars").as("total_chars"),
        sum(when(col("is_empty"), 1L).otherwise(0L)).as("n_empty"),
        countDistinct(col("h")).as("n_distinct_texts"))
      .select(col("n_docs"), col("n_sources"), col("n_langs"),
        col("total_tokens"), col("total_chars"), col("n_empty"),
        col("n_distinct_texts"),
        (col("total_tokens").cast("double") / col("n_docs").cast("double"))
          .as("mean_tokens"),
        (lit(1.0) - col("n_distinct_texts").cast("double")
          / col("n_docs").cast("double")).as("dup_rate"))
  }

  /** Per-shard HLL sketches + a merged corpus estimate — the
    * pre-aggregation pattern for distinct counts at 100 TB: each shard
    * (here: source) reduces to a few-KB Datasketches HLL blob once, and
    * every later corpus-wide distinct question is answered by merging
    * blobs (`hll_union_agg`) WITHOUT rescanning the shard — mergeability
    * is the property `approx_count_distinct`'s opaque internal sketch
    * doesn't expose. Output: one row per group plus a `__all__` row
    * whose estimate comes from the union of the per-group sketches —
    * within standard HLL relative error of the exact count (the union
    * gadget promotes exact list-mode sketches to estimating HLL mode,
    * so it is NOT bit-identical to one global sketch; accuracy is
    * spec-pinned instead).
    *
    * Scale shape: one keyed aggregate (partial sketches merge
    * map-side); the union agg folds rows = number of groups. In a
    * production layout the `sk` blob column itself is what you persist
    * alongside each shard's parquet.
    */
  def sketchDistinct(df: DataFrame, keyCol: String,
                     groupCol: String): DataFrame = {
    val perGroup = graft.Persisted(df
      .groupBy(col(groupCol).cast("string").as("group"))
      .agg(hll_sketch_agg(col(keyCol)).as("sk"),
        count(lit(1)).as("n_rows")))
    val per = perGroup.select(col("group"), col("n_rows"),
      hll_sketch_estimate(col("sk")).as("n_distinct_est"))
    val all = perGroup
      .agg(sum("n_rows").as("n_rows"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_distinct_est"))
      .select(lit("__all__").as("group"), col("n_rows"),
        col("n_distinct_est"))
    per.unionByName(all)
  }
}
