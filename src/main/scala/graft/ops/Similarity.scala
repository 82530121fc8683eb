package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search (north-star capability for a training-data
  * engine; SURVEY.md §7 step 7 + builder brief).
  *
  * Numeric-parity note: cosine is computed as three left-to-right double
  * folds (dot, |a|², |b|²) combined as dot/(sqrt(na)*sqrt(nb)) — verified
  * bit-identical to DuckDB's list_cosine_similarity over DOUBLE[], so
  * these queries are oracle-checkable with no rounding fudge.
  *
  * Scale design: brute-force top-k broadcasts the (small) query set and
  * streams the corpus — one pass, no shuffle until the per-query top-k
  * window on k·|Q| rows. The near-dup path buckets by sign-bit LSH
  * (axis-aligned random hyperplanes — deterministic, SQL-expressible)
  * so the candidate join is per-bucket instead of all-pairs: at 100 TB
  * the all-pairs cross join is the thing that must never happen.
  */
object Similarity {

  /** Native codegen'd cosine (graft.plans.CosineSimilarity): reads the
    * unsafe array buffers in place — no Seq boxing, no SerDe, and the
    * surrounding filter/window stays in the same whole-stage-codegen
    * span. Accumulation order is the same left-to-right IEEE double fold
    * as the expression form and DuckDB's list_cosine_similarity, so
    * results stay bit-identical (oracle-safe).
    */
  def cosine(a: Column, b: Column): Column =
    graft.plans.CosineSimilarity(a, b)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Sign-bit LSH bucket over dims [start, start+nbits) (MSB-first fold,
    * identical to the DuckDB list_reduce form).
    */
  def lshBucketAt(v: Column, start: Column, nbits: Int): Column =
    aggregate(sequence(start, start + nbits - 1), lit(0L),
      (acc, i) => acc * 2 + when(element_at(v, i.cast("int")) > 0, 1L).otherwise(0L))

  /** Brute-force cosine top-k: exact baseline. Query set = vec_id < nQueries.
    * Ranking is TopK.perQuery (bounded-heap aggregate with map-side
    * combine), NOT a per-query window: a window would funnel the whole
    * scored corpus into one partition per query — the 100 TB killer.
    */
  def annTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("qv"), col("v")))
      .select("query_id", "vec_id", "cosine")
    TopK.perQuery(scored, k)
  }

  /** Multi-table sign-bit LSH near-duplicate pairs: `tables` independent
    * hash tables of `nbits` sign bits each (table t reads dims
    * [t·nbits, (t+1)·nbits)); candidates share ANY table's bucket,
    * verified with exact cosine. Recall ≈ 1-(1-p^nbits)^tables for
    * per-dim sign-agreement probability p — one wide table is near-zero
    * recall for moderately-similar pairs (measured 4e-4 at 16 bits on
    * the fixture); banding is the standard fix, the same trade as
    * MinHash LSH bands.
    */
  def nearDupPairsLsh(emb: DataFrame, threshold: Double,
                      nbits: Int = 8, tables: Int = 8,
                      maxBucket: Long = Long.MaxValue): DataFrame = {
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val banded = e
      .select(col("vec_id"), col("v"),
        explode(sequence(lit(0), lit(tables - 1))).as("t"))
      .select(col("vec_id"), col("t"),
        lshBucketAt(col("v"), col("t") * nbits + 1, nbits).as("bucket"))
    // Optional bucket-population gate [2, maxBucket] ahead of the
    // self-join — the same idea as containmentPairs' document-
    // frequency band: a bucket with thousands of members is a
    // boilerplate/template CLUSTER, not near-dup evidence, and pairing
    // inside one is quadratic (a 4k-member bucket is 7.6M candidate
    // pairs). The bucket table is bounded by construction
    // (≤ tables·2^nbits rows) so the gate broadcasts at any corpus
    // size. OFF by default: it costs one extra evaluation of the
    // banded table (measured +1.4s at sf0.1) and a fixed cap cannot
    // track corpus growth — set it per corpus from the observed bucket
    // histogram, not a priori.
    val kept =
      if (maxBucket == Long.MaxValue) banded
      else {
        val keep = banded.groupBy("t", "bucket").agg(count(lit(1)).as("__n"))
          .filter(col("__n") >= 2 && col("__n") <= maxBucket)
          .select("t", "bucket")
        banded.join(broadcast(keep), Seq("t", "bucket"))
      }
    val pairs = kept.select(col("t"), col("bucket"), col("vec_id").as("id_a"))
      .join(kept.select(col("t"), col("bucket"), col("vec_id").as("id_b")),
        Seq("t", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    pairs
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .withColumn("cosine", cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Multi-table RANDOM-HYPERPLANE LSH near-dup pairs
    * ([[graft.plans.RpLshBuckets]]): same candidate shape as
    * [[nearDupPairsLsh]] (pairs share any table's bucket, exact-cosine
    * verify on candidates only), but each bit is the sign of a dot
    * with a fixed ±1 hyperplane instead of one raw component. Use this
    * for feature-hashed TEXT vectors: their per-dim signs are nearly
    * constant across a corpus (common-token counts dominate), which
    * collapses axis-aligned buckets to candidates ≈ all-pairs; the
    * hyperplane mix restores the 1 − θ/π per-bit collision law, which
    * holds for any data distribution. Axis-aligned banding remains for
    * centered embedding columns where the components are already
    * balanced and the per-bit arithmetic is one array read.
    */
  def nearDupPairsRpLsh(emb: DataFrame, threshold: Double,
                        nbits: Int = 16, tables: Int = 8): DataFrame = {
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val banded = e.select(col("vec_id"),
      posexplode(graft.plans.RpLshBuckets(col("v"), tables, nbits)))
      .toDF("vec_id", "t", "bucket")
    val pairs = banded.select(col("t"), col("bucket"), col("vec_id").as("id_a"))
      .join(banded.select(col("t"), col("bucket"), col("vec_id").as("id_b")),
        Seq("t", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    pairs
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .withColumn("cosine", cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Label-centroid table (centroid_label, cv): the IVF coarse quantizer
    * "training" step. Small by construction (one row per label) — cache
    * or collect+rebroadcast for reuse across assignment and search.
    */
  def labelCentroids(emb: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    e.select(col("label"), posexplode(col("v")))
      .toDF("label", "pos", "x")
      .groupBy("label", "pos").agg(avg("x").as("cx"))
      .groupBy("label").agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("pairs"))
      .select(col("label").as("centroid_label"),
        expr("transform(pairs, p -> p.cx)").as("cv"))
  }

  /** Centroid table collected into one literal `array<struct<label,cv>>`
    * column (tiny by construction: one row per label). Folding over a
    * literal keeps nearest-centroid assignment a pure projection — the
    * broadcast-join + per-vec_id `row_number` window it replaces
    * shuffled corpus×k rows keyed on vec_id, a full-corpus exchange
    * that buys nothing a map-side argmax doesn't.
    */
  private[ops] def centroidLiteral(centDf: DataFrame): Column = {
    import org.apache.spark.sql.types._
    // One Literal node for the whole k×d table (vs a CreateArray/
    // CreateStruct tree with one node per double — see
    // GraftSqlBridge.literal).
    val rows = centDf.collect().sortBy(_.getInt(0))
    val value = rows.toSeq.map(r =>
      org.apache.spark.sql.Row(r.getInt(0), r.getSeq[Double](1)))
    val dt = ArrayType(StructType(Seq(
      StructField("label", IntegerType, nullable = false),
      StructField("cv", ArrayType(DoubleType, containsNull = false),
        nullable = false))), containsNull = false)
    org.apache.spark.sql.GraftSqlBridge.literal(value, dt)
  }

  /** Map-side argmax over the centroid literal: max of
    * struct(cosine, -label) ranks exactly like the oracle's
    * `ORDER BY cosine DESC, label ASC` window (struct comparison is
    * field-order lexicographic; Spark orders NaN above all values in
    * both struct max and window sort, and an all-null tie falls through
    * to the label field — edge semantics match the window form).
    */
  private[ops] def bestCentroid(v: Column, centsLit: Column): Column =
    array_max(transform(centsLit, c =>
      struct(cosine(v, c.getField("cv")).as("cosine"),
        (-c.getField("label")).as("neg_label"),
        c.getField("label").as("label"))))

  /** IVF probe-limited top-k search: assign the corpus to its nearest
    * centroid, rank centroids per query, search ONLY the top-`probes`
    * centroid partitions. The scale path for ANN: centroids collect to
    * a literal (one row per label), corpus assignment is a shuffle-free
    * projection, and the only corpus-sized exchanges left are the
    * candidate join keyed on centroid and the bounded-heap ranking —
    * query cost scales with probed partitions, not corpus size.
    */
  /** Probe labels for a query vector, in-row: sort the k centroid
    * scores (desc cosine, asc label — comparator mirrors
    * [[bestCentroid]]) and take the head. NaN handled explicitly:
    * Spark's >/< are false for NaN operands, so without the isnan arms
    * a NaN cosine (zero-vector centroid) would tie with everything —
    * an intransitive comparator and a different probe set than the
    * oracle's NaN-first DESC window sort. Shared by [[ivfTopK]] and
    * [[Pq.ivfPqTopK]] so the two coarse quantizers cannot drift.
    */
  private[ops] def probeLabels(qv: Column, centsLit: Column,
                               probes: Int): Column = {
    val sorted = array_sort(
      transform(centsLit, c =>
        struct(cosine(qv, c.getField("cv")).as("cosine"),
          c.getField("label").as("label"))),
      (l, r) => {
        val (lc, rc) = (l.getField("cosine"), r.getField("cosine"))
        when(isnan(lc) && !isnan(rc), -1)
          .when(!isnan(lc) && isnan(rc), 1)
          .when(lc > rc, -1)
          .when(lc < rc, 1)
          .when(l.getField("label") < r.getField("label"), -1)
          .when(l.getField("label") > r.getField("label"), 1)
          .otherwise(0)
      })
    transform(slice(sorted, 1, probes), p => p.getField("label"))
  }

  def ivfTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
              probes: Int = 2): DataFrame = {
    val cents = centroidLiteral(labelCentroids(emb))
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val assigned = e
      .select(col("vec_id"), col("v"),
        bestCentroid(col("v"), cents).getField("label").as("assigned_centroid"))
    // Probe list per query: |Q|·probes rows, joined broadcast against
    // the assignment.
    val queryProbes = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .select(col("query_id"), col("qv"),
        explode(probeLabels(col("qv"), cents, probes)).as("probe_centroid"))
    // Final ranking via the bounded-heap aggregate — the probed-candidate
    // set still scales with corpus size, so it must never collapse into
    // one partition per query (see TopK scaladoc).
    val scored = assigned
      .join(broadcast(queryProbes),
        col("probe_centroid") === col("assigned_centroid")
          && col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("qv"), col("v")))
      .select("query_id", "vec_id", "cosine")
    TopK.perQuery(scored, k)
  }

  /** IVF-style centroid assignment: nearest of k label-centroids (computed
    * from the labeled sample), the classic coarse quantizer for ANN at
    * scale — search only the probe-list's partitions. Assignment itself
    * is a pure projection against the centroid literal: no shuffle, no
    * window, stays inside whole-stage codegen.
    */
  def ivfAssign(emb: DataFrame): DataFrame = {
    val cents = centroidLiteral(labelCentroids(emb))
    emb.select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .select(col("vec_id"), col("label"),
        bestCentroid(col("v"), cents).getField("label").as("assigned_centroid"))
  }
}
