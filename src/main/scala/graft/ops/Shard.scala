package graft.ops

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._

/** Sharding / partitioned export (SURVEY.md §2.12, W2 + X1-X3).
  *
  * Reference: sequential 50k-doc slices -> train_shard_%05d.jsonl plus a
  * manifest of per-shard doc/token counts (sharding.py:104-178).
  *
  * Scale design: the reference's `df.iloc[start:end]` implies a global
  * row order. A single-partition `Window.orderBy` would serialize the
  * whole dataset through one task at 100 TB, so the global sequence is
  * assigned with the two-pass partition-offset scheme (`zipWithIndex`):
  * range-partition by the stable sort key (the session's
  * `spark.sql.shuffle.partitions` ranges, which AQE coalesces into
  * contiguous ones), count per partition, prefix-sum the offsets on the
  * driver (one tiny action), then number rows locally on Spark's
  * internal rows. The pipeline plan runs once per pass: nothing probes
  * the upstream plan for its partition count, and the manifest is one
  * aggregate.
  */
object Shard {

  val DocsPerShard = 50000

  /** Stable global sequence via range partitioning + partition offsets.
    * `orderCol` must be unique (e.g. ingest_seq) for a deterministic
    * result. O(1) driver memory (one long per partition).
    */
  def withGlobalSeq(df: DataFrame, orderCol: String,
                    seqName: String = "global_seq"): DataFrame =
    withGlobalSeq(df, Seq(orderCol), seqName)

  /** Multi-column variant: the global order is the lexicographic order
    * of `orderCols` (the combination must be unique — e.g. a non-unique
    * measure tie-broken by a key column — for a deterministic result).
    * Range partitioning uses the same tuple ordering, so ties split
    * across partition boundaries still number correctly.
    *
    * The range exchange takes no partition count: it starts at the
    * session's `spark.sql.shuffle.partitions` and AQE coalesces it.
    * Coalescing merges only adjacent ranges, so partition order is
    * still key order. Asking `df` for its partition count instead
    * would execute every upstream shuffle stage once just to plan, and
    * then again for the numbering. The numbering itself
    * ([[GraftSqlBridge.withRowIndex]]) runs this frame's plan once and
    * stays on internal rows.
    */
  def withGlobalSeq(df: DataFrame, orderCols: Seq[String],
                    seqName: String): DataFrame =
    GraftSqlBridge.withRowIndex(
      df.repartitionByRange(orderCols.map(col): _*)
        .sortWithinPartitions(orderCols.head, orderCols.tail: _*),
      seqName)

  /** W2+X1: shard_id from the global sequence. */
  def assignShards(df: DataFrame, orderCol: String = "ingest_seq",
                   docsPerShard: Int = DocsPerShard): DataFrame =
    withGlobalSeq(df, orderCol)
      .withColumn("shard_id", (col("global_seq") / docsPerShard).cast("long"))

  /** X2: per-shard manifest aggregates (collected to the driver by
    * [[writeManifest]] — the manifest is inherently small: one row per
    * shard).
    */
  def shardManifest(df: DataFrame): DataFrame =
    df.groupBy("shard_id")
      .agg(count(lit(1)).as("num_docs"), sum("n_tokens").as("total_tokens"))
      .withColumn("filename",
        format_string("train_shard_%05d.jsonl", col("shard_id")))

  /** X2 global manifest section (sharding.py:150-178): one-row corpus
    * totals paired with the per-shard list. `tokensCol` names the per-doc
    * token-count column.
    */
  def manifestTotals(sharded: DataFrame, tokensCol: String = "n_tokens"): DataFrame =
    sharded.agg(
      countDistinct("shard_id").as("num_shards"),
      count(lit(1)).as("total_docs"),
      sum(tokensCol).as("total_tokens"))

  /** X2 complete manifest JSON — global section (the reference adds run
    * metadata driver-side: created_at_utc, tokenizer_name, docs_per_shard)
    * plus the per-shard rows, assembled like metrics_summary.json. One
    * aggregate, one job set: the per-shard rows are collected (one row
    * per shard, small by construction), sorted by shard_id, and the
    * global totals are summed from them on the driver. An empty input
    * gives 0 shards, 0 docs and 0 tokens.
    */
  def writeManifest(sharded: DataFrame, path: String,
                    tokenizerName: String, createdAtUtc: String,
                    docsPerShard: Int = DocsPerShard): Unit = {
    val perShard = shardManifest(sharded)
    val shards = perShard.collect().sortBy(_.getLong(0)).toSeq
    val global = Seq(
      "num_shards" -> shards.size.toLong,
      "total_docs" -> shards.map(_.getLong(1)).sum,
      "total_tokens" -> shards.collect { case r if !r.isNullAt(2) => r.getLong(2) }.sum,
      "created_at_utc" -> createdAtUtc,
      "tokenizer_name" -> tokenizerName,
      "docs_per_shard" -> docsPerShard)
    graft.sources.Sinks.writeJsonSections(Seq(
      "global" -> Seq(global),
      "shards" -> shards.map(r => perShard.columns.toSeq.zip(r.toSeq))), path)
  }

  /** Deterministic per-epoch corpus shuffle (beyond ref) — the training
    * ORDER operator: every epoch sees the whole corpus in a different
    * pseudo-random permutation, reproducible from the data alone
    * (Megatron/GPT-NeoX-style epoch shuffling, hash-derived instead of
    * seeded-RNG so it is resumable and oracle-checkable). The shuffle
    * key is the 52-bit md5 prefix of `id:epoch` ([[Kmv.hash52]]); an
    * optional `curriculumCol` sorts ahead of the key, giving
    * curriculum ordering (easy→hard buckets) with a deterministic
    * shuffle WITHIN each bucket — the two orderings real training
    * pipelines use, one operator.
    *
    * Scale shape: positions come from [[withGlobalSeq]]'s two-pass
    * partition-offset scheme over (epoch, [curriculum,] key, id) —
    * never a global sort, never a single-partition window. Epoch
    * replication is an in-row explode (no shuffle of its own), which
    * also makes the per-epoch rebase FREE: every epoch holds exactly
    * |df| rows and epochs are contiguous in the global sequence, so
    * position = gseq − (epoch−1)·|df| — one cheap count of the input,
    * no second traversal of the seq lineage (a groupBy-min + join
    * rebase would recompute the range-shuffle + sort per consumer).
    */
  def epochShuffle(df: DataFrame, idCol: String, epochs: Int,
                   curriculumCol: Option[String] = None): DataFrame = {
    require(epochs >= 1, "epochs must be >= 1")
    val n = df.count()
    val keyed = df
      .select((col(idCol) +: curriculumCol.map(col).toSeq): _*)
      .withColumn("epoch", explode(sequence(lit(1), lit(epochs))))
      .withColumn("skey", Kmv.hash52(concat(col(idCol).cast("string"),
        lit(":"), col("epoch").cast("string"))))
    val orderCols = Seq("epoch") ++ curriculumCol ++ Seq("skey", idCol)
    withGlobalSeq(keyed, orderCols, "__gseq")
      .select((Seq(col("epoch"), col(idCol)) ++
        curriculumCol.map(col) :+ col("skey") :+
        (col("__gseq") - (col("epoch").cast("long") - 1L) * n)
          .as("position")): _*)
  }
}
