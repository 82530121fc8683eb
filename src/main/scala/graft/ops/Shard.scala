package graft.ops

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

import graft.Persisted

/** Sharding / partitioned export (SURVEY.md §2.12, W2 + X1-X3).
  *
  * Reference: sequential 50k-doc slices -> train_shard_%05d.jsonl plus a
  * manifest of per-shard doc/token counts (sharding.py:104-178).
  *
  * Scale design: the reference's `df.iloc[start:end]` implies a global
  * row order. A single-partition `Window.orderBy` would serialize the
  * whole dataset through one task at 100 TB, so the global sequence is
  * assigned with partition offsets (the `zipWithIndex` scheme): count
  * the rows of each partition, prefix-sum the counts on the driver (one
  * long per partition), then number rows locally on Spark's internal
  * rows. The pipeline's rows usually reach stage 7 already in key order
  * (ingest numbers `ingest_seq` in partition order and every later
  * stage keeps partition and row order), so [[withGlobalSeq]] first
  * checks whether they are, and only range-partitions and sorts them
  * when they are not. The pipeline plan runs once per pass, and the
  * manifest is one aggregate.
  */
object Shard {

  val DocsPerShard = 50000

  /** [[withGlobalSeq]] on one key column. */
  def withGlobalSeq(df: DataFrame, orderCol: String,
                    seqName: String = "global_seq"): DataFrame =
    withGlobalSeq(df, Seq(orderCol), seqName)

  /** `df` plus a non-null LongType column `seqName`: the dense rank
    * 0..n-1 of each row in the lexicographic order of `orderCols`
    * (ascending, nulls first). The combination must be unique, e.g. a
    * non-unique measure tie-broken by a key column, for a deterministic
    * result. O(1) driver memory per partition.
    *
    * `df` is read once, through a [[Persisted.rows]] branch point that
    * the innermost [[Persisted.owned]] scope releases; the numbering and
    * every action on the result read those rows. One probe job computes
    * them and records, per partition, its row count, its first and last
    * key, and whether its keys are non-null and strictly ascending,
    * compared with the tuple ordering a range exchange sorts by.
    *  - Already in order (every partition strictly ascending, and the
    *    non-empty partitions' [first, last] ranges disjoint): the
    *    partitions, taken by first key, are consecutive slices of the
    *    global order, so each row gets its partition's start offset
    *    plus its index in the partition. No exchange, no sort, no
    *    second job.
    *  - Otherwise: the rows are range-partitioned on `orderCols` (the
    *    session's `spark.sql.shuffle.partitions` ranges, which AQE
    *    coalesces into adjacent ones, so partition order stays key
    *    order), sorted within partitions and numbered in partition
    *    order. The range sampler and the exchange read the stored rows,
    *    not the upstream plan, and run under one SQL execution of their
    *    own, so listeners see the exchange.
    * Both paths append the number with [[GraftSqlBridge.withRowIndex]].
    */
  def withGlobalSeq(df: DataFrame, orderCols: Seq[String],
                    seqName: String): DataFrame = {
    val rows = Persisted.rows(df)
    inOrderStarts(rows, orderCols) match {
      case Some(starts) => GraftSqlBridge.withRowIndex(rows, seqName, starts)
      case None =>
        val sorted = rows.repartitionByRange(orderCols.map(col): _*)
          .sortWithinPartitions(orderCols.head, orderCols.tail: _*)
        SQLExecution.withNewExecutionId(sorted.queryExecution, Some("withGlobalSeq"))(
          GraftSqlBridge.withRowIndex(sorted, seqName))
    }
  }

  /** The probe behind [[withGlobalSeq]]: one job over `rows`'s
    * partitions. When its rows are already in strictly ascending
    * `orderCols` order across some order of its partitions, the first
    * global index of each partition (0 for an empty one); otherwise
    * None.
    */
  private def inOrderStarts(rows: DataFrame,
                            orderCols: Seq[String]): Option[Array[Long]] = {
    val schema = rows.schema
    val keyRefs = orderCols.map { c =>
      val i = schema.fieldIndex(c)
      BoundReference(i, schema(i).dataType, schema(i).nullable)
    }
    // the range exchange's ordering: ascending, nulls first, over the
    // projected key row
    val order = keyRefs.zipWithIndex.map { case (r, i) =>
      SortOrder(BoundReference(i, r.dataType, r.nullable), Ascending) }
    val ranges = rows.queryExecution.toRdd.mapPartitions { it =>
      // two projections take turns, so the previous key stays valid
      // without a copy per row
      val keys = Array(UnsafeProjection.create(keyRefs), UnsafeProjection.create(keyRefs))
      val ordering = new LazilyGeneratedOrdering(order)
      var n = 0L
      var first: UnsafeRow = null
      var last: UnsafeRow = null
      var ascending = true
      it.foreach { row =>
        val k = keys((n & 1L).toInt)(row)
        if (ascending)
          ascending = !k.anyNull && (last == null || ordering.compare(last, k) < 0)
        if (first == null) first = k.copy()
        last = k
        n += 1
      }
      Iterator(KeyRange(n, first, if (last == null) null else last.copy(), ascending))
    }.collect()
    val ordering = new LazilyGeneratedOrdering(order)
    val filled = ranges.indices.filter(ranges(_).rows > 0)
      .sortWith((a, b) => ordering.compare(ranges(a).first, ranges(b).first) < 0)
    val inOrder = ranges.forall(_.ascending) &&
      filled.zip(filled.drop(1)).forall { case (a, b) =>
        ordering.compare(ranges(a).last, ranges(b).first) < 0 }
    Option.when(inOrder) {
      val starts = new Array[Long](ranges.length)
      filled.foldLeft(0L) { (start, p) => starts(p) = start; start + ranges(p).rows }
      starts
    }
  }

  /** One partition's probe result: row count, first and last key, and
    * whether its keys are non-null and strictly ascending.
    */
  private case class KeyRange(rows: Long, first: UnsafeRow, last: UnsafeRow,
                              ascending: Boolean)

  private def requirePositive(docsPerShard: Int): Unit =
    require(docsPerShard > 0, s"docsPerShard must be positive, got $docsPerShard")

  /** W2+X1: shard_id from the global sequence. */
  def assignShards(df: DataFrame, orderCol: String = "ingest_seq",
                   docsPerShard: Int = DocsPerShard): DataFrame = {
    requirePositive(docsPerShard)
    withGlobalSeq(df, orderCol)
      .withColumn("shard_id", (col("global_seq") / docsPerShard).cast("long"))
  }

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
    requirePositive(docsPerShard)
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
