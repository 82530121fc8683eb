package graft.ops

import org.apache.spark.sql.DataFrame

/** Parallelism helper for per-row-expensive stages (SURVEY.md §2.9
  * scale note). AQE's skew-join splitting handles sort-merge joins on
  * its own.
  */
object Skew {

  /** Restore input parallelism for per-row-EXPENSIVE stages (sketch /
    * shingle / signature kernels) reading low-split sources.
    *
    * At production scale this is a NO-OP: a 100 TB table scans as
    * ~800k file splits and every core has work, so no shuffle is
    * added. It round-robins only when the source yields fewer
    * partitions than the cluster has slots — e.g. a single-row-group
    * parquet file (unsplittable below one row group however small
    * `maxPartitionBytes` goes), a gzip'd JSONL shard, or a tiny dim —
    * where otherwise every row of an expensive kernel runs on ONE
    * core while the rest of the machine idles. The trade is one
    * narrow-input shuffle for a parallelism floor; only worth it when
    * per-row CPU, not row width, dominates — which is exactly the
    * sketch-op profile.
    */
  def ensureParallelism(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }
}
