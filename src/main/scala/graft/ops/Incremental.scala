package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental corpus maintenance over [[SnapshotDiff]] — the
  * operational answer to "the crawl grew 1%, don't reprocess 100 TB":
  * merge a change set into the next corpus snapshot and track distinct
  * counts across batches without rescanning history.
  */
object Incremental {

  /** Snapshot MERGE — the copy-on-write upsert/delete that produces the
    * NEXT corpus snapshot from the current one plus a change set (what
    * Delta/Iceberg `MERGE INTO` does, as plain relational algebra):
    * rows named by `deletes` fall out, rows named by `upserts` are
    * replaced wholesale, everything else carries forward untouched.
    * Feeding the result and the old snapshot to [[SnapshotDiff.diff]]
    * closes the loop: merge → diff.
    *
    * Scale shape: two LEFT-ANTI joins keyed on the id plus a union —
    * the unchanged majority is never rewritten row-by-row, never
    * compared column-by-column, and its text never moves except
    * through the id joins. Change sets are delta-sized, so AQE
    * broadcasts both anti-join build sides; with the snapshot bucketed
    * on the id even that exchange disappears.
    *
    * Contract: `upserts` is keyed by the id. A duplicated upsert id
    * would silently emit a duplicate-id snapshot (which then fans out
    * through every later diff id-join), so — like
    * Delta/Iceberg `MERGE INTO` on a multi-matching source — the merge
    * FAILS on one instead; a NULL upsert id fails too (a null-keyed
    * row can never be replaced or deleted later — the id anti-joins
    * never match null — so it would accumulate forever). The guard is
    * lazy and delta-sized: a broadcast null-safe self-count join plus
    * a raising filter (filters are never pruned away, so the check
    * cannot be optimized out). An id in both `deletes` and `upserts`
    * is well-defined: the old row falls out, the new version lands.
    *
    * The null-id guard covers ALL THREE inputs, not just upserts: a
    * null id in `deletes` would silently delete nothing (anti-joins
    * never match null), and a null-id row already in `snapshot` can
    * never be replaced or deleted by any later merge — both are the
    * same accumulate-forever hazard, so both raise. The snapshot check
    * is a per-row filter inside the scan the anti-joins already pay —
    * no extra pass, no shuffle.
    */
  def applyDelta(snapshot: DataFrame, upserts: DataFrame,
                 deletes: DataFrame,
                 idCol: String = "doc_id"): DataFrame = {
    def requireIds(df: DataFrame, which: String): DataFrame =
      df.filter(
        when(col(idCol).isNull,
          raise_error(lit(s"applyDelta: $which has a null id")))
          .otherwise(lit(true)))
    val dupIds = upserts.groupBy(col(idCol))
      .agg(count(lit(1)).as("__n_ups"))
      .filter(col("__n_ups") > 1)
      .select(col(idCol).as("__dup_id"), col("__n_ups"))
    // null-SAFE join: a plain USING join never matches null keys, which
    // would let duplicated null-id upserts slip past the guard
    val guarded = upserts
      .join(broadcast(dupIds), col(idCol) <=> col("__dup_id"), "left")
      .filter(
        when(col(idCol).isNull,
          raise_error(lit("applyDelta: upsert change set has a null id")))
          .when(col("__n_ups").isNotNull,
            raise_error(concat(
              lit("applyDelta: upsert change set has duplicate id "),
              col(idCol).cast("string"))))
          .otherwise(lit(true)))
      .drop("__dup_id", "__n_ups")
    requireIds(snapshot, "snapshot")
      .join(requireIds(deletes.select(col(idCol)), "delete change set"),
        Seq(idCol), "left_anti")
      .join(guarded.select(col(idCol)), Seq(idCol), "left_anti")
      .unionByName(guarded)
  }

  /** Incremental distinct tracking: merge a NEW batch's per-group HLL
    * register table into the persisted state table — the "how many
    * distinct documents has this source ever sent us" monitor that at
    * 100 TB must never rescan history. Registers merge by idempotent
    * max ([[Hll.mergeMaps]]), so state(batches 1..n) is bit-identical
    * to a flat build over the union — which is exactly what the
    * q_incr_hll oracle computes. The join is group-keyed (state tables
    * are group-cardinality-sized, i.e. tiny next to the corpus);
    * either side may lack a group (new source / quiet source).
    */
  def mergeHllStates(state: DataFrame, batch: DataFrame): DataFrame = {
    val spark = state.sparkSession
    import spark.implicits._
    state.toDF("g", "ra")
      .join(batch.toDF("g", "rb"), Seq("g"), "full_outer")
      .as[(String, Map[Int, Int], Map[Int, Int])]
      .map { case (g, ra, rb) =>
        (g, Hll.mergeMaps(Option(ra).getOrElse(Map.empty),
          Option(rb).getOrElse(Map.empty)))
      }
      .toDF("g", "regs")
  }
}
