package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.Persisted

/** Sequence packing — the training-side op downstream of sharding: a
  * pretraining loader concatenates every document's tokens into one
  * stream and chops it at fixed `capacity` boundaries (context windows),
  * so each doc lands at a deterministic token offset and may straddle a
  * pack boundary. Knowing the layout AT CORPUS BUILD TIME is what lets a
  * pipeline size runs (n_packs = ceil(total_tokens / capacity)), audit
  * boundary-crossing rates per subset, and emit shard files aligned to
  * whole packs.
  *
  * Scale design: the layout is a global exclusive prefix sum of token
  * counts in stable doc order. A `Window.orderBy` without partitioning
  * moves the whole corpus through ONE task; instead the two-pass
  * partition-offset scheme of [[Shard.withGlobalSeq]]'s range path:
  * range-partition by the order key, per-partition token sums (one long
  * per partition to the driver), prefix-sum those offsets, then number
  * rows locally. Two passes over the sorted data, O(#partitions) driver
  * state, no single-reducer hotspot.
  */
object Pack {

  /** Exclusive running total of `valCol` in `orderCol` order (the value
    * column must be non-null and non-negative; `orderCol` must be unique
    * for a deterministic result).
    */
  def withRunningTotal(df: DataFrame, orderCol: String, valCol: String,
                       name: String = "start_offset"): DataFrame =
    withRunningTotalOrdered(df, Seq(col(orderCol)), valCol, name)

  /** Multi-column / descending-order variant: the running total follows
    * the lexicographic order of `orderCols` (Columns, so `desc` works —
    * e.g. quality DESC tie-broken by id ASC for budget selection). The
    * combination must be a total order for a deterministic result; the
    * same two-pass partition-offset scheme applies unchanged because
    * `repartitionByRange` + `sortWithinPartitions` accept the same
    * ordering expressions.
    */
  def withRunningTotalOrdered(df: DataFrame, orderCols: Seq[Column],
                              valCol: String,
                              name: String = "start_offset"): DataFrame = {
    val spark = df.sparkSession
    val parts = math.max(df.rdd.getNumPartitions, 1)
    // Persisted because BOTH passes consume it: without the cache the
    // entire upstream executes twice. Matters when the upstream is a
    // real pipeline (curation budget stage at the 100x layout:
    // 81.2 -> 67.9 s, q_curation_e2e 218.7 -> 197.5 s min-of-3); a
    // cheap-scan upstream (q_budget_select at 10x) measures flat — the
    // cache write-out roughly prices one extra scan. RDD-level persist:
    // the passes below are RDD operations over Rows.
    val sorted = df.repartitionByRange(parts, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
    val valIdx = sorted.schema.fieldIndex(valCol)
    val rdd = Persisted(sorted.rdd)
    // pass 1: one partial sum per partition -> driver prefix sum
    val partSums = rdd
      .mapPartitionsWithIndex { (i, it) =>
        var s = 0L
        it.foreach(r => s += r.getAs[Number](valIdx).longValue())
        Iterator((i, s))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = partSums.scanLeft(0L)(_ + _)
    // pass 2: local running totals seeded with the partition's offset
    val indexed = rdd.mapPartitionsWithIndex { (i, it) =>
      var run = offsets(i)
      it.map { r =>
        val out = Row.fromSeq(r.toSeq :+ run)
        run += r.getAs[Number](valIdx).longValue()
        out
      }
    }
    spark.createDataFrame(indexed, StructType(
      sorted.schema.fields :+ StructField(name, LongType, nullable = false)))
  }

  /** Per-group variant of [[withRunningTotalOrdered]]: an exclusive
    * running total of `valCol` within each `groupCol` value, following
    * the lexicographic order of `orderCols` inside the group. The skew
    * escape hatch for grouped prefix sums: a `Window.partitionBy(group)`
    * puts ONE GROUP'S ENTIRE ROW SET through a single task, so a
    * 99%-one-language corpus serializes through one reducer — here the
    * group is part of the RANGE partitioning key instead, so a dominant
    * group spreads over many partitions and the driver only carries one
    * (partition, group) partial per group-run (groups are contiguous in
    * the sorted order: O(#groups + #partitions) entries, NOT #rows).
    * Intended for low-cardinality/high-skew groups (languages, sources);
    * for million-group keys the windowed form's per-task state is the
    * better trade and the driver map here would be the bottleneck —
    * callers on web-scale keys (hosts, URLs) go through
    * [[withRunningTotalPerGroupHybrid]], which dispatches per group.
    */
  def withRunningTotalPerGroup(df: DataFrame, groupCol: String,
                               orderCols: Seq[Column], valCol: String,
                               name: String = "start_offset"): DataFrame = {
    val spark = df.sparkSession
    val parts = math.max(df.rdd.getNumPartitions, 1)
    val all = col(groupCol) +: orderCols
    // persisted for the same two-pass reason as withRunningTotalOrdered
    val sorted = df.repartitionByRange(parts, all: _*)
      .sortWithinPartitions(all: _*)
    val valIdx = sorted.schema.fieldIndex(valCol)
    val grpIdx = sorted.schema.fieldIndex(groupCol)
    val rdd = Persisted(sorted.rdd)
    // pass 1: per-partition per-group partials (insertion-ordered —
    // groups are contiguous runs within a sorted partition)
    val partGroupSums = rdd.mapPartitionsWithIndex { (i, it) =>
      val sums = scala.collection.mutable.LinkedHashMap.empty[Any, Long]
      it.foreach { r =>
        val g = r.get(grpIdx)
        sums.update(g, sums.getOrElse(g, 0L) + r.getAs[Number](valIdx).longValue())
      }
      sums.iterator.map { case (g, s) => (i, g, s) }
    }.collect()
    // driver: per group, prefix-sum its partials in partition order
    val offsets: Map[(Int, Any), Long] = partGroupSums
      .groupBy(_._2)
      .flatMap { case (g, rows) =>
        val inOrder = rows.sortBy(_._1)
        val prefix = inOrder.scanLeft(0L)(_ + _._3)
        inOrder.zip(prefix).map { case ((i, _, _), off) => (i, g) -> off }
      }
    val bc = spark.sparkContext.broadcast(offsets)
    // pass 2: local running totals seeded with each group's offset
    val indexed = rdd.mapPartitionsWithIndex { (i, it) =>
      val local = scala.collection.mutable.HashMap.empty[Any, Long]
      it.map { r =>
        val g = r.get(grpIdx)
        val run = local.getOrElse(g, bc.value.getOrElse((i, g), 0L))
        val out = Row.fromSeq(r.toSeq :+ run)
        local.update(g, run + r.getAs[Number](valIdx).longValue())
        out
      }
    }
    spark.createDataFrame(indexed, StructType(
      sorted.schema.fields :+ StructField(name, LongType, nullable = false)))
  }

  /** Skew-routing front door for grouped running totals on
    * HIGH-CARDINALITY keys (hosts, domains, URLs — 10⁷–10⁸ distinct at
    * crawl scale). Neither pure form survives that shape alone:
    *
    *  - `Window.partitionBy(group)` parallelizes across groups with
    *    per-task state bounded by one group's rows — perfect for the
    *    millions of ordinary groups, catastrophic for the one mega-group
    *    (90%-one-domain crawl slice through ONE reducer).
    *  - [[withRunningTotalPerGroup]]'s two-pass scheme spreads a
    *    mega-group over many range partitions — but its driver
    *    prefix-merge carries O(#groups + #partitions) entries, a
    *    driver-memory bottleneck when #groups is web-scale.
    *
    * So: one map-side-combined count per group routes each group to the
    * form whose envelope it fits. Groups above `skewThreshold` rows take
    * the two-pass path (driver state bounded by
    * rows/skewThreshold × #partitions — at 10¹¹ rows and the 2M default
    * that is ≤50k mega-groups, each one partial per partition-run, not
    * 10⁸ hosts); everything else keeps the window (per-task state
    * ≤ skewThreshold rows, spills via the window's external row buffer
    * long before that matters). Both paths compute the identical
    * deterministic exclusive prefix given a total (group, orderCols)
    * order, so routing never changes a result — pinned by PackSpec's
    * planted-mega-host parity test and SkewSpec. Null group keys fall to
    * the window path (engine convention: callers fold null→'' first).
    *
    * The common no-skew case short-circuits to the plain window with
    * zero added plan nodes; the routing agg is one extra pass over the
    * upstream (callers with an expensive upstream persist it first).
    *
    * Mega-key dispatch has two shapes. Up to `inListMax` detected keys
    * compile into an `isInCollection` predicate (cheap, no extra join);
    * above that — the documented worst case is rows/skewThreshold keys,
    * ~50k–500k at crawl scale — an IN-list would bake tens of thousands
    * of literals into the plan, so the big-key set stays distributed and
    * routes via broadcast semi/anti joins instead. That broadcast is a
    * forced hint on a corpus-derived sliver, but unlike the gram/span
    * slivers (see [[Curation.dupSpans]]) its size is BOUNDED by
    * construction: at most rows/skewThreshold keys can exist, a few MB
    * at the 10¹² rows × 2M-threshold extreme. Both dispatch shapes are
    * parity-pinned in PackSpec.
    *
    * When skew IS detected the input is persisted inside the helper
    * (released by the consuming scope, see [[graft.Persisted]]): the
    * two branch filters then partition ONE
    * materialized frame, so even a non-deterministic upstream (sample,
    * uuid, a directory being rewritten mid-read) cannot drop or
    * duplicate rows across the union. The routing scan itself is a
    * separate earlier evaluation, so with such an upstream the route
    * choice may be stale — harmless, both paths compute the identical
    * prefix — but the row SET is consistent. The no-skew short-circuit
    * evaluates the input twice (routing agg + window) without
    * persisting; callers who need single-evaluation semantics there
    * persist before calling.
    */
  def withRunningTotalPerGroupHybrid(df: DataFrame, groupCol: String,
                                     orderCols: Seq[Column], valCol: String,
                                     name: String = "start_offset",
                                     skewThreshold: Long = 2000000L,
                                     inListMax: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val windowed = (d: DataFrame) => {
      val w = Window.partitionBy(groupCol).orderBy(orderCols: _*)
        .rowsBetween(Window.unboundedPreceding, -1)
      d.withColumn(name,
        coalesce(sum(col(valCol).cast("long")).over(w), lit(0L)))
    }
    def bigKeysOf(d: DataFrame): DataFrame = d.groupBy(groupCol).count()
      .filter(col("count") > skewThreshold && col(groupCol).isNotNull)
      .select(groupCol)
    // routing probe: collect at most inListMax+1 keys — enough to know
    // whether skew exists and which dispatch shape fits, never the full
    // (potentially web-scale) key set
    val probe = bigKeysOf(df).limit(inListMax + 1).collect().map(_.get(0)).toSeq
    if (probe.isEmpty) windowed(df)
    else {
      val cached = Persisted(df)
      val (smallIn, bigIn) =
        if (probe.size <= inListMax) {
          val isBig = col(groupCol).isInCollection(probe)
          (cached.filter(col(groupCol).isNull || !isBig),
            cached.filter(col(groupCol).isNotNull && isBig))
        } else {
          // too many mega-keys for a literal list: re-derive the key set
          // from the CACHED frame (consistent with the branch scans) and
          // dispatch by join — null keys never equi-match, so they fall
          // through the anti join to the window path, same as the
          // predicate shape. Persisted: both joins consume it, and it is
          // at most rows/skewThreshold rows.
          val keys = Persisted(bigKeysOf(cached))
          (cached.join(broadcast(keys), Seq(groupCol), "left_anti"),
            cached.join(broadcast(keys), Seq(groupCol), "left_semi"))
        }
      windowed(smallIn).unionByName(
        withRunningTotalPerGroup(bigIn, groupCol, orderCols, valCol, name))
    }
  }

  /** Concat-and-chop pack layout: each doc's first token lands at
    * `start_offset`; `pack_first`/`pack_last` are the context windows the
    * doc touches; `spans_packs` flags boundary-straddling docs (the rows
    * a no-cross-attention loader splits). Zero-token docs sit wholly at
    * their offset's pack.
    */
  def packTokens(df: DataFrame, idCol: String, tokensCol: String,
                 capacity: Long): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    withRunningTotal(df, idCol, tokensCol)
      .withColumn("pack_first", floor(col("start_offset") / capacity).cast("long"))
      .withColumn("pack_last",
        when(col(tokensCol) > 0,
          floor((col("start_offset") + col(tokensCol) - 1) / capacity))
          .otherwise(floor(col("start_offset") / capacity)).cast("long"))
      .withColumn("spans_packs", col("pack_last") > col("pack_first"))
  }
}
