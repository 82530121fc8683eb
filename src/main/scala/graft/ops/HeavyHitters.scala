package graft.ops

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Misra–Gries heavy-hitters summary (Misra & Gries '82; merge rule per
  * Agarwal, Cormode, Huang, Phillips, Wei, Yi — "Mergeable Summaries",
  * PODS'12 — public literature). The frequent-items member of the
  * sketch family next to HLL/KMV (distincts), Count-Min (point
  * frequency of a KNOWN probe), DDSketch (quantiles) and AMS (F2): the
  * "what dominates this crawl?" question [[Report.topValues]] answers
  * only via a vocabulary-wide groupBy, answered here in k counters of
  * bounded state that partial-aggregate map-side and merge across
  * shards.
  *
  * Guarantees (the oracle-checkable contract — see q_heavy_hitters):
  * for a stream of n items summarized with k counters, under ANY
  * partitioning / merge order,
  *
  *   - no overcount:       est(x) ≤ true(x) for every retained x
  *   - bounded undercount: true(x) − est(x) ≤ (n − R) / (k+1) ≤ n/(k+1)
  *                         (R = total weight remaining in the summary)
  *   - total recall:       every x with true(x) > n/(k+1) is retained
  *
  * The summary CONTENTS are merge-order-sensitive (which of two equal
  * low counters survives a trim depends on association), so the raw
  * form is rows-only; the GUARANTEES are order-proof, so the invariant
  * query is hash-checked: DuckDB computes the heavy set from exact
  * counts and both engines must agree row-for-row that every heavy item
  * was retained within bounds.
  *
  * Scale shape: per-buffer state is ≤ k (tok, count) pairs at every
  * partial-aggregation stage; reduce is amortized O(1) per element
  * (a decrement-all removes k+1 weight, so at most n/(k+1) O(k)
  * rebuilds happen — O(n) total); merge is O(k log k). The input
  * stream is never shuffled on its own key — only ≤ k-entry summaries
  * move.
  *
  * Buffer representation (r14): an open-addressed linear-probe
  * string→count table mutated in place. The previous immutable
  * `Map[String, Long]` buffer allocated a fresh HAMT node chain per
  * element — profiled at 2.4 s for ONE aggregate pass over the 15M-row
  * sf0.1 trigram stream vs 0.18 s for the bare explode (OPTIMIZATION_r14.md),
  * i.e. the aggregate was ~93% allocation, not counting. The table form
  * is the same algorithm step for step (hit → +1, room → insert at 1,
  * full+miss → decrement-all and drop zeros; merge → pointwise add then
  * subtract the (k+1)-th largest), so retained CONTENTS are identical
  * for identical input order — HeavyHittersSpec pins serial ≡ chunked ≡
  * tree-merged, and the oracle queries re-verify hash-green.
  */
object HeavyHitters {

  /** One retained counter. `est` never exceeds the item's true count. */
  case class Counter(tok: String, est: Long)

  /** Summary buffer: at most k live counters in an open-addressed
    * linear-probe table (null key = empty slot). Mutated in place by
    * [[MisraGries.reduce]]/[[MisraGries.merge]] — the Aggregator
    * contract explicitly permits buffer mutation — and Kryo-serialized
    * only at partial-aggregation boundaries (≤ k entries each time).
    * Order is irrelevant until [[MisraGries.finish]].
    *
    * Serialized form (KryoSerializable): the live (key, count) entries
    * only — the default field serialization shipped the full capacity
    * arrays (512 slots at k=128, mostly nulls plus a 4 KB raw long[])
    * across every partial-aggregation boundary. The table layout is
    * content-derived (every operation — reduce, merge, subtractAll —
    * keys on contents, never on slot positions), so rebuilding via
    * [[add]] on read is exact; HeavyHittersSpec pins the roundtrip.
    */
  final class MgState(
      private[HeavyHitters] var keys: Array[String],
      private[HeavyHitters] var cnts: Array[Long],
      private[HeavyHitters] var used: Int)
      extends Serializable with com.esotericsoftware.kryo.KryoSerializable {

    override def write(kryo: com.esotericsoftware.kryo.Kryo,
                       out: com.esotericsoftware.kryo.io.Output): Unit = {
      out.writeVarInt(used, true)
      var i = 0
      while (i < keys.length) {
        if (keys(i) != null) {
          out.writeString(keys(i))
          out.writeVarLong(cnts(i), true)
        }
        i += 1
      }
    }

    override def read(kryo: com.esotericsoftware.kryo.Kryo,
                      in: com.esotericsoftware.kryo.io.Input): Unit = {
      val n = in.readVarInt(true)
      val c = MgState.capacityFor(math.max(1, n))
      keys = new Array[String](c)
      cnts = new Array[Long](c)
      used = 0
      var j = 0
      while (j < n) {
        add(in.readString(), in.readVarLong(true))
        j += 1
      }
    }

    /** Live contents as an immutable map (spec/finish surface). */
    def m: Map[String, Long] = {
      val b = Map.newBuilder[String, Long]
      var i = 0
      while (i < keys.length) {
        if (keys(i) != null) b += (keys(i) -> cnts(i))
        i += 1
      }
      b.result()
    }

    private[HeavyHitters] def isEmpty: Boolean = used == 0

    private def spread(h: Int): Int = h ^ (h >>> 16)

    /** Slot of `key`: its current slot, or the empty slot where it
      * would insert. keys.length is a power of two.
      */
    private[HeavyHitters] def slot(key: String): Int = {
      val mask = keys.length - 1
      var i = spread(key.hashCode) & mask
      while (keys(i) != null && keys(i) != key) i = (i + 1) & mask
      i
    }

    /** Add `c` to `key` (inserting if absent), growing the table when
      * live entries would exceed half the capacity — so probe chains
      * stay short even when a merge transiently holds 2k entries.
      */
    private[HeavyHitters] def add(key: String, c: Long): Unit = {
      if ((used + 1) * 2 > keys.length) grow()
      val i = slot(key)
      if (keys(i) == null) { keys(i) = key; cnts(i) = c; used += 1 }
      else cnts(i) += c
    }

    private def grow(): Unit = {
      val ok = keys; val oc = cnts
      keys = new Array[String](ok.length * 2)
      cnts = new Array[Long](ok.length * 2)
      used = 0
      var i = 0
      while (i < ok.length) {
        if (ok(i) != null) add(ok(i), oc(i))
        i += 1
      }
    }

    /** Subtract `d` from every counter, dropping non-positive
      * remainders — the shared tail of the decrement-all step (d=1) and
      * the merge trim (d = (k+1)-th largest). Rebuilds the table so
      * linear probing never sees deletion holes. O(capacity), and both
      * callers are amortized-rare by the MG weight argument.
      */
    private[HeavyHitters] def subtractAll(d: Long): Unit = {
      val ok = keys; val oc = cnts
      keys = new Array[String](ok.length)
      cnts = new Array[Long](ok.length)
      used = 0
      var i = 0
      while (i < ok.length) {
        if (ok(i) != null && oc(i) > d) add(ok(i), oc(i) - d)
        i += 1
      }
    }
  }

  object MgState {
    private def capacityFor(k: Int): Int = {
      // room for 2k transient entries mid-merge at ≤ 0.5 load
      var c = 16
      while (c < 4 * k) c *= 2
      c
    }

    private[HeavyHitters] def empty(k: Int): MgState = {
      val c = capacityFor(k)
      new MgState(new Array[String](c), new Array[Long](c), 0)
    }
  }

  /** Finished summary, descending by est (ties by tok) so the exploded
    * raw form is display-stable.
    */
  case class MgSummary(items: Seq[Counter])

  private[graft] class MisraGries(k: Int)
      extends Aggregator[String, MgState, MgSummary] {
    require(k >= 1, s"heavy-hitters summary needs k >= 1, got $k")

    override def zero: MgState = MgState.empty(k)

    // Classic MG step: hit → +1; room → insert at 1; full+miss →
    // decrement ALL by one and drop zeros (the incoming item is
    // consumed by the same decrement). Each full+miss removes k+1
    // total weight (k counters + the uninserted item), so at most
    // n/(k+1) of the O(k) rebuilds ever run.
    override def reduce(b: MgState, a: String): MgState = {
      if (a != null) {
        val i = b.slot(a)
        if (b.keys(i) != null) b.cnts(i) += 1L
        // add(), not a direct slot write: a buffer rebuilt by the compact
        // Kryo read() is sized to its live entries, not to k, so the
        // insert path must keep the grow check (same contents either way)
        else if (b.used < k) b.add(a, 1L)
        else b.subtractAll(1L)
      }
      b
    }

    // Mergeable-summaries rule: add counts pointwise; if more than k
    // counters survive, subtract the (k+1)-th largest count from all
    // and keep the positive remainder. At least k+1 counters lose that
    // full amount, so the weight-per-error invariant
    // (k+1) · maxError ≤ n − R is preserved under ANY merge tree.
    // NON-mutating (unlike reduce): a merge input may be shared — the
    // spec's merge trees reuse chunk states across left/right/balanced
    // folds — and merges happen once per shuffle boundary, so the two
    // fresh arrays here are off the per-row hot path.
    override def merge(b1: MgState, b2: MgState): MgState = {
      if (b2.isEmpty) b1
      else if (b1.isEmpty) b2
      else {
        val r = MgState.empty(k)
        var i = 0
        while (i < b1.keys.length) {
          if (b1.keys(i) != null) r.add(b1.keys(i), b1.cnts(i))
          i += 1
        }
        i = 0
        while (i < b2.keys.length) {
          if (b2.keys(i) != null) r.add(b2.keys(i), b2.cnts(i))
          i += 1
        }
        if (r.used > k) {
          val vals = new Array[Long](r.used)
          var j = 0; i = 0
          while (i < r.keys.length) {
            if (r.keys(i) != null) { vals(j) = r.cnts(i); j += 1 }
            i += 1
          }
          java.util.Arrays.sort(vals)
          // (k+1)-th largest of `used` values, ascending-sorted
          val d = vals(r.used - (k + 1))
          r.subtractAll(d)
        }
        r
      }
    }

    override def finish(r: MgState): MgSummary =
      MgSummary(r.m.iterator
        .map { case (t, c) => Counter(t, c) }
        .toSeq
        .sortBy(c => (-c.est, c.tok)))

    override def bufferEncoder: Encoder[MgState] = Encoders.kryo[MgState]
    override def outputEncoder: Encoder[MgSummary] =
      Encoders.product[MgSummary]
  }

  /** UDAF form: `mgTopK(k)(tokCol)` → struct(items: array<struct<tok,
    * est>>), usable globally or per-group.
    */
  def mgTopK(k: Int) = udaf(new MisraGries(k), Encoders.STRING)

  /** The Agarwal-et-al merge as a TABLE op, for incremental cross-batch
    * state (the frequent-items member of the incremental family next to
    * exact hashes, MinHash band keys, and HLL registers): two (tok, est)
    * summaries union, counts add pointwise, and if more than k counters
    * survive, the (k+1)-th largest is subtracted from all with only the
    * positive remainder kept — exactly [[MisraGries.merge]], so a state
    * folded batch-by-batch carries the same (n−R)/(k+1) guarantees as
    * one flat summary (HeavyHittersSpec pins table-op ≡ aggregator
    * merge). Everything is ≤2k rows: the trim threshold folds from a
    * bounded collect_list, never a window; history is never re-counted —
    * only its k-row summary participates.
    */
  def mergeSummaries(a: org.apache.spark.sql.DataFrame,
                     b: org.apache.spark.sql.DataFrame,
                     k: Int): org.apache.spark.sql.DataFrame = {
    val summed = a.select(col("tok"), col("est"))
      .unionByName(b.select(col("tok"), col("est")))
      .groupBy("tok").agg(sum(col("est")).as("est"))
    // (k+1)-th largest count, 0 when ≤ k counters survive (no trim);
    // the summed table is ≤ 2k rows by construction, so the list fold
    // is bounded and the one-row threshold broadcasts
    // try_element_at: ≤ k surviving counters means no (k+1)-th largest
    // exists — that is the no-trim case, not an ANSI index error
    val d = summed.agg(coalesce(
      try_element_at(reverse(array_sort(collect_list(col("est")))),
        lit(k + 1)),
      lit(0L)).as("d"))
    summed.crossJoin(broadcast(d))
      .filter(col("est") > col("d"))
      .select(col("tok"), (col("est") - col("d")).as("est"))
  }
}
