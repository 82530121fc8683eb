package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.ops.HeavyHitters
import graft.ops.HeavyHitters.{MgState, MgSummary}

/** Misra-Gries heavy-hitters guarantees, pinned under serial streams,
  * adversarial merge trees, and Spark partitionings: no overcount,
  * undercount bounded by (n - R)/(k+1) (the TIGHT invariant — the
  * oracle query uses the looser n/(k+1)), total recall of every item
  * above n/(k+1), and state never exceeding k counters at any stage.
  */
class HeavyHittersSpec extends SparkTestBase {
  import spark.implicits._

  private val K = 16

  /** Zipf-ish stream: item i ∈ [0, 400) appears ~ 6000/(i+1) times,
    * shuffled deterministically — universe ≫ K, several items above
    * the n/(K+1) heavy threshold, most far below.
    */
  private def zipfStream: Vector[String] = {
    val raw = (0 until 400).flatMap(i =>
      Vector.fill(6000 / (i + 1))(s"tok_$i"))
    new Random(42).shuffle(raw.toVector)
  }

  private def exactCounts(xs: Seq[String]): Map[String, Long] =
    xs.groupBy(identity).map { case (t, g) => (t, g.size.toLong) }

  /** Assert every MG guarantee against exact counts, with the tight
    * (n - R)/(k+1) undercount bound.
    */
  private def assertGuarantees(m: Map[String, Long], xs: Seq[String], k: Int,
                               label: String): Unit = {
    val exact = exactCounts(xs)
    val n = xs.size.toLong
    val r = m.values.sum
    assert(m.size <= k, s"$label: ${m.size} counters > k=$k")
    val maxErr = (n - r).toDouble / (k + 1)
    m.foreach { case (t, est) =>
      val tru = exact.getOrElse(t, 0L)
      assert(est <= tru, s"$label: $t overcounted ($est > $tru)")
      assert(tru - est <= maxErr,
        s"$label: $t undercount ${tru - est} > bound $maxErr")
    }
    val thresh = n.toDouble / (k + 1)
    exact.filter(_._2 > thresh).keys.foreach { t =>
      assert(m.contains(t), s"$label: heavy item $t (cnt=${exact(t)} > " +
        s"$thresh) missing from the summary")
    }
  }

  test("serial stream: bounds, recall, and counter cap hold") {
    val agg = new HeavyHitters.MisraGries(K)
    val xs = zipfStream
    val s = xs.foldLeft(agg.zero)(agg.reduce)
    assertGuarantees(s.m, xs, K, "serial")
    // genuinely trimmed: the universe (400) is far above K
    assert(s.m.size <= K && exactCounts(xs).size > 10 * K)
  }

  test("adversarial merge trees preserve the tight bound") {
    val agg = new HeavyHitters.MisraGries(K)
    val xs = zipfStream
    val chunks = xs.grouped(math.max(1, xs.size / 13)).toVector
      .map(_.foldLeft(agg.zero)(agg.reduce))
    // every intermediate partial obeys the cap
    chunks.foreach(c => assert(c.m.size <= K))
    val leftFold = chunks.foldLeft(agg.zero)(agg.merge)
    val rightFold = chunks.foldRight(agg.zero)(agg.merge)
    def tree(cs: Vector[MgState]): MgState = cs match {
      case Vector(one) => one
      case _ =>
        val (l, r) = cs.splitAt(cs.size / 2)
        agg.merge(tree(l), tree(r))
    }
    assertGuarantees(leftFold.m, xs, K, "left-fold")
    assertGuarantees(rightFold.m, xs, K, "right-fold")
    assertGuarantees(tree(chunks).m, xs, K, "balanced-tree")
  }

  test("universe at or below k: the summary is exact") {
    val agg = new HeavyHitters.MisraGries(K)
    val xs = new Random(7).shuffle(
      (0 until K).flatMap(i => Vector.fill(i + 1)(s"t$i")).toVector)
    val serial = xs.foldLeft(agg.zero)(agg.reduce)
    assert(serial.m === exactCounts(xs))
    // and through an arbitrary merge of halves
    val (a, b) = xs.splitAt(xs.size / 3)
    val merged = agg.merge(a.foldLeft(agg.zero)(agg.reduce),
      b.foldLeft(agg.zero)(agg.reduce))
    assert(merged.m === exactCounts(xs))
  }

  test("Spark end-to-end: invariants hold under every partitioning") {
    val xs = zipfStream
    val exact = exactCounts(xs)
    val n = xs.size.toLong
    for (parts <- Seq(1, 7)) {
      val out = xs.toDF("tok").repartition(parts)
        .agg(HeavyHitters.mgTopK(K)(col("tok")).as("hh"))
        .select(explode(col("hh.items")).as("it"))
        .select(col("it.tok"), col("it.est")).as[(String, Long)].collect()
      assert(out.length <= K)
      out.foreach { case (t, est) =>
        val tru = exact.getOrElse(t, 0L)
        assert(est <= tru, s"parts=$parts: $t overcounted")
        assert((tru - est) * (K + 1) <= n, s"parts=$parts: $t undercount")
      }
      val retained = out.map(_._1).toSet
      exact.filter(_._2 * (K + 1) > n).keys.foreach(t =>
        assert(retained.contains(t), s"parts=$parts: heavy $t missing"))
    }
  }

  test("grouped use: one capped summary per group, independent groups") {
    val rows = (0 until 3).flatMap(g =>
      (0 until 500).map(i => (s"g$g", s"g${g}_tok_${i % (50 * (g + 1))}")))
    val out = rows.toDF("g", "tok").repartition(5)
      .groupBy("g").agg(HeavyHitters.mgTopK(K)(col("tok")).as("hh"))
      .select(col("g"), size(col("hh.items")).as("sz"))
      .as[(String, Int)].collect().toMap
    assert(out.keySet === Set("g0", "g1", "g2"))
    assert(out.values.forall(sz => sz > 0 && sz <= K))
  }

  test("mergeSummaries table op is the aggregator merge, row for row") {
    val agg = new HeavyHitters.MisraGries(K)
    val xs = zipfStream
    val (a, b) = xs.splitAt(xs.size / 3)
    val sa = a.foldLeft(agg.zero)(agg.reduce)
    val sb = b.foldLeft(agg.zero)(agg.reduce)
    val want = agg.merge(sa, sb).m
    val got = HeavyHitters.mergeSummaries(
        sa.m.toSeq.toDF("tok", "est"), sb.m.toSeq.toDF("tok", "est"), K)
      .as[(String, Long)].collect().toMap
    assert(got === want)
    // merging an empty summary is the identity
    val gotId = HeavyHitters.mergeSummaries(
        sa.m.toSeq.toDF("tok", "est"),
        Seq.empty[(String, Long)].toDF("tok", "est"), K)
      .as[(String, Long)].collect().toMap
    assert(gotId === sa.m)
  }

  test("batch-folded state keeps the global guarantees (incremental shape)") {
    val agg = new HeavyHitters.MisraGries(K)
    val xs = zipfStream
    // three "ingest batches", summarized independently, folded in order
    val batches = xs.grouped(math.max(1, xs.size / 3)).toVector
      .map(_.foldLeft(agg.zero)(agg.reduce))
    def toDf(s: MgState) = s.m.toSeq.toDF("tok", "est")
    val state = batches.tail.foldLeft(toDf(batches.head))((acc, b) =>
      HeavyHitters.mergeSummaries(acc, toDf(b), K))
      .as[(String, Long)].collect().toMap
    assertGuarantees(state, xs, K, "batch-fold")
  }

  test("compact Kryo form roundtrips exactly and stays operable") {
    val agg = new HeavyHitters.MisraGries(K)
    val s = zipfStream.foldLeft(agg.zero)(agg.reduce)
    def roundtrip(st: MgState): MgState = {
      // Spark's own Kryo factory — the exact serializer the aggregate
      // buffer rides at partial-aggregation boundaries
      val kryo = new org.apache.spark.serializer.KryoSerializer(
        new org.apache.spark.SparkConf()).newKryo()
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new com.esotericsoftware.kryo.io.Output(bytes)
      kryo.writeObject(out, st)
      out.close()
      val in = new com.esotericsoftware.kryo.io.Input(
        new java.io.ByteArrayInputStream(bytes.toByteArray))
      kryo.readObject(in, classOf[MgState])
    }
    val r = roundtrip(s)
    assert(r.m === s.m, "roundtrip changed contents")
    // a rebuilt (entry-count-sized) buffer must keep absorbing a stream
    // and end with the same contents as one that never serialized —
    // the reduce insert path grows the compact table on demand
    val more = zipfStream.take(5000)
    val a = more.foldLeft(r)(agg.reduce)
    val b = more.foldLeft(s)(agg.reduce)
    assert(a.m === b.m, "post-roundtrip stream diverged")
    // the compact form really is compact: bytes scale with entries, not
    // capacity (k=16 table has 64+ slots; entries dominate under ~2 KB)
    val empty = roundtrip(agg.zero)
    assert(empty.m.isEmpty)
  }

  test("hostile input: nulls skipped, empty and unicode tokens ordinary") {
    val agg = new HeavyHitters.MisraGries(4)
    val xs = Seq("", "", null, " ", "emoji_😀", null, "")
    val s = xs.foldLeft(agg.zero)(agg.reduce)
    assert(s.m("") === 3L)
    assert(s.m(" ") === 1L)
    assert(s.m("emoji_😀") === 1L)
    assert(!s.m.contains(null))
    // finish orders descending by est, ties by token
    val fin: MgSummary = agg.finish(s)
    assert(fin.items.map(_.est) === fin.items.map(_.est).sorted.reverse)
  }
}
