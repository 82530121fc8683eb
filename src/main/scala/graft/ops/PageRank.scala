package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Persisted

/** Weighted PageRank over an edge list — the host-authority prior a
  * web-scale corpus build uses as a quality signal (crawl frontier
  * ordering, source weighting), and the second member of the engine's
  * iterative-graph family next to [[DupClusters]].
  *
  * Determinism/oracle design (same discipline as [[KMeans]]): ranks
  * live in integer ticks of 1e-6. Edge weights normalize once to
  * per-source shares in ticks (`(w·Q) div W_src`); each round a node
  * receives `Σ floor(r_src · share / Q)` — per-edge floor BEFORE the
  * integer sum, so the total is partition-order-proof — then
  * `tele + (d·contrib) div Q`. Every step reproduces bit-identically
  * in any engine; the oracle unrolls rounds as CTEs.
  *
  * Caveats, documented not hidden: dangling nodes (no out-edges) leak
  * their mass (the standard simplified variant — fine for ranking);
  * raw weights must satisfy `w · Q < 2^63` (≈9e12), so pre-scale
  * monetary weights to whole units, not ticks.
  *
  * Scale shape: one keyed shuffle per round (shares ⋈ ranks on src,
  * aggregate on dst); the share table is computed once and persisted.
  * Plan depth grows one join per round — past ~10 rounds callers
  * should localCheckpoint like [[DupClusters]] does; rank queries here
  * run 2-3 rounds.
  */
object PageRank {

  val Quant = 1000000L

  /** (node, rank_q) after `iters` rounds. `edges` columns: src, dst,
    * weight (positive long). `dampingQ` is d in ticks (850000 = 0.85).
    */
  def ranks(edges: DataFrame, iters: Int,
            dampingQ: Long = 850000L): DataFrame = {
    // The edge list is often the output of an expensive upstream join
    // (q_pagerank_nations builds it from lineitem ⋈ orders ⋈ 4 dims):
    // pin it, because its subtree would otherwise be re-evaluated for
    // the node census AND once per appearance of `share` in the final
    // unrolled plan.
    val e = Persisted(edges.select(col("src"), col("dst"),
      col("weight").cast("long").as("w")))
    // materialize the edge cache BEFORE the node census: the census is
    // a union whose two branches both scan `e`, and against a cache
    // that is only marked-not-materialized those two branches RACE —
    // each recomputes the upstream edge join before either publishes
    // the blocks (q_pagerank_nations' 5-way join ran twice; measured at
    // 6.6 s vs 1.8 s for the join itself, OPTIMIZATION_r14.md). One
    // count() runs the expensive subtree exactly once.
    e.count()
    val nodes = Persisted(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val n = nodes.count()
    if (n == 0) {
      // empty graph: empty result, not a driver-side division by zero
      e.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
      return nodes.withColumn("rank_q", lit(0L))
    }
    val outW = e.groupBy("src").agg(sum("w").as("ww"))
    val share = Persisted(e.join(outW, Seq("src"))
      .select(col("src"), col("dst"),
        expr(s"(w * ${Quant}L) div ww").as("share_q")))
    share.count() // materialize before the per-round fan-out …
    e.unpersist(blocking = false) // … after which the raw edges are dead
    val teleQ = (Quant - dampingQ) / n
    var ranks = nodes.withColumn("rank_q", lit(Quant / n))
    for (_ <- 1 to iters) {
      val contribs = share
        .join(ranks.select(col("node").as("src"), col("rank_q")), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(expr(s"(rank_q * share_q) div ${Quant}L")).as("contrib_q"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(teleQ) + expr(
            s"(${dampingQ}L * coalesce(contrib_q, 0L)) div ${Quant}L"))
            .as("rank_q"))
    }
    ranks
  }
}
