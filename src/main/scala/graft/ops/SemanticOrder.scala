package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.TextMetrics

/** Semantic training order — the scalable reduction of in-context
  * pretraining (Shi et al. 2023, "In-Context Pretraining: Language
  * Modeling Beyond Document Boundaries"): order the corpus so
  * semantically related documents are ADJACENT in the training
  * stream, letting the model attend across document boundaries to
  * related context instead of random interleavings.
  *
  * The paper's exact formulation (an approximate-nearest-neighbor
  * graph + greedy traveling-salesman path over the whole corpus) is a
  * sequential all-pairs-flavored algorithm; at 100 TB the engine
  * instead maps documents onto a locality-preserving space-filling
  * curve through semantic space — the Iceberg/Delta OPTIMIZE-Hilbert
  * trick applied to embeddings rather than table columns:
  *
  *  1. model-free hashed signed-count vector per doc (the compiled
  *     [[graft.plans.HashedSignedCount]] kernel — integer-valued, so
  *     everything downstream is exact arithmetic);
  *  2. two deterministic ±1 random-hyperplane projections collapse the
  *     vector to a 2-D semantic plane (Johnson–Lindenstrauss flavored;
  *     signs from md5 parity, the [[HashedEmbed]] sign convention, so
  *     any engine can replay them);
  *  3. min-max quantize each axis to the 16-bit grid (ONE tiny global
  *     agg, broadcast back — 4 longs, not a shuffle of the corpus);
  *  4. [[graft.plans.HilbertKey]] gives the unit-step curve index, and
  *     the two-pass partition-offset scheme ([[Shard.withGlobalSeq]])
  *     turns it into a dense global position with no single-reducer
  *     sort.
  *
  * Nearby positions ⇒ nearby curve indices ⇒ nearby grid cells ⇒
  * similar projections ⇒ related token distributions. Cost is one
  * corpus scan + the two-pass numbering — no ANN graph, no
  * sequential path construction, no all-pairs anything. Every step is
  * deterministic integer/IEEE arithmetic, so the full ordering is
  * oracle-checkable position by position (q_icp_order).
  */
object SemanticOrder {

  val Dim = 64

  /** ±1 hyperplane component for axis/index: parity of md5 hex char 3
    * of "icp:axis:i" — even → +1 (exactly HashedEmbed's sign
    * convention, over a seed string any engine can rebuild).
    */
  private[graft] def hyperplane(axis: String, dim: Int): Seq[Double] =
    (0 until dim).map { i =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"icp:$axis:$i".getBytes("UTF-8"))
      if (((h(1) >> 4) & 0xf) % 2 == 0) 1.0 else -1.0
    }

  /** Corpus in semantic training order: `idCol, gx, gy, h_key,
    * icp_pos` (dense 0-based). Deterministic for a fixed corpus —
    * layout/partitioning invariant (spec-pinned).
    */
  def semanticOrder(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", dim: Int = Dim): DataFrame = {
    val rx = typedLit(hyperplane("x", dim))
    val ry = typedLit(hyperplane("y", dim))
    val projected = docs
      .select(col(idCol),
        graft.plans.HashedSignedCount(
          TextMetrics.tokens(col(textCol)), dim).as("__v"))
      .select(col(idCol),
        graft.plans.DotProduct(col("__v"), rx).cast("long").as("px"),
        graft.plans.DotProduct(col("__v"), ry).cast("long").as("py"))
    // global envelope: 4 longs to the driver side of a broadcast — the
    // quantizer's only corpus-global state
    val env = projected.agg(
      min("px").as("minx"), max("px").as("maxx"),
      min("py").as("miny"), max("py").as("maxy"))
    // (p - min) * 65535 / range in BIGINT: operands non-negative, so
    // Spark's `div` (truncate) and DuckDB's `//` (floor) agree
    def grid(p: String, lo: String, hi: String) =
      when(col(hi) === col(lo), lit(0L))
        .otherwise(expr(s"(($p - $lo) * 65535) div ($hi - $lo)"))
    val keyed = projected.crossJoin(broadcast(env))
      .withColumn("gx", grid("px", "minx", "maxx"))
      .withColumn("gy", grid("py", "miny", "maxy"))
      .select(col(idCol), col("gx"), col("gy"),
        graft.plans.HilbertKey(col("gx"), col("gy")).as("h_key"))
    Shard.withGlobalSeq(keyed, Seq("h_key", idCol), "icp_pos")
  }
}
