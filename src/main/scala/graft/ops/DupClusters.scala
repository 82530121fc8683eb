package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Persisted

/** Duplicate-cluster construction: connected components over near-dup
  * pair edges (from [[SketchDedup]] MinHash/SimHash/Jaccard pair
  * generators). Pairwise output alone under-deletes: if A~B and B~C,
  * keep-first dedup on pairs can keep both A and C. Components give each
  * doc a stable cluster id (the minimum member id), from which "keep one
  * per cluster" is a trivial groupBy.
  *
  * Algorithm: min-label propagation with pointer jumping. Each round a
  * node adopts the smallest label among (a) itself, (b) its neighbors,
  * then (c) its label's own label (path halving). Step (b) alone moves
  * a label one hop per round — O(diameter) rounds, pathological on
  * chains; step (c) compresses label paths geometrically, so rounds are
  * O(log diameter) (the same guarantee as large-star/small-star).
  * Near-dup graphs are overwhelmingly tiny cliques that converge in 2
  * rounds; the log bound is for the adversarial tail. Each round is two
  * keyed shuffles (edge join + label self-join).
  * Labels are localCheckpoint'ed every round: persist alone
  * caches data but the logical plan still nests one join deeper per
  * round (a 40-round chain OOMs the driver just *printing* the plan) —
  * checkpointing pins plan depth constant. On a real cluster use
  * reliable checkpoints (HDFS dir) so executor loss can't kill a
  * 20-round job.
  */
object DupClusters {

  /** pairs: two id columns (idA, idB), one row per undirected edge.
    * Returns (id, cluster_id) for every node appearing in any pair,
    * cluster_id = min node id in the component. Deterministic.
    *
    * Strategy choice by size, like broadcast-vs-shuffle joins: a
    * near-dup edge list is usually a sliver of the corpus (pairs, not
    * docs), so when it fits comfortably on the driver
    * (`smallGraphEdges`, default 1M edges ≈ 16 MB of longs) a local
    * union-find replaces 2×rounds shuffle jobs; the distributed
    * pointer-jumping loop is the path for edge lists that don't fit.
    * Both paths produce the identical labeling.
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b", maxIter: Int = 25,
                          smallGraphEdges: Long = 1000000L): DataFrame = {
    // The edge list often hides an expensive generator plan (LSH / Jaccard
    // self-join); persist it so the size probe doesn't evaluate that plan
    // a second time for the collect (local) / edges union (distributed).
    // A cache the caller already holds on `pairs` is used and left alone.
    val mine = pairs.storageLevel == StorageLevel.NONE
    if (mine) pairs.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nEdges = pairs.count()
      if (nEdges <= smallGraphEdges)
        connectedComponentsLocal(pairs, idA, idB)
      else connectedComponentsDistributed(pairs, idA, idB, maxIter)
      // both paths finish materialized (driver rows / localCheckpoint),
      // so releasing the input here cannot re-trigger the generator
    } finally if (mine) pairs.unpersist(blocking = false)
  }

  /** Driver union-find with path compression for small edge lists. */
  private def connectedComponentsLocal(pairs: DataFrame, idA: String,
                                       idB: String): DataFrame = {
    val edges = pairs.select(col(idA).cast("long"), col(idB).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    // Iterative find (walk to root, then compress): union-by-min without
    // rank can build O(n) parent chains, and at the 1M-edge threshold a
    // recursive find would overflow the driver stack.
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElseUpdate(root, root) != root) root = parent(root)
      var cur = x
      while (cur != root) { val next = parent(cur); parent(cur) = root; cur = next }
      root
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val rows = parent.keys.toSeq.map(k => (k, find(k)))
    val spark = pairs.sparkSession
    import spark.implicits._
    rows.toDF("id", "cluster_id")
  }

  /** Distributed pointer-jumping label propagation (see object doc). */
  private def connectedComponentsDistributed(pairs: DataFrame, idA: String,
                                             idB: String, maxIter: Int): DataFrame = {
    // localCheckpoint persists at the RDD layer, where Dataset.unpersist
    // can't reach. Each round frees the previous round's checkpoint once
    // the next is materialized; the last round's, which the returned
    // labels read, belongs to the caller's scope (graft.Persisted).
    val edges = Persisted(pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct())

    var labels = Persisted.checkpoint( // materializes AND pins plan depth
      edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")))

    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // smallest label among each node's neighbors
      val nbrMin = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min("label").as("nbr_label"))
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label").as("old_label"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
      // pointer jump: label(label(id)) — labels only ever shrink, so the
      // looked-up label is always <= the current one when present
      val jump = stepped.select(col("id").as("j_id"), col("label").as("j_label"))
      val jumped = Persisted.checkpoint(
        stepped.join(jump, col("label") === col("j_id"), "left")
          .select(col("id"), col("old_label"),
            least(col("label"), coalesce(col("j_label"), col("label"))).as("label")))
      val changed = jumped.filter(col("label") =!= col("old_label")).count()
      Persisted.dropCheckpoint(labels) // jumped is materialized
      labels = jumped.select("id", "label")
      converged = changed == 0
      iter += 1
    }
    edges.unpersist(blocking = false)
    if (!converged)
      // returning silently would hand out partially-propagated labels
      throw new IllegalStateException(
        s"connectedComponents: not converged after $maxIter rounds " +
          "(graph diameter exceeds 2^maxIter — raise maxIter)")
    labels.select(col("id"), col("label").as("cluster_id"))
  }
}
