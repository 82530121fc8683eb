package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed Lloyd's k-means over an embedding column — the training
  * step behind the IVF index (ops.Similarity uses label-derived
  * centroids; this learns them unsupervised, the way a real IVF build
  * does).
  *
  * Scale shape per iteration: assignment is corpus ⨯ broadcast(k-row
  * centroid table) — the corpus is scanned once and never shuffled or
  * repartitioned; the centroid update is one keyed aggregate producing
  * k·dim rows, which are collected to the driver and re-broadcast as a
  * literal table for the next round. Driver state is k·dim longs —
  * small by construction — and pinning centroids on the driver keeps
  * the per-round plan depth CONSTANT (a lazy centroid lineage would
  * nest the whole previous round inside each new assignment plan).
  * This is the textbook distributed k-means layout; mini-batch or
  * sampled variants drop in by replacing the input DataFrame.
  *
  * Determinism/oracle design: all arithmetic is in integer-quantized
  * space. Vector components are floor-quantized to 1e-6 BIGINTs once at
  * load; centroid components are floor(avg(quantized)) BIGINTs;
  * distances are exact BIGINT sums of squared deltas; argmin ties break
  * on the lower cluster id. Every step is order-proof and reproduces
  * bit-identically in any engine — no float accumulation anywhere.
  */
object KMeans {

  val Quant = 1000000L  // 1e-6 component quantization

  /** Returns (assignments, centroids) after `iters` Lloyd rounds:
    * assignments = (idCol, cluster, dist_q); centroids = (cluster, cv)
    * with cv an array<long> of quantized components from the FINAL
    * update. Initial clusters are `id % k` — deterministic and seedless
    * (k-means++ would add a sampling pass; modulo init keeps the oracle
    * story simple). `dist_q` is the squared distance integer-divided by
    * [[Quant]] so downstream sums (inertia) can't overflow BIGINT.
    */
  /** Size gate for the driver-local fast path: inputs that fit collect
    * once and fold all Lloyd rounds job-free — BIT-IDENTICAL to the
    * distributed path (all arithmetic is exact integers plus one
    * double division whose integer operands are < 2⁵³, so no float
    * accumulation exists to diverge; spec-pinned). The gate exists for
    * job-count, not correctness: a 17-fit PQ/IVF build was 51 tiny
    * Spark jobs of pure scheduler overhead (q_ivfpq_residual measured
    * 18.8 s → 3.6 s at sf0.1).
    */
  val LocalGate = 65536

  /** Driver budget of a local probe, in bytes of the full quantized
    * vectors it collects (8 per component): 32 MiB, [[LocalGate]]
    * vectors at dim 64. Wider vectors fit fewer rows (5,461 at dim
    * 768). [[lloyd]] and [[graft.ops.Pq]]'s fused codebook probe both
    * read it.
    */
  val LocalBytes: Long = LocalGate.toLong * 64 * 8

  /** The rows a local probe of `dim`-wide vectors may collect: the row
    * gate, capped by the byte budget.
    */
  def probeRows(localGate: Int, dim: Int, localBytes: Long = LocalBytes): Int =
    math.min(localGate.toLong, localBytes / (dim.toLong * 8)).toInt

  /** @param dim       the vector width; it sizes the local probe against
    *                  [[LocalBytes]]
    * @param localGate  the probe's row gate; 0 forces the distributed path
    */
  def lloyd(emb: DataFrame, k: Int, iters: Int, dim: Int,
            idCol: String = "vec_id", vecCol: String = "embedding",
            localGate: Int = LocalGate)
      : (DataFrame, DataFrame) = {
    val spark = emb.sparkSession
    import spark.implicits._

    val qv = transform(col(vecCol).cast("array<double>"),
      x => floor(x * Quant.toDouble).cast("long"))

    val gate = probeRows(localGate, dim)
    if (gate > 0) {
      // one bounded job: if the input fits the gate, everything folds
      // on the driver; otherwise fall through to the distributed path
      // (the limit probe is wasted but bounded by the byte budget)
      val probe = emb.select(col(idCol).as("id"), qv.as("qv"))
        .limit(gate + 1)
        .as[(Long, Seq[Long])].collect()
      if (probe.length <= gate)
        return lloydLocal(spark, probe, k, iters, idCol)
    }

    val base = emb.select(col(idCol).as("id"), qv.as("qv"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // one aggregate job -> k·dim rows -> driver -> literal table
    def centroidsOf(assigned: DataFrame): DataFrame = {
      val flat = assigned.select(col("cluster"), posexplode(col("qv")))
        .groupBy("cluster", "pos")
        .agg(floor(avg(col("col"))).cast("long").as("c"))
        .collect()
      val packed = flat.groupBy(_.getInt(0)).toSeq.map { case (cl, rs) =>
        (cl, rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq)
      }.sortBy(_._1)
      packed.toDF("cluster", "cv")
    }

    def assign(cents: DataFrame): DataFrame =
      base.crossJoin(broadcast(cents))
        .withColumn("__dist",
          aggregate(zip_with(col("qv"), col("cv"), (a, b) => (a - b) * (a - b)),
            lit(0L), (acc, x) => acc + x))
        .groupBy("id")
        .agg(min(struct(col("__dist"), col("cluster"))).as("best"),
          first(col("qv")).as("qv")) // qv identical across the k copies
        .select(col("id"), col("best.cluster").as("cluster"),
          expr(s"best.__dist div $Quant").as("dist_q"), col("qv"))

    try {
      var cents = centroidsOf(
        base.withColumn("cluster", pmod(col("id"), lit(k)).cast("int")))
      var assigned = assign(cents)
      for (i <- 2 to iters) {
        cents = centroidsOf(assigned)
        assigned = assign(cents)
      }
      cents = centroidsOf(assigned)
      // materialize the final assignment BEFORE releasing the cached
      // input: the returned frame is lazy, and without this every caller
      // evaluation would recompute the whole assignment subtree uncached
      // (semDedup references it three times). localCheckpoint also pins
      // plan depth, like the connected-components loop; its blocks
      // belong to the caller's scope.
      (graft.Persisted.checkpoint(assigned.select(col("id").as(idCol),
        col("cluster"), col("dist_q"))), cents)
    } finally base.unpersist(blocking = false)
  }

  /** The collected fast path — every step mirrors the distributed one
    * exactly: init cluster = id mod k; centroid component =
    * floor(exactLongSum / count) (the distributed avg's double sum is
    * exact too — quantized components keep every partial sum < 2⁵³);
    * distance = exact Σ(a−b)² in longs; argmin ties on the lower
    * cluster id; the same update/assign round structure (init update,
    * assign, iters−1 × (update, assign), final update).
    */
  private def lloydLocal(spark: org.apache.spark.sql.SparkSession,
                         rows: Array[(Long, Seq[Long])], k: Int,
                         iters: Int, idCol: String)
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    val (cls, dst, cents) = lloydLocalCore(rows, k, iters)
    val out = rows.indices.map(i => (rows(i)._1, cls(i), dst(i)))
      .toDF(idCol, "cluster", "dist_q")
    (out, cents.toDF("cluster", "cv"))
  }

  /** The driver-local Lloyd rounds shared by [[lloydLocal]] and
    * [[graft.ops.Pq]]'s fused multi-subspace codebook training: returns
    * (final assignment, final dist_q, final centroids) for
    * already-quantized rows. Extracted verbatim from lloydLocal — same
    * round structure, same exact-integer arithmetic, bit-identical.
    */
  private[ops] def lloydLocalCore(rows: Array[(Long, Seq[Long])], k: Int,
                                  iters: Int)
      : (Array[Int], Array[Long], Seq[(Int, Seq[Long])]) = {
    val qvs = rows.map { case (id, v) => (id, v.toArray) }

    def centroidsOf(clusters: Array[Int]): Seq[(Int, Seq[Long])] =
      qvs.indices.groupBy(i => clusters(i)).toSeq.sortBy(_._1)
        .map { case (cl, idxs) =>
          val dim = qvs(idxs.head)._2.length
          val cv = (0 until dim).map { p =>
            var s = 0L
            idxs.foreach(i => s = Math.addExact(s, qvs(i)._2(p)))
            math.floor(s.toDouble / idxs.length).toLong
          }
          (cl, cv)
        }

    def assign(cents: Seq[(Int, Seq[Long])]): (Array[Int], Array[Long]) = {
      val cls = new Array[Int](qvs.length)
      val dst = new Array[Long](qvs.length)
      var i = 0
      while (i < qvs.length) {
        val x = qvs(i)._2
        var bestD = Long.MaxValue
        var bestC = Int.MaxValue
        cents.foreach { case (cl, cv) =>
          var d = 0L
          var p = 0
          val m = math.min(x.length, cv.length)
          while (p < m) { val t = x(p) - cv(p); d += t * t; p += 1 }
          if (d < bestD || (d == bestD && cl < bestC)) { bestD = d; bestC = cl }
        }
        cls(i) = bestC
        dst(i) = bestD / Quant
        i += 1
      }
      (cls, dst)
    }

    var cents = centroidsOf(qvs.map(r => Math.floorMod(r._1, k.toLong).toInt))
    var (cls, dst) = assign(cents)
    for (_ <- 2 to iters) {
      cents = centroidsOf(cls)
      val r = assign(cents); cls = r._1; dst = r._2
    }
    cents = centroidsOf(cls)
    (cls, dst, cents)
  }
}
