package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011) — the ANN compression path:
  * L2-normalize each d-dim embedding (so squared L2 is monotone with
  * cosine), split it into `m` subvectors, quantize every subvector
  * against a per-subspace codebook, and search in two stages: ADC
  * (asymmetric distance computation — the query stays exact, each
  * candidate costs `m` integer table lookups) produces a shortlist,
  * then exact cosine re-ranks it. The corpus is stored as `m` small
  * ints per vector — 16 bytes instead of 256 at d=64/m=16/float32 —
  * the difference between an embedding corpus that fits in executor
  * memory and one that doesn't.
  *
  * Codebooks here are per-subspace label means (one code per label) —
  * the same supervised stand-in [[Similarity.labelCentroids]] uses for
  * IVF, keeping every query DuckDB-oracle-checkable; production
  * codebooks come from running [[KMeans.lloyd]] per subspace (itself
  * oracle-checked) over a sample.
  *
  * Scale shape mirrors IVF: codebooks are m·k·(d/m) doubles — a
  * literal, never a join side — so encoding is a pure projection
  * (in-row argmin per subspace, no shuffle, no window; pinned by
  * spec), ADC search broadcasts |Q| query distance tables against the
  * encoded corpus into the bounded-heap top-k, and the rerank touches
  * only |Q|·shortlist rows.
  *
  * Float parity: subspace distances are left-to-right squared-L2 folds
  * (bit-identical to the oracle's list_reduce), then quantized to
  * 1e-4 BIGINT ticks BEFORE the cross-subspace sum — integer sums are
  * partition-order-proof, the repo's standard trick for cross-engine
  * float determinism.
  */
object Pq {

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Unit-normalize (zero vectors pass through unscaled); the norm fold
    * mirrors the oracle's list_reduce exactly — native kernel, see
    * [[graft.plans.L2Normalize]] for the parity contract.
    */
  private def normalized(v: Column): Column = graft.plans.L2Normalize(v)

  /** Per-subspace, per-label mean subvectors of the normalized corpus:
    * (m_idx ∈ [0,m), code = label, cv: array<double> of d/m dims).
    *
    * One keyed shuffle (|labels| groups, dim partial-avg slots each),
    * reshaped to (m_idx, cv) rows by an in-row slice over the tiny
    * per-label result — the posexplode → double-groupBy form it
    * replaces shuffled dim× the corpus row count through two stages for
    * the same 160 output rows (~1 s of every PQ query's wall clock).
    * Per-partition partial sums fold in the same scan order either way,
    * so the means are bit-stable against the previous form.
    */
  def codebooks(emb: DataFrame, m: Int = 16, dim: Int = 64): DataFrame =
    meanCodebooksOver(emb.select(col("label"),
      normalized(asDouble(col("embedding"))).as("__vec")), m, dim)

  /** Label-mean codebooks over an ALREADY-PREPARED vector column
    * `__vec` (no normalization — shared by [[codebooks]] and the
    * residual-fixed path, whose centered vectors must stay centered).
    * Same aggregation shape and scan order as the inlined form it was
    * factored from, so the means are bit-stable.
    */
  private def meanCodebooksOver(vecs: DataFrame, m: Int, dim: Int): DataFrame = {
    val sub = dim / m
    val avgCols = (1 to dim).map(p => avg(element_at(col("__vec"), p)).as(s"c$p"))
    vecs
      .groupBy("label")
      .agg(avgCols.head, avgCols.tail: _*)
      .select(col("label").as("code"),
        posexplode(transform(sequence(lit(0), lit(m - 1)), mi =>
          slice(array((1 to dim).map(p => col(s"c$p")): _*),
            mi * sub + 1, lit(sub)))))
      .select(col("pos").cast("int").as("m_idx"), col("code"),
        col("col").as("cv"))
  }

  /** Trained codebooks — the production path the label-mean stand-in
    * stands in for: [[KMeans.lloyd]] per subspace over the normalized
    * subvectors. Cluster ids are dense 0..k-1 by construction (modulo
    * init), satisfying the positional-lookup contract; quantized
    * centroid ticks divide back to doubles once (deterministic — no
    * accumulation). Centroid frames are driver-built and tiny, so the
    * m training runs collect immediately and the staged input releases
    * before returning.
    */
  def codebooksLloyd(emb: DataFrame, m: Int = 16, dim: Int = 64,
                     k: Int = 10, iters: Int = 3,
                     localBytes: Long = KMeans.LocalBytes): DataFrame =
    lloydCodebooksOver(
      emb.select(col("vec_id"),
        normalized(asDouble(col("embedding"))).as("__vec")),
      m, dim, k, iters, localBytes)

  /** Per-subspace Lloyd training over an ALREADY-PREPARED vector column
    * `__vec` (no normalization — the residual path quantizes centered
    * vectors, which must NOT be re-normalized). Shared by
    * [[codebooksLloyd]] and [[ivfPqResidualTopK]].
    */
  private def lloydCodebooksOver(vecs: DataFrame, m: Int, dim: Int,
                                 k: Int, iters: Int,
                                 localBytes: Long = KMeans.LocalBytes): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val sub = dim / m
    // ONE probe job covers all m subspace fits: collect the full
    // quantized vectors once and slice them on the driver. The
    // per-subspace KMeans.lloyd calls each ran their own limit-probe
    // job over the same staged frame — m sequential jobs of pure
    // scheduler latency for the same bytes. Quantization commutes with
    // slicing (elementwise floor), the local core is the same code the
    // per-subspace path would reach, and centroids were already sorted
    // by cluster id before re-indexing — bit-identical (PqSpec pins it
    // against the per-subspace composition). The probe is gated on the
    // bytes it brings to the driver ([[KMeans.LocalBytes]]), not on rows
    // alone; past the budget the fits run per subspace.
    val gate = KMeans.probeRows(KMeans.LocalGate, dim, localBytes)
    val qv = transform(col("__vec"),
      x => floor(x * KMeans.Quant.toDouble).cast("long"))
    val probe = vecs.select(col("vec_id").as("id"), qv.as("qv"))
      .limit(gate + 1)
      .as[(Long, Seq[Long])].collect()
    val rows =
      if (probe.length <= gate) {
        (0 until m).flatMap { mi =>
          val sliced = probe.map { case (id, v) =>
            (id, v.slice(mi * sub, mi * sub + sub)) }
          val (_, _, cents) = KMeans.lloydLocalCore(sliced, k, iters)
          // a cluster can empty out during iteration (data-dependent,
          // not just init): re-index the surviving centroids densely
          // 0..len-1 so the positional ADC contract always holds
          cents.sortBy(_._1).zipWithIndex.map { case ((_, cv), code) =>
            (mi, code, cv.map(_.toDouble / KMeans.Quant))
          }
        }
      } else {
        // past the gate: the original distributed per-subspace loop
        val staged = vecs
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try (0 until m).flatMap { mi =>
          val (_, cents) = KMeans.lloyd(
            staged.select(col("vec_id"),
              slice(col("__vec"), lit(mi * sub + 1), lit(sub)).as("embedding")),
            k, iters, sub)
          cents.collect().sortBy(_.getInt(0)).zipWithIndex.map { case (r, code) =>
            (mi, code, r.getSeq[Long](1).map(_.toDouble / KMeans.Quant))
          }
        } finally staged.unpersist(blocking = false)
      }
    rows.toDF("m_idx", "code", "cv")
  }

  /** The codebook table collected and validated once on the driver —
    * per subspace, codes sorted ascending with their centroid vectors.
    * Both downstream shapes ([[codebookLiteral]] for the interpreted
    * query-table side, [[codebookFlat]] for the encode kernel) derive
    * from one collect, so a query builds the codebook job exactly once.
    *
    * Codes MUST be dense 0..k-1 in every subspace: the ADC table lookup
    * is positional (`element_at(tab, code + 1)`) and the kernel argmin
    * returns positions, so a sparse code set would silently read the
    * wrong distances. True for label codebooks over a dense label
    * column and for [[KMeans.lloyd]] cluster ids; enforced loudly here
    * rather than assumed.
    */
  private def collectCodebook(cb: DataFrame, m: Int): Seq[Seq[(Int, Seq[Double])]] = {
    val rows = cb.collect()
    (0 until m).map { mi =>
      val sub = rows.filter(_.getInt(0) == mi).sortBy(_.getInt(1))
      val codes = sub.map(_.getInt(1)).toSeq
      require(codes == (0 until sub.length),
        s"PQ codebook codes must be dense 0..k-1 per subspace " +
          s"(subspace $mi has $codes); remap labels before building codebooks")
      sub.toSeq.map(r => (r.getInt(1), r.getSeq[Double](2)))
    }
  }

  /** Collected codebook as a nested literal:
    * element_at(lit, m_idx+1) = array<struct<code, cv>> sorted by code.
    * One Literal node for the whole m×k×(d/m) table — the
    * array(struct(lit..)) tree form this replaces put ~m·k·(d/m)
    * expression nodes into EVERY use site, and Janino compiled all of
    * it (~2 s of the measured q_pq_encode time at m=16, k=10, d=64).
    */
  private def codebookLiteral(cbRows: Seq[Seq[(Int, Seq[Double])]]): Column = {
    import org.apache.spark.sql.types._
    val value: Seq[Seq[org.apache.spark.sql.Row]] = cbRows.map(_.map {
      case (code, cv) => org.apache.spark.sql.Row(code, cv)
    })
    val dt = ArrayType(ArrayType(StructType(Seq(
      StructField("code", IntegerType, nullable = false),
      StructField("cv", ArrayType(DoubleType, containsNull = false),
        nullable = false))), containsNull = false), containsNull = false)
    org.apache.spark.sql.GraftSqlBridge.literal(value, dt)
  }

  /** Collected codebook as the kernel's reference shape: per subspace a
    * flattened k·sub double array in code order.
    */
  private def codebookFlat(cbRows: Seq[Seq[(Int, Seq[Double])]]): Array[Array[Double]] =
    cbRows.map(_.flatMap(_._2).toArray).toArray

  /** Native codegen'd left-to-right squared-L2 fold
    * ([[graft.plans.L2SqDistance]]) — bit-identical to the oracle's
    * `list_reduce(list_transform(...), (a,b) -> a+b)` and to the
    * interpreted `aggregate(zip_with(...))` form it replaced (which
    * allocated a boxed pair array per call, m·k times per vector).
    */
  private def l2sq(a: Column, b: Column): Column =
    graft.plans.L2SqDistance(a, b)

  private def subVec(v: Column, mi: Column, sub: Int): Column =
    slice(v, mi * sub + 1, lit(sub))

  /** Encode every vector: per subspace, the code minimizing squared L2
    * to the normalized subvector (tie → smallest code, same as the
    * oracle's `ORDER BY dist, code` argmin window). Pure projection —
    * one row in, one row out, nothing shuffles. One int column per
    * subspace (`code_0..code_{m-1}`).
    */
  def encode(emb: DataFrame, m: Int = 16, dim: Int = 64): DataFrame =
    encodeWith(emb, collectCodebook(codebooks(emb, m, dim), m), m, dim)

  private def encodeWith(emb: DataFrame, cbRows: Seq[Seq[(Int, Seq[Double])]],
                         m: Int, dim: Int): DataFrame = {
    val sub = dim / m
    // ⚠ the normalized vector is staged as a bound attribute (multi-use
    // + non-cheap keeps CollapseProject from re-inlining it), and so is
    // the kernel's code array: the all-subspace [[graft.plans.PqCodes]]
    // kernel runs ONCE per row, then the m code columns are plain
    // element_at extractions. The per-subspace HOF argmin this replaces
    // ran m·k interpreted lambdas per row (~650 µs/row measured at
    // m=16, k=10 — the bulk of q_pq_encode/search wall clock).
    val staged = emb.select(col("vec_id"),
      normalized(asDouble(col("embedding"))).as("__vn"))
    val withCodes = staged.select(col("vec_id"),
      graft.plans.PqCodes(col("__vn"), codebookFlat(cbRows), sub).as("__codes"))
    val codeCols = (0 until m).map(mi =>
      element_at(col("__codes"), mi + 1).as(s"code_$mi"))
    withCodes.select(col("vec_id") +: codeCols: _*)
  }

  /** ADC shortlist: per query, per subspace, a distance table over the
    * codebook (m·k quantized BIGINT ticks, computed in-row from the
    * literal); candidates pay m integer table lookups. Ranking through
    * the bounded-heap aggregate (never a per-query window); ties broken
    * by vec_id like every top-k in the engine.
    */
  def adcTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 100,
              m: Int = 16, dim: Int = 64): DataFrame = {
    val sub = dim / m
    // one codebook collect job feeds both the query tables and encode
    val cbRows = collectCodebook(codebooks(emb, m, dim), m)
    val cbl = codebookLiteral(cbRows)
    // same staging rule as encode (|Q| rows, but the blowup is m·k per
    // row either way)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        normalized(asDouble(col("embedding"))).as("__qn"))
      .select(col("query_id"),
        transform(sequence(lit(0), lit(m - 1)), mi =>
          transform(element_at(cbl, mi + 1), c =>
            floor(l2sq(subVec(col("__qn"), mi, sub), c.getField("cv")) * 1e4)
              .cast("long"))).as("qtab"))
    val enc = encodeWith(emb, cbRows, m, dim)
    val scored = enc
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("dist_q",
        (0 until m).map(mi => element_at(element_at(col("qtab"), mi + 1),
          col(s"code_$mi") + 1)).reduce(_ + _))
      .select(col("query_id"), col("vec_id"),
        (-col("dist_q").cast("double")).as("cosine"))
    // TopK ranks by (cosine DESC, vec_id) — negated distance gives
    // (dist ASC, vec_id); negate back on the way out.
    TopK.perQuery(scored, k)
      .select(col("query_id"), col("vec_id"),
        (-col("cosine")).cast("long").as("dist_q"), col("rank"))
  }

  /** Two-stage PQ search — the production shape: ADC shortlist over
    * compressed codes, exact cosine (on the raw vectors) re-ranks the
    * shortlist to the final top k. Rerank cost is |Q|·shortlist rows;
    * recall is the shortlist's (0.94 at shortlist=100 on the fixture,
    * measured in SimilaritySpec).
    */
  def adcRerankTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
                    shortlist: Int = 100, m: Int = 16,
                    dim: Int = 64): DataFrame = {
    val short = adcTopK(emb, nQueries, shortlist, m, dim)
      .select("query_id", "vec_id")
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    // one broadcast of (query_id, qv, vec_id) — the shortlist pre-joined
    // with its query vectors (|Q|·shortlist rows, each + d doubles) —
    // instead of two broadcast builds (shortlist, then query vectors):
    // the corpus scans once and the rerank is a single-stage job
    val scored = e
      .join(broadcast(short.join(q, Seq("query_id"))), Seq("vec_id"))
      .withColumn("cosine", Similarity.cosine(col("qv"), col("v")))
      .select("query_id", "vec_id", "cosine")
    TopK.perQuery(scored, k)
  }

  /** IVF-PQ composite search — the Faiss-style production arrangement
    * (Jégou et al. 2011 §IV): a coarse quantizer restricts each query
    * to its `probes` nearest inverted lists, ADC over PQ codes ranks
    * ONLY those lists' members to a shortlist, exact cosine on the raw
    * vectors reranks the shortlist to the final top k.
    *
    * Scale shape — the composition is where the 100 TB win lives:
    *  - ONE corpus projection computes both the coarse assignment
    *    (argmax over the centroid literal) and the PQ codes (the
    *    [[graft.plans.PqCodes]] kernel) — no join between two
    *    corpus-derived tables, nothing shuffles;
    *  - the query side (probe lists + ADC tables, |Q|·probes rows)
    *    broadcasts, so ADC candidates are generated by a broadcast
    *    hash join keyed on the assignment — candidate volume scales
    *    with the probed lists' population, not corpus size, and each
    *    candidate pays m integer lookups against compressed codes,
    *    never a d-dim float op;
    *  - both rankings go through the bounded-heap TopK aggregate
    *    (map-side k, no per-query mega-partition); the exact rerank
    *    touches |Q|·shortlist raw vectors.
    * Coarse centroids reuse [[Similarity.labelCentroids]] over RAW
    * vectors (cosine is scale-invariant, so raw vs normalized picks
    * the same cells); PQ stays in the normalized space like every PQ
    * op here. Recall compounds (coarse recall × shortlist recall) —
    * measured against brute force in SimilaritySpec.
    */
  def ivfPqTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
                probes: Int = 2, shortlist: Int = 50,
                m: Int = 16, dim: Int = 64,
                trainedCodebooks: Boolean = false): DataFrame = {
    val sub = dim / m
    val cents = Similarity.centroidLiteral(Similarity.labelCentroids(emb))
    // label-mean codebooks keep the oracle replayable; `trainedCodebooks`
    // swaps in the Lloyd-trained production codebooks (same dense-code
    // contract, lower reconstruction error — see codebooksLloyd)
    val cbRows = collectCodebook(
      if (trainedCodebooks) codebooksLloyd(emb, m, dim)
      else codebooks(emb, m, dim), m)
    val cbl = codebookLiteral(cbRows)
    // one corpus pass: coarse cell + compressed codes, pure projection
    val assignedEnc = emb
      .select(col("vec_id"), asDouble(col("embedding")).as("__v"),
        normalized(asDouble(col("embedding"))).as("__vn"))
      .select(col("vec_id"),
        Similarity.bestCentroid(col("__v"), cents)
          .getField("label").as("assigned_centroid"),
        graft.plans.PqCodes(col("__vn"), codebookFlat(cbRows), sub).as("__codes"))
    // query side: probe labels from the raw vector, ADC distance table
    // from the normalized one — |Q|·probes rows after the explode
    val queryProbes = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        asDouble(col("embedding")).as("qv"),
        normalized(asDouble(col("embedding"))).as("__qn"))
      .select(col("query_id"),
        transform(sequence(lit(0), lit(m - 1)), mi =>
          transform(element_at(cbl, mi + 1), c =>
            floor(l2sq(subVec(col("__qn"), mi, sub), c.getField("cv")) * 1e4)
              .cast("long"))).as("qtab"),
        explode(Similarity.probeLabels(col("qv"), cents, probes))
          .as("probe_centroid"))
    val cand = assignedEnc
      .join(broadcast(queryProbes),
        col("probe_centroid") === col("assigned_centroid")
          && col("vec_id") =!= col("query_id"))
      .withColumn("dist_q",
        (0 until m).map(mi => element_at(element_at(col("qtab"), mi + 1),
          element_at(col("__codes"), mi + 1) + 1)).reduce(_ + _))
      .select(col("query_id"), col("vec_id"),
        (-col("dist_q").cast("double")).as("cosine"))
    val short = TopK.perQuery(cand, shortlist).select("query_id", "vec_id")
    // exact rerank on raw vectors, shortlist broadcast pre-joined with
    // its query vectors (same single-stage shape as adcRerankTopK)
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = e
      .join(broadcast(short.join(q, Seq("query_id"))), Seq("vec_id"))
      .withColumn("cosine", Similarity.cosine(col("qv"), col("v")))
      .select("query_id", "vec_id", "cosine")
    TopK.perQuery(scored, k)
  }

  /** Full production IVF-PQ (Jégou'11 §IV as Faiss ships it): a
    * LLOYD-TRAINED coarse quantizer over the normalized vectors, and
    * PQ codebooks trained over the RESIDUALS to each vector's coarse
    * centroid — the two upgrades [[ivfPqTopK]]'s oracle-friendly
    * label-mean arrangement stands in for.
    *
    * Why each matters: label-mean cells cap the composite's recall at
    * the coarse stage (probes=4 exact-in-cell recall was 0.6 on the
    * fixture — the 0.58 composite was already 97% of that ceiling, so
    * sharper CODES alone could not help); trained cells raise the
    * ceiling itself. Residual encoding then quantizes vectors CENTERED
    * on their cell — a far tighter distribution than raw positions —
    * so the same m·k codebook budget spends its codes on local detail
    * (the Faiss rationale: codebook utilization).
    *
    * Same plan shape as [[ivfPqTopK]]: ONE corpus projection computes
    * cell + residual + codes together (assignment and centering both
    * fold over literals); the query side broadcasts, with the ADC
    * table now PER (query, probed cell) — q−c changes per cell, so the
    * table moves inside the probe explode (|Q|·probes small rows, same
    * broadcast);
    * both rankings stay bounded-heap; exact cosine on raw vectors
    * reranks. Training (coarse k-means + m subspace k-means) runs on a
    * bounded sliver at 100 TB, like every trained artifact here.
    * Deterministic end to end (seedless modulo init) but an iterative
    * fit — spec-pinned (SimilaritySpec measures recall against brute
    * force and against the label-mean arrangement), not oracle-replayed.
    */
  /** In-row residual centering against the assigned cell: vn − centsN[cell]. */
  private def residualOf(centsN: Column)(vn: Column, cell: Column): Column =
    zip_with(vn, element_at(centsN, cell + 1), (a, b) => a - b)

  def ivfPqResidualTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
                        probes: Int = 2, shortlist: Int = 50,
                        m: Int = 16, dim: Int = 64,
                        coarseK: Int = 10, codesK: Int = 10,
                        iters: Int = 3, assign: Int = 1): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val sub = dim / m
    // trained coarse quantizer: Lloyd over the NORMALIZED vectors (the
    // search geometry), centroids re-indexed dense like every codebook
    val (_, coarseCents) = KMeans.lloyd(
      emb.select(col("vec_id"),
        normalized(asDouble(col("embedding"))).as("embedding")),
      coarseK, iters, dim)
    val centRows = coarseCents.collect().sortBy(_.getInt(0)).zipWithIndex
      .map { case (r, label) =>
        (label, r.getSeq[Long](1).map(_.toDouble / KMeans.Quant)) }.toSeq
    val cents = Similarity.centroidLiteral(
      centRows.toDF("centroid_label", "cv"))
    // the same centroid table as a label-ordered array literal, for the
    // in-row residual centering (element_at by assigned cell)
    val centsN: Column = {
      import org.apache.spark.sql.types._
      org.apache.spark.sql.GraftSqlBridge.literal(
        centRows.map(_._2),
        ArrayType(ArrayType(DoubleType, containsNull = false),
          containsNull = false))
    }
    val residualOf = Pq.residualOf(centsN) _
    // one corpus projection: cell + residual (both literal folds)
    val staged = emb
      .select(col("vec_id"), asDouble(col("embedding")).as("__v"),
        normalized(asDouble(col("embedding"))).as("__vn"))
      .select(col("vec_id"),
        Similarity.bestCentroid(col("__vn"), cents)
          .getField("label").as("assigned_centroid"), col("__vn"))
      .select(col("vec_id"), col("assigned_centroid"),
        residualOf(col("__vn"), col("assigned_centroid")).as("__res"))
    // PQ codebooks over the residuals (no re-normalization); trained on
    // PRIMARY-cell residuals only — the model is "offset from own cell",
    // and secondary entries (multi-assignment below) reuse it
    val cbRows = collectCodebook(
      lloydCodebooksOver(staged.select(col("vec_id"),
        col("__res").as("__vec")), m, dim, codesK, iters), m)
    residualAdcSearch(emb, cents, centsN, cbRows, staged,
      nQueries, k, probes, shortlist, m, dim, assign)
  }

  /** Fixed-quantizer twin of [[ivfPqResidualTopK]]: the identical
    * residual arrangement — in-row residual centering against the
    * assigned cell, per-(query, probed cell) ADC tables at 1e-8 ticks,
    * multi-assignment with best-score dedup, exact rerank — but with
    * BOTH trained artifacts swapped for their deterministic label-mean
    * stand-ins (coarse centroids = per-label means of the normalized
    * vectors; residual codebooks = per-label mean residual subvectors).
    * That removes the 1 + m Lloyd fits, so every number in the chain is
    * closed-form integer/IEEE arithmetic a SQL oracle can replay — the
    * q_kmeans unroll trick applied one level up: q_ivfpq_residual keeps
    * the trained recall, this twin hash-checks the residual MACHINERY.
    */
  def ivfPqResidualFixedTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
                             probes: Int = 2, shortlist: Int = 50,
                             m: Int = 16, dim: Int = 64,
                             assign: Int = 1): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // label-mean coarse centroids over the NORMALIZED vectors (the
    // residual path's search geometry; labels are dense 0..k-1)
    val centDf = Similarity.labelCentroids(
      emb.select(col("vec_id"), col("label"),
        normalized(asDouble(col("embedding"))).as("embedding")))
    val centRows = centDf.collect().sortBy(_.getInt(0))
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
    val cents = Similarity.centroidLiteral(
      centRows.toDF("centroid_label", "cv"))
    val centsN: Column = {
      import org.apache.spark.sql.types._
      org.apache.spark.sql.GraftSqlBridge.literal(
        centRows.map(_._2),
        ArrayType(ArrayType(DoubleType, containsNull = false),
          containsNull = false))
    }
    val residualOf = Pq.residualOf(centsN) _
    // one corpus projection: cell + residual (both literal folds);
    // label rides along to key the mean codebooks
    val staged = emb
      .select(col("vec_id"), col("label"),
        normalized(asDouble(col("embedding"))).as("__vn"))
      .select(col("vec_id"), col("label"),
        Similarity.bestCentroid(col("__vn"), cents)
          .getField("label").as("assigned_centroid"), col("__vn"))
      .select(col("vec_id"), col("label"), col("assigned_centroid"),
        residualOf(col("__vn"), col("assigned_centroid")).as("__res"))
    // residual codebooks: per-label mean residual subvectors over the
    // PRIMARY-cell residuals (same contract as the trained form)
    val cbRows = collectCodebook(
      meanCodebooksOver(staged.select(col("label"),
        col("__res").as("__vec")), m, dim), m)
    residualAdcSearch(emb, cents, centsN, cbRows,
      staged.select("vec_id", "assigned_centroid", "__res"),
      nQueries, k, probes, shortlist, m, dim, assign)
  }

  /** Shared search tail of the residual IVF-PQ arrangements: encode the
    * (possibly multi-assigned) cells, probe, ADC-rank at 1e-8 ticks,
    * dedup multi-assignment duplicates by best score, shortlist, exact
    * rerank. `staged` carries the primary (vec_id, assigned_centroid,
    * __res) projection; trained vs fixed callers differ only in how
    * `cents`/`centsN`/`cbRows` were produced.
    */
  private def residualAdcSearch(emb: DataFrame, cents: Column,
      centsN: Column, cbRows: Seq[Seq[(Int, Seq[Double])]],
      staged: DataFrame, nQueries: Int, k: Int, probes: Int,
      shortlist: Int, m: Int, dim: Int, assign: Int): DataFrame = {
    val sub = dim / m
    val residualOf = Pq.residualOf(centsN) _
    val cbl = codebookLiteral(cbRows)
    // Multi-assignment (Faiss's IVF trick for raising the coarse
    // ceiling without more probes): index each corpus vector in its
    // `assign` nearest cells, so a neighbor whose best cell the query
    // does not probe stays reachable through its second cell. Index
    // size scales ×assign; probe cost per list is unchanged; the plan
    // is the same one projection (probeLabels(…,1) ≡ bestCentroid —
    // shared comparator — so assign=1 keeps the original plan).
    val cells =
      if (assign <= 1) staged
      else emb
        .select(col("vec_id"),
          normalized(asDouble(col("embedding"))).as("__vn"))
        .select(col("vec_id"), col("__vn"),
          explode(Similarity.probeLabels(col("__vn"), cents, assign))
            .as("assigned_centroid"))
        .select(col("vec_id"), col("assigned_centroid"),
          residualOf(col("__vn"), col("assigned_centroid")).as("__res"))
    val encoded = cells.select(col("vec_id"), col("assigned_centroid"),
      graft.plans.PqCodes(col("__res"), codebookFlat(cbRows), sub)
        .as("__codes"))
    // query side: probe cells from the normalized vector; the ADC table
    // is per probed cell (the query residual q − c changes per cell)
    val queryProbes = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        normalized(asDouble(col("embedding"))).as("__qn"))
      .select(col("query_id"), col("__qn"),
        explode(Similarity.probeLabels(col("__qn"), cents, probes))
          .as("probe_centroid"))
      .select(col("query_id"), col("probe_centroid"),
        residualOf(col("__qn"), col("probe_centroid")).as("__qres"))
      .select(col("query_id"), col("probe_centroid"),
        // 1e-8 ticks, not the unit-scale paths' 1e-4: residual subspace
        // distances are ~100× smaller than normalized-vector ones, and
        // at 1e-4 the quantization noise would drown the ranking
        transform(sequence(lit(0), lit(m - 1)), mi =>
          transform(element_at(cbl, mi + 1), c =>
            floor(l2sq(subVec(col("__qres"), mi, sub), c.getField("cv")) * 1e8)
              .cast("long"))).as("qtab"))
    val cand = encoded
      .join(broadcast(queryProbes),
        col("probe_centroid") === col("assigned_centroid")
          && col("vec_id") =!= col("query_id"))
      .withColumn("dist_q",
        (0 until m).map(mi => element_at(element_at(col("qtab"), mi + 1),
          element_at(col("__codes"), mi + 1) + 1)).reduce(_ + _))
      .select(col("query_id"), col("vec_id"),
        (-col("dist_q").cast("double")).as("cosine"))
    // multi-assignment can reach the same (query, vec) through two
    // probed cells; keep its best ADC score so duplicates cannot eat
    // shortlist slots (map-side partial max, tiny keyed shuffle)
    val candUniq =
      if (assign <= 1) cand
      else cand.groupBy("query_id", "vec_id")
        .agg(max(col("cosine")).as("cosine"))
    val short = TopK.perQuery(candUniq, shortlist)
      .select("query_id", "vec_id")
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = e
      .join(broadcast(short.join(q, Seq("query_id"))), Seq("vec_id"))
      .withColumn("cosine", Similarity.cosine(col("qv"), col("v")))
      .select("query_id", "vec_id", "cosine")
    TopK.perQuery(scored, k)
  }
}
