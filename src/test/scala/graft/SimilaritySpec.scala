package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

import graft.ops.Similarity

/** Approximation quality of the scale paths, measured against their
  * exact counterparts on the sf0.001 fixture (deterministic data, so
  * the recall floors are stable pins, not flaky statistics).
  */
class SimilaritySpec extends SparkTestBase {
  import SimilaritySpec._

  private def emb = Tables.embeddings(spark, "/root/testdata/sf0.001")

  test("IVF probe search: usable recall, monotone in probe count") {
    def topk(probes: Int) =
      Similarity.ivfTopK(emb, nQueries = 10, k = 5, probes = probes)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.annTopK(emb, nQueries = 10, k = 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val r2 = (exact & topk(2)).size.toDouble / exact.size
    val r4 = (exact & topk(4)).size.toDouble / exact.size
    println(s"SIM ivf recall probes=2 $r2, probes=4 $r4")
    // the fixture's labels are weak clusters: 2/10 probes recovering
    // over a third of exact neighbours is the pinned floor
    assert(r2 >= 0.35, s"IVF recall degraded to $r2")
    assert(r4 >= r2, "more probes must not lose recall")
  }

  test("PQ: rerank recovers exact top-k through the compressed shortlist; encode is shuffle-free") {
    import graft.ops.Pq
    val exact = Similarity.annTopK(emb, nQueries = 10, k = 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // pure ADC at k=5 is a coarse ranking (10-code reconstructions);
    // the two-stage shape is the product: shortlist=100 → exact rerank
    val reranked = Pq.adcRerankTopK(emb, nQueries = 10, k = 5, shortlist = 100)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & reranked).size.toDouble / exact.size
    println(s"SIM pq rerank recall = $recall")
    assert(recall >= 0.9, s"PQ rerank recall degraded to $recall")
    // encode must be a pure projection: no exchange anywhere
    val plan = Pq.encode(emb).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"PQ encode shuffles:\n$plan")
    // codes are confined to the codebook's label range
    val codes = Pq.encode(emb).collect()
    assert(codes.forall(r => (1 to 16).forall { i =>
      val c = r.getInt(i); c >= 0 && c <= 9
    }))
  }

  test("IVF-PQ composite: recall compounds sensibly, plan keeps one corpus pass") {
    import graft.ops.Pq
    val exact = Similarity.annTopK(emb, nQueries = 10, k = 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val composite = Pq.ivfPqTopK(emb, nQueries = 10, k = 5,
        probes = 4, shortlist = 50)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & composite).size.toDouble / exact.size
    println(s"SIM ivfpq recall probes=4 shortlist=50 = $recall")
    // coarse recall (≈r4 of the IVF pin) × shortlist recall bounds the
    // composite; 4/10 probes over the weak label clusters recovering
    // a third of exact neighbours is the stable floor on this fixture
    assert(recall >= 0.35, s"IVF-PQ recall degraded to $recall")
    // widening the coarse stage to all cells must recover at least the
    // PQ-only shortlist quality (the composite's recall is then pure ADC)
    val allCells = Pq.ivfPqTopK(emb, nQueries = 10, k = 5,
        probes = 10, shortlist = 50)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallAll = (exact & allCells).size.toDouble / exact.size
    assert(recallAll >= recall, "more probes must not lose recall")
    // Lloyd-trained codebooks (the production path) must hold the same
    // recall floor — sharper codes cannot be allowed to regress the
    // composite even though the shortlist membership shifts
    val trained = Pq.ivfPqTopK(emb, nQueries = 10, k = 5,
        probes = 4, shortlist = 50, trainedCodebooks = true)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallTrained = (exact & trained).size.toDouble / exact.size
    println(s"SIM ivfpq trained-codebook recall = $recallTrained")
    assert(recallTrained >= 0.35, s"trained-codebook recall $recallTrained")
  }

  test("residual IVF-PQ (trained coarse + residual codes) beats the label-mean arrangement") {
    import graft.ops.Pq
    val exact = Similarity.annTopK(emb, nQueries = 10, k = 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val residual = Pq.ivfPqResidualTopK(emb, nQueries = 10, k = 5,
        probes = 4, shortlist = 50)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & residual).size.toDouble / exact.size
    println(s"SIM ivfpq residual recall probes=4 shortlist=50 = $recall")
    // label-mean cells capped the composite at their 0.6 coarse ceiling
    // (0.58 measured = 97% of it, so sharper codes alone could not
    // help); the trained coarse quantizer lifts the ceiling to 0.76
    // (measured below) and residual codes keep the shortlist
    // near-lossless under it: 0.74 measured at the same budget
    assert(recall >= 0.7, s"residual IVF-PQ recall degraded to $recall")
    // the arrangement must strictly beat the label-mean composite at
    // the identical probe/shortlist budget
    val labelMean = Pq.ivfPqTopK(emb, nQueries = 10, k = 5,
        probes = 4, shortlist = 50)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallLabel = (exact & labelMean).size.toDouble / exact.size
    assert(recall > recallLabel,
      s"residual arrangement did not improve recall: $recall vs $recallLabel")
    // near-ceiling: widening the shortlist to the whole probed
    // population (500-vector fixture) isolates the coarse stage; the
    // budget composite must sit within 0.06 of that ceiling — i.e. the
    // residual ADC shortlist is where the loss is NOT
    val ceiling = Pq.ivfPqResidualTopK(emb, nQueries = 10, k = 5,
        probes = 4, shortlist = 500)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallCeiling = (exact & ceiling).size.toDouble / exact.size
    println(s"SIM ivfpq residual coarse ceiling probes=4 = $recallCeiling")
    assert(recall >= recallCeiling - 0.06,
      s"shortlist stage lost recall: $recall vs ceiling $recallCeiling")
    // one probe step up clears 0.8 on the fixture's weak clusters
    val p6 = Pq.ivfPqResidualTopK(emb, nQueries = 10, k = 5,
        probes = 6, shortlist = 50)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall6 = (exact & p6).size.toDouble / exact.size
    println(s"SIM ivfpq residual recall probes=6 shortlist=50 = $recall6")
    assert(recall6 >= 0.8, s"residual IVF-PQ probes=6 recall $recall6")
    // multi-assignment (assign=2) raises the COARSE ceiling at the
    // same probe budget: a neighbor whose best cell the query does not
    // probe stays reachable through its second cell. Index ×2, probe
    // cost unchanged — the cheap knob when the ceiling, not the codes,
    // is the loss (measured 0.74 -> 0.86 at probes=4/shortlist=50 —
    // above even probes=6's 0.84 at two-thirds the probe cost).
    val ma = Pq.ivfPqResidualTopK(emb, nQueries = 10, k = 5,
        probes = 4, shortlist = 50, assign = 2)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallMa = (exact & ma).size.toDouble / exact.size
    println(s"SIM ivfpq residual assign=2 recall probes=4 shortlist=50 = $recallMa")
    assert(recallMa >= 0.8, s"multi-assign recall $recallMa")
    assert(recallMa > recall,
      s"assign=2 did not lift the probes=4 ceiling: $recallMa vs $recall")
  }

  test("Lloyd-trained PQ codebooks cut reconstruction error vs label means") {
    import graft.ops.Pq
    val label = Pq.codebooks(emb, m = 4, dim = 64)
    val trained = Pq.codebooksLloyd(emb, m = 4, dim = 64, k = 10, iters = 3)
    val eLabel = reconstructionError(emb, label, m = 4, dim = 64)
    val eTrained = reconstructionError(emb, trained, m = 4, dim = 64)
    println(s"SIM pq recon error: label=$eLabel trained=$eTrained")
    // Lloyd optimizes exactly this objective; label means are arbitrary
    // partitions of weak clusters
    assert(eTrained < eLabel,
      s"training did not improve the quantizer: $eTrained vs $eLabel")
  }

  test("fused multi-subspace Lloyd codebooks match the per-subspace composition") {
    import org.apache.spark.sql.functions.{lit, slice}
    import graft.ops.{KMeans, Pq}
    val (m, dim, k, iters) = (4, 64, 10, 3)
    val sub = dim / m
    // the exact input codebooksLloyd prepares, rebuilt from public API
    val vecs = emb.select(col("vec_id"),
      graft.plans.L2Normalize(col("embedding").cast("array<double>"))
        .as("__vec"))
    // the per-subspace composition the fused single-collect path replaced
    val want = (0 until m).flatMap { mi =>
      val (_, cents) = KMeans.lloyd(
        vecs.select(col("vec_id"),
          slice(col("__vec"), lit(mi * sub + 1), lit(sub)).as("embedding")),
        k, iters, sub)
      cents.collect().sortBy(_.getInt(0)).zipWithIndex.map { case (r, code) =>
        (mi, code, r.getSeq[Long](1).map(_.toDouble / KMeans.Quant))
      }
    }.toSet
    def trained(localBytes: Long) = {
      var got = Set.empty[(Int, Int, Seq[Double])]
      val (plans, _) = executedPlans {
        got = Pq.codebooksLloyd(emb, m, dim, k, iters, localBytes).collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSet
      }
      (got, plans.size)
    }
    val (got, localRuns) = trained(KMeans.LocalBytes)
    assert(got === want, "fused codebooks diverged from per-subspace Lloyd")
    // one vector short of the byte budget: the per-subspace fallback
    // runs (at least one more execution per subspace), same codebooks
    val (fallback, fallbackRuns) = trained((emb.count() - 1) * dim * 8)
    assert(fallbackRuns >= localRuns + m, s"$fallbackRuns vs $localRuns executions")
    assert(fallback === want, "per-subspace fallback diverged from the local path")
  }

  test("distributed Lloyd releases its cache on failure and with its scope") {
    import org.apache.spark.sql.TestSqlBridge
    import org.apache.spark.sql.functions.{array, lit, udf}
    val badVector = udf { (id: Long) =>
      if (id > 1) throw new IllegalStateException(s"bad vector $id")
      Seq(1.0, 2.0)
    }
    val emb = spark.range(8)
      .select(col("id").as("vec_id"), badVector(col("id")).as("embedding"))
    spark.catalog.clearCache()
    intercept[Exception](graft.ops.KMeans.lloyd(emb, k = 2, iters = 2, dim = 2, localGate = 0))
    assert(TestSqlBridge.noCachedPlans(spark),
      "a failed Lloyd run left its input cached")
    // on success the returned assignment is a checkpoint that the
    // caller's scope releases
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val good = spark.range(8).select(col("id").as("vec_id"),
      array(col("id").cast("double"), lit(1.0)).as("embedding"))
    Persisted.owned {
      val (assigned, _) = graft.ops.KMeans.lloyd(good, k = 2, iters = 2, dim = 2, localGate = 0)
      assert(assigned.count() === 8)
    }
    assert(TestSqlBridge.noCachedPlans(spark) && sc.getPersistentRDDs.keySet == before,
      "a Lloyd run left cached state behind its caller's scope")
  }

  test("multi-table LSH near-dup: exact precision, usable recall") {
    val threshold = 0.25
    val exact = nearDupPairsBrute(emb, threshold)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.nearDupPairsLsh(emb, threshold, nbits = 8, tables = 8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every LSH pair must be a true pair (verification is exact)...
    assert((approx -- exact).isEmpty, "LSH emitted a non-pair")
    // ...and banding should recover the expected share
    // (≈ 1-(1-p^8)^8 ≈ 0.1 at this low threshold; near-dup thresholds
    // ≥0.9 would recall far more — documented trade)
    if (exact.nonEmpty) {
      val recall = (exact & approx).size.toDouble / exact.size
      println(s"SIM lsh recall = $recall (${exact.size} true pairs)")
      assert(recall >= 0.05, s"LSH recall degraded to $recall")
    }
  }

  test("hashed embed: hand-computed vector, duplicates collide, empty is zero") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((1L, "spark spark merge"), (2L, "spark spark merge"),
      (3L, ""), (4L, "merge spark spark")).toDF("doc_id", "text")
    val rows = graft.ops.HashedEmbed.embedDocs(df).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("nnz"),
          r.getAs[Long]("norm_sq"), r.getAs[String]("emb_md5")))).toMap
    // 'spark' twice → ±2 in its bucket, 'merge' once → ±1 (distinct
    // buckets or a collision — either way norm_sq is 4+1 or 9 or 1)
    assert(rows(1L)._1 === 3L)
    assert(Set(5L, 9L, 1L).contains(rows(1L)._3), rows(1L).toString)
    // exact duplicates and bag-equal reorderings embed identically
    assert(rows(1L)._4 === rows(2L)._4)
    assert(rows(1L)._4 === rows(4L)._4)
    // empty doc: zero vector, zero norm
    assert(rows(3L) === ((0L, 0L, 0L, rows(3L)._4)))
  }

  test("hashed embed: compiled kernel is value-identical to the HOF fold") {
    import org.apache.spark.sql.functions._
    val toks = graft.text.TextMetrics.tokens(col("text"))
    val rows = Tables.documents(spark, "/root/testdata/sf0.001").limit(100)
      .select(
        graft.ops.HashedEmbed.hashedVector(toks).as("native"),
        hashedVectorHof(toks).as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Double](0) === r.getSeq[Double](1), r.toString)
    }
  }

  test("rp-lsh buckets: kernel matches an independent md5-parity rebuild") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(50)
    val dim = 16
    val (tables, nbits) = (4, 8)
    val rows = docs.select(col("doc_id"),
        graft.ops.HashedEmbed.hashedVector(
          graft.text.TextMetrics.tokens(col("text")), dim).as("v"))
      .select(col("doc_id"), col("v"),
        graft.plans.RpLshBuckets(col("v"), tables, nbits).as("buckets"))
      .collect()
    assert(rows.nonEmpty)
    // independent reference: java MessageDigest + BigInt hex parse,
    // no shared code with the kernel's plane cache
    def sign(t: Int, b: Int, d: Int): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"rp_$t:$b:$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (Integer.parseInt(hex.substring(0, 1), 16) % 2 == 0) 1.0 else -1.0
    }
    rows.foreach { r =>
      val v = r.getSeq[Double](1)
      val got = r.getSeq[Long](2)
      val want = (0 until tables).map { t =>
        (0 until nbits).foldLeft(0L) { (acc, b) =>
          val dot = v.indices.map(i => v(i) * sign(t, b, i + 1)).sum
          acc * 2 + (if (dot > 0) 1L else 0L)
        }
      }
      assert(got === want, s"doc ${r.get(0)}")
    }
  }

  test("text near-dup: planted paraphrase pair found, unrelated docs not") {
    import spark.implicits._
    val base = "spark merge join scan filter table row column batch stream " +
      "shuffle partition broadcast executor driver stage task codegen plan"
    val docs = Seq(
      (10L, base),
      (11L, base + " appended"),                 // token-bag near-dup of 10
      (12L, "completely different words entirely unrelated tokens here " +
        "nothing shared with the first pair at all in any position"),
      (13L, ""))                                 // zero vector: excluded
      .toDF("doc_id", "text")
    // the deployed q_text_neardup config: 128-dim, 8 tables x 16 bits
    val pairs = graft.ops.HashedEmbed.textNearDup(docs, threshold = 0.9,
        nbits = graft.queries.SimilarityQueries.TextNearDupBits,
        dim = graft.queries.SimilarityQueries.TextNearDupDim)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((10L, 11L)), pairs.toString)
    assert(!pairs.exists(p => p._1 == 12L || p._2 == 12L || p._1 == 13L || p._2 == 13L))
  }

  test("text ANN: planted near-duplicate text is its query's top hit") {
    import spark.implicits._
    val base = "spark merge join scan filter table row column batch stream"
    val docs = Seq(
      (0L, base),                           // query doc
      (1L, base + " extra"),                // near-dup of the query
      (2L, "completely different words entirely unrelated tokens here"),
      (3L, "orthogonal vocabulary again nothing shared with queries"))
      .toDF("doc_id", "text")
    val top = graft.ops.HashedEmbed.textAnnTopK(docs, nQueries = 1, k = 3)
      .orderBy("rank").collect()
    assert(top.head.getAs[Long]("vec_id") === 1L, top.mkString(";"))
    assert(top.head.getAs[Double]("cosine") > 0.9)
  }

  test("icp locality: the curve order beats doc_id order decisively on " +
    "planted topics") {
    import spark.implicits._
    val vocab = Map(
      0 -> "spark shuffle partition executor broadcast stage codegen",
      1 -> "sonata violin orchestra concerto tempo crescendo melody",
      2 -> "glacier moraine permafrost tundra icefield crevasse firn")
    // doc_id mod 3 = topic, so plain doc_id order alternates topics
    // (worst case) while the curve order groups them
    val dirPath = java.nio.file.Files.createTempDirectory("icploc").toString
    (0 until 60).map { i =>
      (i.toLong, s"${vocab(i % 3)} ${vocab(i % 3)} noise$i filler$i")
    }.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dirPath/documents.parquet")
    val r = graft.queries.SimilarityQueries.icpLocality(spark, dirPath)
      .collect()(0)
    val icpMean = r.getAs[Long]("icp_sum_q").toDouble / r.getAs[Long]("icp_pairs")
    val baseMean = r.getAs[Long]("base_sum_q").toDouble / r.getAs[Long]("base_pairs")
    assert(r.getAs[Boolean]("locality_gained"), s"icp $icpMean vs base $baseMean")
    assert(icpMean > baseMean + 100000, // ≥ 0.1 cosine lift in µ-units
      s"lift too small: icp $icpMean vs base $baseMean")
  }

  test("semantic contamination: cross-split paraphrase flagged, unrelated " +
    "doc not, zero-norm docs excluded") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val bench = "what is the capital of france paris answer the question"
    val docs = Seq(
      (10L, bench),                               // doc_id % 10 == 0: benchmark
      (11L, "question what is the capital of france the answer paris"),
      (12L, "completely unrelated tokens about glaciers and moraines here"),
      (13L, ""))                                  // zero vector: excluded
      .toDF("doc_id", "text")
    val got = graft.ops.Decontaminate.semanticOverlapReport(
        corpus = docs.filter(col("doc_id") % 10 =!= 0),
        benchmark = docs.filter(col("doc_id") % 10 === 0),
        idCol = "doc_id", textCol = "text")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getBoolean(2))).toMap
    assert(got(11L)._2, s"paraphrase not flagged: ${got(11L)}")
    assert(got(11L)._1 > 0.9)
    assert(!got(12L)._2, s"unrelated doc flagged: ${got(12L)}")
    assert(!got.contains(13L), "zero-norm doc must be excluded")
  }

  test("LSH semantic contamination: paraphrases found, precision exact vs " +
    "the exact twin, max is a lower bound (recall pin)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // planted paraphrases: token-bag permutations give IDENTICAL hashed
    // count vectors (cos = 1.0, same buckets in every table — found
    // deterministically); one-token edits sit in the cos ≳ 0.97 region
    // the screen exists for
    val bench1 = "what is the capital of france paris answer the question now"
    val bench2 = "list the prime numbers below one hundred two three five " +
      "seven eleven thirteen seventeen nineteen twenty three twenty nine " +
      "thirty one thirty seven forty one forty three forty seven fifty " +
      "three fifty nine sixty one sixty seven seventy one"
    val docs = Seq(
      (10L, bench1), (20L, bench2),              // % 10 == 0: benchmark
      (11L, "question now what is the capital of france the answer paris"),
      (21L, bench2.split(" ").reverse.mkString(" ")),
      // one-token edit of the 38-token bench2: cos 0.991, collides in
      // tables 0 and 1 (replayed offline against the md5 hyperplanes —
      // deterministic, not a coin flip at the S-curve midpoint)
      (22L, bench2.replace("sixty seven", "sixty eight")),
      (12L, "completely unrelated tokens about glaciers and moraines here"),
      (13L, ""))
      .toDF("doc_id", "text")
    def corp = docs.filter(col("doc_id") % 10 =!= 0)
    def bench = docs.filter(col("doc_id") % 10 === 0)
    val exact = graft.ops.Decontaminate.semanticOverlapReport(
        corp, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getBoolean(2))).toMap
    val lsh = graft.ops.Decontaminate.semanticOverlapReportLsh(
        corp, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)).map(_.asInstanceOf[Double]), r.getBoolean(2))).toMap
    spark.catalog.clearCache()
    // same output domain as the exact form (non-zero-norm corpus docs)
    assert(lsh.keySet === exact.keySet)
    // recall on the paraphrase region: permutation twins MUST collide
    assert(lsh(11L)._2 && lsh(21L)._2, s"paraphrase twins missed: $lsh")
    assert(lsh(22L)._2, s"one-token-edit paraphrase missed: ${lsh(22L)}")
    lsh.foreach { case (id, (mc, flag)) =>
      // precision is exact by construction: a banded flag means a real
      // colliding pair with verified cosine >= threshold
      assert(!flag || exact(id)._2, s"doc $id: lsh flagged, exact did not")
      // the banded max is a LOWER bound of the exact max (subset of pairs)
      mc.foreach(m => assert(m <= exact(id)._1 + 1e-12, s"doc $id: $m"))
    }
  }

  test("semantic order: planted topics are contiguous-ish, output is a " +
    "deterministic layout-invariant permutation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // three disjoint-vocabulary topics, 20 docs each with per-doc noise
    // tokens: the curve order should place same-topic docs mostly
    // adjacent even though the op never compares any two docs
    val vocab = Map(
      0 -> "spark shuffle partition executor broadcast stage codegen",
      1 -> "sonata violin orchestra concerto tempo crescendo melody",
      2 -> "glacier moraine permafrost tundra icefield crevasse firn")
    val docs = (0 until 60).map { i =>
      val t = i % 3
      (i.toLong, t, s"${vocab(t)} ${vocab(t)} noise$i filler$i")
    }.toDF("doc_id", "topic", "text")
    val ordered = graft.ops.SemanticOrder.semanticOrder(docs)
      .join(docs.select("doc_id", "topic"), Seq("doc_id"))
      .orderBy("icp_pos").collect()
    // permutation: dense 0..n-1
    assert(ordered.map(_.getAs[Long]("icp_pos")).toSeq === (0L until 60L))
    // adjacency purity: fraction of consecutive pairs sharing a topic.
    // A random permutation gives ~1/3; the curve order should be near 1.
    val topics = ordered.map(_.getAs[Int]("topic"))
    val same = topics.sliding(2).count(p => p(0) == p(1))
    val purity = same.toDouble / (topics.length - 1)
    println(s"SIM icp adjacency purity $purity")
    assert(purity >= 0.8, s"semantic order lost topic locality: $purity")
    // layout invariance: a different physical partitioning must yield
    // the identical permutation (two-pass numbering, not an accident
    // of task order)
    val re = graft.ops.SemanticOrder.semanticOrder(docs.repartition(7))
      .select("doc_id", "icp_pos").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    ordered.foreach { r =>
      assert(re(r.getAs[Long]("doc_id")) === r.getAs[Long]("icp_pos"))
    }
  }
}

object SimilaritySpec {
  import org.apache.spark.sql.functions._

  /** Total squared reconstruction error of a PQ codebook (m_idx, code,
    * cv) over the unit-normalized embeddings: per vector and subspace,
    * the squared L2 distance to the nearest centroid — the objective
    * Lloyd minimizes, computed on the driver.
    */
  def reconstructionError(emb: DataFrame, cb: DataFrame, m: Int, dim: Int): Double = {
    val sub = dim / m
    val cents = cb.collect().groupBy(_.getInt(0)).map { case (mi, rs) =>
      mi -> rs.map(_.getSeq[Double](2).toArray) }
    emb.select(col("embedding").cast("array<double>")).collect().map { r =>
      val v = r.getSeq[Double](0).toArray
      val norm = math.sqrt(v.map(x => x * x).sum)
      val u = if (norm == 0.0) v else v.map(_ / norm)
      (0 until m).map { mi =>
        val s = u.slice(mi * sub, mi * sub + sub)
        cents(mi).map(c => s.indices.map(i => (s(i) - c(i)) * (s(i) - c(i))).sum).min
      }.sum
    }.sum
  }

  /** Exact all-pairs cosine baseline the LSH recall is measured against
    * (the cross join is quadratic; never a scale path).
    */
  def nearDupPairsBrute(emb: DataFrame, threshold: Double): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val a = e.select(col("vec_id").as("id_a"), col("v").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", Similarity.cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Declarative reference form of [[graft.ops.HashedEmbed.hashedVector]]:
    * ONE fold over the tokens with a dim-slot array accumulator — not dim
    * separate folds. The naive `transform(sequence(0, dim-1), i ->
    * aggregate(pairs, ...))` shape re-evaluates the pairs argument (and
    * its md5 calls) once per bucket index, because a HOF's argument
    * expression is inside the enclosing lambda's body: that is dim× the
    * hashing work per row (measured 10.9s vs <1s on the sf0.001 bench).
    * The inner `transform(toks, md5)` likewise pins md5 to exactly one
    * call per token — bucket and sign both read the precomputed hex.
    */
  def hashedVectorHof(toks: Column,
                      dim: Int = graft.ops.HashedEmbed.Dim): Column = {
    val pairs = transform(transform(toks, t => md5(t)), h =>
      struct(
        (conv(substring(h, 1, 2), 16, 10).cast("int") % dim).cast("int").as("b"),
        when(conv(substring(h, 3, 1), 16, 10).cast("int") % 2 === 0, lit(1.0))
          .otherwise(lit(-1.0)).as("s")))
    aggregate(pairs, array_repeat(lit(0.0), dim), (acc, p) =>
      transform(acc, (x, i) =>
        x + when(p.getField("b") === i, p.getField("s")).otherwise(lit(0.0))))
  }
}
