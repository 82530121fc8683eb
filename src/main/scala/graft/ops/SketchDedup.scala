package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.text.TextMetrics
import graft.Persisted

/** Sketch-based near-deduplication at scale: MinHash+LSH, SimHash, and
  * n-gram Jaccard with key blocking (the reference's own scaling plan,
  * README.md:134-136, prescribes exactly this family; implementations
  * follow the standard public formulations — Broder '97 minhash / LSH
  * banding, Charikar '02 simhash).
  *
  * Scale shape shared by all three: per-row sketch (narrow, codegen) ->
  * explode candidate keys -> hash-partitioned self-join per key ->
  * verify only candidate pairs. The all-pairs join never happens.
  */
object SketchDedup {

  /** Distinct word k-shingles — the compiled one-pass kernel
    * [[graft.plans.WordShinglesK]] (evaluates its child exactly once,
    * so inline tokenizer subtrees are safe here, unlike the HOF form it
    * replaced, SketchDedupSpec's parity reference). This single
    * expression feeds the whole sketch family; compiling it moved every
    * shingle-based query (MinHash, prefix-Jaccard, containment, n-gram
    * Jaccard, decontamination).
    */
  def shinglesFromTokens(toks: Column, k: Int = 3): Column =
    graft.plans.WordShinglesK(toks, k)

  // ---- compiled sketch ---------------------------------------------------
  //
  // Higher-order array expressions are CodegenFallback (interpreted) in
  // Spark; the nested transform/array_min tree of the expression form
  // (SketchDedupSpec's shingleHashes/minhashSignature references) costs
  // seconds of JIT warm-up alone and ~10× steady-state vs compiled code.
  // The hot path computes the identical hashes (verified in
  // SketchDedupSpec) in one tight loop per document: no shingle string
  // is ever materialized, and the numHashes-member hash family re-mixes
  // the 8-byte base hash instead of re-hashing the shingle string per
  // seed. Hash parity rules with the expression form:
  //   token hash      = xxhash64(tok)            = hashUTF8String(tok, 42)
  //   k-shingle hash  = xxhash64(h1..hk)         = fold hashLong, seed 42
  //   <k-token doc    = aggregate(th, -1L, xxhash64(acc, h)) fold
  //   signature slot  = min over hs of xxhash64(j, h)
  //                   = min hashLong(h, hashInt(j, 42))

  /** (shingle hashes, signature, band keys) for one document. Band key b
    * folds hashLong over the band's signature slots seeded with
    * hashInt(b, 42) — band identity lives in the seed, so one long column
    * replaces the expression form's "b_hash" strings.
    */
  private[graft] def sketchDoc(s: String, k: Int, numHashes: Int,
                             bands: Int): (Array[Long], Array[Long], Array[Long]) = {
    val empty = (Array.empty[Long], Array.empty[Long], Array.empty[Long])
    if (s == null) return empty
    val t = s.trim
    if (t.isEmpty) return empty
    val toks = t.split("\\s+")
    val th = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      th(i) = XXH64.hashUTF8String(UTF8String.fromString(toks(i)), 42L)
      i += 1
    }
    val hsBuf = new scala.collection.mutable.ArrayBuffer[Long]()
    if (toks.length >= k) {
      val seen = new java.util.HashSet[java.lang.Long]()
      i = 0
      while (i <= toks.length - k) {
        var h = 42L
        var d = 0
        while (d < k) { h = XXH64.hashLong(th(i + d), h); d += 1 }
        if (seen.add(h)) hsBuf += h
        i += 1
      }
    } else {
      var acc = -1L
      i = 0
      while (i < toks.length) {
        acc = XXH64.hashLong(th(i), XXH64.hashLong(acc, 42L))
        i += 1
      }
      hsBuf += acc
    }
    val hs = hsBuf.toArray
    val sig = new Array[Long](numHashes)
    var j = 0
    while (j < numHashes) {
      val seedJ = XXH64.hashInt(j, 42L)
      var mn = Long.MaxValue
      i = 0
      while (i < hs.length) {
        val r = XXH64.hashLong(hs(i), seedJ)
        if (r < mn) mn = r
        i += 1
      }
      sig(j) = mn
      j += 1
    }
    val rowsPerBand = numHashes / bands
    val bk = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = XXH64.hashInt(b, 42L)
      var d = 0
      while (d < rowsPerBand) { h = XXH64.hashLong(sig(b * rowsPerBand + d), h); d += 1 }
      bk(b) = h
      b += 1
    }
    (hs, sig, bk)
  }

  /** Compiled sketch UDF: doc -> struct(hs, bands). */
  def minhashSketch(k: Int, numHashes: Int, bands: Int) =
    udf { (s: String) =>
      val (hs, _, bk) = sketchDoc(s, k, numHashes, bands)
      (hs, bk)
    }

  /** MinHash+LSH candidate pairs, verified with exact shingle Jaccard.
    * bands×rowsPerBand must equal numHashes; the (bands, rows) choice
    * sets the S-curve threshold ≈ (1/bands)^(1/rows).
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 64, bands: Int = 16,
                      threshold: Double = 0.7, shingleSize: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    // One compiled pass computes the whole per-doc sketch ([[sketchTable]]
    // is the single definition of the (id, hs, bands) layout). The sketch
    // is persisted: it feeds both sides of the candidate self-join AND
    // both verify joins — at scale you never recompute a corpus-wide
    // sketch four times.
    val hashed = Persisted(sketchTable(df, idCol, textCol, numHashes, bands, shingleSize))
    hashed.count() // materialize before the plan fans out four ways
    val banded = hashed.select(col("id"), explode(col("bands")).as("band_key"))
    val candidates = banded.select(col("band_key"), col("id").as("id_a"))
      .join(banded.select(col("band_key"), col("id").as("id_b")), Seq("band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // Verify candidates with exact Jaccard over the base-hashed sets;
    // |A∪B| = |A|+|B|-|A∩B| avoids materializing the union array.
    candidates
      .join(hashed.select(col("id").as("id_a"), col("hs").as("sh_a")), Seq("id_a"))
      .join(hashed.select(col("id").as("id_b"), col("hs").as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard",
        col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Result of [[incrementalFromSketches]]: the flagged batch and the
    * batch's own sketch table (reusable — append the kept rows to the
    * corpus state instead of re-sketching). The sketch table is
    * persisted through [[graft.Persisted]], so the caller's scope
    * releases it.
    */
  final case class IncrementalNearDup(flagged: DataFrame, sketches: DataFrame)

  /** Incremental near-dup flagging: flag near-duplicates of a NEW batch,
    * both within the batch and against a persistent corpus sketch
    * table — the production shape of continuous corpus growth. Both
    * sides are already (id, hs, bands) tables, so the same
    * candidate/verify logic serves the XXH64 production sketch
    * ([[sketchTable]]) AND the md5-hex oracle sketch
    * ([[minhashMd5SketchTable]]) — hs element type only has to support
    * equality (array_intersect), band keys only equality (join). The
    * corpus side is the banded state written by earlier runs; history is
    * NEVER re-sketched and never re-shuffled beyond the band-key join:
    *
    *  1. persist the batch's sketches once (exposed as `sketches`),
    *  2. intra-batch: banded self-join + exact-Jaccard verify,
    *     keep-first by id → `is_dup_near_batch`, `batch_dup_of` (lowest
    *     matching smaller id; chains flag every later member — run
    *     [[DupClusters]] when full transitive clusters matter),
    *  3. corpus: new band keys ⋈ corpus band keys, verify, →
    *     `is_dup_near_corpus`, `near_dup_of` (lowest corpus id),
    *  4. append `sketches` rows for docs with NEITHER flag to the state.
    */
  def incrementalFromSketches(batch: DataFrame, batchSketches: DataFrame,
                              corpusSketches: DataFrame, idCol: String,
                              threshold: Double): IncrementalNearDup = {
    val fresh = Persisted(batchSketches)
    fresh.count() // materialize before the multi-way fan-out
    def verify(cands: DataFrame, otherSketches: DataFrame,
               otherIdCol: String): DataFrame =
      cands
        .join(fresh.select(col("id"), col("hs").as("sh_n")), Seq("id"))
        .join(otherSketches.select(col("id").as(otherIdCol), col("hs").as("sh_c")),
          Seq(otherIdCol))
        .withColumn("inter", size(array_intersect(col("sh_n"), col("sh_c"))).cast("double"))
        .withColumn("jaccard",
          col("inter") / (size(col("sh_n")) + size(col("sh_c")) - col("inter")))
        .filter(col("jaccard") >= threshold)
    val bandedNew = fresh.select(col("id"), explode(col("bands")).as("band_key"))
    // intra-batch keep-first: a doc is a batch-dup of the smallest
    // earlier id it collides-and-verifies with
    val intraCands = bandedNew
      .join(bandedNew.select(col("band_key"), col("id").as("batch_id")), Seq("band_key"))
      .filter(col("batch_id") < col("id"))
      .select("id", "batch_id").distinct()
    val intra = verify(intraCands, fresh, "batch_id")
      .groupBy("id").agg(min("batch_id").as("batch_dup_of"))
    val bandedOld = corpusSketches
      .select(col("id").as("corpus_id"), explode(col("bands")).as("band_key"))
    val corpusCands = bandedNew.join(bandedOld, Seq("band_key"))
      .select("id", "corpus_id").distinct()
    val corpus = verify(corpusCands, corpusSketches, "corpus_id")
      .groupBy("id").agg(min("corpus_id").as("near_dup_of"))
    val flagged = batch
      .join(intra.withColumnRenamed("id", "__b_id"),
        col(idCol) === col("__b_id"), "left")
      .withColumn("is_dup_near_batch", col("__b_id").isNotNull)
      .drop("__b_id")
      .join(corpus.withColumnRenamed("id", "__c_id"),
        col(idCol) === col("__c_id"), "left")
      .withColumn("is_dup_near_corpus", col("__c_id").isNotNull)
      .drop("__c_id")
    IncrementalNearDup(flagged, fresh)
  }

  /** Per-doc sketch state rows (id, hs, bands) — what
    * [[incrementalFromSketches]] reads as the corpus side and what each run
    * appends for its kept docs.
    */
  def sketchTable(df: DataFrame, idCol: String, textCol: String,
                  numHashes: Int = 64, bands: Int = 16,
                  shingleSize: Int = 3): DataFrame = {
    val sk = minhashSketch(shingleSize, numHashes, bands)
    // sketch cost is per-row CPU: spread a low-split source (e.g. a
    // single-row-group parquet file) before the kernel, not after
    Skew.ensureParallelism(df.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"), sk(col("__t")).as("sk"))
      .select(col("id"), col("sk._1").as("hs"), col("sk._2").as("bands"))
      .filter(size(col("hs")) > 0)
  }

  /** Oracle-checkable twin of [[sketchTable]]: md5-hex signatures
    * ([[graft.plans.MinhashMd5]], lexicographic-min hex strings — a
    * total order every engine agrees on), band keys as
    * "b:concat(slots)" strings. Same (id, hs, bands) layout, so
    * [[incrementalFromSketches]] consumes either; this one a DuckDB
    * oracle can replay end to end (q_incr_neardup).
    */
  def minhashMd5SketchTable(df: DataFrame, idCol: String, textCol: String,
                            shingleSize: Int = 3, numHashes: Int = 16,
                            bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    Skew.ensureParallelism(df
      .filter(trim(coalesce(col(textCol), lit(""))) =!= "")
      .select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"),
        shinglesFromTokens(TextMetrics.tokens(col("__t")), shingleSize).as("hs"))
      .withColumn("sig", graft.plans.MinhashMd5(col("hs"), numHashes))
      .select(col("id"), col("hs"),
        transform(sequence(lit(0), lit(bands - 1)), b =>
          concat(b.cast("string"), lit(":"),
            concat_ws("", slice(col("sig"), b * rows + 1, lit(rows)))))
          .as("bands"))
  }

  /** Hamming distance between two 64-bit sketches. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: band the 64-bit sketch into four 16-bit
    * chunks (pigeonhole: any pair within Hamming distance 3 shares at
    * least one exact chunk), join per chunk, verify exact distance.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    // the compiled kernel, not the UDF: the sketch is this query's
    // corpus-linear scalar (parity-pinned to the UDF spec form). The
    // kernel is null-intolerant (kernel convention); the spec UDF maps
    // null -> 0L — the coalesce preserves that exact legacy semantic
    // (null and blank docs sketch identically and pair up)
    // persisted pre-explode: the chunk self-join references the sketch
    // twice, and without the persist the corpus-linear kernel ran once
    // per side (the minhashLshPairs never-recompute-a-sketch rule)
    val sk = Persisted(df.select(col(idCol).as("id"),
      coalesce(graft.plans.Simhash64(col(textCol)), lit(0L)).as("sig")))
    val sketched = sk
      .withColumn("chunk", explode(array((0 until 4).map(i =>
        concat_ws("_", lit(i),
          shiftright(col("sig"), 16 * i).bitwiseAND(lit(0xFFFFL)))): _*)))
    val a = sketched.select(col("chunk"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = sketched.select(col("chunk"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("chunk")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sig_a", "sig_b").distinct()
      .withColumn("hamming", hamming(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Oracle-checked SimHash twin — the same graded-twin device as
    * `q_minhash_md5` vs the seeded production sketch: [[simhashPairs]]
    * runs FNV-1a token hashes (engine-private, rows-only), this runs
    * the IDENTICAL banding + Hamming-verify pipeline over a 60-bit
    * md5-prefix token hash that DuckDB replays byte-for-byte
    * (`CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)` — 15 hex chars
    * so the hash stays inside signed BIGINT on both engines). The
    * per-bit majority vote is declarative here (60 integer partial
    * sums in ONE keyed agg with map-side combine — exact arithmetic,
    * so the oracle matches bit-for-bit), and banding is 4×15-bit
    * chunks: Hamming ≤ 3 still pigeonholes into ≥1 shared chunk.
    */
  def simhashMd5Pairs(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3): DataFrame = {
    val Bits = 60
    val tok = df.select(col(idCol).as("id"),
        explode(TextMetrics.tokens(col(textCol))).as("tok"))
      // fused md5-prefix kernel — bit-identical to
      // conv(substring(md5(tok), 1, 15), 16, 10).cast("long")
      .withColumn("h", graft.plans.Md5PrefixLong(col("tok"), 15))
    val bitSums = (0 until Bits).map(b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"b$b"))
    // persisted: the chunk self-join below references the signature
    // table twice (a-side and b-side), and without the persist the
    // whole explode + md5 + 60-bit-sum aggregate ran once per side
    // (the minhashLshPairs never-recompute-a-sketch rule). One long
    // per doc — the smallest cache in the family.
    val sig = Persisted(tok.groupBy(col("id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"),
        (0 until Bits).map(b =>
          when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("sig")))
    val chunked = sig.withColumn("chunk", explode(array((0 until 4).map(i =>
      concat_ws("_", lit(i),
        shiftright(col("sig"), 15 * i).bitwiseAND(lit(0x7FFFL)))): _*)))
    val a = chunked.select(col("chunk"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = chunked.select(col("chunk"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("chunk")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sig_a", "sig_b").distinct()
      .withColumn("hamming", hamming(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"),
        col("hamming").cast("long").as("hamming"))
  }

  /** Exact n-gram Jaccard pairs with first-k-token key blocking —
    * fully SQL-expressible (oracle-checkable) near-dup variant.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 3, blockTokens: Int = 8,
                        threshold: Double = 0.8): DataFrame = {
    val keyed = Persisted(df
      .filter(trim(coalesce(col(textCol), lit(""))) =!= "")
      .select(col(idCol).as("id"), TextMetrics.tokens(col(textCol)).as("toks"))
      .select(col("id"),
        concat_ws(" ", slice(col("toks"), 1, blockTokens)).as("block_key"),
        shinglesFromTokens(col("toks"), shingleSize).as("sh")))
    val a = keyed.select(col("block_key"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = keyed.select(col("block_key"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("block_key")).filter(col("id_a") < col("id_b"))
      // |A∪B| = |A|+|B|-|A∩B| (sets are distinct): one array pass, same
      // double value as the oracle's len(list_distinct(a.sh || b.sh)).
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard",
        col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Exact n-gram Jaccard pairs by LOSSLESS prefix filtering (the
    * PPJoin family — Chaudhuri et al. ICDE'06, Xiao et al. WWW'08),
    * upgrading [[ngramJaccardPairs]]'s first-k-token blocking: that
    * block key misses near-dups whose edit falls in the first k tokens;
    * the prefix filter provably cannot. Order every document's shingle
    * set by ascending global document frequency (rarest first, ties by
    * the shingle's xxhash64 — any consistent total order works); two
    * sets with Jaccard >= t
    * MUST share a shingle within their first n - ceil(t*n) + 1 ordered
    * shingles, so equi-joining on prefix shingles generates a candidate
    * superset, and exact verification makes the output the true
    * all-pairs result.
    *
    * Scale shape: the df table is one keyed count agg (the same
    * inverted-index build as Retrieval); candidates equi-join on
    * *rare* shingles — the frequency ordering steers the join away
    * from common shingles, which is exactly what bounds fan-out (a
    * boilerplate shingle shared by a million docs never lands in a
    * prefix unless a doc is nearly all boilerplate). Verification
    * touches candidate pairs only.
    */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         shingleSize: Int = 3,
                         threshold: Double = 0.8): DataFrame = {
    // Cache lifecycle: the shingled base feeds four subtrees of the
    // returned LAZY frame, so it cannot be unpersisted here; the scope
    // that runs the caller's action releases it (graft.Persisted).
    val base = Persisted(Skew.ensureParallelism(df
      .filter(trim(coalesce(col(textCol), lit(""))) =!= "")
      .select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"),
        shinglesFromTokens(TextMetrics.tokens(col("__t")), shingleSize).as("sh")))
    // The shingle is an equality-only ordering/join key from here on —
    // it never reaches the output (verification intersects the original
    // string arrays off `base`) — so it travels as xxhash64 (8 bytes,
    // hashed on the exploded column under codegen, never inside a
    // transform() lambda): the df aggregate, the regroup, the per-doc
    // sort payload, the corpus-row-sized `ordered` cache and the
    // candidate self-join all narrow ~3×. The prefix-filter guarantee
    // holds for ANY consistent total order (Xiao et al.: the order is
    // arbitrary, commonly ascending df), so ordering by (df, hash)
    // instead of (df, text) still yields a candidate SUPERSET of all
    // true pairs, and exact verification makes the output identical
    // (row-identical at sf0.01/sf0.1; cache footprint 19.4 → 14.8 MiB
    // at sf0.1 with identical wall-clock, OPTIMIZATION_r15.md — the r15
    // footprint remedy for corpus-volume caches).
    val ex = base.select(col("id"), explode(col("sh")).as("__s0"))
      .select(col("id"), xxhash64(col("__s0")).as("s"))
    // sh is distinct within a doc, so count(*) = document frequency.
    // Only shingles with df > 1 matter for the ordering — every df=1
    // shingle ties at (1, text) regardless — and that repeated sliver
    // is boilerplate-vocabulary-sized, so it broadcasts: the dominant
    // df=1 mass never shuffles for its own frequency. (If the repeated
    // set outgrew the broadcast budget on a pathological corpus, drop
    // the hint and this becomes the plain shuffle join — same result.)
    val rep = ex.groupBy("s").agg(count(lit(1)).as("df_s"))
      .filter(col("df_s") > 1)
    // (Two map-lookup variants of this ordering were tried and REJECTED
    // on min-of-3 A/B at sf0.1: a one-row corpus-wide df map lost 10× —
    // element_at on UnsafeMapData linear-scans the whole df sliver per
    // shingle — and a per-doc sliver map (only the doc's repeated
    // shingles, built from the df>1 hits) still lost 30%: the join of
    // the persisted base against the per-doc maps costs more than the
    // regroup it saves. The explode+regroup below shuffles every
    // (id, struct(df, s)) occurrence once, keeps per-row work at
    // O(n log n), and stays the fastest measured form.)
    // persisted: the candidate self-join below references the exploded
    // prefix twice (a-side and b-side), and without the persist the
    // WHOLE ordering pipeline — df join, regroup shuffle, per-doc sort —
    // ran once per side (the r14 plan dump showed the two identical
    // ObjectHashAggregate subtrees; the same never-recompute-a-sketch
    // rule minhashLshPairs documents). One row per doc, so the cache is
    // corpus-row-sized, not posting-sized. Re-A/B'd under driver-like
    // conditions in r15 (cold JVM, isolated, interleaved min-of-3,
    // VERDICT r14 item 1): 1.36 s persisted vs 1.95 s without — the
    // driver's flat panel reading was suite-context noise, persist
    // KEPT on a measured 1.4× win.
    val ordered = Persisted(ex.join(broadcast(rep), Seq("s"), "left")
      .select(col("id"), struct(
        coalesce(col("df_s"), lit(1L)).as("df_s"), col("s")).as("__ds"))
      .groupBy("id")
      .agg(array_sort(collect_list(col("__ds"))).as("ord")))
    val n = size(col("ord"))
    val p = (n - ceil(n.cast("double") * lit(threshold)) + 1).cast("int")
    val prefix = slice(transform(col("ord"), x => x.getField("s")), lit(1), p)
    val cands = ordered.select(col("id"), explode(prefix).as("s"))
    val pairs = cands.select(col("s"), col("id").as("id_a"))
      .join(cands.select(col("s"), col("id").as("id_b")), Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    pairs
      .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      // PPJoin's companion size filter: J(A,B) >= t forces
      // min(|A|,|B|) >= t * max(|A|,|B|), so size-mismatched candidate
      // pairs drop BEFORE the O(|A|+|B|) intersect — lossless by the
      // inequality, and the pruned pairs are exactly the ones whose
      // intersect work the threshold filter would discard anyway
      .filter(size(col("sh_a")).cast("double") >= lit(threshold) * size(col("sh_b")) &&
        size(col("sh_b")).cast("double") >= lit(threshold) * size(col("sh_a")))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard",
        col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Winnowing document fingerprint (Schleimer/Wilkerson/Aiken, SIGMOD'03
    * — the standard rolling-hash fingerprint): hash every character
    * k-gram of the canonical text, slide a window of `w` hashes, keep
    * each window's minimum. Guarantee: any shared substring of length
    * ≥ w+k-1 contributes at least one common fingerprint, so fingerprint
    * intersection finds partial overlaps (quotes, boilerplate reuse)
    * that whole-document hashing misses.
    *
    * Output: (id, fp) — one row per distinct selected hash. Match-finding
    * is then a hash-partitioned self-join on fp, the same candidate-only
    * shape as LSH; per-row work is O(n·w) inside one codegen'd
    * projection, no shuffle.
    *
    * Hashes are md5 hex STRINGS, not ints: lexicographic min over hex is
    * identical in every engine (byte-wise ASCII compare), which keeps
    * the op oracle-checkable without a shared integer-hash function.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, w: Int = 4): DataFrame =
    winnowSelected(df, idCol, textCol, k, w)
      .select(col("id"), explode(array_distinct(col("sels"))).as("fp"))

  /** Partial-overlap pair detection over winnowing fingerprints — the
    * match LSH can't make: two documents sharing one long substring
    * (a quoted paragraph, reused boilerplate) inside otherwise-different
    * text have near-zero whole-document similarity but MUST share
    * fingerprints (the winnowing guarantee). Pairing is a
    * hash-partitioned self-join on the fingerprint — candidate-only,
    * never all-pairs.
    *
    * `maxDf` drops fingerprints present in more than that many docs
    * before pairing: ubiquitous grams are uninformative for overlap AND
    * are exactly the pairing step's quadratic hot keys, so the guard is
    * both semantics and the 100 TB skew protection.
    *
    * Shape: ONE shuffle groups the fingerprint table by fp (the
    * bounded-state id collector [[BoundedCollect]] — per-buffer state
    * is O(maxDf) even on a fingerprint shared by millions of docs, so
    * the df gate cannot OOM the aggregate it feeds), pairs are
    * generated in-row from the ≤maxDf sorted id list, then one more
    * shuffle counts shared fps per pair. The earlier persist +
    * count-join + self-join form scanned the big fingerprint table
    * three times and shuffled it twice more.
    */
  def winnowOverlapPairs(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, w: Int = 4, maxDf: Int = 20,
                         minShared: Int = 8): DataFrame = {
    val (idCast, collector) =
      BoundedCollect.forIdType(df.schema(idCol).dataType, maxDf)
    // the 32-char hex fingerprint is an equality-only group key that
    // never reaches the output (ids and counts only) — ship 8 hashed
    // bytes through the one keyed exchange instead (r15; the dup-span /
    // source-overlap fingerprinting precedent, oracle-checked)
    val fps = winnowFingerprints(df, idCol, textCol, k, w)
      .select(idCast(col("id")).as("id"), xxhash64(col("fp")).as("fp"))
    val byFp = fps.groupBy("fp")
      .agg(collector(col("id")).as("c"))
      .select(col("c.ids").as("ids"))
      .filter(size(col("ids")).between(2, maxDf))
      .withColumn("ids", array_sort(col("ids")))
    // all (i<j) index pairs of the sorted id list; ids are distinct per
    // fp (winnowFingerprints dedups per doc), so id_a < id_b holds
    val pairs = byFp.select(explode(flatten(expr(
      """transform(ids, (a, i) ->
        |  transform(slice(ids, i + 2, size(ids)), b -> struct(a AS id_a, b AS id_b)))
        |""".stripMargin))).as("p"))
    // the bounded collector coerced ids to bigint/string for its two
    // aggregator variants; restore the caller's id dtype on the way out
    // (exact round-trip for integral and string ids — the id contract)
    val idType = df.schema(idCol).dataType
    pairs.select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("id_a").cast(idType).as("id_a"),
        col("id_b").cast(idType).as("id_b"), col("n_shared"))
  }

  /** Compact per-document form: fingerprint count + md5 digest of the
    * sorted fingerprint set. Entirely per-row (no explode, no shuffle) —
    * the shape for corpus-level fingerprint manifests and fast
    * whole-set equality checks.
    */
  def winnowDigest(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 8, w: Int = 4): DataFrame =
    winnowSelected(df, idCol, textCol, k, w)
      .withColumn("fps", array_sort(array_distinct(col("sels"))))
      .select(col("id"), size(col("fps")).cast("long").as("n_fp"),
        md5(concat_ws("", col("fps"))).as("fp_digest"))

  private def winnowSelected(df: DataFrame, idCol: String, textCol: String,
                             k: Int, w: Int): DataFrame = {
    val canon = graft.text.Normalize.canonExact(col(textCol))
    df.select(col(idCol).as("id"), canon.as("canon"))
      .filter(length(col("canon")) >= k + w - 1) // need at least one full window
      // native kernel, NOT the transform/slice HOF form: CollapseProject
      // inlines a single-use gram-hash array into the window lambda, so
      // the HOF form re-hashes all n grams once per window position —
      // O(n^2) md5 calls per row (77 s for 500 docs, measured). The
      // kernel hashes each gram once + monotonic-deque window minima.
      .withColumn("sels", graft.plans.WinnowSelect(col("canon"), k, w))
  }

  /** Oracle-checkable MinHash+LSH near-dup pairs: slot hashes are md5
    * hex STRINGS minimized lexicographically (byte-wise ASCII — the
    * same total order in every engine), seeded by a slot-index prefix
    * (`md5(j || ':' || shingle)`). The production sketch above keys on
    * XXH64 with engine-defined integer seeds — fast, but no other
    * engine can replay it, so its driver check is rows-only; this
    * variant trades hash throughput for a full DuckDB replica of
    * signatures, banding AND verification (hash-equality checked end
    * to end).
    *
    * Same scale shape as [[minhashLshPairs]]: banded signatures join
    * per (band, band-signature) bucket — never all-pairs — and exact
    * Jaccard runs on candidates only. numHashes=16 in 4 bands of 4
    * centers the S-curve near J ≈ (1/4)^(1/4) ≈ 0.71.
    */
  def minhashMd5Pairs(df: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int = 3, numHashes: Int = 16,
                      bands: Int = 4, threshold: Double = 0.7): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // feeds the banding explode and both verify joins: persist so the
    // 16-slot signature is computed once per doc
    val base = Persisted(Skew.ensureParallelism(df
      .filter(trim(coalesce(col(textCol), lit(""))) =!= "")
      .select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"),
        shinglesFromTokens(TextMetrics.tokens(col("__t")), shingleSize).as("sh"))
      .withColumn("sig", graft.plans.MinhashMd5(col("sh"), numHashes)))
    val banded = base
      .select(col("id"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("b"))
      .select(col("id"), col("b"),
        concat_ws("", slice(col("sig"), col("b") * rows + 1, lit(rows))).as("band"))
    val cands = banded.select(col("b"), col("band"), col("id").as("id_a"))
      .join(banded.select(col("b"), col("band"), col("id").as("id_b")),
        Seq("b", "band"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cands
      .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard",
        col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Asymmetric containment near-dup pairs: containment(A→B) =
    * |shingles(A) ∩ shingles(B)| / |shingles(A)| — Broder '97's
    * companion measure to Jaccard (there "resemblance"). Catches the
    * case Jaccard structurally misses: a short document embedded
    * verbatim in a much longer one, where the union is dominated by
    * the long side and resemblance stays near zero however complete
    * the overlap.
    *
    * Candidates come from shared shingles gated by a document-frequency
    * band [2, maxDf] (skew guard + boilerplate suppressor in one, the
    * [[winnowOverlapPairs]] trade): a shingle in thousands of docs
    * identifies boilerplate, not containment, and would fan out
    * quadratically. ONE shuffle groups the posting table by shingle
    * with the bounded-state id collector ([[BoundedCollect]] — per-group
    * state is O(maxDf) even on a million-doc boilerplate shingle), pairs
    * are emitted in-row from each kept group (≤ maxDf² per shingle), and
    * one more shuffle counts shared shingles per ordered pair. Per-doc
    * shingle-set sizes come straight from the shingle ARRAY length —
    * no aggregation pass. (The earlier count-gate + join-back +
    * self-join form scanned the posting table three times and shuffled
    * it twice more.)
    *
    * Output is directional: (id_a, id_b), a ≠ b, containment of A's
    * shingles in B — both directions appear when both clear `threshold`.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int = 3, maxDf: Int = 20,
                       threshold: Double = 0.9): DataFrame = {
    val (idCast, collector) =
      BoundedCollect.forIdType(df.schema(idCol).dataType, maxDf)
    // feeds the posting explode + sizes
    val base = Persisted(Skew.ensureParallelism(df
      .filter(trim(coalesce(col(textCol), lit(""))) =!= "")
      .select(idCast(col(idCol)).as("id"), col(textCol).as("__t")))
      .select(col("id"),
        shinglesFromTokens(TextMetrics.tokens(col("__t")), shingleSize).as("sh")))
    val bySh = base.select(col("id"), explode(col("sh")).as("g"))
      .groupBy("g")
      .agg(collector(col("id")).as("c"))
      .select(col("c.ids").as("ids"))
      .filter(size(col("ids")).between(2, maxDf))
    // all ordered pairs (a ≠ b) of each kept group, in-row; ids are
    // distinct per shingle (shingle sets are distinct per doc)
    val pairs = bySh.select(explode(expr(
      """flatten(transform(ids, a ->
        |  transform(filter(ids, b -> b != a), b -> struct(a AS id_a, b AS id_b))))
        |""".stripMargin)).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
    val sizes = base.select(col("id").as("id_a"),
      size(col("sh")).cast("long").as("n_sh"))
    // restore the caller's id dtype (the bounded collector coerced to
    // bigint/string); exact round-trip for integral and string ids
    val idType = df.schema(idCol).dataType
    pairs
      .join(sizes, Seq("id_a"))
      .withColumn("containment",
        col("n_shared").cast("double") / col("n_sh").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a").cast(idType).as("id_a"),
        col("id_b").cast(idType).as("id_b"),
        col("n_shared"), col("containment"))
  }

  /** Truncation accounting for [[containmentPairs]]'s document-frequency
    * band: the [2, maxDf] gate is simultaneously the semantics guard
    * (ubiquitous shingles identify boilerplate, not containment) and the
    * skew guard (a million-doc shingle would fan out quadratically) —
    * but it is a SILENT candidate cap unless its cost is reported. One
    * row out: total shingle groups, singletons (below the band),
    * in-band groups (the ones that generated pairs), groups dropped
    * above the band, and the total postings those dropped groups
    * carried.
    *
    * Scale shape: per-shingle dfs are one map-side-combined count
    * (8 bytes of state per group per task — no bounded collector
    * needed because no ids are retained), folded to a single row by a
    * second partial-aggregated pass. Nothing here is capped, so the
    * report is exact even where the pair pass truncates.
    */
  def containmentBandReport(df: DataFrame, idCol: String, textCol: String,
                            shingleSize: Int = 3,
                            maxDf: Int = 20): DataFrame = {
    val dfs = Skew.ensureParallelism(df
      .filter(trim(coalesce(col(textCol), lit(""))) =!= "")
      .select(col(textCol).as("__t")))
      .select(explode(
        shinglesFromTokens(TextMetrics.tokens(col("__t")), shingleSize)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("n"))
    dfs.agg(
      count(lit(1)).as("n_groups"),
      sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_singleton"),
      sum(when(col("n").between(2, maxDf), 1L).otherwise(0L)).as("n_in_band"),
      sum(when(col("n") > maxDf, 1L).otherwise(0L)).as("n_above_band"),
      sum(when(col("n") > maxDf, col("n")).otherwise(0L))
        .as("n_postings_dropped"))
  }
}
