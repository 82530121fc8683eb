package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextMetrics
import graft.Persisted

/** Model-free text embeddings via the feature-hashing trick
  * (Weinberger et al. 2009): bucket = the token's first two md5 hex
  * chars mod `dim`, the third hex char's parity gives the ±1 sign
  * (even → +1) that keeps collisions unbiased, component = signed
  * token count. No
  * vocabulary, no model, no fitting — the embedder is a pure
  * projection, so the entire text corpus acquires a vector column in
  * the same codegen pass as any other scalar stage, and every
  * embedding operator in the engine (ANN top-k, LSH near-dup, IVF,
  * PQ) becomes applicable to raw documents.
  *
  * Determinism is the design center: components are INTEGER-valued
  * (signed counts, exactly representable as doubles), so dot products
  * and squared norms are exact integer arithmetic in IEEE doubles
  * (far below 2^53 at any realistic token count) — cosine over them
  * is bit-identical in any engine and in any fold order, with no
  * quantization tricks needed. Cosine is scale-invariant, so skipping
  * normalization loses nothing.
  *
  * Scale shape: per-token (bucket, sign) pairs are computed once
  * (two md5 calls per token), then the dim-component build is an
  * in-row fold — O(dim · tokens) adds per document, zero shuffles,
  * zero state. At 100 TB this is exactly as scalable as `length()`.
  */
object HashedEmbed {

  val Dim = 64

  /** The signed-count vector as array<double> (integer-valued), via
    * the compiled one-pass kernel [[graft.plans.HashedSignedCount]] —
    * one md5 + one primitive-array add per token inside whole-stage
    * codegen (the interpreted HOF form it replaced costs ~4s vs <1s at
    * sf0.1; SimilaritySpec keeps that form as the parity reference).
    */
  def hashedVector(toks: Column, dim: Int = Dim): Column =
    graft.plans.HashedSignedCount(toks, dim)

  /** Per-doc embedding summary with harness-safe scalar columns:
    * token count, nonzero components, exact squared norm (integer),
    * and an md5 over the comma-joined integer components as the
    * vector's content address.
    */
  def embedDocs(df: DataFrame, idCol: String = "doc_id",
                textCol: String = "text", dim: Int = Dim): DataFrame = {
    val staged = df.select(col(idCol),
      TextMetrics.tokens(col(textCol)).as("__toks"))
      .withColumn("__v", hashedVector(col("__toks"), dim))
    staged.select(col(idCol),
      size(col("__toks")).cast("long").as("n_tokens"),
      size(filter(col("__v"), x => x =!= 0.0)).cast("long").as("nnz"),
      aggregate(transform(col("__v"), x => x * x), lit(0.0), (a, x) => a + x)
        .cast("long").as("norm_sq"),
      md5(array_join(transform(col("__v"), x => x.cast("long").cast("string")),
        ",")).as("emb_md5"))
  }

  /** Semantic near-duplicate TEXT pairs with no model anywhere:
    * hashed vectors (compiled kernel) + multi-table random-hyperplane
    * LSH ([[Similarity.nearDupPairsRpLsh]]) + exact-cosine
    * verification on candidates only. Catches paraphrase-level
    * near-dups (token-bag overlap under reordering/insertion) that
    * shingle-based dedup misses, at the same banded-LSH scale shape —
    * candidates join per (table, bucket), never all-pairs.
    *
    * Random hyperplanes, NOT axis-aligned sign bits: hashed count
    * vectors share their common-token dims corpus-wide, so raw signs
    * barely vary between documents and axis-aligned buckets degenerate
    * to candidates ≈ all-pairs (measured at sf0.1 — see
    * [[graft.plans.RpLshBuckets]]). Zero-norm docs are excluded
    * (cosine undefined). Fully oracle-checkable: vectors and
    * hyperplanes are deterministic integers/±1, dots are exact integer
    * arithmetic, and cosine keeps DuckDB's fold order.
    */
  def textNearDup(df: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text", threshold: Double = 0.9,
                  nbits: Int = 8, tables: Int = 8, dim: Int = Dim): DataFrame = {
    // banding reads the vectors twice (both join sides) and the verify
    // joins twice more: persist so the text is hashed once per doc
    val vecs = Persisted(Skew.ensureParallelism(
        df.select(col(idCol).cast("long").as("vec_id"), col(textCol).as("__t")))
      .select(col("vec_id"),
        hashedVector(TextMetrics.tokens(col("__t")), dim).as("embedding"))
      .filter(aggregate(transform(col("embedding"), x => x * x),
        lit(0.0), (a, x) => a + x) > 0.0))
    Similarity.nearDupPairsRpLsh(vecs, threshold, nbits, tables)
  }

  /** Brute-force cosine top-k over the hashed document vectors —
    * the full text→vector→ANN path with no model anywhere. Zero-norm
    * docs (no tokens, or signs fully cancelled) are excluded on both
    * sides: cosine is undefined there, and NaN ordering is the kind of
    * cross-engine edge this engine refuses to leave implicit.
    *
    * Same scale shape as [[Similarity.annTopK]]: broadcast query rows,
    * one corpus scan, bounded-heap ranking.
    */
  def textAnnTopK(df: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text", nQueries: Int = 5,
                  k: Int = 5, dim: Int = Dim): DataFrame = {
    // feeds both the query side and the corpus side of the scored
    // join — persist so tokenize+hash runs once per doc, not twice
    val vecs = Persisted(df.select(col(idCol).cast("long").as("vec_id"),
        hashedVector(TextMetrics.tokens(col(textCol)), dim).as("v"))
      .withColumn("__n2",
        aggregate(transform(col("v"), x => x * x), lit(0.0), (a, x) => a + x))
      .filter(col("__n2") > 0.0))
    val q = vecs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = vecs
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cosine", Similarity.cosine(col("qv"), col("v")))
      .select("query_id", "vec_id", "cosine")
    TopK.perQuery(scored, k)
  }
}
