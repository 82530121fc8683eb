package graft

import java.nio.file.Files

import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** E1 checkpointed orchestrator: per-stage materialization, drop-reason
  * side outputs, and resume-from-stage equivalence at sf0.001.
  */
class OrchestratorSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val outDir = {
    val dir = Files.createTempDirectory("graft-orch").toString
    val raw = Pipeline.fromDocuments(Tables.documents(spark, sfDir))
      .select("url", "text")
    Orchestrator.run(spark, dir, raw = Some(raw))
    dir
  }

  private def stageNames(from: Int): Seq[String] =
    Orchestrator.stages().collect { case (v, name, _) if v >= from => s"v$v:$name" }

  /** `run_summary.json` must list `expected` in order, and each row's
    * kept/dropped must equal the row counts of the parquets it names
    * (dropped = -1 marks a stage without a dropped split).
    */
  private def assertSummaryMatchesParquet(dir: String, expected: Seq[String]): Unit = {
    import spark.implicits._
    val txt = Files.readString(java.nio.file.Paths.get(s"$dir/run_summary.json"))
    val rows = spark.read.json(Seq(txt).toDS())
      .select(explode(col("stages")).as("s"))
      .select("s.stage", "s.kept", "s.dropped").as[(String, Long, Long)].collect()
    assert(rows.map(_._1).toSeq === expected)
    def rowsIn(p: String) = spark.read.parquet(p).count()
    rows.foreach { case (stage, kept, dropped) =>
      val v = stage.stripPrefix("v").takeWhile(_ != ':').toInt
      assert(kept === rowsIn(Orchestrator.versionPath(dir, v)), stage)
      if (dropped != -1L)
        assert(dropped === rowsIn(Orchestrator.droppedPath(dir, v)), stage)
    }
  }

  test("an empty corpus runs every stage and summarizes zero counts") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-orch-empty").toString
    Orchestrator.run(spark, dir,
      raw = Some(Seq.empty[(String, String)].toDF("url", "text")))
    assertSummaryMatchesParquet(dir, stageNames(2))
  }

  test("CLI: a malformed or out-of-range fromVersion fails with the usage message") {
    Seq("x", "2.5", "0", "8").foreach { v =>
      val e = intercept[IllegalArgumentException](
        Orchestrator.main(Array(sfDir, "unused-out", v)))
      assert(e.getMessage.contains("usage: Orchestrator"), v)
    }
  }

  test("ingest: the injectable P11 batch timestamp lands verbatim; the " +
    "default is a parseable instant") {
    import spark.implicits._
    val raw = Seq(("https://x/1", "some text")).toDF("url", "text")
    val injected = Pipeline.ingest(raw, ingestTs = Some("2026-01-01T00:00:00Z"))
      .select("ingest_ts").collect()(0).getString(0)
    assert(injected === "2026-01-01T00:00:00Z")
    val default = Pipeline.ingest(raw)
      .select("ingest_ts").collect()(0).getString(0)
    java.time.Instant.parse(default) // throws if not a valid instant
  }

  test("every stage boundary materializes: v1..v7 + dropped_v2..v7") {
    (1 to 7).foreach { v =>
      val p = Orchestrator.versionPath(outDir, v)
      assert(Files.exists(java.nio.file.Paths.get(p)), s"missing $p")
    }
    (2 to 7).foreach { v =>
      val p = Orchestrator.droppedPath(outDir, v)
      assert(Files.exists(java.nio.file.Paths.get(p)), s"missing $p")
    }
    assert(Files.exists(java.nio.file.Paths.get(s"$outDir/run_summary.json")))
  }

  test("per-stage drop-reason tables: reasons belong to their stage") {
    // Stage 2 dropped rows must carry only stage-2 reasons (prefilter /
    // lang / quality), never later-stage ones; stage 4 only dup reasons.
    val s2Reasons = spark.read.parquet(Orchestrator.droppedPath(outDir, 2))
      .select("drop_reason").distinct().collect().map(_.getString(0)).toSet
    val stage2Expected = Set("missing", "empty_after_clean", "null_like",
      "numeric_like", "too_short_chars", "too_short_words", "too_long",
      "lang_unknown", "non_english", "low_lang_confidence", "non_latin_heavy",
      "empty_text", "too_short", "low_alpha_ratio", "high_repetition",
      "blocked_url", "pii_heavy", "high_toxicity")
    assert(s2Reasons.nonEmpty && s2Reasons.subsetOf(stage2Expected), s2Reasons)

    val s4Reasons = spark.read.parquet(Orchestrator.droppedPath(outDir, 4))
      .select("drop_reason").distinct().collect().map(_.getString(0)).toSet
    assert(s4Reasons.subsetOf(Set("exact_duplicate", "near_duplicate")), s4Reasons)

    // kept frames carry no drop_reason at any version
    (2 to 7).foreach { v =>
      val n = spark.read.parquet(Orchestrator.versionPath(outDir, v))
        .filter(col("drop_reason").isNotNull).count()
      assert(n === 0, s"v$v has $n rows with drop_reason set")
    }
  }

  test("stage flow conserves rows: kept(v) + dropped(v) == kept(v-1)") {
    (2 to 6).foreach { v =>
      val in = spark.read.parquet(Orchestrator.versionPath(outDir, v - 1)).count()
      val kept = spark.read.parquet(Orchestrator.versionPath(outDir, v)).count()
      val drop = spark.read.parquet(Orchestrator.droppedPath(outDir, v)).count()
      assert(kept + drop === in, s"v$v: $kept + $drop != $in")
    }
    // v7 (shard) drops nothing, adds global_seq/shard_id
    val v7 = spark.read.parquet(Orchestrator.versionPath(outDir, 7))
    assert(v7.count() ===
      spark.read.parquet(Orchestrator.versionPath(outDir, 6)).count())
    assert(v7.columns.contains("shard_id") && v7.columns.contains("global_seq"))
    // the summary's counts (observed on the writes) equal the parquets'
    assertSummaryMatchesParquet(outDir, stageNames(2))
  }

  test("fused pipeline equals checkpointed pipeline on kept rows") {
    // The single-frame fused mode (Pipeline.run) masks dropped rows and
    // keeps computing; the orchestrator physically splits per stage like
    // the reference. With doomed rows ordered last in the dedup windows,
    // the two modes must produce the IDENTICAL kept set with identical
    // stage columns — the single-frame design's core claim.
    val raw = Pipeline.fromDocuments(Tables.documents(spark, sfDir))
      .select("url", "text")
    val cols = Seq("doc_id", "lang_pred", "token_count", "has_pii",
      "is_dup_exact", "is_dup_near", "quality_score", "subset", "n_tokens",
      "global_seq", "shard_id")
    val fused = Pipeline.shard(Pipeline.run(Pipeline.ingest(raw)))
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    val checkpointed = spark.read.parquet(Orchestrator.versionPath(outDir, 7))
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(fused === checkpointed)
  }

  test("resume from stage 5 reproduces the original v7 exactly") {
    val original = spark.read.parquet(Orchestrator.versionPath(outDir, 7))
      .select("doc_id", "quality_score", "subset", "n_tokens", "shard_id")
      .collect().map(_.toSeq).toSet
    // wipe v5..v7, rerun from stage 5 against the surviving v4
    Orchestrator.run(spark, outDir, fromVersion = 5)
    val resumed = spark.read.parquet(Orchestrator.versionPath(outDir, 7))
      .select("doc_id", "quality_score", "subset", "n_tokens", "shard_id")
      .collect().map(_.toSeq).toSet
    assert(resumed === original)
    assertSummaryMatchesParquet(outDir, stageNames(5))
  }

  test("incremental run matches a from-scratch run on content columns") {
    // snapshot B = A with the tail third dropped and fresh docs added
    // (doc_id is content-addressed, so an edited doc IS a remove+add)
    val rawA = Pipeline.fromDocuments(Tables.documents(spark, sfDir))
      .select("url", "text")
    val keepIds = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 3 =!= 0).select("doc_id")
    val rawB = Pipeline.fromDocuments(
      Tables.documents(spark, sfDir).join(keepIds, Seq("doc_id"), "left_semi")
        .unionByName(Tables.documents(spark, sfDir)
          .filter(col("doc_id") % 3 === 0).limit(30)
          .withColumn("text", concat(lit("fresh revision: "), coalesce(col("text"), lit(""))))
          .withColumn("doc_id", col("doc_id") + 1000000L)))
      .select("url", "text")
    val prevDir = Files.createTempDirectory("graft-inc-prev").toString
    // a run releases every cache it takes and none the caller owns
    spark.catalog.clearCache()
    val callerOwned = spark.range(5).toDF("x").persist()
    callerOwned.count()
    Orchestrator.run(spark, prevDir, raw = Some(rawA))
    assert(callerOwned.storageLevel === StorageLevel.MEMORY_AND_DISK,
      "run evicted a frame the caller cached")
    callerOwned.unpersist(blocking = true)
    assert(GraftSqlBridge.noCachedPlans(spark),
      "run left DataFrame-level caches pinned")
    // the production CLI never calls clearCache, so incrementalRun must
    // release its own stage-2/3 persists (ADVICE r12): start from a
    // clean cache and assert none survive the call
    spark.catalog.clearCache()
    val incDir = Files.createTempDirectory("graft-inc-out").toString
    val incr = Orchestrator.incrementalRun(spark, prevDir, incDir, rawB)
    assert(GraftSqlBridge.noCachedPlans(spark),
      "incrementalRun left DataFrame-level caches pinned")
    assertSummaryMatchesParquet(incDir, "v3:incremental_prefix" +: stageNames(4))
    val fullDir = Files.createTempDirectory("graft-inc-full").toString
    Orchestrator.run(spark, fullDir, raw = Some(rawB))
    // content columns must agree; seq-derived artifacts (shard_id,
    // global_seq) legitimately follow each run's ingest interleaving
    val cols = Seq("doc_id", "lang_pred", "token_count", "has_pii",
      "quality_score", "subset", "n_tokens")
    val a = incr.select(cols.map(col): _*).collect().map(_.toSeq).toSet
    val b = spark.read.parquet(Orchestrator.versionPath(fullDir, 7))
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(a === b)
  }
}
