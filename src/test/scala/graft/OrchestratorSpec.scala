package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, TestSqlBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.Shard
import graft.sources.Sinks

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

  /** The (stage, kept, dropped) rows of `dir`'s `run_summary.json`. */
  private def summaryRows(dir: String): Seq[(String, Long, Long)] = {
    import spark.implicits._
    val txt = Files.readString(java.nio.file.Paths.get(s"$dir/run_summary.json"))
    spark.read.json(Seq(txt).toDS())
      .select(explode(col("stages")).as("s"))
      .select("s.stage", "s.kept", "s.dropped").as[(String, Long, Long)].collect().toSeq
  }

  /** `run_summary.json` must list `expected` in order, and each row's
    * kept/dropped must equal the row counts of the parquets it names
    * (dropped = -1 marks a stage without a dropped split).
    */
  private def assertSummaryMatchesParquet(dir: String, expected: Seq[String]): Unit = {
    val rows = summaryRows(dir)
    assert(rows.map(_._1) === expected)
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

  /** Exports `sharded` like a training run does — sharded JSONL plus
    * the manifest — and holds the manifest to the deliverables.
    */
  private def assertManifestContract(sharded: DataFrame): Unit = {
    val out = Files.createTempDirectory("graft-export").toString
    Sinks.writeShardedTrainingJsonl(sharded, s"$out/train")
    Shard.writeManifest(sharded, s"$out/manifest.json", "graft-native",
      "1970-01-01T00:00:00Z")
    val manifest = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$out/manifest.json"))
    val global = manifest.get("global").get(0)
    val shards = manifest.get("shards").elements().asScala.toSeq
    val ids = shards.map(_.get("shard_id").asLong)
    shards.foreach { sh =>
      val dir = java.nio.file.Paths.get(s"$out/train/shard_id=${sh.get("shard_id").asLong}")
      assert(Files.isDirectory(dir), s"missing $dir")
      assert(sh.get("filename").asText === f"train_shard_${sh.get("shard_id").asLong}%05d.jsonl")
    }
    val rows = sharded.count()
    val lines = spark.read.text(s"$out/train").count()
    val tokens = sharded.agg(coalesce(sum("n_tokens"), lit(0L))).head().getLong(0)
    assert(global.get("num_shards").asLong === ids.size)
    assert(global.get("total_docs").asLong === rows)
    assert(global.get("total_docs").asLong === lines)
    assert(global.get("total_tokens").isIntegralNumber)
    assert(global.get("total_tokens").asLong === tokens)
    assert(ids === ids.sorted)
    assert(ids.distinct === ids)
    assert(shards.map(_.get("num_docs").asLong).sum === rows)
  }

  test("manifest contract: v7 exported as sharded JSONL matches its manifest") {
    val v7 = spark.read.parquet(Orchestrator.versionPath(outDir, 7))
    assertManifestContract(v7)
    // several shards, to hold the per-shard list to shard_id order
    val resharded = Shard.assignShards(v7.drop("global_seq", "shard_id"), docsPerShard = 1)
    assert(resharded.count() > 1)
    assertManifestContract(resharded)
    // an empty input: no shards, zero docs and zero tokens
    assertManifestContract(v7.limit(0))
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

  test("fused deliverables in a scope: no range exchange, no persistent RDD left") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = Files.createTempDirectory("graft-fused-export").toString
    val (plans, _) = executedPlans(Persisted.owned {
      val sharded = Pipeline.shard(Pipeline.run(Pipeline.ingest(
        Pipeline.fromDocuments(Tables.documents(spark, sfDir)).select("url", "text"))))
      Sinks.writeShardedTrainingJsonl(sharded, s"$out/train")
      Shard.writeManifest(sharded, s"$out/manifest.json", "graft-native",
        "1970-01-01T00:00:00Z")
    })
    assert(plans.nonEmpty)
    assert(rangeExchanges(plans).isEmpty, plans.mkString("\n----\n"))
    assert(sc.getPersistentRDDs.keySet -- before === Set.empty,
      "the scope left a persistent RDD")
  }

  test("checkpointed stage 7: no range exchange, no persistent RDD left, same v7") {
    val sc = spark.sparkContext
    val dir = Files.createTempDirectory("graft-orch-v7").toString
    val v6 = java.nio.file.Paths.get(Orchestrator.versionPath(outDir, 6))
    Files.walk(v6).iterator().asScala.foreach { f =>
      Files.copy(f, java.nio.file.Paths.get(Orchestrator.versionPath(dir, 6))
        .resolve(v6.relativize(f).toString))
    }
    val before = sc.getPersistentRDDs.keySet
    val (plans, _) = executedPlans(Orchestrator.run(spark, dir, fromVersion = 7))
    assert(plans.nonEmpty)
    assert(rangeExchanges(plans).isEmpty, plans.mkString("\n----\n"))
    assert(sc.getPersistentRDDs.keySet -- before === Set.empty,
      "stage 7 left a persistent RDD")
    def v7(d: String) = spark.read.parquet(Orchestrator.versionPath(d, 7))
      .select("doc_id", "global_seq", "shard_id").collect().map(_.toSeq).toSet
    assert(v7(dir) === v7(outDir))
  }

  test("fused run: no cached plan outside a scope, no persistent RDD inside one") {
    val sc = spark.sparkContext
    def fused() = Pipeline.run(Pipeline.ingest(
      Pipeline.fromDocuments(Tables.documents(spark, sfDir)).select("url", "text")))
      .write.mode("overwrite").format("noop").save()
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet
    // scopes are per thread: a fresh one runs outside this test's scope
    val outside = new Thread(() => fused())
    outside.start()
    outside.join()
    assert(TestSqlBridge.noCachedPlans(spark),
      "the fused run left its dedup branch point in the CacheManager")
    // outside a scope the branch point is a plain RDD persist; drop it
    // so this test leaves the session as it found it
    sc.getPersistentRDDs.foreach { case (id, r) => if (!before(id)) r.unpersist(blocking = true) }
    Persisted.owned(fused())
    assert(sc.getPersistentRDDs.keySet -- before === Set.empty,
      "the scope left a persistent RDD")
  }

  /** The data files of each checkpoint directory in `dir`. */
  private def checkpointFiles(dir: String): Map[String, Set[String]] =
    new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(d => d.getName -> d.list().filter(_.startsWith("part-")).toSet).toMap

  test("each boundary is one compiled write job, and a re-run replaces both splits") {
    val sc = spark.sparkContext
    val dir = Files.createTempDirectory("graft-orch-split").toString
    def run() = Orchestrator.run(spark, dir, raw = Some(
      Pipeline.fromDocuments(Tables.documents(spark, sfDir)).select("url", "text")))
    val before = sc.getPersistentRDDs.keySet
    // no interpreted fallback: a janino failure in any write throws
    val (plans, _) = withSQLConf("spark.sql.codegen.fallback" -> "false")(
      executedPlans(run()))
    assert(sc.getPersistentRDDs.keySet -- before === Set.empty,
      "the run left a persistent RDD")
    // a write plan names the checkpoint it reads and, higher, the one it writes
    val Checkpoint = """(mainpipe|dropped)_v(\d+)\.parquet""".r
    val writesPerStage = plans.map(_.toString)
      .filter(_.contains("InsertIntoHadoopFsRelationCommand"))
      .flatMap(p => Checkpoint.findAllMatchIn(p).map(_.group(2).toInt).maxOption)
      .groupBy(identity).map { case (v, ws) => v -> ws.size }
    assert((2 to 7).map(v => v -> writesPerStage.getOrElse(v, 0)) === (2 to 7).map(_ -> 1),
      writesPerStage)
    assert(new java.io.File(dir).list().filter(_.contains("staging")).isEmpty)
    // an empty dropped split reads back, without a schema, with kept's fields
    val emptyDropped = summaryRows(dir).collect {
      case (stage, _, 0L) => stage.stripPrefix("v").takeWhile(_ != ':').toInt }
    assert(emptyDropped.contains(7), emptyDropped)
    emptyDropped.foreach { v =>
      val dropped = spark.read.parquet(Orchestrator.droppedPath(dir, v))
      assert(dropped.count() === 0, s"v$v")
      assert(dropped.schema === spark.read.parquet(Orchestrator.versionPath(dir, v)).schema,
        s"v$v")
    }
    val first = checkpointFiles(dir)
    run()
    val second = checkpointFiles(dir)
    assert(second.keySet === first.keySet)
    second.foreach { case (d, files) =>
      assert(files.nonEmpty && (files & first(d)).isEmpty, s"$d kept files of the first run")
    }
    assertSummaryMatchesParquet(dir, stageNames(2))
  }

  test("resume from stage 5 reproduces the original v7 exactly") {
    val original = spark.read.parquet(Orchestrator.versionPath(outDir, 7))
      .select("doc_id", "quality_score", "subset", "n_tokens", "shard_id")
      .collect().map(_.toSeq).toSet
    val firstRunRows = summaryRows(outDir)
    // wipe v5..v7, rerun from stage 5 against the surviving v4
    Orchestrator.run(spark, outDir, fromVersion = 5)
    val resumed = spark.read.parquet(Orchestrator.versionPath(outDir, 7))
      .select("doc_id", "quality_score", "subset", "n_tokens", "shard_id")
      .collect().map(_.toSeq).toSet
    assert(resumed === original)
    // v2..v4 are still on disk, so their rows carry over unchanged
    assertSummaryMatchesParquet(outDir, stageNames(2))
    assert(summaryRows(outDir).take(3) === firstRunRows.take(3))
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
    assert(TestSqlBridge.noCachedPlans(spark),
      "run left DataFrame-level caches pinned")
    // the incremental composition must release its own stage-2/3
    // persists: start from a clean cache and assert none survive
    spark.catalog.clearCache()
    val incDir = Files.createTempDirectory("graft-inc-out").toString
    val incr = OrchestratorSpec.incrementalRun(spark, prevDir, incDir, rawB)
    assert(TestSqlBridge.noCachedPlans(spark),
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

object OrchestratorSpec {
  import org.apache.spark.sql.{Observation, SparkSession}

  import graft.ops.Filters

  /** An incremental run over a previous completed run's outputs, built
    * from the public stage functions and the resume entry of
    * [[Orchestrator.run]]. Stages 2-3 are row-local, so they run through
    * [[IncrementalSpec.processDelta]] against the previous v1/v3 (only
    * the crawl delta pays them); the corpus-global stages (dedup to
    * shard) resume from the merged v3. Carried-forward rows keep their
    * original ingest_seq, so seq-derived columns follow this run's
    * interleaving. The summary's `v3:incremental_prefix` row holds the
    * merged v3's row count, with -1 for its unmaterialized dropped rows.
    */
  def incrementalRun(spark: SparkSession, prevDir: String, outDir: String,
                     rawCur: DataFrame, dropPii: Boolean = false): DataFrame = {
    val prevV1 = spark.read.parquet(Orchestrator.versionPath(prevDir, 1))
    val prevV3 = spark.read.parquet(Orchestrator.versionPath(prevDir, 3))
    val ingested = Pipeline.ingest(rawCur)
    ingested.write.mode("overwrite").parquet(Orchestrator.versionPath(outDir, 1))
    val curV1 = spark.read.schema(ingested.schema)
      .parquet(Orchestrator.versionPath(outDir, 1))
    // a branch point before each kept(): the stage-2 chain must not be
    // substituted into the filter condition or computed twice
    val rowLocal: DataFrame => DataFrame = df => {
      val s2 = Persisted.rows(Pipeline.cleanAndFilter(df))
      Filters.kept(Persisted.rows(Pipeline.deepCleanAndPii(Filters.kept(s2), dropPii)))
    }
    val v3Rows = Persisted.owned {
      val merged = IncrementalSpec.processDelta(curV1, prevV1, prevV3, rowLocal)
      val written = Observation()
      merged.observe(written, count(lit(1)).as("rows"))
        .write.mode("overwrite").parquet(Orchestrator.versionPath(outDir, 3))
      written.get("rows").asInstanceOf[Long]
    }
    val prefix = {
      import spark.implicits._
      Seq(("v3:incremental_prefix", v3Rows, -1L)).toDF("stage", "kept", "dropped")
    }
    Sinks.writeMetricsJson(Map("stages" -> prefix), s"$outDir/run_summary.json")
    Orchestrator.run(spark, outDir, fromVersion = 4, dropPii = dropPii)
  }
}
