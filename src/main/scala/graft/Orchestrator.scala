package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.storage.StorageLevel

import graft.ops.Filters
import graft.sources.Sinks

/** Checkpointed pipeline orchestrator (SURVEY.md §3 E1): the reference's
  * resumable run mode (run_pipeline.py:24-49), where every stage persists
  * its full output as a versioned parquet (`mainpipe_v1..v7`) plus the
  * rows it dropped, and a crashed or killed run restarts from the last
  * completed version instead of from raw.
  *
  * Contrast with [[Pipeline.run]]: that fuses stages 2-6 into one lazy
  * Catalyst DAG — the fast path when nothing needs inspecting. This
  * runner trades extra IO for operability: each stage boundary is a real
  * parquet (inspectable, diffable, resumable), the exact workflow the
  * reference's subprocess-per-stage design provides. At 100 TB use this
  * mode for the first run of a new corpus (stage outputs feed audits)
  * and the fused mode for steady-state re-runs.
  *
  * Stage boundaries follow the reference: each stage receives only the
  * KEPT rows of its predecessor (the reference physically splits
  * kept/dropped per stage); dropped rows land in a side parquet named by
  * stage, so per-stage drop-reason audits never rescan the main line.
  * For order-sensitive stages this split is the reference-faithful
  * semantics: dedup keep-first here considers only surviving rows,
  * whereas the fused single-frame mode windows over all rows (a doomed
  * row can "win" a hash group and shadow a kept one) — documented
  * divergence between the two modes (duplication.py:114-141 operates on
  * the post-filter frame).
  */
object Orchestrator {

  /** Highest stage version (v7 = sharded). */
  val LastVersion = 7

  def versionPath(outDir: String, v: Int): String =
    s"$outDir/mainpipe_v$v.parquet"

  def droppedPath(outDir: String, v: Int): String =
    s"$outDir/dropped_v$v.parquet"

  /** Write one stage's kept/dropped split and return the (kept, dropped)
    * row counts, observed on the two writes themselves — no read-back.
    * The stage frame is PERSISTED across the two writes: without it
    * (a) the whole scalar chain runs twice (once per write), and (b)
    * Catalyst pushes each `drop_reason`-filter down through the stage's
    * projections, substituting the FULL expression chain into the filter
    * condition — at stage 2 that inlines the nfkc/profile/reason tree
    * ~50× into one Filter, janino dies on the generated method
    * (InternalCompilerException, 6× per round-11 test run) and the
    * write silently runs interpreted. Filtering the materialized
    * columns instead costs one local spill of a frame this mode is
    * already writing to parquet twice — cheap against the 40:1
    * text-processing-vs-IO profile (BASELINE.md) it de-duplicates.
    */
  private def writeSplit(out: DataFrame, keptPath: String,
                         droppedPath: String): (Long, Long) = {
    val mat = out.persist(StorageLevel.MEMORY_AND_DISK)
    try (writeCounted(Filters.kept(mat), keptPath),
      writeCounted(Filters.dropped(mat), droppedPath))
    finally mat.unpersist(blocking = false)
  }

  /** Overwrite `path` with `df`; the row count comes from a
    * `Dataset.observe` metric collected by the write job itself.
    */
  private def writeCounted(df: DataFrame, path: String): Long = {
    val written = Observation()
    df.observe(written, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(path)
    written.get("rows").asInstanceOf[Long]
  }

  /** Ordered stage table: (version, name, transform). Stage v consumes
    * kept rows of v-1. Versions match the reference's file numbering.
    */
  def stages(dropPii: Boolean = false): Seq[(Int, String, DataFrame => DataFrame)] = Seq(
    (2, "clean_and_filter", df => Pipeline.cleanAndFilter(df)),
    (3, "deep_clean_and_pii", df => Pipeline.deepCleanAndPii(df, dropPii)),
    (4, "dedup", df => Pipeline.dedup(df)),
    (5, "score", df => Pipeline.score(df)),
    (6, "tokenise", df => Pipeline.tokenise(df)),
    (7, "shard", df => Pipeline.shard(df)))

  /** The stage runner behind [[run]] and [[incrementalRun]]: stages
    * [firstVersion..7] over `mainpipe_v{firstVersion-1}.parquet` in
    * `outDir`, each split-written by [[writeSplit]] and read back as the
    * next stage's input — lineage is cut at every boundary (no 7-stage
    * mega-plan), and a resume sees byte-identical input to the original
    * run. Writes `run_summary.json` with the `prefix` row (if any) and
    * one (stage, kept, dropped) row per stage, and returns the last
    * read-back.
    *
    * Cache ownership: the only persist a stage transform leaves behind
    * is [[graft.ops.Dedup.dedupStage]]'s branch point, which it places
    * on its input frame; every other persist is released inside its
    * stage. So releasing each stage's input once the stage is written
    * releases everything the run created, and frames the caller cached
    * in the same session are left alone.
    */
  private def runStages(spark: SparkSession, outDir: String,
                        firstVersion: Int, dropPii: Boolean,
                        prefix: Option[(String, Long, Long)] = None): DataFrame = {
    var cur = spark.read.parquet(versionPath(outDir, firstVersion - 1))
    val counts = prefix.toSeq ++
      stages(dropPii).filter(_._1 >= firstVersion).map { case (v, name, fn) =>
        val (kept, dropped) =
          try writeSplit(fn(cur), versionPath(outDir, v), droppedPath(outDir, v))
          finally cur.unpersist(blocking = false)
        cur = spark.read.parquet(versionPath(outDir, v))
        (s"v$v:$name", kept, dropped)
      }
    val summary = {
      import spark.implicits._
      counts.toDF("stage", "kept", "dropped")
    }
    Sinks.writeMetricsJson(Map("stages" -> summary), s"$outDir/run_summary.json")
    cur
  }

  /** Run stages [fromVersion..7], materializing each boundary.
    *
    * fromVersion = 1 ingests `raw` (required) and writes v1; any higher
    * value resumes from `mainpipe_v{fromVersion-1}.parquet` in `outDir`
    * — `raw` is ignored, matching the reference's "rerun from stage N"
    * workflow. Returns the final frame read back from v7, and writes a
    * `run_summary.json` with per-stage kept/dropped row counts (H3).
    */
  def run(spark: SparkSession, outDir: String,
          raw: Option[DataFrame] = None,
          fromVersion: Int = 1,
          dropPii: Boolean = false): DataFrame = {
    require(fromVersion >= 1 && fromVersion <= LastVersion,
      s"fromVersion must be in [1, $LastVersion], got $fromVersion")
    if (fromVersion == 1) {
      val rawDf = raw.getOrElse(throw new IllegalArgumentException(
        "fromVersion = 1 requires the raw input frame"))
      Pipeline.ingest(rawDf).write.mode("overwrite")
        .parquet(versionPath(outDir, 1))
    }
    runStages(spark, outDir, math.max(fromVersion, 2), dropPii)
  }

  /** Incremental run over a previous completed run's outputs — the
    * reference's cost profile makes the split obvious: text processing
    * (stages 2–3) dominated its wall clock ~40:1 over dedup, and those
    * stages are row-local, so they run through
    * [[graft.ops.Incremental.processDelta]] against the previous v1/v3
    * parquets (unchanged docs carry forward, only the crawl delta pays
    * the scalar pipeline), while the genuinely corpus-global stages
    * (dedup → shard) re-run in full over the merged v3 — cheap by that
    * same profile.
    *
    * Provenance semantics: carried-forward rows keep their ORIGINAL
    * ingest_seq, so established documents keep winning keep-first dedup
    * against newly-arrived duplicates; order-derived artifacts
    * (shard_id) therefore follow this run's seq interleaving, not a
    * from-scratch run's. v2 and the per-stage dropped audits of the
    * delta prefix are not materialized in this mode (the trade for not
    * rescanning the corpus); run the full mode when audits are needed.
    * The summary's `v3:incremental_prefix` row holds the merged v3's
    * row count, with -1 for its (unmaterialized) dropped rows.
    */
  def incrementalRun(spark: SparkSession, prevDir: String, outDir: String,
                     rawCur: DataFrame, dropPii: Boolean = false): DataFrame = {
    val prevV1 = spark.read.parquet(versionPath(prevDir, 1))
    val prevV3 = spark.read.parquet(versionPath(prevDir, 3))
    Pipeline.ingest(rawCur).write.mode("overwrite")
      .parquet(versionPath(outDir, 1))
    val curV1 = spark.read.parquet(versionPath(outDir, 1))
    // persist before each kept(): same pushdown-inlining rationale as
    // [[writeSplit]] — the stage-2 chain must not be substituted into
    // the filter condition (janino limit) or computed twice. The caches
    // are only live inputs to the v3 write, so they are released right
    // after it, like writeSplit's.
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val rowLocal: DataFrame => DataFrame = df => {
      val s2 = Pipeline.cleanAndFilter(df).persist(StorageLevel.MEMORY_AND_DISK)
      persisted += s2
      val s3 = Pipeline.deepCleanAndPii(Filters.kept(s2), dropPii)
        .persist(StorageLevel.MEMORY_AND_DISK)
      persisted += s3
      Filters.kept(s3)
    }
    val v3Rows =
      try writeCounted(
        graft.ops.Incremental.processDelta(curV1, prevV1, prevV3, rowLocal),
        versionPath(outDir, 3))
      finally persisted.foreach(_.unpersist(blocking = false))
    runStages(spark, outDir, 4, dropPii,
      Some(("v3:incremental_prefix", v3Rows, -1L)))
  }

  /** CLI parity with the reference's `python run_pipeline.py` entry:
    *
    *   sbt "runMain graft.Orchestrator <sfDir> <outDir> [fromVersion]"
    *
    * fromVersion > 1 resumes from the existing `mainpipe_v{N-1}.parquet`
    * in outDir (the reference's rerun-from-stage-N workflow).
    */
  def main(args: Array[String]): Unit = {
    val usage = s"usage: Orchestrator <sfDir> <outDir> [fromVersion in 1..$LastVersion]"
    require(args.length >= 2 && args.length <= 3, usage)
    val fromVersion = args.lift(2).fold(1)(_.toIntOption
      .filter(v => v >= 1 && v <= LastVersion)
      .getOrElse(throw new IllegalArgumentException(usage)))
    val Array(sfDir, outDir) = args.take(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // input-derived, not core-derived (graft.Sizing) — the production
      // justification lives there; override: SPARK_GRAFT_SHUFFLE_PARTS
      .config("spark.sql.shuffle.partitions", Sizing.shufflePartitions(sfDir))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val raw = if (fromVersion == 1)
      Some(Pipeline.fromDocuments(Tables.documents(spark, sfDir)).select("url", "text"))
    else None
    val end = run(spark, outDir, raw, fromVersion)
    println(s"[orchestrator] v$LastVersion rows: ${end.count()} -> $outDir")
    spark.stop()
  }
}
