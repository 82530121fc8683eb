package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.functions.{col, count_if}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

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

  /** Write stage `v`'s output `out` as `mainpipe_vN` (its kept rows)
    * and `dropped_vN` (the rest) in one write job, and return the
    * (kept, dropped) row counts, observed by that job itself — no
    * read-back — and the schema both files hold, so the next stage
    * reads the kept file back without a schema-inference job.
    *
    * The job writes `out` with a boolean split column,
    * `drop_reason IS NULL`, by `partitionBy` into one staging directory
    * beside the checkpoints, sorted within partitions by (split,
    * `ingest_seq`): that ordering satisfies the local sort a
    * partitioned write plans, and it keeps every file in `ingest_seq`
    * order, which stage 7's in-order probe ([[graft.ops.Shard]]) reads
    * back. The two partition directories are then renamed into place,
    * the old checkpoints removed first and the dropped side published
    * first, so a `mainpipe_vN` on disk always has its own `dropped_vN`.
    * A split with no rows (the dropped side of most later stages)
    * gets a zero-row parquet written on the driver.
    *
    * Nothing stores the stage frame: its chain runs once, inside the
    * write's tasks. No filter may sit over the chain: Catalyst would
    * push a `drop_reason` filter into the stage's projections, and the
    * stage-2 expression tree, inlined ~50× into its condition,
    * overflows janino's method limit.
    */
  private def writeSplit(out: DataFrame, outDir: String, v: Int): (Long, Long, StructType) = {
    val staging = new Path(s"$outDir/_mainpipe_v$v.parquet.staging")
    val kept = col(SplitCol)
    val split = Observation()
    out.withColumn(SplitCol, col("drop_reason").isNull)
      .observe(split, count_if(kept).as("kept"), count_if(!kept).as("dropped"))
      .sortWithinPartitions(kept, col("ingest_seq"))
      .write.mode("overwrite").partitionBy(SplitCol).parquet(staging.toString)
    val conf = out.sparkSession.sparkContext.hadoopConfiguration
    val fs = staging.getFileSystem(conf)
    val targets = Seq(false -> new Path(droppedPath(outDir, v)),
      true -> new Path(versionPath(outDir, v)))
    // delete kept first and publish it last: no mainpipe_vN ever sits
    // beside another write's dropped_vN, or beside none
    targets.reverse.foreach { case (_, dest) => fs.delete(dest, true) }
    targets.foreach { case (side, dest) =>
      val written = new Path(staging, s"$SplitCol=$side")
      if (fs.exists(written)) {
        if (!fs.rename(written, dest)) throw new java.io.IOException(s"rename $written -> $dest failed")
      } else writeEmptyParquet(dest, out.schema, conf)
    }
    fs.delete(staging, true)
    (split.get("kept").asInstanceOf[Long], split.get("dropped").asInstanceOf[Long], out.schema)
  }

  /** The split column of [[writeSplit]]'s staging write. */
  private val SplitCol = "__kept"

  /** A parquet directory `dir` holding one file with no rows and
    * `schema`, written on the driver: parquet's schema from Spark's own
    * converter, and the Spark schema in the footer key Spark's writer
    * sets, so a read without a schema sees the same fields a written
    * split has.
    */
  private def writeEmptyParquet(dir: Path, schema: StructType, conf: Configuration): Unit = {
    val file = new Path(dir, s"part-00000-${java.util.UUID.randomUUID}-c000.parquet")
    val w = new ParquetFileWriter(HadoopOutputFile.fromPath(file, conf),
      new SparkToParquetSchemaConverter(SQLConf.get).convert(schema),
      ParquetFileWriter.Mode.CREATE, ParquetWriter.DEFAULT_BLOCK_SIZE,
      ParquetWriter.MAX_PADDING_SIZE_DEFAULT, null, ParquetProperties.builder().build())
    w.start()
    w.end(java.util.Map.of("org.apache.spark.sql.parquet.row.metadata", schema.json))
  }

  /** Read a checkpoint back. With the writer's schema the read plans
    * without touching the files; without it (a resume's first read of a
    * file an earlier run wrote) Spark infers the schema in one job.
    */
  private def readVersion(spark: SparkSession, outDir: String, v: Int,
                          schema: Option[StructType]): DataFrame =
    schema.fold(spark.read)(spark.read.schema(_))
      .parquet(versionPath(outDir, v))

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

  /** The stage runner behind [[run]]: stages
    * [firstVersion..7] over `mainpipe_v{firstVersion-1}.parquet` in
    * `outDir` (read with `inputSchema` when the caller just wrote it),
    * each split-written by [[writeSplit]] and read back as the next
    * stage's input — lineage is cut at every boundary (no 7-stage
    * mega-plan), and a resume sees byte-identical input to the original
    * run. Writes `run_summary.json` with the `earlier` rows followed by
    * one (stage, kept, dropped) row per stage, and returns the last
    * read-back.
    *
    * Cache ownership ([[Persisted]]): each stage runs in its own
    * [[Persisted.owned]] scope around its checkpoint write, which
    * releases what the stage registered (the branch points of
    * [[graft.ops.Dedup.dedupStage]] and stage 7's numbering) once the
    * stage is written; frames the caller cached are left alone.
    */
  private def runStages(spark: SparkSession, outDir: String,
                        firstVersion: Int, dropPii: Boolean,
                        inputSchema: Option[StructType],
                        earlier: Seq[(String, Long, Long)]): DataFrame = {
    var cur = readVersion(spark, outDir, firstVersion - 1, inputSchema)
    val counts = earlier ++
      stages(dropPii).filter(_._1 >= firstVersion).map { case (v, name, fn) =>
        val (kept, dropped, schema) = Persisted.owned(writeSplit(fn(cur), outDir, v))
        cur = readVersion(spark, outDir, v, Some(schema))
        (s"v$v:$name", kept, dropped)
      }
    val summary = {
      import spark.implicits._
      counts.toDF("stage", "kept", "dropped")
    }
    Sinks.writeMetricsJson(Map("stages" -> summary), summaryPath(outDir))
    cur
  }

  private def summaryPath(outDir: String): String = s"$outDir/run_summary.json"

  /** The rows of `outDir`'s existing `run_summary.json` for stages below
    * `fromVersion` — what a resume carries over, since those stages'
    * checkpoints stay on disk. Empty when there is no summary or no
    * stage (v2 is the first) lies below `fromVersion`.
    */
  private def summaryRowsBelow(outDir: String,
                               fromVersion: Int): Seq[(String, Long, Long)] = {
    val file = new java.io.File(summaryPath(outDir))
    if (fromVersion <= 2 || !file.isFile) Nil
    else {
      import scala.jdk.CollectionConverters._
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(file)
        .get("stages").elements().asScala.toSeq
        .map(r => (r.get("stage").asText, r.get("kept").asLong,
          r.get("dropped").asLong))
        .filter(_._1.stripPrefix("v").takeWhile(_.isDigit).toInt < fromVersion)
    }
  }

  /** Run stages [fromVersion..7], materializing each boundary.
    *
    * fromVersion = 1 ingests `raw` (required) and writes v1; any higher
    * value resumes from `mainpipe_v{fromVersion-1}.parquet` in `outDir`
    * — `raw` is ignored, matching the reference's "rerun from stage N"
    * workflow. Returns the final frame read back from v7, and writes a
    * `run_summary.json` with per-stage kept/dropped row counts (H3); a
    * resume keeps the existing summary's rows for stages below N.
    */
  def run(spark: SparkSession, outDir: String,
          raw: Option[DataFrame] = None,
          fromVersion: Int = 1,
          dropPii: Boolean = false): DataFrame = {
    require(fromVersion >= 1 && fromVersion <= LastVersion,
      s"fromVersion must be in [1, $LastVersion], got $fromVersion")
    val v1Schema = if (fromVersion > 1) None else {
      val rawDf = raw.getOrElse(throw new IllegalArgumentException(
        "fromVersion = 1 requires the raw input frame"))
      val v1 = Pipeline.ingest(rawDf)
      v1.write.mode("overwrite").parquet(versionPath(outDir, 1))
      Some(v1.schema)
    }
    runStages(spark, outDir, math.max(fromVersion, 2), dropPii, v1Schema,
      summaryRowsBelow(outDir, fromVersion))
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
    val spark = Sizing.session(sfDir)
    val raw = if (fromVersion == 1)
      Some(Pipeline.fromDocuments(Tables.documents(spark, sfDir)).select("url", "text"))
    else None
    val end = run(spark, outDir, raw, fromVersion)
    println(s"[orchestrator] v$LastVersion rows: ${end.count()} -> $outDir")
    spark.stop()
  }
}
