package pipebench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.{Orchestrator, Pipeline}
import graft.ops.Shard
import graft.sources.Sinks

/** Input sizes of one benchmark invocation. Factor 1 is what the
  * benchmark's time budget affords on 4 cores; the smoke run uses a
  * small factor.
  */
final case class Scale(webDocs: Int, dupesDocs: Int)

object Scale {
  def apply(factor: Double): Scale = Scale(webDocs = math.max(500, (12000 * factor).toInt),
    dupesDocs = math.max(500, (8000 * factor).toInt))
}

final case class Ctx(spark: SparkSession, work: String, seed: Long, scale: Scale,
                     corrupt: Option[String])

/** Result of one traced pass: per-layer metrics, the trace record written
  * to `trace.json`, and any accounting check that failed.
  */
final case class TracedPass(layers: Map[String, Cost], rows: Map[String, Long],
                            record: Map[String, Any], failures: Seq[String])

/** One workload: inputs made from the seed, a timed body that calls the
  * engine's public entry points, and untimed output checks.
  */
abstract class Workload(val ctx: Ctx) {
  protected def spark: SparkSession = ctx.spark

  /** Writes the seeded inputs; returns their digest. Called repeatedly. */
  def generate(): String
  def inputPath: String
  def inputDocs: Long
  def inputBytes: Long
  /** Seconds of a warm pass on 4 cores: sets the pass count. */
  def nominalPassS: Double
  /** Untimed first pass (class loading, JIT, codegen) plus its validation. */
  def warm(): Seq[String] = { run(); val f = check(); cleanup(); f }
  /** The timed body; returns its own wall seconds. */
  def run(): Double
  def check(): Seq[String]
  /** Bytes the last pass left in its output directory. */
  def outputBytes: Long
  def cleanup(): Unit
  def traced(acc: Accounting): TracedPass

  protected def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}

object Workload {
  val Names: Seq[String] = Seq("web_fused", "dupes_checkpointed")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "web_fused" => new WebFused(ctx)
    case "dupes_checkpointed" => new DupesCheckpointed(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }
}

object Layers {
  val Stages: Seq[String] = Seq("ingest", "clean_filter", "deep_clean_pii", "dedup",
    "score", "tokenise", "shard")
  val Pipeline: Seq[String] = Stages ++ Seq("export", "checkpoint")
}

/** Shared pieces of the two pipeline workloads: corpus, export, checks. */
abstract class PipelineWorkload(ctx: Ctx, shape: Int => Corpus.Shape, docs: Int,
                                docsPerShard: Int) extends Workload(ctx) {

  private val corpus = s"${ctx.work}/corpus.jsonl"
  protected val out = s"${ctx.work}/out"
  /** The input that `raw()` reads and the checks hold the outputs to. */
  private var active = corpus
  protected var gen: Corpus.Generated = _
  private var full: Corpus.Generated = _

  private val RawSchema = StructType(Seq(
    StructField("url", StringType), StructField("text", StringType)))

  private def writeCorpus(n: Int, path: String): Corpus.Generated = {
    val g = Corpus.write(shape(n), ctx.seed, path)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path + ".truth.json"),
      Corpus.truthJson(g))
    g
  }

  def generate(): String = {
    full = writeCorpus(docs, corpus)
    gen = full
    gen.sha256
  }
  def inputPath: String = corpus
  def inputDocs: Long = full.docs
  def inputBytes: Long = full.bytes

  /** The warm pass runs on a quarter-size corpus of the same shape: a
    * cold pass costs mostly class loading, JIT and codegen, which do not
    * grow with the input, so a full-size one would only lengthen set-up.
    */
  override def warm(): Seq[String] = {
    active = s"${ctx.work}/warm.jsonl"
    gen = writeCorpus(math.max(200, docs / 4), active)
    try super.warm() finally { active = corpus; gen = full }
  }

  protected def raw(): DataFrame = Sinks.readJsonl(spark, active, RawSchema)

  /** The deliverables: sharded training JSONL plus the manifest. */
  protected def export(sharded: DataFrame): Unit = {
    Sinks.writeShardedTrainingJsonl(sharded, s"$out/train")
    Shard.writeManifest(sharded, s"$out/manifest.json", "graft-native",
      "1970-01-01T00:00:00Z", docsPerShard)
  }

  /** Row count of the frame the deliverables were written from. */
  protected def keptRows(): Long

  def check(): Seq[String] = {
    ctx.corrupt.foreach(Checks.corrupt(_, s"$out/train", gen.truth))
    Checks.pipelineOutputs(spark, out, keptRows(), gen.truth)
  }

  def outputBytes: Long = Checks.dirBytes(new java.io.File(out))
  def cleanup(): Unit = {
    spark.catalog.clearCache()
    Checks.deleteTree(new java.io.File(out))
  }
}

/** `web_fused`: reference-shaped web crawl through the fused pipeline
  * (`Pipeline.ingest` → `Pipeline.run` → `Pipeline.shard`) and export.
  */
final class WebFused(ctx: Ctx)
    extends PipelineWorkload(ctx, Corpus.web, ctx.scale.webDocs, WebFused.DocsPerShard) {

  private var sharded: DataFrame = _
  def nominalPassS: Double = 7.5

  private def prefix(k: Int): DataFrame = {
    val stages: Seq[DataFrame => DataFrame] = Seq(
      Pipeline.cleanAndFilter(_), Pipeline.deepCleanAndPii(_), Pipeline.dedup,
      Pipeline.score(_), Pipeline.tokenise, Pipeline.shard(_, WebFused.DocsPerShard))
    stages.take(k - 1).foldLeft(Pipeline.ingest(raw()))((df, f) => f(df))
  }

  def run(): Double = timed {
    sharded = Pipeline.shard(Pipeline.run(Pipeline.ingest(raw())), WebFused.DocsPerShard)
    export(sharded)
  }

  protected def keptRows(): Long = sharded.count()

  /** Per-stage cost by prefix differencing: stages 1..k forced to the
    * noop sink for k = 1..7, each rebuilt from the raw JSONL; a stage's
    * self cost is its prefix minus the previous prefix. Export is timed
    * directly on the stage-7 frame. Row counts per drop reason come from
    * `Dataset.observe` inside the same jobs.
    */
  def traced(acc: Accounting): TracedPass = {
    val costs = Array.fill(8)(Cost.Zero)
    val obs = Array.fill[Map[String, Long]](8)(Map.empty)
    (1 to 7).foreach { k =>
      val o = Observation(s"prefix$k")
      val t0 = System.currentTimeMillis()
      val df = prefix(k)
      val reasonCounts: Seq[Column] =
        if (k == 1 || k == 7) Nil
        else count_if(col("drop_reason").isNotNull).as("dropped") +:
          Checks.DropReasons.map(r => count_if(col("drop_reason") === r).as(r))
      df.observe(o, count(lit(1)).as("rows"), reasonCounts: _*)
        .write.format("noop").mode("overwrite").save()
      val t1 = System.currentTimeMillis()
      acc.drain(spark)
      costs(k) = acc.cost(t0, t1)
      obs(k) = o.get.map { case (n, v) => n -> v.toString.toLong }
      if (k < 7) spark.catalog.clearCache() else sharded = df
    }
    val e0 = System.currentTimeMillis()
    export(sharded)
    val e1 = System.currentTimeMillis()
    acc.drain(spark)

    val total = obs(1)("rows")
    def dropped(k: Int, r: String) = if (k <= 1 || k == 7) 0L else obs(k).getOrElse(r, 0L)
    val kept = (1 to 7).map(k => if (k == 1 || k == 7) obs(k)("rows") else total - obs(k)("dropped"))
    // stage 7 shards the kept rows only: nothing is dropped there
    val stageRows = (2 to 7).map { k =>
      val byReason =
        if (k == 7) Map.empty[String, Long]
        else Checks.DropReasons.map(r => r -> (dropped(k, r) - dropped(k - 1, r))).toMap
      val all = if (k == 7) 0L else dropped(k, "dropped") - dropped(k - 1, "dropped")
      Checks.stageRow(Layers.Stages(k - 1), kept(k - 2), kept(k - 1), all,
        (byReason + ("other" -> (all - byReason.values.sum))).filter(_._2 != 0))
    }
    val frameRows = (2 to 6).collect { case k if obs(k)("rows") != total =>
      s"stage ${Layers.Stages(k - 1)}: fused frame has ${obs(k)("rows")} rows, expected $total"
    }
    val layers = Layers.Stages.indices.map { i =>
      Layers.Stages(i) -> (if (i == 0) costs(1) else costs(i + 1) - costs(i))
    }.toMap + ("export" -> acc.cost(e0, e1))
    val rows = Layers.Stages.zip(kept).toMap + ("export" -> kept(6))
    TracedPass(layers, rows, Map("mode" -> "fused",
      "stages" -> (Checks.stageRow("ingest", gen.docs, total, 0L, Map.empty) +: stageRows),
      "prefix_spans" -> (1 to 7).map(k => Map("prefix" -> Layers.Stages(k - 1),
        "wall_s" -> costs(k).wallS, "jobs" -> costs(k).jobs))),
      Checks.stageFailures(stageRows) ++ frameRows)
  }
}

object WebFused {
  val DocsPerShard = 2000
}

/** `dupes_checkpointed`: short duplicate-heavy crawl through
  * `Orchestrator.run` (seven parquet boundaries), then export from v7.
  */
final class DupesCheckpointed(ctx: Ctx)
    extends PipelineWorkload(ctx, Corpus.dupes, ctx.scale.dupesDocs, Shard.DocsPerShard) {

  private def ckpt = s"$out/checkpoints"
  def nominalPassS: Double = 13.0

  def run(): Double = timed {
    export(Orchestrator.run(spark, ckpt, Some(raw())))
  }

  protected def keptRows(): Long = spark.read.parquet(Orchestrator.versionPath(ckpt, 7)).count()

  /** Per-stage cost from the listener. Every root SQL execution inside
    * `Orchestrator.run` owns the time since the previous one ended, and
    * is labelled by the checkpoint path its plan writes:
    *  - `mainpipe_vN`: stage N computes and encodes its rows in the jobs
    *    of this execution, so the time up to its last job's end is stage
    *    N; what follows, the commit of the written files, is `checkpoint`;
    *  - `dropped_vN`, and executions that write nothing (the read-backs
    *    and counts): `checkpoint`. The dropped split is written from the
    *    stage frame the engine persisted for the kept write.
    * All task output bytes of the pass are the parquet checkpoints, so
    * `checkpoint` carries them. Jobs belong to the interval they start in.
    */
  def traced(acc: Accounting): TracedPass = {
    val t0 = System.currentTimeMillis()
    val v7 = Orchestrator.run(spark, ckpt, Some(raw()))
    val t1 = System.currentTimeMillis()
    export(v7)
    val t2 = System.currentTimeMillis()
    acc.drain(spark)
    // a write plan names the checkpoint it reads and the one it writes;
    // the written one has the highest version
    val Written = """(mainpipe|dropped)_v(\d+)\.parquet""".r
    var cursor = t0
    val segments = acc.executions(t0, t1).flatMap { x =>
      val end = math.max(cursor, x.end)
      val written =
        if (!x.plan.contains("InsertIntoHadoopFsRelationCommand")) None
        else Written.findAllMatchIn(x.plan).map(m => (m.group(2).toInt, m.group(1))).maxOption
      val segs = written match {
        case Some((v, "mainpipe")) =>
          val commit = acc.lastJobEnd(cursor, end).fold(cursor)(e => math.min(math.max(e, cursor), end))
          Seq((Layers.Stages(v - 1), cursor, commit), ("checkpoint", commit, end))
        case _ => Seq(("checkpoint", cursor, end))
      }
      cursor = end
      segs
    } :+ (("checkpoint", cursor, t1))
    val costs = segments.groupBy(_._1).map { case (l, ss) =>
      l -> ss.map { case (_, a, b) => acc.cost(a, b) }.reduce(_ + _)
    }
    val checkpointMb = costs.values.map(_.bytesWrittenMb).sum
    val layers = costs.map { case (l, c) =>
      l -> c.copy(bytesWrittenMb = if (l == "checkpoint") checkpointMb else 0.0)
    } + ("export" -> acc.cost(t1, t2))

    val summary = Json.parseFile(s"$ckpt/run_summary.json").get("stages")
    val counts = (0 until summary.size).map { i =>
      val s = summary.get(i)
      s.get("stage").asText -> (s.get("kept").asLong, s.get("dropped").asLong)
    }
    val v1 = spark.read.parquet(Orchestrator.versionPath(ckpt, 1)).count()
    val stageRows = counts.zipWithIndex.map { case ((_, (kept, dropped)), i) =>
      val byReason = spark.read.parquet(Orchestrator.droppedPath(ckpt, i + 2))
        .groupBy("drop_reason").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      Checks.stageRow(Layers.Stages(i + 1), if (i == 0) v1 else counts(i - 1)._2._1,
        kept, dropped, byReason)
    }
    val failures = Checks.stageFailures(stageRows) ++
      (if (v1 != gen.docs) Seq(s"ingest wrote $v1 rows for ${gen.docs} docs") else Nil)
    val rows = Layers.Stages.zip(v1 +: counts.map(_._2._1)).toMap + ("export" -> counts.last._2._1)
    val files = Checks.checkpointFiles(new java.io.File(ckpt))
    TracedPass(layers, rows, Map("mode" -> "checkpointed",
      "stages" -> (Checks.stageRow("ingest", gen.docs, v1, 0L, Map.empty) +: stageRows),
      "checkpoint_files" -> files._1, "checkpoint_bytes" -> files._2,
      "executions" -> segments.map { case (l, a, b) => Map("layer" -> l, "wall_s" -> (b - a) / 1e3) }),
      failures)
  }
}
