package pipebench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Untimed output checks and file helpers. */
object Checks {

  /** Every drop reason the engine's public rule lists name, plus the two
    * dedup reasons; traced runs count each per stage.
    */
  val DropReasons: Seq[String] = {
    import graft.ops.Filters
    val c = lit(null)
    (Filters.prefilterRules(c, c, c, c) ++ Filters.langRules(c, c, c) ++
      Filters.qualityRules(c, c, c, c, c, c, c, c) ++
      Filters.deepCleanRules(c, c, c, c, c, dropPii = true) ++
      Filters.tokenLengthRules(c)).map(_._2).distinct :+ "exact_duplicate" :+ "near_duplicate"
  }

  /** One row of a stage table: rows in, kept, dropped (by reason). */
  def stageRow(stage: String, input: Long, kept: Long, dropped: Long,
               byReason: Map[String, Long]): Map[String, Any] =
    Map("stage" -> stage, "input" -> input, "kept" -> kept, "dropped" -> dropped,
      "dropped_by_reason" -> byReason)

  /** Stages whose kept + dropped rows do not add up to their input. */
  def stageFailures(rows: Seq[Map[String, Any]]): Seq[String] = rows.collect {
    case r if r("kept").asInstanceOf[Long] + r("dropped").asInstanceOf[Long] != r("input") =>
      s"stage ${r("stage")}: kept ${r("kept")} + dropped ${r("dropped")} != input ${r("input")}"
  }

  /** The deliverables of one pipeline pass against the manifest, the
    * frame they came from and the corpus truth. Returns the failures.
    */
  def pipelineOutputs(spark: SparkSession, out: String, keptRows: Long,
                      truth: Corpus.Truth): Seq[String] = {
    val manifest = Json.parseFile(s"$out/manifest.json")
    val global = manifest.get("global").get(0)
    val totalDocs = global.get("total_docs").asLong
    val totalTokens = global.get("total_tokens").asLong
    val shards = manifest.get("shards").elements().asScala.toSeq
    val lines = spark.read.schema("input_ids array<bigint>, doc_id string, url string")
      .json(s"$out/train")
    val a = lines.agg(count(lit(1)), coalesce(sum(size(col("input_ids"))), lit(0L)),
      min(size(col("input_ids"))), max(size(col("input_ids"))),
      countDistinct(col("doc_id"))).head()
    val (nLines, nTokens) = (a.getLong(0), a.getLong(1))
    val urls = lines.select("url").collect().map(_.getString(0)).toSet

    def expect(ok: Boolean, msg: => String) = if (ok) None else Some(msg)
    def present(us: Seq[String]) = us.count(urls)
    Seq(
      expect(totalDocs == keptRows, s"manifest total_docs $totalDocs != kept rows $keptRows"),
      expect(totalDocs == nLines, s"manifest total_docs $totalDocs != training lines $nLines"),
      expect(totalTokens == nTokens, s"manifest total_tokens $totalTokens != sum len(input_ids) $nTokens"),
      expect(shards.map(_.get("num_docs").asLong).sum == totalDocs, "per-shard num_docs do not sum to total_docs"),
      expect(nLines == 0 || (a.getInt(2) >= 10 && a.getInt(3) <= 2048),
        s"n_tokens outside [10, 2048]: min ${a.get(2)} max ${a.get(3)}"),
      expect(a.getLong(4) == nLines, s"${nLines - a.getLong(4)} repeated doc_id(s)"),
      expect(present(truth.exact.map(_._1)) == 0,
        s"${present(truth.exact.map(_._1))} planted exact copies kept"),
      expect(present(truth.exact.map(_._2).distinct) == truth.exact.map(_._2).distinct.size,
        s"${truth.exact.map(_._2).distinct.size - present(truth.exact.map(_._2).distinct)} originals of exact copies missing (keep-first)"),
      expect(present(truth.near.map(_._1)) == 0, s"${present(truth.near.map(_._1))} planted near copies kept"),
      expect(present(truth.nonEnglish) == 0, s"${present(truth.nonEnglish)} planted non-English docs kept")
    ).flatten
  }

  private def trainFiles(trainDir: String): Seq[Path] =
    Files.walk(new File(trainDir).toPath).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
      .toSeq.sortBy(_.toString)

  /** Deliberately damage the deliverables (self-test of the checks):
    * `line` drops one training line, `dup` adds back a planted exact copy.
    * The local filesystem's checksum files go too, so the damaged file
    * still reads.
    */
  def corrupt(kind: String, trainDir: String, truth: Corpus.Truth): Unit = {
    val f = damage(kind, trainDir, truth)
    Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
  }

  private def damage(kind: String, trainDir: String, truth: Corpus.Truth): Path = kind match {
    case "line" =>
      val f = trainFiles(trainDir).find(p => Files.size(p) > 0).get
      val ls = Files.readAllLines(f, UTF_8).asScala
      Files.write(f, ls.tail.asJava, UTF_8)
    case "dup" =>
      val byOriginal = truth.exact.map(_.swap).toMap
      val hit = trainFiles(trainDir).iterator.flatMap { f =>
        Files.readAllLines(f, UTF_8).asScala.iterator.flatMap { l =>
          val url = "\"url\":\"([^\"]*)\"".r.findFirstMatchIn(l).map(_.group(1))
          url.flatMap(byOriginal.get).map(copy => (f, l.replace(url.get, copy)))
        }
      }.next()
      Files.write(hit._1, (hit._2 + "\n").getBytes(UTF_8), java.nio.file.StandardOpenOption.APPEND)
    case other => throw new IllegalArgumentException(s"unknown corruption '$other'")
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** (data files, bytes) of the `mainpipe_vN`/`dropped_vN` checkpoints. */
  def checkpointFiles(dir: File): (Long, Long) = {
    val ds = Option(dir.listFiles).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.matches("(mainpipe|dropped)_v\\d+\\.parquet"))
    val files = ds.flatMap(d => Option(d.listFiles).toSeq.flatten)
    (files.count(_.getName.startsWith("part-")).toLong, ds.map(dirBytes).sum)
  }
}
