package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Sinks

/** Sink round-trips: JSONL layouts, sharded export, CSV/JSON reports. */
class SinksSpec extends SparkTestBase {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def trainingDf = {
    import spark.implicits._
    Seq(
      (Seq(1, 2, 3), Seq(1, 1, 1), "d1", "https://a/1", "high_quality", "web_sample", 0.9, 0L),
      (Seq(4, 5), Seq(1, 1), "d2", "https://a/2", "rest", "web_sample", 0.5, 0L),
      (Seq(6), Seq(1), "d3", "https://a/3", "rest", "web_sample", 0.6, 1L)
    ).toDF("input_ids", "attention_mask", "doc_id", "url", "subset",
      "mixture_name", "quality_score", "shard_id")
  }

  test("S5 training JSONL: fixed field order, parseable, null-free lines") {
    val lines = SinksSpec.trainingJsonLine(trainingDf).collect().map(_.getString(0))
    assert(lines.length === 3)
    lines.foreach { l =>
      assert(l.startsWith("""{"input_ids":["""), l)
      val keys = """"(\w+)":""".r.findAllMatchIn(l).map(_.group(1)).toSeq
      assert(keys === Seq("input_ids", "attention_mask", "doc_id", "url",
        "subset", "mixture_name", "quality_score"))
    }
  }

  test("S5+X1 sharded export: one directory per shard, lines re-readable") {
    val dir = tmpDir("shards")
    Sinks.writeShardedTrainingJsonl(trainingDf, dir)
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard_id=")).sorted
    assert(dirs === Array("shard_id=0", "shard_id=1"))
    val back = spark.read.json(s"$dir/shard_id=0")
    assert(back.count() === 2)
    assert(back.columns.sorted.toSeq ===
      Seq("attention_mask", "doc_id", "input_ids", "mixture_name",
        "quality_score", "subset", "url"))
  }

  test("S4 projection JSONL round-trips") {
    import spark.implicits._
    val dir = tmpDir("proj")
    val df = Seq(("d1", "hello", "src1"), ("d2", null, "src1"))
      .toDF("doc_id", "text", "source")
    Sinks.writeProjectionJsonl(df, dir)
    val back = Sinks.readJsonl(spark, dir)
    assert(back.count() === 2)
    assert(back.filter(col("doc_id") === "d1").head().getAs[String]("text") === "hello")
  }

  test("S6 CSV report: single headered file") {
    val dir = tmpDir("csv")
    val agg = trainingDf.groupBy("subset").agg(count(lit(1)).as("n"))
    Sinks.writeReportCsv(agg, dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length === 1)
    val back = spark.read.option("header", "true").csv(dir)
    assert(back.count() === 2)
    assert(back.columns.toSeq === Seq("subset", "n"))
  }

  test("S7 metrics JSON: nested sections, valid JSON") {
    val path = tmpDir("metrics") + "/metrics_summary.json"
    Sinks.writeMetricsJson(Map(
      "subset_counts" -> trainingDf.groupBy("subset").agg(count(lit(1)).as("n")),
      "score_stats" -> trainingDf.agg(
        min("quality_score").as("min"), max("quality_score").as("max"))), path)
    val txt = Files.readString(java.nio.file.Paths.get(path))
    // cheap structural validation: parses as JSON via Spark's reader
    import spark.implicits._
    val parsed = spark.read.json(Seq(txt).toDS())
    assert(parsed.columns.sorted.toSeq === Seq("score_stats", "subset_counts"))
  }

  test("jsonString: every oracle SQL text and every control character parse back unchanged") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val hard = (0 until 0x20).map(_.toChar).mkString + "\"q\" \\ \u00e9 \ud83d\ude00"
    (hard +: SparkEntry.oracleSql.toSeq.flatMap { case (k, v) => Seq(k, v) }).foreach { s =>
      assert(mapper.readValue(Sinks.jsonString(s), classOf[String]) === s)
    }
  }
}

object SinksSpec {

  /** The training JSONL line of every row, without the shard layout
    * [[Sinks.writeShardedTrainingJsonl]] writes it in.
    */
  def trainingJsonLine(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.select(Sinks.trainingLine)
}
