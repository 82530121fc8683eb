package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Batch sources/sinks beyond parquet (SURVEY.md §2.1).
  *
  * Reference sinks replicated:
  *  - S4 projection JSONL {doc_id,text,source}      (text_clean_and_filter.py:799-807)
  *  - S5 training JSONL, FIXED field order          (Tokenisation_JSONL_export.py:159-204)
  *  - S6 CSV report sink                            (plots_charts.py:324-335)
  *  - S7 metrics_summary.json driver-side sink      (plots_charts.py:338-340)
  *
  * S5 field order matters to the reference's consumers, and Spark's JSON
  * writer neither guarantees field order beyond schema order nor emits
  * null fields — so the training sink serializes with to_json(struct(..))
  * (schema order = declared order, byte-stable) through the text writer.
  */
object Sinks {

  /** S1: JSONL scan with explicit schema (schema-less overload infers). */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def readJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** S4: minimal projection JSONL {doc_id, text, source}. */
  def writeProjectionJsonl(df: DataFrame, outDir: String,
                           textCol: String = "text"): Unit =
    df.select(col("doc_id"), col(textCol).as("text"), col("source"))
      .write.mode("overwrite").json(outDir)

  /** S5 training layout: one JSON object per line, fields exactly in the
    * reference order (Tokenisation_JSONL_export.py:182-192).
    */
  private[graft] def trainingLine = to_json(struct(
    col("input_ids"), col("attention_mask"), col("doc_id"), col("url"),
    col("subset"), col("mixture_name"), col("quality_score"))).as("value")

  /** S5+X1: training JSONL partitioned one directory per shard. */
  def writeShardedTrainingJsonl(df: DataFrame, outDir: String): Unit =
    df.select(trainingLine, col("shard_id"))
      .write.mode("overwrite").partitionBy("shard_id").text(outDir)

  /** Hive-style partitioned parquet sink: one directory per distinct
    * value of each partition column. This is the 100 TB layout decision:
    * a reader filtering on a partition column never opens non-matching
    * files (partition pruning happens at planning, before any IO) —
    * PartitionSpec pins that plan property. Keep partition columns
    * low-cardinality (source, language, date); a high-cardinality key
    * makes one directory per value, and small files swamp the listing.
    */
  def writePartitionedParquet(df: DataFrame, outDir: String,
                              partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(outDir)

  /** S6: small aggregate to a single headered CSV (reports are tiny —
    * one row per reason/shard — so coalesce(1) is deliberate).
    */
  def writeReportCsv(agg: DataFrame, outDir: String): Unit =
    agg.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(outDir)

  /** S7: nested metrics JSON assembled driver-side from small aggregate
    * frames, like the reference's metrics_summary.json. Each frame must
    * already be an aggregate (a few rows at most).
    */
  def writeMetricsJson(sections: Map[String, DataFrame], path: String): Unit =
    writeJsonSections(sections.toSeq.map { case (name, df) =>
      val cols = df.columns
      name -> df.collect().toSeq.map(r => cols.indices.map(i => cols(i) -> r.get(i)))
    }, path)

  /** `s` as a quoted JSON string: quote, backslash and every control
    * character below U+0020 escaped, so any text parses back unchanged.
    */
  private[graft] def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Driver-side JSON writer behind [[writeMetricsJson]]: one object
    * whose sections are arrays of flat rows, each row an ordered list
    * of (field, scalar) pairs.
    */
  private[graft] def writeJsonSections(
      sections: Seq[(String, Seq[Seq[(String, Any)]])], path: String): Unit = {
    def scalar(v: Any): String = v match {
      case null => "null"
      case n: java.lang.Number => n.toString
      case b: java.lang.Boolean => b.toString
      case other => jsonString(other.toString)
    }
    val body = sections.map { case (name, rows) =>
      jsonString(name) + ": " + rows.map(_.map { case (k, v) =>
        jsonString(k) + ": " + scalar(v)
      }.mkString("{", ", ", "}")).mkString("[", ", ", "]")
    }.mkString("{", ", ", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }
}
