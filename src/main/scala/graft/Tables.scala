package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All engine queries take a scale-factor directory and read the table
  * they need; Catalyst handles column pruning / filter pushdown on the
  * parquet scans, so loading "the whole table" here is free.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** The events table's `ts` physical type has varied across testdata
    * generations: TIMESTAMP(NANOS) parquet (which Spark's reader
    * rejects outright — read the nanos as a plain long via the legacy
    * conf and truncate with integer `div`, since double division would
    * lose precision on an epoch-nanos int64) and plain TIMESTAMP(MICROS)
    * without the UTC-adjusted flag (which Spark reads as TIMESTAMP_NTZ).
    * Both shapes normalize to Spark's session-TZ TimestampType here so
    * every downstream query sees one `ts` dtype; with the engine's
    * standard UTC session the NTZ cast is value-preserving.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => df
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case other =>
        // Fail loudly on a ts shape we have never seen: a silent
        // cast("timestamp") of e.g. a string or int32 generation would
        // yield nulls/garbage instants that corrupt every downstream
        // windowed/sessionized query instead of flagging the drift.
        throw new IllegalStateException(
          s"events.ts has unrecognized physical type $other — " +
            "extend Tables.events for this testdata generation")
    }
  }

  /** Documents table with the stable ingest sequence the pipeline's
    * order-dependent operators (dedup keep-first, sharding) require.
    * `doc_id` is already a dense monotone id in the test data, so it
    * doubles as `ingest_seq` (SURVEY.md §1: assign at source, never
    * rely on monotonically_increasing_id across repartitions).
    */
  def documents(s: SparkSession, d: String): DataFrame =
    load(s, d, "documents").withColumn("ingest_seq", col("doc_id"))

  def embeddings(s: SparkSession, d: String): DataFrame =
    load(s, d, "embeddings")

  /** The width of every `embeddings.embedding` vector in the test data. */
  val EmbeddingDim = 64
}
