package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ops.Shard
import graft.sources.Sinks
import graft.text.Normalize

/** Shard numbering: `withGlobalSeq` numbers 0..n-1 in key order over an
  * AQE-sized range exchange, runs its upstream plan once, and
  * `Pipeline.ingest`'s internal-row numbering matches the external-Row
  * `zipWithIndex` form it replaced.
  */
class ShardSpec extends SparkTestBase {

  /** 3,000 distinct keys `k` out of a 6-partition source through an
    * aggregate (an upstream exchange); `key` scrambles `k`'s order
    * bijectively (3001 is prime), `g` is a 7-way tie class.
    */
  private def aggregated: DataFrame =
    spark.range(0, 6000, 1, 6)
      .select((col("id") % 3000).as("k"), col("id"))
      .groupBy("k").agg(sum("id").as("s"))
      .withColumn("key", (col("k") * 7919L) % 3001L)
      .withColumn("g", col("k") % 7L)

  /** Both AQE modes, each with several range partitions to number
    * across: 16 shuffle partitions, which AQE coalesces into ~32 KB ones.
    */
  private def inBothModes(f: Boolean => Unit): Unit =
    Seq(true, false).foreach { aqe =>
      withSQLConf("spark.sql.adaptive.enabled" -> aqe.toString,
        "spark.sql.shuffle.partitions" -> "16",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32k")(f(aqe))
    }

  private def assertNumbersKeyOrder(out: DataFrame, keyCols: Seq[String],
                                    aqe: Boolean): Unit = {
    val mode = s"aqe=$aqe"
    assert(out.schema("global_seq") === StructField("global_seq", LongType, nullable = false))
    // the range exchange takes the session's partition count, which
    // only AQE coalesces
    val parts = out.rdd.getNumPartitions
    assert(parts > 1 && (if (aqe) parts < 16 else parts == 16), s"$mode: $parts partitions")
    val rows = out.select((keyCols :+ "global_seq").map(col): _*).collect()
      .map(r => (keyCols.indices.map(r.getLong), r.getLong(keyCols.size)))
    assert(rows.length === 3000, mode)
    val byKey = rows.sortBy(_._1)(Ordering.Implicits.seqOrdering[IndexedSeq, Long])
    assert(byKey.map(_._2).toSeq === (0L until 3000L), mode)
  }

  test("withGlobalSeq on a single key numbers 0..n-1 in key order, AQE on and off") {
    inBothModes { aqe =>
      assertNumbersKeyOrder(Shard.withGlobalSeq(aggregated, "key"), Seq("key"), aqe)
    }
  }

  test("withGlobalSeq on a two-column key numbers 0..n-1 in tuple order, AQE on and off") {
    inBothModes { aqe =>
      assertNumbersKeyOrder(Shard.withGlobalSeq(aggregated, Seq("g", "key"), "global_seq"),
        Seq("g", "key"), aqe)
    }
  }

  test("withGlobalSeq plus one action runs an upstream aggregate's shuffle map stage once") {
    // a stage that reads no shuffle but writes one is a map stage over
    // the source: here only the aggregate's partial-aggregation stage
    val sourceMapStages = new AtomicInteger
    val openJobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = openJobs.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit = openJobs.decrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null && m.shuffleReadMetrics.recordsRead == 0 &&
          m.shuffleWriteMetrics.recordsWritten > 0) sourceMapStages.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Shard.withGlobalSeq(aggregated, "key")
        .write.format("noop").mode("overwrite").save()
      // events are delivered asynchronously: wait for every job's end
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (openJobs.get() != 0 && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(200)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(sourceMapStages.get() === 1)
  }

  test("Pipeline.ingest numbers a multi-file JSONL input like the external-Row zipWithIndex form") {
    val dir = Files.createTempDirectory("graft-ingest").toString
    Seq(37, 1, 64).zipWithIndex.foreach { case (n, f) =>
      val lines = (0 until n).map { i =>
        if (i % 11 == 3) s"""{"url": "https://f$f/$i"}"""
        else if (i % 13 == 5) s"""{"text": "no url ü $f $i"}"""
        else s"""{"url": "https://f$f/$i", "text": "doc $f $i ${"word " * (i % 9)}"}"""
      }
      Files.writeString(java.nio.file.Paths.get(s"$dir/part-$f.jsonl"), lines.mkString("\n"))
    }
    val schema = StructType(Seq(StructField("url", StringType), StructField("text", StringType)))
    // small splits: the numbering crosses many partitions and files
    withSQLConf("spark.sql.files.maxPartitionBytes" -> "512",
      "spark.sql.files.openCostInBytes" -> "0") {
      val raw = Sinks.readJsonl(spark, dir, schema)
      assert(raw.rdd.getNumPartitions > 3)
      val ts = Some("2026-01-01T00:00:00Z")
      val ingested = Pipeline.ingest(raw, ingestTs = ts)
      val reference = ShardSpec.ingestRowRef(raw, ingestTs = ts)
      assert(ingested.schema === reference.schema)
      def bySeq(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_(2).asInstanceOf[Long]).toSeq
      val got = bySeq(ingested)
      assert(got.length === 102)
      assert(got.map(_(2)) === (0L until 102L))
      assert(got === bySeq(reference))
    }
  }
}

object ShardSpec {

  /** `Pipeline.ingest` as it was before the internal-row numbering:
    * every row converted to an external `Row`, indexed by
    * `zipWithIndex`, and rebuilt through `createDataFrame`. The parity
    * reference for [[org.apache.spark.sql.GraftSqlBridge.withRowIndex]].
    */
  def ingestRowRef(raw: DataFrame, source: String = "mainpipe_v1",
                   ingestTs: Option[String] = None): DataFrame = {
    val indexed = raw.rdd.zipWithIndex().map { case (row, i) =>
      Row.fromSeq(row.toSeq :+ i)
    }
    raw.sparkSession.createDataFrame(indexed,
      StructType(raw.schema.fields :+ StructField("ingest_seq", LongType, nullable = false)))
      .withColumn("doc_id", Normalize.sha1DocId(col("url"), col("text")))
      .withColumn("source", lit(source))
      .withColumn("ingest_ts",
        lit(ingestTs.getOrElse(java.time.Instant.now.toString)))
  }
}
