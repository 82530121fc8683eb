package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ops.Shard
import graft.sources.Sinks
import graft.text.Normalize

/** Shard numbering: `withGlobalSeq` numbers 0..n-1 in key order, in
  * place when its input already lies in key order and over an AQE-sized
  * range exchange otherwise, runs its upstream plan once, and
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
      Persisted.owned(
        assertNumbersKeyOrder(Shard.withGlobalSeq(aggregated, "key"), Seq("key"), aqe))
    }
  }

  test("withGlobalSeq on a two-column key numbers 0..n-1 in tuple order, AQE on and off") {
    inBothModes { aqe =>
      Persisted.owned(
        assertNumbersKeyOrder(Shard.withGlobalSeq(aggregated, Seq("g", "key"), "global_seq"),
          Seq("g", "key"), aqe))
    }
  }

  test("withGlobalSeq plus one action runs an upstream aggregate's shuffle map stage once") {
    // the aggregate's partial-aggregation stage is the one stage that
    // runs the spark.range source (a ParallelCollectionRDD); the range
    // exchange's own map stage reads the stored rows instead
    val sourceMapStages = new AtomicInteger
    val openJobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = openJobs.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit = openJobs.decrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        if (e.stageInfo.rddInfos.exists(_.name == "ParallelCollectionRDD"))
          sourceMapStages.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Persisted.owned(Shard.withGlobalSeq(aggregated, "key")
        .write.format("noop").mode("overwrite").save())
      // events are delivered asynchronously: wait for every job's end
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (openJobs.get() != 0 && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(200)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(sourceMapStages.get() === 1)
  }

  /** `df` plus a LongType `key` column whose every evaluation bumps the
    * returned accumulator: a count above the row count means the
    * upstream ran more than once.
    */
  private def counted(df: DataFrame, key: org.apache.spark.sql.Column)
      : (DataFrame, org.apache.spark.util.LongAccumulator) = {
    val evals = spark.sparkContext.longAccumulator
    val tick = udf { (k: java.lang.Long) => evals.add(1); k }.asNondeterministic()
    (df.withColumn("key", tick(key)), evals)
  }

  /** (key, global_seq) of every row of `out`, null keys as None. */
  private def numbering(out: DataFrame): Set[(Option[Long], Long)] =
    out.select("key", "global_seq").collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getLong(1))).toSet

  /** withGlobalSeq's numbering of `df` (key column `key`), run inside
    * a scope under [[executedPlans]], with that run's plans and tasks.
    */
  private def numbered(df: DataFrame)
      : (Set[(Option[Long], Long)], Seq[SparkPlan], Seq[SparkListenerTaskEnd]) = {
    var got = Set.empty[(Option[Long], Long)]
    val (plans, tasks) = executedPlans(Persisted.owned {
      got = numbering(Shard.withGlobalSeq(df, "key"))
    })
    (got, plans, tasks)
  }

  private def rangePathNumbering(df: DataFrame): Set[(Option[Long], Long)] =
    Persisted.owned(numbering(ShardSpec.rangeRef(df, Seq("key"))))

  /** withGlobalSeq numbers `df`'s `rows` rows as the range path does,
    * with no exchange, no task reading or writing shuffle bytes, and
    * `key` evaluated once per row.
    */
  private def assertInPlace(df: DataFrame, evals: org.apache.spark.util.LongAccumulator,
                            rows: Long): Unit = {
    evals.reset()
    val (got, plans, tasks) = numbered(df)
    assert(evals.value === rows, "the upstream ran more than once")
    assert(got.size === rows)
    assert(got === rangePathNumbering(df))
    assert(plans.flatMap(planNodes).collect { case e: Exchange => e }.isEmpty, plans.mkString("\n"))
    assert(tasks.forall(t => t.taskMetrics.shuffleWriteMetrics.bytesWritten == 0 &&
      t.taskMetrics.shuffleReadMetrics.totalBytesRead == 0), "a task moved shuffle bytes")
  }

  /** withGlobalSeq numbers `df` as the range path does, and took that
    * path: a range exchange ran.
    */
  private def assertRangePath(df: DataFrame): Unit = {
    val (got, plans, _) = numbered(df)
    assert(got === rangePathNumbering(df))
    assert(rangeExchanges(plans).nonEmpty, "no range exchange ran")
  }

  test("withGlobalSeq numbers an in-order multi-partition input in place, upstream once") {
    val (df, evals) = counted(spark.range(0, 3000, 1, 6).toDF("id"), col("id") * 3L)
    assertInPlace(df.withColumn("s", concat(lit("v"), col("id").cast("string"))), evals, 3000)
  }

  test("withGlobalSeq numbers sorted partitions in permuted partition order in place") {
    // three sorted single-file parquets with disjoint key ranges; with
    // openCostInBytes 0 the read orders its splits by size, largest first
    val dir = Files.createTempDirectory("graft-shard-perm").toString
    Seq((0L, 100L), (100L, 600L), (600L, 2000L)).zipWithIndex.foreach { case ((lo, hi), f) =>
      spark.range(lo, hi, 1, 1).toDF("id").write.parquet(s"$dir/f$f")
    }
    withSQLConf("spark.sql.files.openCostInBytes" -> "0",
      "spark.sql.files.maxPartitionBytes" -> "2k") {
      val raw = spark.read.parquet(s"$dir/f0", s"$dir/f1", s"$dir/f2")
      val heads = raw.queryExecution.toRdd
        .mapPartitions(it => Iterator(if (it.hasNext) Some(it.next().getLong(0)) else None))
        .collect().flatten.toSeq
      assert(heads.size == 3 && heads != heads.sorted, s"partition heads $heads")
      val (df, evals) = counted(raw, col("id"))
      assertInPlace(df, evals, 2000)
    }
  }

  test("withGlobalSeq takes the range path on overlapping ranges, a tied key or a null key") {
    val base = spark.range(0, 2000, 1, 4).toDF("id")
    // each partition ascending, the ranges interleaved
    assertRangePath(base.withColumn("key", (col("id") % 500) * 4L + (col("id") / 500).cast("long")))
    // ascending everywhere, but partition 1 starts on partition 0's last key
    assertRangePath(base.withColumn("key", when(col("id") === 500, 499L).otherwise(col("id"))))
    // ascending everywhere, one null key (it numbers first)
    assertRangePath(base.withColumn("key", when(col("id") === 1234, lit(null)).otherwise(col("id"))))
  }

  test("withGlobalSeq numbers an empty input and an input with empty partitions in place") {
    val (empty, e0) = counted(spark.range(0, 0, 1, 3).toDF("id"), col("id"))
    assertInPlace(empty, e0, 0)
    val (none, e1) = counted(spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("id", LongType)))), col("id"))
    assertInPlace(none, e1, 0)
    val (gappy, e2) = counted(
      spark.range(0, 100, 1, 8).toDF("id").filter(col("id") < 30 || col("id") >= 70), col("id"))
    assertInPlace(gappy, e2, 60)
  }

  test("assignShards and writeManifest reject a docsPerShard below 1") {
    val df = spark.range(0, 10).toDF("ingest_seq").withColumn("n_tokens", lit(1L))
    Seq(0, -1).foreach { bad =>
      val e1 = intercept[IllegalArgumentException](Shard.assignShards(df, docsPerShard = bad))
      assert(e1.getMessage.contains("docsPerShard"), e1.getMessage)
      val sharded = df.withColumn("shard_id", lit(0L))
      val e2 = intercept[IllegalArgumentException](Shard.writeManifest(sharded,
        Files.createTempDirectory("graft-manifest").toString + "/m.json", "t", "c", bad))
      assert(e2.getMessage.contains("docsPerShard"), e2.getMessage)
    }
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

  /** `Shard.withGlobalSeq`'s range path on its own: range-partition on
    * `orderCols`, sort within partitions, number in partition order.
    * The parity reference for the in-place numbering.
    */
  def rangeRef(df: DataFrame, orderCols: Seq[String]): DataFrame =
    GraftSqlBridge.withRowIndex(
      df.repartitionByRange(orderCols.map(col): _*)
        .sortWithinPartitions(orderCols.head, orderCols.tail: _*),
      "global_seq")

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
