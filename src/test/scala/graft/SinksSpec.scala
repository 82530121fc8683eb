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

  test("token-bin export: multi-partition round trip, 32-bit ids, " +
    "empty sequences, LE byte layout") {
    import spark.implicits._
    // ids exercise the full 32-bit range (×65537 wraps negative)
    val data = (0L until 100L).map(i =>
      (i, (0 until (i % 7).toInt).map(j => (i * 31 + j).toInt * 65537)))
    val dir = tmpDir("tokbin")
    Sinks.writeTokenBin(data.toDF("seq_id", "input_ids").repartition(4), dir)
    val back = Sinks.readTokenBin(spark, dir)
      .as[(Long, Seq[Int])].collect().toMap
    assert(back.size === 100)
    data.foreach { case (id, toks) => assert(back(id) === toks, s"seq $id") }
    // shard count tracks partitions; bytes are raw LE uint32 (mmap-ready)
    val bins = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".bin")).sortBy(_.getName)
    assert(bins.length === 4)
    val idx = spark.read.parquet(s"$dir/index")
      .select("seq_id", "file", "byte_offset", "n_tokens")
      .as[(Long, String, Long, Long)].collect()
    val first = idx.filter(r => r._3 === 0L && r._4 > 0).head
    val bytes = java.nio.file.Files.readAllBytes(
      new java.io.File(new java.net.URI(first._2).getPath).toPath)
    val t0 = (bytes(0) & 0xff) | ((bytes(1) & 0xff) << 8) |
      ((bytes(2) & 0xff) << 16) | ((bytes(3) & 0xff) << 24)
    assert(t0 === back(first._1).head)
    // total payload bytes = 4 * total tokens
    assert(bins.map(_.length).sum === 4L * data.map(_._2.size).sum)
  }

  test("token-bin commit protocol: sibling attempts never share a file; " +
    "the index-driven sweep reaps losers and stale shards") {
    import graft.sources.Sinks
    val dir = tmpDir("tokbin-commit")
    val rows = (0L until 10L).map(i => (i, Seq(i.toInt, i.toInt + 1)))
    // overlapping retry/speculative sibling: same partition, two
    // attempt ids — each writes its OWN file (no shared destination,
    // so differing row order between attempts cannot corrupt anything)
    val idx1 = Sinks.writeTokenShard(dir, 0, attempt = 1L, rows.iterator)
    val idx2 = Sinks.writeTokenShard(dir, 0, attempt = 2L,
      rows.reverse.iterator) // the non-deterministic-order sibling
    assert(idx1.map(_._2).distinct !== idx2.map(_._2).distinct,
      "attempts must not share a destination file")
    // the committed index references attempt 1 only; the sweep reaps
    // attempt 2's orphan (and a stale shard from a previous run)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-09999-attempt-7.bin"),
      Array[Byte](1, 2, 3))
    Sinks.cleanOrphanShards(dir, ".bin", idx1.map(_._2).toSet)
    val files = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_.endsWith(".crc")).sorted // local-FS checksum sidecars
    assert(files.toSeq === Seq("part-00000-attempt-1.bin"), files.mkString(","))
    // the survivor is intact and the offsets index into it correctly
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "part-00000-attempt-1.bin"))
    assert(bytes.length === 4 * rows.map(_._2.size).sum)
    // full write → read round trip over the real job path (sweep runs
    // inside writeTokenBin after the index commit)
    import spark.implicits._
    Sinks.writeTokenBin(rows.toDF("seq_id", "input_ids").coalesce(1), dir)
    val back = Sinks.readTokenBin(spark, dir)
      .as[(Long, Seq[Int])].collect().toMap
    rows.foreach { case (id, toks) => assert(back(id) === toks) }
    // exactly the one indexed file remains after the job's own sweep
    val after = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(n => n.endsWith(".crc") || n == "index").sorted
    assert(after.count(_.endsWith(".bin")) === 1, after.mkString(","))
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

  test("S1 permissive scan quarantines malformed lines, keeps good ones") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("jsonl_corrupt").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/batch.jsonl"),
      """{"url": "https://a.example.com", "text": "good doc one"}
        |{"url": "https://b.example.com", "text": "truncated...
        |not json at all
        |{"url": "https://c.example.com", "text": "good doc two"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("url", StringType), StructField("text", StringType)))
    val df = Sinks.readJsonlPermissive(spark, dir, schema).cache()
    val good = df.filter(col("_corrupt_record").isNull)
    val bad = df.filter(col("_corrupt_record").isNotNull)
    assert(good.count() === 2)
    assert(bad.count() === 2)
    assert(good.select("url").collect().map(_.getString(0)).sorted.toSeq ===
      Seq("https://a.example.com", "https://c.example.com"))
    // the original malformed text is preserved for post-hoc inspection
    assert(bad.select("_corrupt_record").collect()
      .forall(r => r.getString(0).nonEmpty))
    df.unpersist()
  }

  test("ORC sink round-trips with pushdown-capable scan") {
    import spark.implicits._
    val dir = Files.createTempDirectory("orc_rt").toString
    val df = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L))
      .toDF("id", "k", "v")
    Sinks.writeOrc(df, dir)
    val back = Sinks.readOrc(spark, dir)
    assert(back.collect().map(_.toSeq).toSet === df.collect().map(_.toSeq).toSet)
    // filters reach the ORC reader like the parquet path
    val p = back.filter(col("v") > 15L).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("PushedFilters: [") && p.contains("GreaterThan(v"), p)
  }

  test("split-partitioned export prunes to one split by path") {
    import spark.implicits._
    val dir = Files.createTempDirectory("split_export").toString
    val docs = (0L until 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    Sinks.writeSplitParquet(docs, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() === 200L)
    assert(back.select("split").distinct().collect().map(_.getString(0)).toSet
      .subsetOf(Set("train", "val", "test")))
    // reading one split scans only its partition directory
    val pruned = back.filter(col("split") === "train")
    val n = pruned.count()
    assert(n > 150L && n < 200L)
    // the split predicate must appear INSIDE the PartitionFilters list
    // (a partitioned scan always prints "PartitionFilters: [...]", even
    // empty — asserting on the label alone would be vacuous)
    val p = pruned.queryExecution.executedPlan.toString
    val pf = """PartitionFilters: \[[^\]]*\]""".r.findFirstIn(p).getOrElse("")
    assert(pf.contains("split") && pf.contains("train"),
      s"split=train not pruned at the partition level:\n$p")
  }

  test("upsertPartitions overwrites only the incoming partitions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert").toString
    val full = Seq((1L, "a", 0), (2L, "b", 0), (3L, "c", 1), (4L, "d", 1))
      .toDF("id", "v", "shard")
    Sinks.writePartitionedParquet(full, dir, Seq("shard"))
    // upsert shard 1 only: new content, one extra row
    val delta = Seq((3L, "c2", 1), (4L, "d2", 1), (5L, "e", 1))
      .toDF("id", "v", "shard")
    Sinks.upsertPartitions(delta, dir, Seq("shard"))
    val back = spark.read.parquet(dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    // shard 0 untouched, shard 1 fully replaced
    assert(back === Set((1L, "a", 0), (2L, "b", 0),
      (3L, "c2", 1), (4L, "d2", 1), (5L, "e", 1)))
    // the conf is restored afterwards (session-global setting)
    assert(!spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      .contains("dynamic"))
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
