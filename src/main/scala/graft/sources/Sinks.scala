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

  /** S1 hardened: PERMISSIVE JSONL scan that quarantines malformed lines
    * into a `_corrupt_record` column instead of failing the job (the
    * reference's pd.read_json dies on the first bad line — at 100 TB a
    * single truncated upload must not kill an ingest). Callers split on
    * `_corrupt_record IS NULL` the same way the drop-reason machinery
    * splits kept/dropped.
    */
  def readJsonlPermissive(spark: SparkSession, path: String,
                          schema: StructType): DataFrame = {
    val withCorrupt = schema.add("_corrupt_record", "string")
    spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
  }

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
    * low-cardinality (source, language, date); high-cardinality keys
    * belong in bucketing (sources/Bucketing) instead, or small files
    * swamp the listing.
    */
  def writePartitionedParquet(df: DataFrame, outDir: String,
                              partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(outDir)

  /** Partition-level upsert: overwrite ONLY the Hive partitions present
    * in `df`, leaving every other partition's files untouched — the
    * write-side half of the incremental story (ops.Incremental computes
    * the delta; this lands it without rewriting the corpus). Spark's
    * static overwrite mode would truncate the whole table first; the
    * dynamic mode scopes the overwrite to the incoming partitions, so
    * an upsert costs O(delta), not O(corpus). The mode is a write
    * option, which takes precedence over the session-global
    * `spark.sql.sources.partitionOverwriteMode`, so the session conf is
    * never touched.
    */
  def upsertPartitions(df: DataFrame, outDir: String,
                       partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*).parquet(outDir)

  /** ORC sink/scan pair (beyond ref: second columnar interchange format
    * — some warehouse stacks are ORC-native). Same writer contract as
    * the parquet sink; predicate pushdown and column pruning work the
    * same way through the ORC reader.
    */
  def writeOrc(df: DataFrame, outDir: String,
               partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .orc(outDir)
  }

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Split-partitioned training export: the content-addressed
    * train/val/test assignment (ops.Retrieval.splitAssign) written as a
    * partition column, so downstream loaders read one split by path
    * without scanning the others (partition pruning).
    */
  def writeSplitParquet(df: DataFrame, outDir: String): Unit =
    writePartitionedParquet(graft.ops.Retrieval.splitAssign(df)
      .drop("bucket"), outDir, Seq("split"))

  /** Maximum tokens per sequence the binary token reader will allocate
    * for — a corrupt index row cannot force an unbounded buffer.
    */
  val MaxTokensPerSeq: Int = 16 << 20

  /** Binary token-shard export — the Megatron-LM-style layout
    * large-scale training loaders actually consume: one `part-N.bin`
    * per partition holding every sequence's token ids concatenated as
    * little-endian uint32, plus a PARQUET index (seq_id, file,
    * byte offset, token count). A parquet index instead of the
    * classic binary `.idx` keeps the manifest queryable/joinable like
    * every other table here (and partition-prunable at 100 TB); the
    * `.bin` payload is byte-identical in spirit: tokens back to back,
    * zero framing, mmap-ready.
    *
    * Scale shape: each task streams its partition into one file
    * (size-tune with repartition upstream, same as every sink); the
    * index rows are EMITTED BY the same pass that writes the bytes, so
    * the export is one job, no second scan. Returns nothing; read back
    * with [[readTokenBin]].
    *
    * Task-commit protocol: every attempt writes to its OWN final file
    * (`part-P-attempt-A.bin`) and its index rows reference that exact
    * path — no rename, no shared destination, so a speculative sibling
    * or overlapping retry can never interleave with (or replace) the
    * bytes the committed index points at, even when the upstream
    * partition's ROW ORDER differs between attempts (shuffle fetch
    * order is not deterministic). Spark keeps exactly one attempt's
    * output rows, so the index names exactly one file per partition;
    * after the index commits, a driver-side sweep deletes every `.bin`
    * the index does not reference (losing attempts, killed attempts,
    * stale shards from a previous overwrite run).
    */
  def writeTokenBin(df: DataFrame, outDir: String,
      seqCol: String = "seq_id", tokensCol: String = "input_ids"): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val index = df.select(col(seqCol).cast("long"),
        col(tokensCol).cast("array<int>"))
      .as[(Long, Seq[Int])]
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val tc = org.apache.spark.TaskContext.get()
          val pid = if (tc != null) tc.partitionId()
            else org.apache.spark.TaskContext.getPartitionId()
          val attempt = if (tc != null) tc.taskAttemptId() else 0L
          writeTokenShard(outDir, pid, attempt, it).iterator
        }
      }
      .toDF("seq_id", "file", "byte_offset", "n_tokens")
    // writing the index IS the action that streams the .bin bytes
    index.write.mode("overwrite").parquet(s"$outDir/index")
    val referenced = spark.read.parquet(s"$outDir/index")
      .select("file").distinct().collect().map(_.getString(0)).toSet
    cleanOrphanShards(outDir, ".bin", referenced)
  }

  /** One partition attempt's [[writeTokenBin]] work: stream the
    * sequences to the attempt's OWN final file. Package-private so
    * SinksSpec can drive two attempts of the same partition directly
    * and assert the commit protocol.
    */
  private[graft] def writeTokenShard(outDir: String, pid: Int, attempt: Long,
      it: Iterator[(Long, Seq[Int])]): Vector[(Long, String, Long, Long)] = {
    val fin = new org.apache.hadoop.fs.Path(outDir,
      f"part-$pid%05d-attempt-$attempt.bin")
    val fs = fin.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val out = new java.io.BufferedOutputStream(fs.create(fin, true))
    var offset = 0L
    val rows = Vector.newBuilder[(Long, String, Long, Long)]
    try it.foreach { case (id, toks) =>
      val ts = Option(toks).getOrElse(Seq.empty)
      ts.foreach { t =>
        out.write(t & 0xff); out.write((t >>> 8) & 0xff)
        out.write((t >>> 16) & 0xff); out.write((t >>> 24) & 0xff)
      }
      rows += ((id, fin.toString, offset, ts.length.toLong))
      offset += 4L * ts.length
    } finally out.close()
    rows.result()
  }

  /** Driver-side orphan sweep for [[writeTokenBin]]: delete every file
    * with `suffix` under `outDir` that the committed index does not
    * reference — losing speculative attempts, killed attempts' partial
    * files, and stale shards from a previous overwrite run. Runs AFTER
    * the index commit, so a crash before it leaves extra bytes (safe:
    * readers only follow the index), never a missing file.
    */
  private[graft] def cleanOrphanShards(outDir: String, suffix: String,
      referenced: Set[String]): Unit = {
    // match by FILE NAME, not full path: listStatus returns qualified
    // URIs (file:/…) while the index stores the writer's Path.toString
    // — attempt-unique names make the name alone unambiguous
    val names = referenced.map(r => new org.apache.hadoop.fs.Path(r).getName)
    val dir = new org.apache.hadoop.fs.Path(outDir)
    val fs = dir.getFileSystem(new org.apache.hadoop.conf.Configuration())
    if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
      val p = st.getPath
      if (p.getName.endsWith(suffix) && !names.contains(p.getName))
        fs.delete(p, false)
    }
  }

  /** Driver-side pre-clean for the binary sinks' overwrite semantics:
    * stale shard files from a PREVIOUS run must go before the new job
    * starts, or (on rename-fails-if-dest-exists filesystems) a new
    * attempt would mistake last run's file for a sibling attempt's
    * commit and discard its own bytes.
    */
  private[sources] def cleanShardDir(outDir: String, suffix: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(outDir)
    val fs = dir.getFileSystem(new org.apache.hadoop.conf.Configuration())
    if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (n.endsWith(suffix) || (n.contains(suffix) && n.endsWith(".tmp")))
        fs.delete(st.getPath, false)
    }
  }

  /** Read a [[writeTokenBin]] export back to (seq_id, input_ids).
    * One task per shard file (the index groups by file, each group
    * replays its slices in offset order through one sequential stream
    * — no per-sequence reopen, no seek storm).
    */
  def readTokenBin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/index")
      .select(col("seq_id").cast("long"), col("file"),
        col("byte_offset").cast("long"), col("n_tokens").cast("long"))
      .as[(Long, String, Long, Long)]
      .groupByKey(_._2)
      .flatMapGroups { (file, rows) =>
        val path = new org.apache.hadoop.fs.Path(file)
        val fs = path.getFileSystem(new org.apache.hadoop.conf.Configuration())
        val in = new java.io.DataInputStream(
          new java.io.BufferedInputStream(fs.open(path)))
        // a downstream limit()/take()/task abort never exhausts the
        // iterator — the completion listener closes the handle anyway
        // (close is idempotent, so the EOF close below still stands)
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
          try in.close() catch { case _: Exception => () }
        }
        var pos = 0L
        val sorted = rows.toVector.sortBy(_._3)
        val out = sorted.iterator.map { case (id, _, off, n) =>
          require(n >= 0 && n <= MaxTokensPerSeq, s"index row oversized: $n")
          require(off >= pos, s"overlapping index rows at offset $off")
          in.skipNBytes(off - pos)
          val toks = new Array[Int](n.toInt)
          var i = 0
          while (i < toks.length) {
            val a = in.read(); val b = in.read(); val c = in.read()
            val d = in.read()
            if ((a | b | c | d) < 0) throw new java.io.EOFException(file)
            toks(i) = a | (b << 8) | (c << 16) | (d << 24)
            i += 1
          }
          pos = off + 4L * n
          (id, toks.toSeq)
        }
        new Iterator[(Long, Seq[Int])] {
          override def hasNext: Boolean = {
            val h = out.hasNext
            if (!h) in.close()
            h
          }
          override def next(): (Long, Seq[Int]) = out.next()
        }
      }
      .toDF("seq_id", "input_ids")
  }

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
