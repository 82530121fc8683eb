package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

import graft.Pipeline
import graft.text.Normalize

/** Structured Streaming surface (SURVEY.md §2.13).
  *
  * The reference is strictly batch; this module is the engine's added
  * capability for continuous ingestion. Design:
  *  - Stage 2/3/5 transforms are stateless column maps, so the *same*
  *    `Pipeline` functions run unchanged on a streaming DataFrame —
  *    streaming/batch parity is tested, not asserted (StreamingSpec).
  *  - Exact dedup (D1) is a window over global history in batch; on a
  *    stream it becomes `dropDuplicatesWithinWatermark` over the canon
  *    hash — state is bounded by the watermark instead of the corpus.
  *  - Event analytics: watermarked tumbling/sliding windows, and gap
  *    sessionization as explicit `flatMapGroupsWithState` state (the
  *    batch equivalent is the q_sessionize lag/cumsum window query).
  *
  * At scale: every groupBy here shuffles on its key (event_type/user_id)
  * with watermark-bounded state per key; no driver-side state anywhere.
  */
object Streaming {

  /** Spark's RocksDB state-store provider (public API, ships in the
    * Spark distribution) — the bounded-memory option for 100 TB-scale
    * intake. The default HDFS-backed provider keeps every key of every
    * stateful operator's state ON-HEAP per executor; at corpus-scale
    * key cardinalities (dedup hashes, session keys) that heap grows
    * with the keyspace. RocksDB spills state to local disk with an
    * in-memory working set, so executor memory stays flat while state
    * grows. Same checkpoint contract — recovery/exactly-once semantics
    * are identical (StreamingRocksDbSpec re-proves the restart suite's
    * key scenarios under it).
    */
  val RocksDbProviderClass: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with the session's streaming state store switched to
    * RocksDB, restoring the previous provider after. The conf is read
    * per query START, so the toggle cleanly scopes to queries started
    * inside `body`; queries already running are untouched.
    */
  def withRocksDbStateStore[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, RocksDbProviderClass)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Streaming WARC intake: watch a landing directory for crawl
    * archives (`.warc` / `.warc.gz`) and emit parsed records as they
    * arrive — the incremental counterpart of
    * [[graft.sources.Warc.readWarcFiles]] for continuous crawl drops.
    *
    * Shape: the `binaryFile` file-stream source tracks arrivals
    * (checkpointable, exactly-once per file), `maxFilesPerTrigger`
    * bounds batch size, and the same bomb-guarded parser used by the
    * batch path turns each archive into record rows — a malformed drop
    * yields its prefix instead of killing the stream. Intake archives
    * should follow the crawl convention of bounded file sizes (the
    * source materialises one file per row); the per-record caps bound
    * everything downstream.
    */
  def readWarc(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 4): DataFrame = {
    import spark.implicits._
    // the binaryFile source's fixed schema (streams cannot infer)
    val binaryFileSchema = StructType.fromDDL(
      "path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
    spark.readStream
      .format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", "*.warc*")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(dir)
      .select(col("path"), col("modificationTime"), col("content"))
      .as[(String, java.sql.Timestamp, Array[Byte])]
      .flatMap { case (path, mtime, bytes) =>
        graft.sources.Warc.parseAll(bytes).map { r =>
          (path, r.warcType, r.recordId, r.warcDate, r.targetUri,
            r.contentType, r.contentLength, r.payload, mtime)
        }
      }
      .toDF("file", "warc_type", "record_id", "warc_date", "target_uri",
        "content_type", "content_length", "payload", "file_mtime")
  }

  /** The streaming crawl front door: [[readWarc]] records narrowed to
    * the raw-doc shape the batch pipeline ingests — `response` records
    * HTTP-split (non-2xx and non-text payloads dropped), `conversion`
    * (WET) records taken as-is — so the SAME stage transforms run on a
    * live crawl drop as on a parquet corpus:
    * `cleanStream(warcDocs(spark, dir))` is stages 2–3 on arriving
    * archives. Stateless per record; bounded by the per-record caps.
    */
  def warcDocs(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 4): DataFrame = {
    import spark.implicits._
    readWarc(spark, dir, maxFilesPerTrigger)
      .select(col("warc_type"), col("target_uri"), col("payload"))
      .as[(String, String, Array[Byte])]
      .flatMap {
        case ("conversion", uri, payload) =>
          Some((uri, new String(payload, "UTF-8")))
        case ("response", uri, payload) =>
          graft.sources.Warc.httpResponse(payload).collect {
            case h if h.status / 100 == 2 &&
              (h.contentType.startsWith("text/") || h.contentType.isEmpty) =>
              (uri, new String(h.body, "UTF-8"))
          }
        case _ => None
      }
      .toDF("url", "text")
  }

  /** [[warcDocs]] with the record's own event time kept: WARC-Date as a
    * timestamp column (`warc_ts`) — the deterministic, restart-safe
    * watermark clock for stateful stages downstream (arrival wall clock
    * would re-stamp on reprocessing). A MALFORMED WARC-Date (real crawl
    * archives carry them) falls back to the archive FILE's modification
    * time — still restart-deterministic — instead of a NULL event time,
    * which the watermarked dedup would silently discard as late data
    * (no drop_reason, no sink row; StreamingRestartSpec pins the
    * survival).
    */
  def warcDocsTimed(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 4): DataFrame = {
    import spark.implicits._
    readWarc(spark, dir, maxFilesPerTrigger)
      .select(col("warc_type"), col("target_uri"), col("warc_date"),
        col("file_mtime"), col("payload"))
      .as[(String, String, String, java.sql.Timestamp, Array[Byte])]
      .flatMap {
        case ("conversion", uri, date, mtime, payload) =>
          Some((uri, date, mtime, new String(payload, "UTF-8")))
        case ("response", uri, date, mtime, payload) =>
          graft.sources.Warc.httpResponse(payload).collect {
            case h if h.status / 100 == 2 &&
              (h.contentType.startsWith("text/") || h.contentType.isEmpty) =>
              (uri, date, mtime, new String(h.body, "UTF-8"))
          }
        case _ => None
      }
      .toDF("url", "warc_date", "file_mtime", "text")
      // try_to_timestamp, not to_timestamp: under ANSI mode the plain
      // form THROWS on a malformed date (killing the whole stream for
      // one bad record); the try_ form yields NULL and the coalesce
      // takes the file-mtime fallback
      .withColumn("warc_ts",
        coalesce(try_to_timestamp(col("warc_date")), col("file_mtime")))
      .drop("warc_date", "file_mtime")
  }

  /** The streaming crawl chain end-to-end (the q_crawl_e2e composition
    * on a LIVE archive drop): [[warcDocsTimed]] intake → robots gate →
    * batch stages 2+3 ([[cleanStream]]) → quality gate → watermarked
    * exact dedup on the masked text.
    *
    * Scale shape, unchanged from the batch form: the rules frame is a
    * STATIC dim — [[graft.ops.Robots.gate]]'s per-host rule arrays
    * broadcast into a stream-static left join and the RFC longest-match
    * verdict rides in-row, so the only stream STATE in the whole chain
    * is the dedup's watermark-bounded hash set. Blocked and
    * drop-reasoned rows are filtered before dedup (the stream sink is
    * the training export; audits are the batch mode's business — and
    * keeping doomed rows out of dropDuplicates state is what bounds
    * it). Event time is WARC-Date, not arrival time, so a restart
    * replays to the same verdicts.
    */
  def crawlStream(spark: SparkSession, dir: String,
                  rules: DataFrame, watermark: String = "1 hour",
                  maxFilesPerTrigger: Int = 4): DataFrame = {
    val docs = warcDocsTimed(spark, dir, maxFilesPerTrigger)
      .withColumn("host", parse_url(col("url"), lit("HOST")))
      .withColumn("path", coalesce(parse_url(col("url"), lit("PATH")), lit("/")))
    val gated = graft.ops.Robots.gate(docs, rules)
      .filter(col("allowed")).drop("allowed")
    val kept = graft.ops.Filters.kept(cleanStream(gated))
    dedupStream(kept, textCol = "text_pii_masked",
      eventTimeCol = "warc_ts", watermark = watermark)
  }

  /** [[crawlStream]] wired to a checkpointed parquet sink — the
    * continuous crawl-intake job (exactly-once through the checkpoint
    * manifest; stop/restart resumes offsets AND dedup state).
    */
  def runCrawl(spark: SparkSession, warcDir: String, rules: DataFrame,
               outDir: String, checkpointDir: String,
               watermark: String = "1 hour"): org.apache.spark.sql.streaming.StreamingQuery =
    crawlStream(spark, warcDir, rules, watermark)
      .select("url", "warc_ts", "text_pii_masked")
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()

  /** Binary-media intake from a WARC landing dir: `response` records
    * whose HTTP payload is a 2xx image or audio body, kept as opaque
    * bytes with a `modality` tag — the media twin of [[warcDocsTimed]],
    * with the same event-time discipline (WARC-Date via
    * `try_to_timestamp`, archive-file mtime fallback for malformed
    * dates, so the watermark clock is restart-deterministic and a bad
    * date cannot silently vanish a record as late data).
    */
  def warcMediaTimed(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 4): DataFrame = {
    import spark.implicits._
    readWarc(spark, dir, maxFilesPerTrigger)
      .select(col("warc_type"), col("target_uri"), col("warc_date"),
        col("file_mtime"), col("payload"))
      .as[(String, String, String, java.sql.Timestamp, Array[Byte])]
      .flatMap {
        case ("response", uri, date, mtime, payload) =>
          graft.sources.Warc.httpResponse(payload).collect {
            case h if h.status / 100 == 2 &&
              (h.contentType.startsWith("image/") ||
                h.contentType.startsWith("audio/")) =>
              (uri, date, mtime,
                if (h.contentType.startsWith("image/")) "image" else "audio",
                h.body)
          }
        case _ => None
      }
      .toDF("url", "warc_date", "file_mtime", "modality", "content")
      .withColumn("warc_ts",
        coalesce(try_to_timestamp(col("warc_date")), col("file_mtime")))
      .drop("warc_date", "file_mtime")
  }

  /** The PERCEPTUAL leg of the streaming crawl chain (VERDICT r12 #5):
    * [[warcMediaTimed]] intake → per-modality signature extraction
    * (image dHash / audio energy-delta, the same codegen kernels as
    * the batch near-dup family) → keep-first within the watermark
    * horizon. The dedup keys on (modality, signature): the two
    * signature spaces are unrelated 64-bit families, so a numeric
    * collision across modalities must not collapse an image with an
    * audio clip. Same undecodable-payload discipline as
    * [[dedupPerceptualStream]]: a NULL signature falls back to a
    * byte-exact `raw:`-prefixed md5 (dropDuplicates treats NULLs as
    * equal and would funnel every undecodable payload into one
    * survivor). The only stream state is the watermark-bounded
    * signature set — signature extraction is stateless per record.
    */
  def mediaCrawlStream(spark: SparkSession, dir: String,
                       watermark: String = "1 hour",
                       maxFilesPerTrigger: Int = 4): DataFrame =
    warcMediaTimed(spark, dir, maxFilesPerTrigger)
      .withColumn("media_sig", coalesce(
        when(col("modality") === "image", graft.plans.DHashSig(col("content")))
          .otherwise(graft.plans.AudioSig(col("content"))),
        concat(lit("raw:"), md5(col("content")))))
      .withWatermark("warc_ts", watermark)
      .dropDuplicatesWithinWatermark("modality", "media_sig")

  /** [[mediaCrawlStream]] wired to a checkpointed parquet sink — the
    * continuous media-intake job (exactly-once through the checkpoint
    * manifest; stop/restart resumes offsets AND the perceptual dedup
    * state — StreamingRestartSpec pins a cross-format re-arrival being
    * swallowed by state recovered from the checkpoint).
    */
  def runMediaCrawl(spark: SparkSession, warcDir: String, outDir: String,
                    checkpointDir: String, watermark: String = "1 hour")
      : org.apache.spark.sql.streaming.StreamingQuery =
    mediaCrawlStream(spark, warcDir, watermark)
      .select("url", "warc_ts", "modality", "media_sig", "content")
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()

  /** Open a JSONL landing directory as a stream with an explicit schema
    * (streams cannot infer; `maxFilesPerTrigger` bounds batch size).
    */
  def readJsonl(spark: org.apache.spark.sql.SparkSession, schema: StructType,
                dir: String, maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir)

  /** Stages 2+3 of the batch pipeline applied to a stream of raw docs
    * (url, text). Identical column semantics to the batch path — it IS
    * the batch code.
    */
  def cleanStream(raw: DataFrame): DataFrame =
    Pipeline.deepCleanAndPii(Pipeline.cleanAndFilter(raw))

  /** Streaming exact dedup: canon-hash the text, keep the first arrival
    * per hash within the watermark horizon. `eventTimeCol` must be a
    * timestamp column (use the ingest time of the landing file).
    */
  def dedupStream(df: DataFrame, textCol: String, eventTimeCol: String,
                  watermark: String = "1 hour"): DataFrame =
    df.withColumn("exact_hash",
        Normalize.sha256Hex(Normalize.canonExact(col(textCol))))
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark("exact_hash")

  /** Streaming PERCEPTUAL image dedup — the intake twin of
    * q_media_neardup: dHash each arriving payload (the codegen
    * `dhash_sig` kernel: decode → 64-bit difference hash) and keep the
    * first arrival per SIGNATURE within the watermark horizon.
    * Signature EQUALITY, not hamming ≤ k: bounded keyed state needs an
    * equality key, and the dHash already collapses re-encodes and
    * container changes to identical bits — a QOI and a PNG of the same
    * pixels dedup here, which no byte hash can do (StreamingSpec pins
    * exactly that). Near-miss pairs (hamming 1–3) remain the batch
    * banding job's business. Undecodable payloads (NULL signature)
    * fall back to a byte-exact `raw:`-prefixed md5 key — NOT left
    * null, because dropDuplicates treats nulls as EQUAL and would
    * collapse every undecodable payload into one survivor; quarantine
    * is the downstream gate's decision, not the dedup's.
    */
  def dedupPerceptualStream(df: DataFrame, contentCol: String,
                            eventTimeCol: String,
                            watermark: String = "1 hour"): DataFrame =
    df.withColumn("dhash_sig", coalesce(
        graft.plans.DHashSig(col(contentCol)),
        concat(lit("raw:"), md5(col(contentCol)))))
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark("dhash_sig")

  /** The audio twin of [[dedupPerceptualStream]]: keyed on the
    * `audio_sig` energy-delta fingerprint, so the same recording
    * arriving as a WAV and as a FLAC dedups to one (the signature is
    * container-invariant — see [[graft.plans.AudioSig]]); same
    * `raw:` md5 fallback for undecodable payloads.
    */
  def dedupPerceptualAudioStream(df: DataFrame, contentCol: String,
                                 eventTimeCol: String,
                                 watermark: String = "1 hour"): DataFrame =
    df.withColumn("audio_sig", coalesce(
        graft.plans.AudioSig(col(contentCol)),
        concat(lit("raw:"), md5(col(contentCol)))))
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark("audio_sig")

  // ---- stateful flagged dedup (incremental-dedup state shape) -----------

  case class DedupEvent(exact_hash: String, dedup_id: String, ts: Timestamp)
  case class DedupFlag(dedup_id: String, exact_hash: String,
                       is_dup_exact: Boolean, dup_of: Option[String])

  /** Streaming twin of [[graft.ops.Dedup.incrementalExactDedup]]: the
    * keyed state is exactly the batch state table — exact_hash → kept
    * dedup_id — so duplicates are FLAGGED with lineage (`dup_of` points
    * at the first arrival, across micro-batches) instead of silently
    * vanishing the way `dropDuplicatesWithinWatermark` drops them.
    * Within a micro-batch, arrival order is (ts, dedup_id) — the
    * deterministic stand-in for the batch path's ingest_seq.
    *
    * State expires `ttlMs` past the keeper's last-seen event time, the
    * same watermark-bounded horizon dropDuplicatesWithinWatermark uses —
    * kept-row parity with it is exercised in StreamingSpec.
    */
  def dedupStreamFlagged(df: DataFrame, textCol: String, idCol: String,
                         eventTimeCol: String,
                         watermark: String = "1 hour",
                         ttlMs: Long = 3600000L): Dataset[DedupFlag] = {
    implicit val evEnc: Encoder[DedupEvent] = Encoders.product[DedupEvent]
    implicit val flagEnc: Encoder[DedupFlag] = Encoders.product[DedupFlag]
    implicit val strEnc: Encoder[String] = Encoders.STRING

    def fn(hash: String, batch: Iterator[DedupEvent],
           state: GroupState[String]): Iterator[DedupFlag] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        var keeper = state.getOption
        var maxTs = Long.MinValue
        val out = batch.toArray.sortBy(e => (e.ts.getTime, e.dedup_id)).map { e =>
          maxTs = math.max(maxTs, e.ts.getTime)
          keeper match {
            case Some(k) => DedupFlag(e.dedup_id, hash, is_dup_exact = true, Some(k))
            case None =>
              keeper = Some(e.dedup_id)
              DedupFlag(e.dedup_id, hash, is_dup_exact = false, None)
          }
        }
        keeper.foreach { k =>
          state.update(k)
          // timeout must stay ahead of the current watermark (late rows
          // can carry old timestamps)
          val horizon = math.max(maxTs + ttlMs, state.getCurrentWatermarkMs() + 1)
          state.setTimeoutTimestamp(horizon)
        }
        out.iterator
      }
    }

    df.withColumn("exact_hash",
        Normalize.sha256Hex(Normalize.canonExact(col(textCol))))
      .select(col("exact_hash"), col(idCol).cast("string").as("dedup_id"),
        col(eventTimeCol).cast("timestamp").as("ts"))
      .withWatermark("ts", watermark)
      .as[DedupEvent]
      .groupByKey(_.exact_hash)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  // ---- streaming CDX digest collapse -------------------------------------

  /** One capture; also the emitted kept-capture shape (identical
    * fields — the collapse only FILTERS). */
  case class CapEvent(surt: String, cdx_ts: Timestamp, digest: String)

  /** Streaming twin of the batch CDX digest collapse (q_cdx_collapse /
    * the Internet Archive `collapse=digest`): per-SURT state is the
    * LAST SEEN capture's digest, and a capture is emitted only when
    * its digest differs from the previous capture's — so an index
    * stream materializes each URL's distinct VERSIONS continuously,
    * the recrawl-frontier feed arriving as captures land instead of a
    * nightly batch pass. Within a micro-batch, captures process in
    * (event time, digest) order — the deterministic stand-in for the
    * batch window's `ORDER BY cdx_ts`; state expires `ttlMs` past the
    * SURT's last capture (a URL not captured for that long restarts
    * its timeline, which collapse semantics tolerate: the first
    * capture after a gap is always kept).
    *
    * Ordering contract: batch parity holds for captures that arrive in
    * event-time order ACROSS micro-batches (within a batch the sort
    * handles reordering). A capture arriving in a later micro-batch
    * with an EARLIER timestamp compares against the newest seen digest
    * — emitted verdicts are never revised (append mode). Crawl index
    * feeds are produced in capture order, so in-order delivery is the
    * operating regime; replay out-of-order history through the batch
    * collapse instead.
    *
    * Scale shape: state is one digest string per ACTIVE surt —
    * watermark-bounded, RocksDB-spillable; the only shuffle is the
    * keyed groupBy every stateful operator pays.
    */
  def collapseStream(caps: DataFrame, surtCol: String = "surt",
                     tsCol: String = "cdx_ts", digestCol: String = "digest",
                     watermark: String = "1 hour",
                     ttlMs: Long = 3600000L): Dataset[CapEvent] = {
    implicit val evEnc: Encoder[CapEvent] = Encoders.product[CapEvent]
    implicit val strEnc: Encoder[String] = Encoders.STRING

    def fn(surt: String, batch: Iterator[CapEvent],
           state: GroupState[String]): Iterator[CapEvent] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        var prev = state.getOption.orNull
        var maxTs = Long.MinValue
        val out = batch.toArray
          .sortBy(e => (e.cdx_ts.getTime, e.digest))
          .flatMap { e =>
            maxTs = math.max(maxTs, e.cdx_ts.getTime)
            val keep = prev == null || e.digest != prev
            prev = e.digest
            if (keep) Some(e) else None
          }
        if (prev != null) {
          state.update(prev)
          val horizon = math.max(maxTs + ttlMs, state.getCurrentWatermarkMs() + 1)
          state.setTimeoutTimestamp(horizon)
        }
        out.iterator
      }
    }

    caps
      .select(col(surtCol).as("surt"),
        col(tsCol).cast("timestamp").as("cdx_ts"),
        col(digestCol).as("digest"))
      .withWatermark("cdx_ts", watermark)
      .as[CapEvent]
      .groupByKey(_.surt)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Continuous incremental dedup against a PERSISTENT hash corpus: each
    * micro-batch runs [[graft.ops.Dedup.incrementalExactDedup]] against a
    * parquet state table of (exact_hash, dedup_id), then appends its own
    * kept hashes to that state. Unlike the state-store variants
    * ([[dedupStream]]/[[dedupStreamFlagged]]) the horizon is unbounded —
    * state lives in a table, not the streaming state store, so it
    * survives restarts, is inspectable, and can be compacted/bucketed
    * out-of-band (the 100 TB corpus-state shape: history never
    * re-shuffles, each batch joins against the hash set only).
    *
    * Failure semantics — exactly-once by construction, not by luck:
    * foreachBatch replays a batch under the SAME batchId after a crash,
    * so both sinks write to a per-batch subdirectory (`batch=<id>`)
    * with overwrite — a replay replaces whatever a crashed attempt left
    * (including a half-written footer-less dir) instead of appending a
    * second copy. The state read takes only subdirectories with batch id
    * STRICTLY BELOW the current batch, so a replay never sees its own
    * crashed attempt's partial state and flags are identical to the
    * uninterrupted run (StreamingRestartSpec pins this with a planted
    * crashed-attempt dir).
    */
  def dedupAgainstCorpus(df: DataFrame, textCol: String, idCol: String,
                         stateDir: String, outDir: String,
                         checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val stateSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("exact_hash", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("dedup_id", org.apache.spark.sql.types.StringType)))
        val seen = readBatchedState(spark, stateDir, stateSchema, batchId)
        val flagged = graft.ops.Dedup
          .incrementalExactDedup(batch, seen, textCol = textCol, seqCol = idCol)
          .persist() // one evaluation feeds both sinks
        try {
          flagged.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
          flagged.filter(!col("is_dup_exact"))
            .select("exact_hash", "dedup_id")
            .write.mode("overwrite").parquet(s"$stateDir/batch=$batchId")
        } finally flagged.unpersist(blocking = false)
      }
      .start()

  /** Read a `batch=<id>`-layouted state table, taking only batches
    * strictly below `currentBatchId` (a replayed batch must never read
    * its own crashed attempt's partial rows). Listing + explicit schema
    * — never inference, which a footer-less crashed dir would break.
    *
    * The `batch=<id>` layout IS the state contract: out-of-band
    * compaction must preserve it (merge into fewer `batch=` dirs with
    * ids below the live horizon, never flat files — flat files are
    * invisible to this reader by design, because only the layout lets
    * a crashed attempt be distinguished from history).
    *
    * Lineage guard: a batch id ABOVE the current one can only mean the
    * state dir belongs to a different checkpoint lineage (a fresh
    * checkpoint restarts ids at 0; per-batch `overwrite` would then
    * silently destroy the prior run's corpus state batch by batch) —
    * fail fast instead. The one undetectable case is an old state dir
    * containing ONLY `batch=0` meeting a fresh query's batch 0, which
    * is indistinguishable from a first-batch crash replay.
    */
  private def readBatchedState(spark: SparkSession, stateDir: String,
                               schema: org.apache.spark.sql.types.StructType,
                               currentBatchId: Long): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(stateDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids: Array[Long] =
      if (!fs.exists(path)) Array.empty
      else fs.listStatus(path).flatMap { st =>
        if (st.isDirectory && st.getPath.getName.startsWith("batch="))
          st.getPath.getName.drop(6).toLongOption
        else None
      }
    val ahead = ids.filter(_ > currentBatchId)
    require(ahead.isEmpty,
      s"corpus state at $stateDir contains batch ids ${ahead.sorted.mkString(",")} " +
        s"AHEAD of this query's batch $currentBatchId: the state belongs to a " +
        "different checkpoint lineage. Reuse the original checkpointDir to " +
        "resume it, or point this query at a fresh stateDir.")
    val dirs = ids.filter(_ < currentBatchId).map(id => s"$stateDir/batch=$id")
    if (dirs.isEmpty)
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    else
      spark.read.schema(schema).parquet(dirs.toIndexedSeq: _*)
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** Near-dup twin of [[dedupAgainstCorpus]]: each micro-batch is
    * MinHash-flagged within itself AND against a persistent banded
    * sketch table ([[graft.ops.SketchDedup.incrementalMinhash]]), then
    * the sketches already computed for the kept docs (neither flag) are
    * written to that state — one sketch pass per batch, total. Same
    * unbounded-horizon design: state is a parquet table, not the
    * streaming state store — inspectable, and compactable out-of-band
    * PROVIDED the `batch=<id>` layout is preserved (the layout is the
    * replay-safety contract — see [[readBatchedState]]); history is
    * never re-sketched. Restart safety is the same
    * per-batch-overwrite scheme as [[dedupAgainstCorpus]]: both sinks
    * write `batch=<id>` subdirectories keyed by the stable foreachBatch
    * batch id, and the state read excludes the current batch id, so a
    * crash anywhere between the two writes replays into an identical
    * end state — no sketch lost, none double-appended, flags equal to
    * the uninterrupted run (StreamingRestartSpec).
    */
  def nearDedupAgainstCorpus(df: DataFrame, textCol: String, idCol: String,
                             stateDir: String, outDir: String,
                             checkpointDir: String,
                             threshold: Double = 0.7): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val stateSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("hs",
            org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, false)),
          org.apache.spark.sql.types.StructField("bands",
            org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, false))))
        val state = readBatchedState(spark, stateDir, stateSchema, batchId)
        val result = graft.ops.SketchDedup
          .incrementalMinhash(batch, state, idCol = idCol, textCol = textCol,
            threshold = threshold)
        val flagged = result.flagged.persist()
        try {
          flagged.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
          // the ALREADY-COMPUTED sketches of docs kept by both checks —
          // no re-sketching, no second pass over the text
          val keptIds = flagged
            .filter(!col("is_dup_near_batch") && !col("is_dup_near_corpus"))
            .select(col(idCol).cast("long").as("id"))
          result.sketches.join(keptIds, Seq("id"), "left_semi")
            .write.mode("overwrite").parquet(s"$stateDir/batch=$batchId")
        } finally {
          flagged.unpersist(blocking = false)
          result.release()
        }
      }
      .start()

  /** Streaming boilerplate scrub: each micro-batch of documents is
    * cleansed against a PRECOMPUTED frequent-line table
    * ([[graft.ops.Curation.frequentLines]], built offline over the
    * corpus and refreshed out-of-band). foreachBatch, not a streaming
    * aggregation: the per-doc reassembly groups by doc_id — an
    * unbounded key — so the state-store form would grow without a
    * watermark to bound it; batch semantics per micro-batch keep the
    * operator stateless (the frequent table is the only state, and it
    * lives in a table, not the store).
    */
  def scrubBoilerplate(df: DataFrame, frequent: DataFrame, textCol: String,
                       idCol: String, outDir: String,
                       checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Curation.scrubLines(batch, frequent, idCol, textCol)
          .write.mode("append").parquet(outDir)
      }
      .start()

  /** Trending terms: sliding-window token counts over a document
    * stream — the monitoring view a curation pipeline keeps on its
    * intake (vocabulary drift, spam bursts). Watermark bounds the
    * window state; the explode runs map-side before the windowed agg's
    * one keyed shuffle, exactly like the batch word-count shape.
    */
  def trendingTerms(docs: DataFrame, tsCol: String = "ts",
                    textCol: String = "text", window_ : String = "10 minutes",
                    slide: String = "5 minutes",
                    watermark: String = "20 minutes"): DataFrame =
    docs.withWatermark(tsCol, watermark)
      .select(col(tsCol),
        explode(graft.text.TextMetrics.tokens(col(textCol))).as("term"))
      .groupBy(window(col(tsCol), window_, slide), col("term"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("term"), col("n"))

  /** Per-window Count-Min cell grid ([[graft.ops.CountMin]]) — the
    * frequency monitor whose STATE STORE footprint is independent of
    * vocabulary: [[trendingTerms]] keeps one state row per
    * (window, term), which on an open crawl vocabulary grows without
    * bound inside the state store; this keeps ≤ depth×width cells per
    * window, each a plain partial-merging SUM, no matter how many
    * distinct tokens stream through. Downstream point estimates join
    * the cells exactly as in the batch path — and because the cells
    * are the same deterministic md5-bucket sums, a processed window's
    * grid is BIT-EQUAL to `CountMin.sketch` run in batch over the same
    * rows (spec-pinned streaming≡batch parity).
    */
  def sketchedTermFreq(docs: DataFrame, tsCol: String = "ts",
                       textCol: String = "text",
                       window_ : String = "10 minutes",
                       watermark: String = "20 minutes"): DataFrame = {
    import graft.ops.CountMin
    val jb = explode(array((0 until CountMin.Depth).map(j =>
      struct(lit(j).as("j"), CountMin.bucket(j, col("term")).as("b"))): _*)).as("jb")
    docs.withWatermark(tsCol, watermark)
      .select(col(tsCol),
        explode(graft.text.TextMetrics.tokens(col(textCol))).as("term"))
      .select(col(tsCol), jb)
      .groupBy(window(col(tsCol), window_), col("jb.j").as("j"), col("jb.b").as("b"))
      .agg(count(lit(1)).as("c"))
      .select(col("window.start").as("window_start"),
        col("j"), col("b"), col("c"))
  }

  /** Per-window Misra-Gries heavy hitters ([[graft.ops.HeavyHitters]])
    * — "what dominates the live stream RIGHT NOW" with state
    * independent of vocabulary, completing the bounded-state streaming
    * monitor pair: [[sketchedTermFreq]] answers point frequencies of
    * KNOWN probes from its cell grid, this surfaces the dominant terms
    * themselves with ≤ k counters per window (where [[trendingTerms]]
    * keeps one state row per (window, term) — unbounded on an open
    * crawl vocabulary). The typed aggregator partial-merges, so the
    * state store holds one ≤k-entry buffer per window; summary
    * CONTENTS are merge-order-defined as everywhere, but every emitted
    * window obeys the no-overcount / n/(k+1)-undercount / total-recall
    * guarantees against that window's exact counts (spec-pinned,
    * streaming vs in-test exact).
    */
  def heavyTermsStream(docs: DataFrame, tsCol: String = "ts",
                       textCol: String = "text",
                       window_ : String = "10 minutes",
                       watermark: String = "20 minutes",
                       k: Int = 64): DataFrame =
    docs.withWatermark(tsCol, watermark)
      .select(col(tsCol),
        explode(graft.text.TextMetrics.tokens(col(textCol))).as("term"))
      .groupBy(window(col(tsCol), window_))
      .agg(graft.ops.HeavyHitters.mgTopK(k)(col("term")).as("hh"))
      .select(col("window.start").as("window_start"),
        explode(col("hh.items")).as("it"))
      .select(col("window_start"), col("it.tok").as("term"),
        col("it.est").as("est"))

  /** Streaming intake monitor — the data-card as a watermarked tumbling
    * window: per window, document count, token/byte mass, blank share,
    * and within-window approximate duplicate mass (docs minus HLL++
    * distinct content hashes — the live mirror-feed alarm). Every
    * aggregate is partial-merging with bounded state (count/sum/HLL
    * sketch; an exact distinct would hold the window's whole hash set
    * in the state store), and windows expire at the watermark.
    */
  def intakeMonitor(docs: DataFrame, tsCol: String = "ts",
                    textCol: String = "text", window_ : String = "10 minutes",
                    watermark: String = "20 minutes"): DataFrame = {
    val txt = coalesce(col(textCol), lit(""))
    docs.withWatermark(tsCol, watermark)
      .select(col(tsCol),
        size(graft.text.TextMetrics.tokens(col(textCol))).cast("long").as("n_tok"),
        length(txt).cast("long").as("n_chars"),
        (trim(txt) === "").cast("long").as("blank"),
        md5(txt).as("h"))
      .groupBy(window(col(tsCol), window_))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("total_tokens"),
        sum("n_chars").as("total_chars"),
        sum("blank").as("n_blank"),
        approx_count_distinct(col("h")).as("approx_distinct"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("n_docs"), col("total_tokens"), col("total_chars"),
        col("n_blank"),
        // HLL++ can overestimate distinct past n_docs on all-unique
        // windows — clamp so noise never reads as negative dup mass
        greatest(lit(0L), col("n_docs") - col("approx_distinct"))
          .as("approx_dup_mass"))
  }

  /** Stream-static ANN scoring: cosine of each arriving embedding
    * against a broadcast query/probe set, keeping matches above
    * `threshold` — the live duplicate/contamination probe for an
    * embedding ingest stream (score new vectors against known
    * benchmarks or canonical docs as they land). Stateless — a pure
    * projection + filter per micro-batch; the probe set is the static
    * side, so no state store and no watermark are needed.
    */
  def scoreAgainstProbes(emb: DataFrame, probes: DataFrame,
                         threshold: Double = 0.9): DataFrame = {
    val e = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val p = broadcast(probes.select(col("vec_id").as("probe_id"),
      col("embedding").cast("array<double>").as("pv")))
    e.join(p, col("vec_id") =!= col("probe_id"))
      .withColumn("cosine", graft.plans.CosineSimilarity(col("v"), col("pv")))
      .filter(col("cosine") >= threshold)
      .select("vec_id", "probe_id", "cosine")
  }

  /** Watermarked tumbling-window counts/sums per event type. */
  def eventsTumbling(events: DataFrame, window_ : String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** End-to-end continuous pipeline: JSONL landing dir -> stages 2+3 ->
    * watermarked exact dedup -> stage-5 scoring -> stage-6 tokenisation
    * (all stateless, the same batch code; the tokenizer is the native
    * one-pass kernel) -> parquet, with a checkpoint for exactly-once
    * file-sink semantics. Returns the started query; the caller owns
    * its lifecycle. `ingest_ts` is the arrival wall clock (the
    * streaming stand-in for the batch pipeline's single driver-side
    * batch timestamp).
    */
  def runPipeline(spark: org.apache.spark.sql.SparkSession, schema: StructType,
                  landingDir: String, outDir: String, checkpointDir: String,
                  watermark: String = "1 hour"): org.apache.spark.sql.streaming.StreamingQuery = {
    val raw = readJsonl(spark, schema, landingDir)
      .withColumn("ingest_ts", current_timestamp())
    val cleaned = cleanStream(raw)
    val deduped = dedupStream(cleaned, textCol = "text_pii_masked",
      eventTimeCol = "ingest_ts", watermark = watermark)
    Pipeline.tokenise(Pipeline.score(deduped))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()
  }

  /** Watermarked stream-stream interval join — the streaming twin of the
    * batch q_range_join_clicks query: each purchase pairs with the same
    * user's clicks from the trailing `lookback` interval. Both sides are
    * watermarked and the range predicate bounds the join state Spark
    * keeps: click state older than (purchase watermark − lookback) is
    * evicted, purchase state by its own watermark. Executes as one keyed
    * shuffle on user_id — never a cartesian.
    */
  def joinPurchasesWithClicks(purchases: DataFrame, clicks: DataFrame,
                              lookback: String = "1 hour",
                              watermark: String = "1 hour"): DataFrame = {
    val p = purchases.select(col("event_id").as("p_event"),
        col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    val c = clicks.select(col("event_id").as("c_event"),
        col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", watermark)
    p.join(c, expr(
      s"p_user = c_user AND c_ts >= p_ts - INTERVAL $lookback AND c_ts <= p_ts"))
  }

  // ---- per-source drift monitor (EWMA over tumbling windows) ------------

  case class DriftEvent(source: String, ts: Timestamp, n_chars: Long)
  case class DriftWin(start: Long, n: Long, sum: Long)
  case class DriftState(ewmaQ: Long, ewvarQ: Long, nWindows: Long,
                        open: Seq[DriftWin])
  case class DriftOut(source: String, window_start: Timestamp, n_docs: Long,
                      mean_len_q: Long, ewma_q: Long, dd_q: Long,
                      ewvar_q: Long, alert: Boolean)

  /** Continuous intake-drift detection: per source, tumbling event-time
    * windows of mean document length folded into an EWMA + EW-variance,
    * alerting when a window's deviation exceeds 3σ — the "did this
    * crawl source silently change shape?" monitor that
    * [[intakeMonitor]]'s plain per-window report cannot express because
    * it holds no cross-window memory.
    *
    * Statefulness: ONE flatMapGroupsWithState keyed by source. Windows
    * accumulate inside the state (not a separate windowed agg — two
    * chained stateful operators would each need their own watermark
    * semantics), close strictly in window-start order when the
    * watermark passes their end, and fold into the EWMA as they close,
    * so emission order — and therefore the EWMA trajectory — is
    * deterministic regardless of batch boundaries. State per source is
    * three longs + the open windows inside the watermark horizon.
    *
    * Determinism: all arithmetic is scaled-integer (mean length
    * quantized ×10⁴; EWMA α = 1/4 via integer shift-divide; variance
    * tracked in q²/10⁴ units), so a restart replaying from the
    * checkpoint reproduces bit-identical outputs — the same discipline
    * as the quantized oracle queries. Alerts arm after
    * [[DriftWarmupWindows]] closed windows; σ-floor `+1` keeps the
    * constant-input case (variance 0) from alerting on the first
    * 1-char jitter.
    */
  val DriftWindowMs: Long = 60000L
  val DriftWarmupWindows: Long = graft.ops.DriftMath.Warmup

  def driftMonitor(docs: DataFrame, tsCol: String = "ts",
                   sourceCol: String = "source", lenCol: String = "n_chars",
                   watermark: String = "2 minutes"): Dataset[DriftOut] = {
    implicit val evEnc: Encoder[DriftEvent] = Encoders.product[DriftEvent]
    implicit val stEnc: Encoder[DriftState] = Encoders.product[DriftState]
    implicit val outEnc: Encoder[DriftOut] = Encoders.product[DriftOut]
    implicit val strEnc: Encoder[String] = Encoders.STRING
    // copied to locals so the state lambda captures VALUES, not the
    // (non-serializable) enclosing module that owns the constants
    val windowMs = DriftWindowMs
    val warmup = DriftWarmupWindows

    // the recurrence itself lives in graft.ops.DriftMath — ONE fold
    // arithmetic shared with the batch twin (ops.Drift.sourceDrift),
    // whose DuckDB recursive-CTE oracle (q_source_drift) hash-checks
    // it; this streaming form inherits that coverage through the
    // shared code path
    def fold(source: String, st: DriftState,
             closed: Seq[DriftWin]): (DriftState, List[DriftOut]) = {
      var ewma = st.ewmaQ
      var ewvar = st.ewvarQ
      var nw = st.nWindows
      val outs = closed.sortBy(_.start).map { w =>
        val s = graft.ops.DriftMath.step(ewma, ewvar, nw,
          graft.ops.DriftMath.xq(w.sum, w.n), warmup)
        ewma = s.ewma; ewvar = s.ewvar; nw += 1L
        DriftOut(source, new Timestamp(w.start), w.n, s.xq, s.ewma, s.ddq,
          s.ewvar, s.alert)
      }
      (DriftState(ewma, ewvar, nw, Seq.empty), outs.toList)
    }

    // idle eviction horizon: a source silent for this long loses its
    // state-store entry (and its EWMA baseline — deliberate: after a
    // long silence the old baseline is stale anyway). Without it,
    // churning source cardinality (one-off feeds, per-domain labels)
    // would grow per-source state entries for the life of the query.
    val retentionMs = 30L * windowMs

    def fn(source: String, batch: Iterator[DriftEvent],
           state: GroupState[DriftState]): Iterator[DriftOut] = {
      val st0 = state.getOption.getOrElse(DriftState(0L, 0L, 0L, Seq.empty))
      val acc = collection.mutable.Map.empty[Long, DriftWin]
      st0.open.foreach(w => acc(w.start) = w)
      var sawData = false
      batch.foreach { e =>
        sawData = true
        val ws = math.floorDiv(e.ts.getTime, windowMs) * windowMs
        val w = acc.getOrElse(ws, DriftWin(ws, 0L, 0L))
        acc(ws) = DriftWin(ws, w.n + 1L, w.sum + e.n_chars)
      }
      val wm = state.getCurrentWatermarkMs()
      val (closed, open) =
        acc.values.toSeq.partition(_.start + windowMs <= wm)
      if (state.hasTimedOut && !sawData && closed.isEmpty && open.isEmpty) {
        // idle-retention timeout with nothing pending: evict
        state.remove()
        Iterator.empty
      } else {
        val (st1, outs) = fold(source, st0, closed)
        state.update(st1.copy(open = open.sortBy(_.start)))
        // open windows: wake when the earliest can close; otherwise arm
        // the idle-eviction timer past the watermark
        if (open.nonEmpty)
          state.setTimeoutTimestamp(open.map(_.start).min + windowMs)
        else
          state.setTimeoutTimestamp(wm + retentionMs)
        outs.iterator
      }
    }

    docs
      .select(coalesce(col(sourceCol), lit("")).as("source"),
        col(tsCol).cast("timestamp").as("ts"),
        coalesce(col(lenCol), lit(0L)).cast("long").as("n_chars"))
      // null timestamps: the watermark filter does NOT drop them (a
      // null predicate is not late), and they would NPE in the state
      // function — an un-timestamped record cannot join any window
      .filter(col("ts").isNotNull)
      .withWatermark("ts", watermark)
      .as[DriftEvent]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  // ---- gap sessionization (flatMapGroupsWithState) ----------------------

  // ---- streaming politeness scheduler (crawlSchedule's intake twin) -----

  case class FrontierUrl(host: String, doc_id: Long, crawl_delay: Long,
                         ts: Timestamp)
  case class HostPos(next: Long)
  case class SchedSlot(host: String, doc_id: Long, seq: Long,
                       fetch_at_sec: Long)

  /** Streaming per-host politeness scheduler — the intake twin of
    * [[graft.queries.WarcQueries.crawlSchedule]]: URLs of one host
    * fetch sequentially with the host's crawl-delay between requests,
    * so each arriving URL gets the host's NEXT position and
    * `fetch_at_sec = seq × delay`. Keyed state is ONE long per host
    * (the next position), so a frontier's state footprint is
    * 8 bytes × #hosts regardless of URL volume — at web scale
    * (10⁷–10⁸ hosts) that is the shape the RocksDB state provider
    * ([[withRocksDbStateStore]]) exists for. Positions deliberately
    * NEVER expire: a host's politeness sequence is meant to continue
    * across micro-batches (StreamingSpec pins the continuation) and
    * across restarts — positions recover from the GroupState
    * checkpoint, pinned directly by StreamingRestartSpec's scheduler
    * restart case and its StreamingRocksDbSpec twin (a recrawl cycle
    * that wants a reset starts a fresh checkpoint).
    * Within a micro-batch, arrival order is (ts, doc_id)
    * — the deterministic stand-in the stateful dedup twins also use —
    * so a batch-ordered replay is bit-equal to the batch scheduler.
    */
  def scheduleStream(urls: DataFrame,
                     watermark: String = "1 hour"): Dataset[SchedSlot] = {
    implicit val inEnc: Encoder[FrontierUrl] = Encoders.product[FrontierUrl]
    implicit val stEnc: Encoder[HostPos] = Encoders.product[HostPos]
    implicit val outEnc: Encoder[SchedSlot] = Encoders.product[SchedSlot]
    implicit val strEnc: Encoder[String] = Encoders.STRING

    def fn(host: String, batch: Iterator[FrontierUrl],
           state: GroupState[HostPos]): Iterator[SchedSlot] = {
      var n = state.getOption.map(_.next).getOrElse(0L)
      val out = batch.toArray.sortBy(u => (u.ts.getTime, u.doc_id)).map { u =>
        val slot = SchedSlot(host, u.doc_id, n, n * u.crawl_delay)
        n += 1
        slot
      }
      state.update(HostPos(n))
      out.iterator
    }

    urls
      .select(col("host").cast("string").as("host"),
        col("doc_id").cast("long").as("doc_id"),
        col("crawl_delay").cast("long").as("crawl_delay"),
        col("ts").cast("timestamp").as("ts"))
      .withWatermark("ts", watermark)
      .as[FrontierUrl]
      .groupByKey(_.host)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
  }

  case class SessionEvent(user_id: Long, ts: Timestamp, value: Double)
  case class SessionAcc(start: Long, end: Long, n: Long, sumValue: Double)
  case class SessionOut(user_id: Long, session_start: Timestamp,
                        session_end: Timestamp, n_events: Long,
                        sum_value: Double)

  /** Sessions close when `gap` passes with no events for the user (state
    * timeout keyed on event time, so state is bounded by the watermark).
    * Emits each session exactly once, on close.
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30,
                 watermark: String = "1 hour"): Dataset[SessionOut] = {
    val gapMs = gapMinutes * 60L * 1000L
    implicit val evEnc: Encoder[SessionEvent] = Encoders.product[SessionEvent]
    implicit val accEnc: Encoder[SessionAcc] = Encoders.product[SessionAcc]
    implicit val outEnc: Encoder[SessionOut] = Encoders.product[SessionOut]
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong

    def close(userId: Long, s: SessionAcc): SessionOut =
      SessionOut(userId, new Timestamp(s.start), new Timestamp(s.end),
        s.n, s.sumValue)

    def fn(userId: Long, batch: Iterator[SessionEvent],
           state: GroupState[SessionAcc]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        val out = close(userId, state.get)
        state.remove()
        Iterator(out)
      } else {
        var closed = List.empty[SessionOut]
        var cur = state.getOption
        batch.toArray.sortBy(_.ts.getTime).foreach { e =>
          val t = e.ts.getTime
          cur match {
            case Some(s) if t - s.end <= gapMs =>
              cur = Some(SessionAcc(s.start, math.max(s.end, t), s.n + 1,
                s.sumValue + e.value))
            case Some(s) =>
              closed ::= close(userId, s)
              cur = Some(SessionAcc(t, t, 1, e.value))
            case None =>
              cur = Some(SessionAcc(t, t, 1, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.end + gapMs)
        }
        closed.reverseIterator
      }
    }

    events
      .select(col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp").as("ts"),
        coalesce(col("value"), lit(0.0)).cast("double").as("value"))
      .withWatermark("ts", watermark)
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }
}
