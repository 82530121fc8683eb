package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Filters, Score}
import graft.text.{Normalize, TextMetrics}

/** FIXTURES.md §3 drop-reason, dedup, and scoring cases. */
class FiltersDedupSpec extends SparkTestBase {
  import spark.implicits._

  private def prefilterReason(text: String): Option[String] = {
    val df = Seq(Option(text)).toDF("text")
      .withColumn("text_norm", Normalize.normalizeText(col("text")))
      .withColumn("char_len", TextMetrics.charLen(col("text_norm")))
      .withColumn("word_count", TextMetrics.wordCount(col("text_norm")))
    val out = Filters.applyRules(df, Filters.prefilterRules(
      col("text"), col("text_norm"), col("char_len"), col("word_count")))
    Option(out.select("drop_reason").collect()(0).getString(0))
  }

  test("F1-F8 prefilter reasons (first-match-wins order)") {
    assert(prefilterReason(null).contains("missing"))
    assert(prefilterReason("\t\n   ").contains("empty_after_clean"))
    assert(prefilterReason("N/A").contains("null_like"))
    assert(prefilterReason("123.45-678").contains("numeric_like"))
    assert(prefilterReason("hello there").contains("too_short_chars"))
    assert(prefilterReason("antidisestablishmentarianism").contains("too_short_words"))
    assert(prefilterReason("x y " * 50001).contains("too_long"))
    assert(prefilterReason("this is a perfectly fine document with words").isEmpty)
    // numeric_like beats too_short_chars (earlier rule wins)
    assert(prefilterReason("123").contains("numeric_like"))
  }

  test("kept/dropped partition the input disjointly") {
    val df = Seq(Some("good document with enough words to pass all the filters easily"),
      None, Some("123")).toDF("text")
      .withColumn("text_norm", Normalize.normalizeText(col("text")))
      .withColumn("char_len", TextMetrics.charLen(col("text_norm")))
      .withColumn("word_count", TextMetrics.wordCount(col("text_norm")))
    val out = Filters.applyRules(df, Filters.prefilterRules(
      col("text"), col("text_norm"), col("char_len"), col("word_count"))).cache()
    assert(Filters.kept(out).count() + out.filter(col("drop_reason").isNotNull).count() == df.count())
  }

  test("D1 exact dedup: keep first by ingest_seq, later rows point at it") {
    val df = Seq(
      (1L, "  Hello   WORLD  "),
      (2L, "hello world"),
      (3L, "different doc"),
      (4L, "HELLO WORLD")
    ).toDF("doc_id", "text").withColumn("ingest_seq", col("doc_id"))
    val out = Dedup.exactDedup(df, textCol = "text")
      .select("doc_id", "is_dup_exact", "dup_of", "drop_reason")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!out(1L).getBoolean(1))
    assert(out(2L).getBoolean(1) && out(2L).getString(2) == "1")
    assert(out(4L).getBoolean(1) && out(4L).getString(2) == "1")
    assert(!out(3L).getBoolean(1))
    assert(out(2L).getString(3) == "exact_duplicate")
  }

  test("D2 near dedup: 200+ char docs sharing 500-char prefix; short docs exempt") {
    val longPrefix = "a b c d e f g h i j " * 30 // 600 chars canon
    val df = Seq(
      (1L, longPrefix + "tail one"),
      (2L, longPrefix + "tail two"),
      (3L, "short short short"), // <200 canon: exempt
      (4L, "short short short x") // <200: exempt even though similar
    ).toDF("doc_id", "text").withColumn("ingest_seq", col("doc_id"))
    val out = Dedup.dedupStage(df, textCol = "text")
      .select("doc_id", "is_dup_exact", "is_dup_near", "drop_reason")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!out(1L).getBoolean(2))
    assert(out(2L).getBoolean(2) && out(2L).getString(3) == "near_duplicate")
    assert(!out(3L).getBoolean(2) && !out(4L).getBoolean(2))
  }

  test("D2 precedence: exact duplicates keep their exact reason") {
    val body = "w x y z " * 80 // 640 chars: shares the full 500-char near key
    val df = Seq((1L, body), (2L, body), (3L, body + "tail"))
      .toDF("doc_id", "text").withColumn("ingest_seq", col("doc_id"))
    val out = Dedup.dedupStage(df, textCol = "text")
      .select("doc_id", "drop_reason", "dup_of")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(2L).getString(1) == "exact_duplicate")
    assert(out(3L).getString(1) == "near_duplicate")
    assert(out(3L).getString(2) == "1")
  }

  test("dedupStage narrow-shuffle form is value-identical to the composed form") {
    // real corpus + a doomed row + exact/near planted dups; doomed rows
    // exercise the doomed-sorts-last rule in BOTH windows
    val longPrefix = "p q r s t u v w x y " * 30
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .limit(200)
      .select(col("doc_id"), col("text"))
      .unionByName(Seq(
        (100001L, longPrefix + "tail a"),
        (100002L, longPrefix + "tail b"),
        (100003L, longPrefix + "tail a")
      ).toDF("doc_id", "text"))
      .withColumn("ingest_seq", col("doc_id"))
      // doom one of the planted dups pre-dedup (first-occurrence row!)
      .withColumn("drop_reason",
        when(col("doc_id") === 100001L, lit("too_short")))
    val cols = Seq("doc_id", "dedup_id", "exact_hash", "is_dup_exact",
      "is_dup_near", "dup_of", "drop_reason", "near_key", "exact_canon_text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect()
        .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val fused = canon(Dedup.dedupStage(docs, textCol = "text"))
    val composed = canon(FiltersDedupSpec.nearDedup(
      Dedup.exactDedup(docs, textCol = "text"), textCol = "text"))
    assert(fused.keySet === composed.keySet)
    fused.keySet.foreach { id =>
      assert(fused(id) === composed(id), s"doc $id")
    }
    // the doomed first-occurrence must not have shadowed the kept row
    assert(fused(100002L)(3) === false, "kept row wrongly flagged")
    // schema parity is positional, not just by-name: positional
    // consumers (parquet schema diffs, select-by-index) see one order
    assert(Dedup.dedupStage(docs, textCol = "text").columns.toSeq ===
      FiltersDedupSpec.nearDedup(Dedup.exactDedup(docs, textCol = "text"),
        textCol = "text").columns.toSeq)
  }

  test("dedupStage equals the composed form on a hard layout, AQE on and off") {
    // Five partitions, rows out of ingest_seq order, exact and near dup
    // groups spanning partitions, null and empty text, doomed rows:
    // every flag routed back to its wide row must be that row's own
    // (a flag row kept without copying aliases the shuffle reader's
    // buffer and points dup_of at another row's keeper).
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val long = "lorem ipsum dolor sit amet consectetur " * 15
    val pool = Seq[String](null, "", "   ", "alpha beta", "ALPHA  beta",
      "gamma delta", long + "one", long) ++ (0 until 12).map(i => long + s"v$i")
    val rng = new scala.util.Random(7)
    val rows = rng.shuffle((0L until 240L).map { seq =>
      val text = pool(rng.nextInt(pool.size))
      val doomed = if (rng.nextInt(6) == 0) "too_short" else null
      Row(seq, seq + 1000, text, doomed)
    })
    val schema = StructType(Seq(StructField("ingest_seq", LongType),
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("drop_reason", StringType)))
    def canon(rows: Array[Row]) =
      rows.map(r => r.getLong(r.fieldIndex("ingest_seq")) -> r.toSeq).toMap
    Seq("true", "false").foreach { aqe =>
      withSQLConf("spark.sql.adaptive.enabled" -> aqe) {
        val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 5), schema)
        val fused = Dedup.dedupStage(df, textCol = "text")
        val composed = FiltersDedupSpec.nearDedup(Dedup.exactDedup(df, textCol = "text"),
          textCol = "text")
        assert(fused.schema.map(f => (f.name, f.dataType)) ===
          composed.schema.map(f => (f.name, f.dataType)), s"aqe=$aqe")
        val out = fused.collect()
        val (f, c) = (canon(out), canon(composed.collect()))
        assert(out.length === rows.size && f.keySet === c.keySet, s"aqe=$aqe")
        f.keys.foreach(k => assert(f(k) === c(k), s"aqe=$aqe seq $k"))
        // the layout does exercise every case
        def n(p: Row => Boolean) = out.count(p)
        assert(n(r => r.getAs[Boolean]("is_dup_exact")) > 20 &&
          n(r => r.getAs[Any]("is_dup_near") == true) > 5 &&
          n(r => r.getAs[String]("text") == null) > 5, s"aqe=$aqe")
        df.unpersist()
      }
    }
    // an empty input plans as an RDD with no partitions at all
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    assert(Dedup.dedupStage(empty, textCol = "text").collect().isEmpty)
    empty.unpersist()
  }

  test("Q1 quality score: pinned arithmetic from FIXTURES.md") {
    val df = Seq(
      (1.0, 500L, 1.0, false, 1.0),
      (1.0, 10L, 1.0, false, 0.85), // 0.4 + 0.3*0.5 + 0.2 + 0.1
      (0.0, 0L, 0.0, true, 0.0)
    ).toDF("lang_score", "token_count", "unique_token_ratio", "has_pii", "expected")
    val out = df.withColumn("q", Score.qualityScore(
      col("lang_score"), col("token_count"), col("unique_token_ratio"), col("has_pii")))
      .select("q", "expected").collect()
    out.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("Q2 subset boundary: exactly 0.8 is high_quality") {
    val out = Seq(0.8, 0.7999999).toDF("q")
      .select(Score.subset(col("q"))).as[String].collect()
    assert(out(0) == "high_quality" && out(1) == "rest")
  }

  test("incremental exact dedup: cross-batch dups flagged, history never re-windowed") {
    import spark.implicits._
    val batch1 = Seq((1L, "day one document alpha"), (2L, "day one document beta"))
      .toDF("ingest_seq", "text_pii_masked")
    val day1 = Dedup.exactDedup(batch1)
    val seen = day1.filter(!col("is_dup_exact")).select("exact_hash")

    val batch2 = Seq(
      (10L, "day one document alpha"),   // dup of history
      (11L, "fresh document gamma"),     // new
      (12L, "fresh document gamma"),     // within-batch dup
      (13L, "day one DOCUMENT   beta")   // dup of history via canon (case/ws)
    ).toDF("ingest_seq", "text_pii_masked")

    val flagged = FiltersDedupSpec.incrementalExactDedup(batch2, seen)
      .select("ingest_seq", "is_dup_exact", "drop_reason").collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), Option(r.getString(2)))).toMap

    assert(flagged(10L) == (true, Some("exact_duplicate")))
    assert(flagged(11L) == (false, None))
    assert(flagged(12L) == (true, Some("exact_duplicate")))
    assert(flagged(13L) == (true, Some("exact_duplicate")))
    // appending the new survivors grows the state by exactly one hash
    val day2Seen = FiltersDedupSpec.incrementalExactDedup(batch2, seen)
      .filter(!col("is_dup_exact")).select("exact_hash")
    assert(seen.union(day2Seen).distinct().count() == seen.count() + 1)
  }

  test("DropReasonStage2 kernel == applyRules(langRules)+applyRules(" +
    "qualityRules) bit-for-bit on null/threshold fuzz, both eval paths") {
    // The fused F9-F20 kernel (plans/DropReasonStage2) replaces the
    // coalesce(CASE...)x12 chain in Pipeline.cleanAndFilter (the janino
    // method-size fallback, VERDICT r11). This pins first-match-wins
    // order AND the three-valued-logic corners: NULL predicates never
    // fire, empty_text fires on NULL text, pii_heavy needs BOTH
    // counters non-NULL, isin is definite once the probe is non-null.
    val rnd = new scala.util.Random(0xF17E25L)
    def oStr(vals: String*): Option[String] =
      if (rnd.nextInt(5) == 0) None else Some(vals(rnd.nextInt(vals.length)))
    def oD(vals: Double*): Option[Double] =
      if (rnd.nextInt(5) == 0) None else Some(vals(rnd.nextInt(vals.length)))
    def oL(vals: Long*): Option[Long] =
      if (rnd.nextInt(5) == 0) None else Some(vals(rnd.nextInt(vals.length)))
    val rows = (0 until 3000).map { _ =>
      (oStr("already_dropped"),
        oStr("en", "fr", "unk", "de"),
        oD(0.5, 0.79, 0.80, 0.99),
        oD(0.1, 0.50, 0.51),
        oStr("", "   ", "ok text with words", "\t"),
        oL(0L, 4L, 5L, 5000L, 5001L),
        oD(0.2, 0.49, 0.5, 0.9),
        oD(0.1, 0.8, 0.81),
        oStr("", "http://x//ads/y", "https://example-spam-site.com/a",
          "https://fine.example.org"),
        oL(0L, 10L, 21L),
        oL(0L, 10L, 25L),
        oD(0.0, 0.79, 0.8, 1.0))
    }
    val df = rows.toDF("drop_reason", "lang_pred", "lang_score",
      "non_latin_ratio", "text", "n_words", "alpha_ratio",
      "repetition_ratio", "url", "email_hits", "phone_hits", "toxicity")
    val composed = Filters.applyRules(
      Filters.applyRules(df, Filters.langRules(
        col("lang_pred"), col("lang_score"), col("non_latin_ratio"))),
      Filters.qualityRules(col("text"), col("n_words"), col("alpha_ratio"),
        col("repetition_ratio"), col("url"), col("email_hits"),
        col("phone_hits"), col("toxicity")))
      .select(col("drop_reason")).collect().map(r => Option(r.getString(0)))
    def kernelReasons(): Array[Option[String]] =
      df.select(graft.plans.DropReasonStage2(
          col("drop_reason"), col("lang_pred"), col("lang_score"),
          col("non_latin_ratio"), col("text"), col("n_words"),
          col("alpha_ratio"), col("repetition_ratio"), col("url"),
          col("email_hits"), col("phone_hits"), col("toxicity"),
          Seq("en"), 0.80, 0.50).as("dr"))
        .collect().map(r => Option(r.getString(0)))
    assert(kernelReasons().toSeq === composed.toSeq, "codegen path diverged")
    val mode = spark.conf.getOption("spark.sql.codegen.factoryMode")
    val ws = spark.conf.getOption("spark.sql.codegen.wholeStage")
    def restore(key: String, v: Option[String]): Unit = v match {
      case Some(m) => spark.conf.set(key, m)
      case None => spark.conf.unset(key)
    }
    try {
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      assert(kernelReasons().toSeq === composed.toSeq,
        "interpreted eval path diverged")
    } finally {
      restore("spark.sql.codegen.wholeStage", ws)
      restore("spark.sql.codegen.factoryMode", mode)
    }
  }
}

/** The composed stage-4 form [[Dedup.dedupStage]] replaced, kept as its
  * parity reference: `nearDedup(exactDedup(df))` is the reference's
  * D1∘D2 with two wide window shuffles. Also the cross-batch form of
  * exact dedup, which no pipeline stage runs.
  */
object FiltersDedupSpec {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.expressions.Window
  import Dedup.{doomedLast, NearDupMinLen, NearKeyChars}

  /** D2: near-dup pass over the output of [[Dedup.exactDedup]]. */
  def nearDedup(df: DataFrame, textCol: String = "text_pii_masked",
                seqCol: String = "ingest_seq"): DataFrame = {
    val keyed = df.withColumn("near_key",
      Normalize.canonNear(col(textCol), NearKeyChars))
    val isCandidate =
      (length(col("exact_canon_text")) >= NearDupMinLen) && (col("near_key") =!= "")

    val cand = keyed.filter(isCandidate)
    val rest = keyed.filter(!isCandidate)
      .withColumn("is_dup_near", lit(false))

    val w = Window.partitionBy("near_key").orderBy(doomedLast(df), col(seqCol))
    val candFlagged = cand
      .withColumn("__rn", row_number().over(w))
      .withColumn("__first_id", first("dedup_id").over(w))
      .withColumn("is_dup_near", col("__rn") > 1 && !col("is_dup_exact"))
      .withColumn("dup_of",
        coalesce(col("dup_of"), when(col("is_dup_near"), col("__first_id"))))
      .drop("__rn", "__first_id")

    val unioned = candFlagged.unionByName(rest)
    Filters.applyRules(unioned, Seq(col("is_dup_near") -> "near_duplicate"))
  }

  /** Exact dedup of a NEW batch against the running corpus without
    * re-windowing history: within-batch keep-first runs as
    * [[Dedup.exactDedup]]'s window; rows whose hash is already in
    * `seenHashes` are marked duplicates through a left join, so the
    * history contributes only its distinct hash set. When the state
    * carries the kept row's `dedup_id`, cross-batch duplicates point
    * `dup_of` at the corpus keeper; with a hash-only state it stays
    * batch-local.
    */
  def incrementalExactDedup(batch: DataFrame, seenHashes: DataFrame,
                            textCol: String = "text_pii_masked",
                            seqCol: String = "ingest_seq"): DataFrame = {
    val flagged = Dedup.exactDedup(batch, textCol, seqCol)
    val seen =
      if (seenHashes.columns.contains("dedup_id"))
        seenHashes.groupBy(col("exact_hash").as("__seen_hash"))
          .agg(min("dedup_id").as("__seen_id"))
      else
        seenHashes.select(col("exact_hash").as("__seen_hash")).distinct()
          .withColumn("__seen_id", lit(null).cast("string"))
    flagged
      .join(seen, col("exact_hash") === col("__seen_hash"), "left")
      .withColumn("is_dup_exact",
        col("is_dup_exact") || col("__seen_hash").isNotNull)
      // the corpus keeper predates everything in the batch, so it wins
      // the lineage pointer over the within-batch first occurrence
      .withColumn("dup_of",
        when(col("__seen_hash").isNotNull && col("__seen_id").isNotNull,
          col("__seen_id")).otherwise(col("dup_of")))
      .withColumn("drop_reason",
        when(col("drop_reason").isNull && col("__seen_hash").isNotNull,
          "exact_duplicate").otherwise(col("drop_reason")))
      .drop("__seen_hash", "__seen_id")
  }
}
