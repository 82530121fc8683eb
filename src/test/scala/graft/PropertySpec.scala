package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.{Dedup, Filters, Score}
import graft.text.{Normalize, TextMetrics}

/** Property-based invariants (SURVEY.md §5.2): idempotence of the canon
  * forms, ratio/score ranges, first-match-wins uniqueness, and the
  * kept/dropped partition laws of the dedup window.
  *
  * Generators are driven directly with fixed seeds (the scalatest
  * bridge isn't in the offline artifact cache), so failures reproduce
  * exactly. Strings are adversarial: unicode, control chars, whitespace
  * runs, null-likes, repeats — the FIXTURES.md families.
  */
class PropertySpec extends SparkTestBase {

  private val weirdChars: Gen[Char] = Gen.frequency(
    8 -> Gen.alphaNumChar,
    2 -> Gen.oneOf(' ', '\t', '\n', '\r', '\u00a0'),
    1 -> Gen.oneOf('\u0001', '\u0007', '\u009f', '\u200b'),
    1 -> Gen.oneOf('\ufb01', '\uff46', '\u2461', '\u00e9', '\u00df',
      '\u4e2d', '!', '?', '.', ','),
    1 -> Gen.oneOf('<', '>', '/', '|'))

  private val textGen: Gen[String] = Gen.frequency(
    10 -> Gen.listOf(weirdChars).map(_.mkString),
    1 -> Gen.const(""),
    1 -> Gen.oneOf("nan", "None", "NULL", "n/a"),
    1 -> Gen.const("aaaa bbbb " * 30))

  /** Deterministic sampling loop standing in for forAll. */
  private def forAllSeeded[A](gen: Gen[A], trials: Int = 8)(f: A => Unit): Unit =
    (1 to trials).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong))
        .foreach(a => f(a))
    }

  private def evalStr(in: Seq[String], c: org.apache.spark.sql.Column): Seq[String] = {
    import spark.implicits._
    in.toDF("s").select(c.as("r")).as[String].collect().toSeq
  }

  test("P1 normalize_text is idempotent") {
    forAllSeeded(Gen.listOfN(20, textGen)) { ss =>
      if (ss.nonEmpty) {
        val once = evalStr(ss, Normalize.normalizeText(col("s")))
        val twice = evalStr(once.map(s => if (s == null) "" else s),
          Normalize.normalizeText(col("s")))
        // null normalizes to null; "" also normalizes to null — align
        assert(twice === once.map(s => if (s == null) null else s))
      }
    }
  }

  test("P6 canon_exact is idempotent and outer-whitespace-insensitive") {
    forAllSeeded(Gen.listOfN(20, textGen)) { ss =>
      if (ss.nonEmpty) {
        val once = evalStr(ss, Normalize.canonExact(col("s")))
        val twice = evalStr(once, Normalize.canonExact(col("s")))
        assert(twice === once)
        val padded = evalStr(ss.map(s => "  " + s + "\t"), Normalize.canonExact(col("s")))
        assert(padded === once)
      }
    }
  }

  test("ratios stay in [0,1] on arbitrary strings") {
    forAllSeeded(Gen.listOfN(30, textGen)) { ss =>
      if (ss.nonEmpty) {
        import spark.implicits._
        val rows = ss.toDF("s").select(
          TextMetrics.alphaRatio(col("s")).as("a"),
          TextMetrics.repetitionRatio(col("s")).as("r"),
          TextMetrics.uniqueTokenRatio(col("s")).as("u"),
          graft.text.TextMetricsRef.stopwordRatio(col("s")).as("sw"),
          TextMetrics.nonLatinRatio(col("s")).as("nl"))
          .as[(Double, Double, Double, Double, Double)].collect()
        rows.foreach { case (a, r, u, sw, nl) =>
          Seq(a, r, u, sw, nl).foreach(v =>
            assert(v >= 0.0 && v <= 1.0, s"out-of-range ratio in $rows"))
        }
      }
    }
  }

  test("Q1 quality score in [0,1] and monotone in lang_score") {
    val inputs = Gen.zip(Gen.chooseNum(0.0, 1.0), Gen.chooseNum(0, 5000),
      Gen.chooseNum(0.0, 1.0), Gen.oneOf(true, false))
    forAllSeeded(Gen.listOfN(30, inputs)) { xs =>
      if (xs.nonEmpty) {
        import spark.implicits._
        val scored = xs.toDF("ls", "tc", "ur", "pii")
          .select(Score.qualityScore(col("ls"), col("tc"), col("ur"), col("pii")).as("q"),
            Score.qualityScore(least(col("ls") + 0.1, lit(1.0)), col("tc"),
              col("ur"), col("pii")).as("qUp"))
          .as[(Double, Double)].collect()
        scored.foreach { case (q, qUp) =>
          assert(q >= 0.0 && q <= 1.0)
          assert(qUp >= q - 1e-12, "raising lang_score must not lower the score")
        }
      }
    }
  }

  test("first-match-wins: reasons never overwritten; kept/dropped partition input") {
    forAllSeeded(Gen.listOfN(25, Gen.option(textGen)), trials = 5) { ss =>
      if (ss.nonEmpty) {
        import spark.implicits._
        def rules(df: org.apache.spark.sql.DataFrame) =
          Filters.applyRules(df, Filters.prefilterRules(
            col("text"), col("text_norm"), col("char_len"), col("word_count")))
        val df = ss.zipWithIndex.map { case (t, i) => (i.toLong, t.orNull) }
          .toDF("ingest_seq", "text")
          .withColumn("text_norm", Normalize.normalizeText(col("text")))
          .withColumn("char_len", TextMetrics.charLen(col("text_norm")).cast("long"))
          .withColumn("word_count", TextMetrics.wordCount(col("text_norm")).cast("long"))
        val ruled = rules(df)
        val n = ruled.count()
        assert(Filters.kept(ruled).count() + ruled.filter(col("drop_reason").isNotNull).count() === n)
        val first = ruled.select("ingest_seq", "drop_reason").collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        val second = rules(ruled).select("ingest_seq", "drop_reason").collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(second === first, "re-applying rules must not change reasons")
      }
    }
  }

  test("D1 exact dedup keeps exactly one row per hash") {
    val docGen = Gen.oneOf("dup a", "dup b", "dup c", "unique x", "unique y z")
    forAllSeeded(Gen.listOfN(30, docGen), trials = 5) { ss =>
      if (ss.nonEmpty) {
        import spark.implicits._
        val df = ss.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("ingest_seq", "text_pii_masked")
        val out = Dedup.exactDedup(df)
        val perHash = out.groupBy("exact_hash")
          .agg(sum(when(!col("is_dup_exact"), 1L).otherwise(0L)).as("kept"))
          .select("kept").as[Long].collect()
        assert(perHash.forall(_ === 1L))
        // the kept row is the minimum ingest_seq of its group
        val firsts = out.groupBy("exact_hash").agg(min("ingest_seq").as("mn")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        out.filter(!col("is_dup_exact")).collect().foreach { r =>
          assert(r.getAs[Long]("ingest_seq") ===
            firsts(r.getAs[String]("exact_hash")))
        }
      }
    }
  }

  test("unigram logprobs: common text outranks rare-token text; partition-proof") {
    import spark.implicits._
    // "the cat" dominates the corpus; doc 3 is rare-token gibberish
    val docs = ((1 to 8).map(i => (i.toLong, "the cat sat on the mat"))
      ++ Seq((9L, "zyzzyva qwertyuiop"), (10L, ""))).toDF("doc_id", "text")
    def collectScores(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Score.unigramLogprobs(df, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val got = collectScores(docs)
    // counts
    assert(got(1L)._1 === 6L)
    assert(got(9L)._1 === 2L)
    assert(got(10L) === ((0L, 0L)))
    // mean logprob: common-token doc must beat the gibberish doc
    assert(got(1L)._2.toDouble / got(1L)._1 > got(9L)._2.toDouble / got(9L)._1)
    // quantized integer sums: identical under any partitioning
    assert(collectScores(docs.repartition(7)) === got)
  }

  test("line dedup invariants on arbitrary corpora") {
    import spark.implicits._
    forAllSeeded(Gen.listOfN(6, textGen), trials = 4) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = graft.ops.Curation.lineDedup(df).collect()
      assert(out.length === texts.length) // every doc gets a row
      out.foreach { r =>
        val (n, rem) = (r.getAs[Long]("n_lines"), r.getAs[Long]("n_removed"))
        assert(rem >= 0 && rem <= n)
        assert(r.getAs[String]("clean_md5").length === 32)
      }
      // nothing removed for a doc => the posexplode/groupBy/array_sort
      // reassembly must reproduce the direct single-pass tokenization.
      // The expectation is computed with Spark's own tokens() — NOT a
      // JVM-string model: Spark SQL trim strips only 0x20 spaces and
      // split keeps boundary empties, so String.trim/split diverges on
      // leading tabs / trailing newlines inside the generator's domain.
      val direct = df.select(col("doc_id"),
        md5(concat_ws(" ",
          graft.text.TextMetrics.tokens(col("text"))).cast("binary")).as("m"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      out.filter(_.getAs[Long]("n_removed") == 0L).foreach { r =>
        assert(r.getAs[String]("clean_md5") === direct(r.getAs[Long]("doc_id")))
      }
    }
  }

  test("split assign partitions exactly and exhaustively") {
    import spark.implicits._
    val df = (0L until 500L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val out = graft.ops.Retrieval.splitAssign(df)
    // every doc in exactly one split; bucket determines split
    assert(out.count() === 500L)
    val bad = out.filter(
      (col("bucket") < 90 && col("split") =!= "train") ||
      (col("bucket") >= 90 && col("bucket") < 95 && col("split") =!= "val") ||
      (col("bucket") >= 95 && col("split") =!= "test")).count()
    assert(bad === 0L)
  }

  test("TopK.perQuery is partition-order-proof under ties") {
    import spark.implicits._
    // heavy ties: scores drawn from 3 distinct values across 60 rows
    // per query — exactly the case where a merge-order bug shows
    val rows = for {
      q <- 0L until 4L
      i <- 0L until 60L
    } yield (q, i, (i % 3).toDouble / 10.0)
    val base = rows.toDF("query_id", "vec_id", "cosine")
    def run(parts: Int, seed: Long) = graft.ops.TopK.perQuery(
      base.orderBy(org.apache.spark.sql.functions.xxhash64(
        org.apache.spark.sql.functions.lit(seed), col("vec_id")))
        .repartition(parts), k = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    val ref = run(1, 0L)
    Seq((3, 1L), (16, 2L), (2, 3L)).foreach { case (p, s) =>
      assert(run(p, s) === ref, s"TopK diverged at $p partitions seed $s")
    }
  }

  test("passages tile every token and never exceed the window") {
    import spark.implicits._
    // doc i has i tokens, sweeping all window/stride boundary cases
    val docs = (1 to 80).map(n => (n.toLong, (1 to n).map(j => s"t$j").mkString(" ")))
      .toDF("doc_id", "text")
    val out = graft.ops.Retrieval.passages(docs, window = 32, stride = 16)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    out.groupBy(_._1).foreach { case (n, rows) =>
      // every passage stays inside the doc and inside the window
      rows.foreach { case (_, start, len) =>
        assert(len >= 1 && len <= 32 && start >= 1 && start + len - 1 <= n)
      }
      // the union of [start, start+len) covers [1, n] with no gap
      val covered = rows.flatMap { case (_, s, l) => s until (s + l) }.toSet
      assert(covered === (1L to n).toSet, s"doc of $n tokens not tiled")
    }
  }

  test("snapshot diff statuses partition the id universe") {
    import spark.implicits._
    forAllSeeded(Gen.listOfN(60, Gen.chooseNum(0L, 30L)), trials = 4) { ids =>
      val prevIds = ids.distinct.filter(_ % 3 != 0)
      val curIds = ids.distinct.filter(_ % 4 != 0)
      val prev = prevIds.map(i => (i, s"h$i")).toDF("doc_id", "fingerprint")
      val cur = curIds.map(i => (i, if (i % 5 == 0) "hX" else s"h$i"))
        .toDF("doc_id", "fingerprint")
      val out = graft.ops.SnapshotDiff.diff(prev, cur)
        .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
      // exactly the union of both id sets, each id exactly once
      assert(out.keySet === (prevIds ++ curIds).toSet)
      out.foreach { case (id, status) =>
        val expected =
          if (!prevIds.contains(id)) "added"
          else if (!curIds.contains(id)) "removed"
          else if (id % 5 == 0) "changed"
          else "unchanged"
        assert(status === expected, s"id $id")
      }
    }
  }

  test("topicAssign is partition-invariant and hits are bounded by tokens") {
    import spark.implicits._
    forAllSeeded(Gen.listOfN(15, textGen), trials = 4) { ss =>
      val df = ss.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val a = graft.ops.Curation.topicAssign(df).collect()
        .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      val b = graft.ops.Curation.topicAssign(df.repartition(7)).collect()
        .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      assert(a === b)
      val nToks = df.select(col("doc_id"),
        size(graft.text.TextMetrics.tokens(col("text"))).cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      graft.ops.Curation.topicAssign(df).collect().foreach { r =>
        val hits = r.getAs[Long]("topic_hits")
        assert(hits >= 0L && hits <= nToks(r.getAs[Long]("doc_id")))
        if (hits == 0L) assert(r.getAs[String]("topic") === "unlabeled")
      }
    }
  }

  test("intraDedup keeps exactly one occurrence per distinct segment") {
    import spark.implicits._
    val wordG = Gen.oneOf("a", "b", "c", "dd")
    val docG = Gen.listOf(wordG).map(_.mkString(" "))
    forAllSeeded(Gen.listOfN(12, docG), trials = 4) { ss =>
      val df = ss.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      // tiny segLen so repeats actually occur in short random docs
      val got = graft.ops.Dedup.intraDedup(df, segLen = 2).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_segs"), r.getAs[Long]("n_kept")))).toMap
      ss.zipWithIndex.foreach { case (t, i) =>
        val toks = t.trim.split("\\s+").filter(_.nonEmpty).toSeq
        val segs = toks.grouped(2).map(_.mkString(" ")).toSeq
        val (n, k) = got(i.toLong)
        assert(n === segs.length.toLong, s"doc $i")
        assert(k === segs.distinct.length.toLong, s"doc $i")
      }
    }
  }

  test("rrfFuse: contiguous ranks, non-increasing scores, bounded by k") {
    import spark.implicits._
    val entryG = for {
      q <- Gen.chooseNum(0L, 2L); d <- Gen.chooseNum(0L, 30L)
    } yield (q, d)
    forAllSeeded(Gen.zip(Gen.listOfN(20, entryG), Gen.listOfN(20, entryG)),
      trials = 4) { case (l, v) =>
      // distinct docs per query, ranks assigned 1..n in doc order
      def rank(xs: List[(Long, Long)]) = xs.distinct.groupBy(_._1).toSeq
        .flatMap { case (q, ds) =>
          ds.map(_._2).distinct.zipWithIndex.map { case (d, i) =>
            (q, d, (i + 1).toLong) }
        }
      val lex = rank(l).toDF("query_id", "id", "rank")
      val vec = rank(v).toDF("query_id", "id", "rank")
      if (!lex.isEmpty || !vec.isEmpty) {
        val out = graft.ops.Retrieval.rrfFuse(lex, vec, k = 5).collect()
        out.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
          val sorted = rows.sortBy(_.getAs[Long]("rank"))
          assert(sorted.map(_.getAs[Long]("rank")).toSeq ===
            (1L to sorted.length.toLong))
          assert(sorted.length <= 5)
          val scores = sorted.map(_.getAs[Long]("rrf_q")).toSeq
          assert(scores === scores.sorted.reverse, s"not non-increasing: $scores")
        }
      }
    }
  }

  test("ImageCodec: random images round-trip exactly through every container") {
    import graft.ops.ImageCodec
    val imgG = for {
      w <- Gen.chooseNum(1, 23)
      h <- Gen.chooseNum(1, 17)
      px <- Gen.listOfN(w * h * 3, Gen.chooseNum(-128, 127).map(_.toByte))
    } yield (w, h, px.toArray)
    forAllSeeded(imgG, trials = 10) { case (w, h, px) =>
      for ((label, payload) <- Seq(
          "png" -> ImageCodec.encodePng(w, h, px),
          "bmp" -> ImageCodec.encodeBmp(w, h, px),
          "ppm" -> ImageCodec.encodePpm(w, h, px))) {
        val img = ImageCodec.decode(payload)
          .getOrElse(fail(s"$label ${w}x$h did not decode"))
        assert((img.width, img.height, img.channels) === ((w, h, 3)), label)
        assert(img.pixels.toSeq === px.toSeq, s"$label ${w}x$h")
      }
      // random per-row PNG filter choices must unfilter to the same pixels
      val filters = Array.tabulate(h)(r => (w * 31 + r * 7) % 5)
      val filtered = MultimodalSpec.encodePngWithFilters(w, h, px, filters)
      assert(ImageCodec.decode(filtered).get.pixels.toSeq === px.toSeq,
        s"filters=${filters.toSeq}")
    }
  }

  test("ImageCodec: arbitrary bytes and truncations never throw") {
    import graft.ops.ImageCodec
    val junkG = Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray)
    forAllSeeded(junkG, trials = 12) { junk =>
      ImageCodec.decode(junk) // Option, never a throw
      // valid header, truncated body — the corrupt-upload shape
      val png = ImageCodec.encodePng(4, 4, Array.fill(48)(7.toByte))
      (0 until png.length by 7).foreach { cut =>
        ImageCodec.decode(png.take(cut))
      }
    }
  }

  test("mojibake repair: latin-1 wreck of any lead-safe string inverts") {
    import org.apache.spark.unsafe.types.UTF8String
    // alphabet restricted to chars whose ROUND-2 re-encoding can never
    // be valid UTF-8 by accident: ASCII, Latin-1 lead-byte range
    // U+00C0–U+00FF (any pair needs an 0x80–0xBF continuation it can't
    // produce), and >0xFF chars outside the cp1252 remap (byte-mapping
    // fails -> fixpoint). Chars in U+0080–U+00BF or the cp1252 remap
    // (©, €, ™ …) are excluded because text like "ß©" genuinely IS the
    // mojibake byte pattern — inherent ftfy ambiguity, not a bug.
    val safeChar: Gen[Char] = Gen.frequency(
      6 -> Gen.alphaNumChar,
      1 -> Gen.oneOf(' ', '.', ',', '!'),
      3 -> Gen.choose(0xC0.toChar, 0xFF.toChar),
      1 -> Gen.oneOf('中', '日', '語', 'ж', 'Ω', 'は'))
    def fix(s: String): String =
      graft.plans.FixMojibake.fix(UTF8String.fromString(s)).toString
    forAllSeeded(Gen.listOf(safeChar).map(_.mkString), trials = 24) { s =>
      val wreck = new String(s.getBytes("UTF-8"), "ISO-8859-1")
      assert(fix(wreck) === s, s"not inverted for: $s")
      if (s.forall(_ < 0x80)) assert(wreck === s) // ASCII: no-op damage
    }
  }

  test("phrase search agrees with the brute-force sliding window") {
    import graft.ops.Retrieval
    val vocab = Seq("a", "b", "c")
    val docGen = Gen.listOfN(12,
      Gen.choose(0, 14).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab))))
    val phraseGen = Gen.choose(2, 3).flatMap(l => Gen.listOfN(l, Gen.oneOf(vocab)))
    forAllSeeded(docGen.flatMap(d => phraseGen.map(p => (d, p))),
      trials = 4) { case (docs, phrase) =>
      import spark.implicits._
      val df = docs.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = Retrieval.phraseSearch(df, Seq(0L -> phrase))
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_matches"), r.getAs[Long]("first_pos")))).toMap
      val want = docs.zipWithIndex.flatMap { case (ts, i) =>
        val starts = ts.indices
          .filter(p => p + phrase.length <= ts.length &&
            phrase.indices.forall(j => ts(p + j) == phrase(j)))
        if (starts.isEmpty) None
        else Some(i.toLong -> ((starts.size.toLong, starts.min.toLong)))
      }.toMap
      assert(got === want, s"phrase=$phrase docs=$docs")
    }
  }

  test("weighted sample: heavy rows dominate, layout cannot move the set") {
    import graft.ops.Sampling
    import spark.implicits._
    // 200 light rows (w=1) vs 200 heavy rows (w=10000): a k=50 A-ES
    // sample should be nearly all heavy — P(any light row outranking a
    // heavy one) is tiny at this weight ratio
    val rows = (0 until 200).map(i => (i.toLong, 1L)) ++
      (200 until 400).map(i => (i.toLong, 10000L))
    val df = rows.toDF("doc_id", "w")
    val picked = Sampling.weightedSample(df, "doc_id", "w", k = 50)
      .select("doc_id").as[Long].collect().toSet
    assert(picked.size === 50)
    assert(picked.count(_ >= 200L) >= 48, s"heavy dominance, got $picked")
    // partition layout cannot change a content-addressed sample
    val repart = Sampling.weightedSample(df.repartition(17), "doc_id", "w",
      k = 50).select("doc_id").as[Long].collect().toSet
    assert(repart === picked)
  }

  test("span removal: accounting invariants and full-dup coverage") {
    import graft.ops.Curation
    import spark.implicits._
    // two identical 10-token docs (full mutual coverage) + unique docs
    val rep = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10"
    val rows = Seq((1L, rep), (2L, rep), (3L, "u1 u2 u3 u4 u5"),
      (4L, ""), (5L, null.asInstanceOf[String]))
    val out = Curation.removeDupSpans(rows.toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[Long]("n_cut_spans")))).toMap
    out.values.foreach { case (n, rem, spans) =>
      assert(rem <= n && spans <= rem, "accounting order")
      assert((spans == 0) === (rem == 0), "spans iff removals")
    }
    assert(out(1L) === ((10L, 10L, 1L)), "identical docs fully excised")
    assert(out(2L) === ((10L, 10L, 1L)))
    assert(out(3L)._2 === 0L, "unique doc untouched")
    assert(out(4L) === ((0L, 0L, 0L)) && out(5L) === ((0L, 0L, 0L)))
    spark.catalog.clearCache()
  }
}
