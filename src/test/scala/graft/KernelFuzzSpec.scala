package graft

import org.apache.spark.sql.functions._

import graft.text.{Normalize, NormalizeRef, TextMetrics, TextMetricsRef}

/** Seeded differential fuzz of the round-11 string kernels against the
  * regex/HOF forms they replaced (the ScrubFuzzSpec discipline applied
  * to the new compiled surface): every generated string is evaluated
  * through BOTH implementations in one pass and must agree exactly.
  * The alphabet is biased toward each kernel's edge characters — tag
  * brackets, collapsible punctuation, the whitespace family, line
  * terminators, astral letters, CJK, stopwords, wordlist members,
  * digits/underscores — so run boundaries, empty tokens, codepoint
  * widths and terminator exclusions all get hammered, not just happy
  * paths. Domain is valid-UTF-8 strings (the parquet contract; lone
  * surrogates are separately covered by HostileInputSpec's fixtures).
  */
class KernelFuzzSpec extends SparkTestBase {

  import spark.implicits._

  private val Pieces: Vector[String] = Vector(
    "<", ">", "<>", "<b>", "</b>", "<a\nb>", "a", "bb", "cccc", "!", "!!",
    "!!!", "!!!!", "?", "??", "???", ".", "...", ".....", ",,,,", " ",
    "  ", "\t", "\n", "\n\n\n\n", "\r", " ", "", "",
    "\f", "𝒳", "𝒳𝒳𝒳𝒳", "的", "的的的的", "é", "éééé", "the", "THE", "und",
    "perro", "chien", "kill", "stupid", "0", "123", "_", "a_b", "-",
    "@", "x.y", "ssss")

  private def gen(seed: Long, n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { _ =>
      val len = rnd.nextInt(40)
      (0 until len).map(_ => Pieces(rnd.nextInt(Pieces.size))).mkString
    }
  }

  test("400 fuzzed strings: StripTags == regex; CollapseRepeats == " +
    "backref pair; TokenTextStats == split forms; TextProfileStats == " +
    "array stagings") {
    val rows = gen(0xC0FFEE11L, 400) ++ Seq("", " ", "\t")
    val df = rows.toDF("t")
    val stops = TextMetrics.EnStopwords

    val strCols = df.select(col("t"),
        Normalize.stripHtml(col("t")).as("st_k"),
        NormalizeRef.stripHtmlRegex(col("t")).as("st_r"),
        Normalize.normalizeRepeatedChars(col("t")).as("cr_k"),
        NormalizeRef.normalizeRepeatedCharsRegex(col("t")).as("cr_r"),
        TextMetrics.wordCount(col("t")).as("wc_k"),
        TextMetricsRef.wordCountSplit(col("t")).as("wc_s"),
        TextMetrics.repetitionRatio(col("t")).as("rr_k"),
        TextMetricsRef.repetitionRatioHof(col("t")).as("rr_h"),
        graft.plans.TokenTextStats(coalesce(col("t"), lit("")), stops).as("tt"),
        graft.plans.TokenSetStats(TextMetrics.tokens(col("t")), stops).as("ts"))
      .collect()
    strCols.foreach { r =>
      val t = r.getString(0)
      assert(r.getString(1) === r.getString(2), s"StripTags on <$t>")
      assert(r.getString(3) === r.getString(4), s"CollapseRepeats on <$t>")
      assert(r.getInt(5) === r.getInt(6), s"wordCount on <$t>")
      assert(r.getDouble(7) === r.getDouble(8), s"repetitionRatio on <$t>")
      val tt = r.getSeq[Long](9)
      val ts = r.getSeq[Long](10)
      assert(tt(1) === ts(0) && tt(2) === ts(1),
        s"TokenTextStats distinct/stopword on <$t>")
    }

    // withTokenStats (string-direct kernel, incl. the 4th max-count
    // element) vs the array-staged form it replaced: all five derived
    // columns must agree BITWISE (ratios are single IEEE divisions of
    // identical integers, so bit equality is the honest contract).
    val statCols = Seq("token_count", "unique_tokens",
      "unique_token_ratio", "stopword_ratio", "max_token_freq_ratio")
    val viaKernel = TextMetrics.withTokenStats(df, col("t"))
      .select(col("t") +: statCols.map(col): _*).collect()
    val viaArray = TextMetricsRef.withTokenStatsArr(df, col("t"))
      .select(col("t") +: statCols.map(col): _*).collect()
    viaKernel.zip(viaArray).foreach { case (k, a) =>
      val t = k.getString(0)
      assert(k.getLong(1) === a.getLong(1), s"token_count on <$t>")
      assert(k.getLong(2) === a.getLong(2), s"unique_tokens on <$t>")
      (3 to 5).foreach { i =>
        assert(java.lang.Double.doubleToRawLongBits(k.getDouble(i)) ===
          java.lang.Double.doubleToRawLongBits(a.getDouble(i)),
          s"${statCols(i - 1)} on <$t>")
      }
    }

    val lk = graft.text.LangId.withLangColumns(df, col("t"), "p_k", "s_k")
    val lc = graft.text.LangIdRef.withLangColumnsArr(lk, col("t"), "p_a", "s_a")
      .select("t", "p_k", "p_a", "s_k", "s_a").collect()
    lc.foreach { r =>
      assert(r.getString(1) === r.getString(2), s"lang pred on <${r.getString(0)}>")
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(3)) ===
        java.lang.Double.doubleToRawLongBits(r.getDouble(4)),
        s"lang score on <${r.getString(0)}>")
    }
    val tox = Seq("toxicity", "severe_toxicity", "insult", "threat",
      "identity_attack", "sexual_explicit")
    val tk = graft.text.Toxicity.withToxicityColumns(df, col("t"))
      .select(col("t") +: tox.map(n => col(n).as(s"${n}_k")): _*)
    val ta = graft.text.ToxicityRef.withToxicityColumnsArr(tk, col("t"))
      .select(Seq(col("t")) ++ tox.map(n => col(s"${n}_k")) ++ tox.map(col): _*)
      .collect()
    ta.foreach { r =>
      tox.indices.foreach { i =>
        assert(r.getDouble(1 + i) === r.getDouble(1 + tox.length + i),
          s"${tox(i)} on <${r.getString(0)}>")
      }
    }
  }

  test("400 fuzzed strings: the round-12 kernels == their regex/HOF " +
    "anchors (CtrlWsNormalize, LowerWsCanon, BoilerplateScrub, langtox)") {
    val rows = gen(0x12C0DE12L, 400) ++ Seq("", " ", "\t",
      "cookie policy\nkeep me", "ACCEPT ALL COOKIES mid line")
    val df = rows.toDF("t")
    val got = df.select(col("t"),
        Normalize.normalizeText(col("t"), applyNfkc = false).as("nw_k"),
        NormalizeRef.normalizeTextRegex(col("t"), applyNfkc = false).as("nw_r"),
        Normalize.canonExact(col("t")).as("ce_k"),
        NormalizeRef.canonExactRegex(col("t")).as("ce_r"),
        Normalize.removeBoilerplateLines(col("t")).as("bp_k"),
        NormalizeRef.removeBoilerplateLinesHof(col("t")).as("bp_h"))
      .collect()
    got.foreach { r =>
      val t = r.getString(0)
      assert(Option(r.getString(1)) === Option(r.getString(2)),
        s"CtrlWsNormalize on <$t>")
      assert(r.getString(3) === r.getString(4), s"LowerWsCanon on <$t>")
      assert(r.getString(5) === r.getString(6), s"BoilerplateScrub on <$t>")
    }
    val cols = Seq("lang_pred", "lang_score", "toxicity", "severe_toxicity",
      "insult", "threat", "identity_attack", "sexual_explicit")
    val composed = graft.text.Toxicity.withToxicityColumns(
        graft.text.LangId.withLangColumns(df, col("t")), col("t"))
      .select(cols.map(col): _*).collect()
    val fused = graft.text.LangId.withLangToxColumns(df, col("t"))
      .select(cols.map(col): _*).collect()
    composed.zip(fused).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a.getString(0) === b.getString(0), s"langtox pred row $i")
      (1 until cols.length).foreach { j =>
        assert(java.lang.Double.doubleToRawLongBits(a.getDouble(j)) ===
          java.lang.Double.doubleToRawLongBits(b.getDouble(j)),
          s"langtox ${cols(j)} row $i <${rows(i)}>")
      }
    }
  }
}
