package graft

import org.apache.spark.sql.functions._

/** The markdown-strip and anchor-text scanners
  * ([[graft.plans.MarkdownScan]]) vs the java-regex forms they replace:
  * seeded differential fuzz over a markdown/HTML-construct-rich
  * alphabet (unpaired openers, nested-ish constructs, star runs of
  * every length, CR/LF variants, header floods), plus hand fixtures
  * for each pass's edge rules, plus a linearity smoke on the
  * unclosed-opener floods that are quadratic under the backtracking
  * engine (the whole reason the kernels exist).
  */
class MarkdownScanSpec extends SparkTestBase {

  import spark.implicits._
  import MarkdownScanSpec._

  private val Pieces: Vector[String] = Vector(
    "```", "```scala\ncode\n```", "`", "`x`", "``", "x", "yy", " ",
    "\n", "\r\n", "\r", "\t", "*", "**", "***", "****", "*a*", "**b**",
    "[", "]", "(", ")", "[t](u)", "![a](i.png)", "![", "](", "#",
    "##", "####### ", "# H\n", "beta", "<a href=\"u\">t</a>", "<a>",
    "</a>", "<a x>", "<abbr>", "<b>", ">", "<", "0", ".", "é")

  private def gen(seed: Long, n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { _ =>
      val len = rnd.nextInt(30)
      (0 until len).map(_ => Pieces(rnd.nextInt(Pieces.size))).mkString
    }
  }

  test("800 fuzzed strings: markdown kernel == regex chain; anchor len " +
    "kernel == regexp_extract_all sum") {
    val rows = gen(0x3D5EED99L, 800) ++
      Seq("", "#", "# ", "```", "``````", "*", "*a", "a*", "<a>x</a>",
        "<a\n>x</a>", "<a >x\n</a>", "![a](b)c[d](e)", "[a]b(c)",
        "**bold** *i* `c` [l](u) ![p](q)\n## H\n```f```")
    val df = rows.toDF("t")
    val got = df.select(col("t"),
        graft.plans.MarkdownStrip(col("t")).as("mk"),
        markdownStripRegex(col("t")).as("mr"),
        graft.plans.AnchorTextLen(col("t")).as("ak"),
        anchorExtractRegexSum(col("t")).as("ar"))
      .collect()
    got.foreach { r =>
      assert(r.getString(1) === r.getString(2),
        s"markdown strip diverged on <${r.getString(0)}>")
      assert(r.getInt(3) === r.getInt(4),
        s"anchor len diverged on <${r.getString(0)}>")
    }
  }

  test("contentExtract normalizes dialect-divergent terminators before " +
    "the block split (CR inside an anchor, CRLF paragraph breaks)") {
    // ADVICE r11: java's lazy dot excludes \r/NEL/U+2028/9, RE2's only
    // \n — a lone CR surviving the \n\n split would make the engines
    // disagree. contentExtract now maps those to \n in BOTH engines;
    // this pins the Spark half on exactly the divergent shapes.
    val dir = java.nio.file.Files.createTempDirectory("cextract").toString
    Seq(
      // CR inside an anchor: normalized to \n, so the anchor does NOT
      // match (dot crosses no terminator in either dialect) -> alen 0,
      // block survives the density rule
      (1L, "<a>" + "x" * 30 + "\r" + "y" * 5 + "</a>"),
      // CRLF CRLF is a paragraph break after normalization
      (2L, "a" * 25 + "\r\n\r\n" + "b" * 25),
      // NEL + U+2028: stragglers map to \n (single breaks, same block)
      (4L, "c" * 10 + "\u0085" + "d" * 10 + "\u2028" + "e" * 10))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.DocQueries.contentExtract(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1: one block, kept (alen=0 after \r->\n), vis = " x*30\ny*5 "
    assert(got(1L) === ((1L, 1L, 38L)), s"CR-in-anchor: ${got(1L)}")
    // doc 2: two kept blocks of 25, joined by \n\n -> 52 chars
    assert(got(2L) === ((2L, 2L, 52L)), s"CRLF paragraphs: ${got(2L)}")
    // doc 4: one block, 32 visible chars (10+1+10+1+10)
    assert(got(4L) === ((1L, 1L, 32L)), s"NEL/LS stragglers: ${got(4L)}")
  }

  test("unclosed-opener floods stay fast (the quadratic shapes)") {
    // each shape is O(n²) under java.util.regex; the kernels must
    // finish the whole batch in well under a second at this size
    val n = 60000
    val floods = Seq(
      "![x" * (n / 3),
      "[x" * (n / 2),
      "*x" * (n / 2),
      "`x" * (n / 2),
      "<a x>" * (n / 5),
      "#" * n,
      ("# " + "y" * 30 + "\n") * (n / 33))
    val t0 = System.nanoTime()
    floods.foreach { s =>
      graft.plans.MarkdownScan.strip(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
      graft.plans.MarkdownScan.anchorTextLen(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
    }
    val ms = (System.nanoTime() - t0) / 1e6
    assert(ms < 2000.0, f"kernel flood batch took $ms%.0f ms — lost linearity")
  }
}

/** The java-regex forms the MarkdownScan kernels replaced, kept as their
  * parity anchors. NOT production paths: the image/link/emphasis/
  * inline-code and anchor patterns are O(n²) under java.util.regex on
  * unclosed-opener floods.
  */
object MarkdownScanSpec {
  import org.apache.spark.sql.Column

  /** [[graft.plans.MarkdownStrip]]'s chain, one regexp_replace a pass. */
  def markdownStripRegex(md: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(md, "(?s)```.*?```", ""),
              "!\\[([^\\]]*)\\]\\(([^)]*)\\)", "$1"),
            "\\[([^\\]]*)\\]\\(([^)]*)\\)", "$1"),
          "\\*{1,3}([^*]+)\\*{1,3}", "$1"),
        "`([^`]+)`", "$1"),
      "(?m)^#{1,6}[ \\t]+", "")

  /** [[graft.plans.AnchorTextLen]]: summed length of the anchor texts. */
  def anchorExtractRegexSum(b: Column): Column =
    aggregate(
      regexp_extract_all(b, lit("<a(?:\\s[^>]*)?>(.*?)</a>"), lit(1)),
      lit(0), (acc, x) => acc + length(x))
}
