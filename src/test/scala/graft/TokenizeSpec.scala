package graft

import org.apache.spark.sql.functions._

import graft.text.Tokenize

/** The native tokenizer kernel against the regex grammar spec: the udf
  * form IS the spec (GPT-2-style pre-tokenizer pattern), the kernel must
  * be id-identical on every input — edge fixtures and seeded fuzz.
  */
class TokenizeSpec extends SparkTestBase {
  import spark.implicits._

  private def both(texts: Seq[String]): Unit = {
    val df = texts.toDF("t")
    val udfIds = df.select(graft.text.TokenizeRef.tokenize(col("t")).getField("_1")).collect()
      .map(_.getSeq[Int](0).toList)
    val natIds = df.select(Tokenize.native(col("t")).getField("input_ids")).collect()
      .map(_.getSeq[Int](0).toList)
    texts.indices.foreach { i =>
      assert(natIds(i) === udfIds(i), s"input ${texts(i).take(80).replace("\n", "\\n")}")
    }
  }

  test("kernel matches the regex form on adversarial fixtures") {
    both(Seq(
      "", " ", "   ", "\t", " \t ", "a", " a", "a ", "  a  b  ",
      "don't you'll we're I've he'd she's 'tis 'Sup can'T",
      "'", "''", "'l", "'ls", " 's", "' s", "don''t",
      "abc123def", "3.14 isn't -42", "a-b_c d!e?f",
      "tabs\tbetween\twords", "mixed \t \n ws\f\r runs",
      "trailing space ", " leading", "multi  spaces   here",
      "ünïcödé wörds", "日本語テキスト with ascii", "Ⅷ ① ² digits?",
      "emoji 🎉 inside", "a🎉b", "🎉🎉",
      "price: $1,234.56 (10%)", "a'b'c's", "x''y",
      "new\nline\nand more", "\na", "a\n", " \n a"))
  }

  test("kernel matches the regex form on seeded fuzz over a nasty alphabet") {
    val alphabet = "ab 'stredvmy01九Ⅷ²  \t\n.,!-🎉ü"
    val rnd = new scala.util.Random(1234)
    val inputs = (1 to 300).map { _ =>
      val len = rnd.nextInt(40)
      (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    both(inputs.distinct)
  }

  test("native output contract: mask all ones, n_tokens = |ids|, ids in vocab range") {
    val rows = Seq("don't stop me now 123 !!", "").toDF("t")
      .select(Tokenize.native(col("t")).as("tok")).select("tok.*").collect()
    rows.foreach { r =>
      val ids = r.getSeq[Int](0)
      val mask = r.getSeq[Int](1)
      assert(r.getInt(2) === ids.length)
      assert(mask === Seq.fill(ids.length)(1))
      assert(ids.forall(id => id >= Tokenize.IdOffset &&
        id < Tokenize.IdOffset + Tokenize.VocabSize))
    }
  }

  test("q_token_ids twin: scrub + kernel checksums match a direct replay") {
    // The oracle twin's contract: Spark-side scrub (non-BMP removal +
    // whitespace-family collapse) feeds the REAL kernel; n_tokens and
    // the position-weighted id checksum must equal a from-first-
    // principles replay (same Java regexes + the grammar-spec encoder).
    // Adversarial rows target every scrub clause: surrogate pairs,
    // U+001C-1F separators, U+2028/2029, NBSP/NNBSP, ogham/ideographic
    // space, multi-space runs, trailing/leading ws, contractions, null.
    val texts = Seq(
      "plain ascii with  double  spaces ",
      "emoji 🎉 pair a🎉b tail🎉",
      "sepcharshere",
      "line sep para",
      "nbsp and nnbsp",
      "ogham space ideographic　space",
      "don't we'll 'tis  \t\n mixed\fruns\r",
      "ünïcödé 日本語 Ⅷ ① ²",
      null, "", "   ", "  ")
    val dir = java.nio.file.Files.createTempDirectory("tokids").toString
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val got = graft.queries.PipelineQueries.tokenIds(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

    val nonBmp = "[\\x{10000}-\\x{10FFFF}]".r
    val wsFam = ("[\\s\\x{1C}-\\x{1F}\\x{85}\\x{A0}\\x{1680}\\x{2000}-\\x{200A}" +
      "\\x{2028}\\x{2029}\\x{202F}\\x{205F}\\x{3000}]+").r
    texts.zipWithIndex.foreach { case (t, i) =>
      val scrubbed = wsFam.replaceAllIn(
        nonBmp.replaceAllIn(Option(t).getOrElse(""), ""), " ")
      val ids = graft.text.TokenizeRef.encode(scrubbed)
      val want = (ids.length.toLong,
        ids.zipWithIndex.map { case (id, p) => id.toLong * (p + 1) }.sum)
      assert(got(i.toLong) === want, s"doc $i: ${String.valueOf(t).take(60)}")
    }
  }

  test("WeightedIdSum kernel == the aggregate() HOF fold it replaced") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(0x1D5C0BEL)
    val rows = (0 until 400).map { _ =>
      (0 until rnd.nextInt(300)).map(_ => rnd.nextInt(50256)).toArray
    } :+ Array.empty[Int] :+ Array(Int.MaxValue, Int.MaxValue)
    val df = rows.toDF("ids")
    val got = df.select(
        graft.plans.WeightedIdSum(col("ids")).as("k"),
        expr("""aggregate(ids,
               |  named_struct('s', 0L, 'i', 0L),
               |  (acc, x) -> named_struct('s', acc.s + x * (acc.i + 1L),
               |                           'i', acc.i + 1L),
               |  acc -> acc.s)""".stripMargin).as("h"))
      .collect()
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) === r.getLong(1), s"row $i")
    }
  }
}
