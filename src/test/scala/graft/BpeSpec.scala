package graft

import graft.text.Bpe

/** BPE vocabulary induction: merge rule, determinism, lossless
  * segmentation, compression.
  */
class BpeSpec extends SparkTestBase {
  import BpeSpec.encodeWordRescan

  private val counts = Seq(
    ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))

  test("first merge is the most frequent weighted pair; greedy left-to-right") {
    // "aaab" x10: (a,a) weight 20 beats (a,b) weight 10
    val m = Bpe.trainFromCounts(Seq(("aaab", 10L)), numMerges = 1)
    assert(m.merges === Seq(("a", "a")))
    // greedy scan after the merge: aa | a | b (no overlapping re-merge)
    val m2 = Bpe.trainFromCounts(Seq(("aaab", 10L)), numMerges = 2)
    assert(m2.encodeWord("aaab").mkString("|") === "aa|ab" ||
      m2.encodeWord("aaab").length <= 3)
  }

  test("training is deterministic and independent of input order") {
    val a = Bpe.trainFromCounts(counts, numMerges = 20)
    val b = Bpe.trainFromCounts(counts.reverse, numMerges = 20)
    assert(a.merges === b.merges)
    // ("e","s") dominates: weight 6 (newest) + 3 (widest) = 9
    assert(a.merges.head === (("e", "s")))
  }

  test("segmentation is lossless and compresses the corpus") {
    val model = Bpe.trainFromCounts(counts, numMerges = 10)
    counts.foreach { case (w, _) =>
      assert(model.encodeWord(w).mkString === w, w)
    }
    val before = counts.map { case (w, n) => w.length * n }.sum
    val after = counts.map { case (w, n) => model.encodeWord(w).length * n }.sum
    assert(after < before)
  }

  test("end-to-end on the documents table: stable model, lossless doc encoding") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val m1 = Bpe.train(docs, "text", numMerges = 50)
    val m2 = Bpe.train(docs.repartition(7), "text", numMerges = 50)
    assert(m1.merges === m2.merges, "model must not depend on partitioning")
    assert(m1.merges.size === 50)
    // encoding a sample doc loses nothing
    import org.apache.spark.sql.functions._
    val sample = docs.filter(col("text").isNotNull).select("text")
      .limit(5).collect().map(_.getString(0))
    sample.foreach { t =>
      val words = t.split("\\s+").filter(_.nonEmpty)
      val enc = words.flatMap(m1.encodeWord)
      assert(enc.mkString === words.mkString, "lossless concat")
    }
  }

  test("agenda encoder matches the rescan executable spec on randomized words") {
    // train a model with real merge interactions (repeats + overlaps)
    val model = graft.text.Bpe.trainFromCounts(
      Seq("aaaa" -> 50L, "abab" -> 40L, "banana" -> 30L, "aabb" -> 20L,
        "cdcdcd" -> 10L, "the" -> 60L, "then" -> 25L), numMerges = 12)
    val alphabet = "aabbcdnthe "
    val rnd = new scala.util.Random(5)
    val words = Seq("", "a", "aa", "aaa", "aaaaaaaaaa", "ababab",
      "banana", "bananana", "xyz", "aabbaabb", "ththththe") ++
      (1 to 800).map { _ =>
        (0 until rnd.nextInt(24))
          .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString.trim
      }
    words.foreach { w =>
      assert(model.encodeWord(w) === encodeWordRescan(model, w),
        s"encoder diverged on '$w'")
    }
  }

  test("agenda encoder is near-linear on the single-word flood the rescan form was quadratic on") {
    // a 200k-char run whose pairs keep merging: the rescan form is
    // O(L^2) here (~minutes); the agenda must stay in milliseconds
    val model = graft.text.Bpe.trainFromCounts(
      Seq("aaaaaaaa" -> 10L), numMerges = 8)
    val flood = "a" * 200000
    val t0 = System.nanoTime()
    val enc = model.encodeWord(flood)
    val ms = (System.nanoTime() - t0) / 1e6
    assert(ms < 2000.0, f"agenda encoder took $ms%.0f ms on the flood")
    assert(enc.mkString === flood, "lossless on the flood")
  }

  test("q_bpe_merges twin: scrub makes training invariant to exotic ws and non-BMP") {
    import spark.implicits._
    // The oracle twin's contract is that the scrub removes exactly the
    // inputs where Java-side and codepoint-side training could diverge:
    // after scrubbing, a corpus variant that differs only in exotic
    // whitespace flavor / non-BMP noise must learn the IDENTICAL merge
    // table through the twin.
    val clean = Seq("low lower lowest", "new newer newest", "low low new")
    val noisy = Seq("low lower lowest", "newnewer\tnewest",
      "low🎉 low　new")
    def mergesOf(texts: Seq[String]): Seq[(String, String, String)] = {
      val dir = java.nio.file.Files.createTempDirectory("bpetwin").toString
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      graft.queries.DocQueries.bpeMerges(spark, dir)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2), r.getString(3))).toSeq
    }
    val a = mergesOf(clean)
    val b = mergesOf(noisy)
    assert(a.nonEmpty)
    // the emoji survives as its own word in neither corpus (non-BMP
    // scrub), and every ws flavor collapses — identical learned tables
    assert(a === b)
    assert(a.forall { case (l, r, m) => m == l + r })
  }

  test("oracle fold device: string-fold re-segmentation equals the scanner on random words") {
    // The DuckDB twins re-segment words with a list_reduce fold over a
    // chr(1)-separated encoding: merge when the accumulated string's
    // LAST symbol equals `a` and the next element is `b`. The written
    // justification is that a just-merged symbol a+b is strictly longer
    // than `a`, so it can never re-match as a left element within the
    // same round. This property drives randomized (word, pair) cases
    // through both formulations — the scanner (trainFromCounts's
    // leftmost-non-overlapping pass) and a faithful JVM mirror of the
    // SQL fold — including the adversarial shapes: overlapping pairs
    // (a == b), multi-char symbols from earlier rounds, and pairs whose
    // concatenation re-appears later in the word.
    val rnd = new scala.util.Random(20260814)
    def scanner(syms: Vector[String], a: String, b: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    val Sep = ''
    def fold(syms: Vector[String], a: String, b: String): Vector[String] = {
      val acc = syms.reduceLeft { (acc, x) =>
        if ((acc == a || acc.endsWith(Sep + a)) && x == b) acc + x
        else acc + Sep + x
      }
      acc.split(Sep).toVector
    }
    val alphabet = Vector("a", "b", "c", "ab", "ba", "aa", "abc")
    (1 to 2000).foreach { _ =>
      val word = Vector.fill(1 + rnd.nextInt(12))(
        alphabet(rnd.nextInt(alphabet.length)))
      val a = alphabet(rnd.nextInt(alphabet.length))
      val b = alphabet(rnd.nextInt(alphabet.length))
      assert(fold(word, a, b) === scanner(word, a, b),
        s"word=$word pair=($a,$b)")
    }
    // several consecutive rounds with evolving multi-char symbols, the
    // exact shape the recursive CTE runs 200 times
    (1 to 300).foreach { _ =>
      var syms = Vector.fill(2 + rnd.nextInt(10))(
        Vector("a", "b", "c")(rnd.nextInt(3)))
      (1 to 6).foreach { _ =>
        val all = syms.distinct
        val a = all(rnd.nextInt(all.length))
        val b = all(rnd.nextInt(all.length))
        assert(fold(syms, a, b) === scanner(syms, a, b),
          s"syms=$syms pair=($a,$b)")
        syms = scanner(syms, a, b)
      }
    }
  }

  test("q_bpe_encode twin: checksums are scrub-invariant and order-sensitive") {
    import spark.implicits._
    def encOf(texts: Seq[String]): Map[Long, (Long, Long)] = {
      val dir = java.nio.file.Files.createTempDirectory("bpeenc").toString
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      graft.queries.DocQueries.bpeEncode(spark, dir)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    }
    val base = encOf(Seq("low lower lowest", "new newer newest", null))
    // same corpus through exotic whitespace — identical per-doc checksums
    val noisy = encOf(Seq("low lower lowest",
      "new\tnewer　newest", null))
    assert(base === noisy)
    assert(base(2L) === ((0L, 0L)), "null doc encodes to zero subwords")
    // a token swap keeps n_subwords but must move the checksum —
    // position-weighting is what pins the order
    val swapped = encOf(Seq("lower low lowest", "new newer newest", null))
    assert(swapped(0L)._1 === base(0L)._1)
    assert(swapped(0L)._2 !== base(0L)._2)
  }
}

object BpeSpec {

  /** The rescan-per-merge form of [[Bpe.Model.encodeWord]]: rescan every
    * adjacent pair, apply the best-ranked (leftmost on ties), repeat.
    * O(L²) per word; the executable spec the agenda encoder must match.
    */
  def encodeWordRescan(model: Bpe.Model, word: String): Seq[String] = {
    if (word.isEmpty) return Seq.empty
    var symbols = word.map(_.toString).toVector
    var done = false
    while (!done && symbols.length > 1) {
      var bestIdx = -1
      var bestRank = Int.MaxValue
      var i = 0
      while (i < symbols.length - 1) {
        val r = model.rank.getOrElse((symbols(i), symbols(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestIdx = i }
        i += 1
      }
      if (bestIdx < 0) done = true
      else symbols = (symbols.take(bestIdx) :+
        (symbols(bestIdx) + symbols(bestIdx + 1))) ++ symbols.drop(bestIdx + 2)
    }
    symbols
  }
}
