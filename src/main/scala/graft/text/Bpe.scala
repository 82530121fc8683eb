package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary induction (Sennrich et al. 2016 — the
  * public algorithm behind GPT-2/RoBERTa vocabularies), structured the
  * way a 100 TB corpus requires:
  *
  *  1. The ONLY distributed pass is the word-frequency aggregation —
  *     one `groupBy(word).count` over the corpus, truncated to the
  *     `maxWords` most frequent words (with a deterministic (count
  *     DESC, word ASC) tiebreak). A trillion tokens reduce to a
  *     bounded table; frequency truncation is the standard practice
  *     (tail hapaxes cannot win a merge anyway at realistic budgets).
  *  2. Merge training runs DRIVER-SIDE on that table — each round
  *     counts adjacent symbol pairs weighted by word frequency and
  *     merges the most frequent pair everywhere. k rounds over ~1e5
  *     words is millis; a distributed formulation would pay k full
  *     corpus shuffles for the same answer.
  *  3. Encoding is per-row with the (tiny, broadcast) learned merge
  *     ranks: repeatedly merge the best-ranked adjacent pair — the
  *     exact HF/GPT-2 inference rule.
  *
  * Determinism everywhere: pair ties break lexicographically, word
  * truncation ties break on the word, so the same corpus always yields
  * the same vocabulary — reruns and resumes agree (the property RNG-less
  * ops preserve across this engine).
  */
object Bpe {

  /** A trained model: merge list in training order (rank = priority). */
  final case class Model(merges: Seq[(String, String)]) extends Serializable {
    @transient lazy val rank: Map[(String, String), Int] =
      merges.zipWithIndex.toMap

    /** Encode one word: start from characters, repeatedly apply the
      * best-ranked adjacent merge — leftmost on rank ties — until none
      * applies (HF inference rule).
      *
      * Agenda implementation (heap of (rank, position) claims over a
      * linked symbol list), O(L log L): the rescan-per-merge form
      * (test-scope BpeSpec.encodeWordRescan, the executable spec) is O(L) per
      * merge and a word can need L−1 merges — O(L²), which on a
      * 200k-char single "word" (a base64 blob the whitespace tokenizer
      * cannot split) whose pairs keep merging is minutes on one row:
      * the same poisoned-row class as the email regex and the
      * entropy HOF, fixed the same way. Claims are verified at pop
      * (pair still alive with that rank); every live pair always has a
      * claim and ranks never change while a pair exists, so pop order
      * equals the rescan's (min rank, leftmost) — BpeSpec pins output
      * equality on randomized words.
      */
    def encodeWord(word: String): Seq[String] = {
      val n = word.length
      if (n == 0) return Seq.empty
      if (n == 1) return Seq(word)
      val syms = Array.tabulate(n)(i => word.charAt(i).toString)
      val next = Array.tabulate(n)(i => if (i == n - 1) -1 else i + 1)
      val prev = Array.tabulate(n)(i => i - 1)
      val alive = Array.fill(n)(true)
      def rankAt(i: Int): Int = {
        val j = next(i)
        if (j < 0) Int.MaxValue
        else rank.getOrElse((syms(i), syms(j)), Int.MaxValue)
      }
      // min-heap of (rank << 32 | pos) claims; rank < 2^31, pos < 2^31
      val heap = new java.util.PriorityQueue[java.lang.Long](n)
      def push(i: Int): Unit = {
        val r = rankAt(i)
        if (r != Int.MaxValue) heap.add((r.toLong << 32) | i.toLong)
      }
      var i = 0
      while (i < n - 1) { push(i); i += 1 }
      while (!heap.isEmpty) {
        val claim = heap.poll().longValue()
        val r = (claim >>> 32).toInt
        val p = (claim & 0xffffffffL).toInt
        if (alive(p) && rankAt(p) == r) {
          val q = next(p)
          syms(p) = syms(p) + syms(q)
          alive(q) = false
          next(p) = next(q)
          if (next(p) >= 0) prev(next(p)) = p
          if (prev(p) >= 0) push(prev(p))
          push(p)
        }
      }
      val out = Seq.newBuilder[String]
      var k = 0
      while (k >= 0) { out += syms(k); k = next(k) }
      out.result()
    }
  }

  /** Distributed pass: (word, n) truncated to the `maxWords` most
    * frequent, deterministic tiebreak.
    */
  def wordCounts(df: DataFrame, textCol: String, maxWords: Int): DataFrame =
    df.select(explode(TextMetrics.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("word"))
      .limit(maxWords)

  /** Driver-side merge training over a word-frequency table. */
  def trainFromCounts(counts: Seq[(String, Long)], numMerges: Int): Model = {
    var words: Vector[(Vector[String], Long)] =
      counts.toVector.map { case (w, n) => (w.map(_.toString).toVector, n) }
    val merges = Seq.newBuilder[(String, String)]
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, n) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          pairCounts(p) = pairCounts.getOrElse(p, 0L) + n
          i += 1
        }
      }
      if (pairCounts.isEmpty) exhausted = true
      else {
        // max count, ties broken lexicographically -> deterministic
        val best = pairCounts.toSeq
          .minBy { case ((a, b), n) => (-n, a, b) }._1
        merges += best
        val joined = best._1 + best._2
        words = words.map { case (syms, n) =>
          if (syms.length < 2) (syms, n)
          else {
            val out = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == best._1 && syms(i + 1) == best._2) {
                out += joined; i += 2
              } else { out += syms(i); i += 1 }
            }
            (out.result(), n)
          }
        }
        round += 1
      }
    }
    Model(merges.result())
  }

  /** End-to-end training: one corpus aggregation, then driver merges. */
  def train(df: DataFrame, textCol: String, numMerges: Int,
            maxWords: Int = 100000): Model =
    trainFromCounts(
      wordCounts(df, textCol, maxWords).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq,
      numMerges)

  /** Subword token column under a trained model: per-word BPE inference
    * (UDF — the merge table is data learned at runtime, which a codegen
    * expression cannot capture; the model is small and ships once per
    * executor via the closure broadcast).
    */
  def encodeUdf(model: Model) = udf { (s: String) =>
    if (s == null) Seq.empty[String]
    else s.split("\\s+").filter(_.nonEmpty).toSeq.flatMap(model.encodeWord)
  }
}
