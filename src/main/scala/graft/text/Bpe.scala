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

    /** Vocabulary: single characters seen in merges plus every merge
      * output, ids in deterministic order (merge outputs after chars).
      */
    @transient lazy val vocab: Seq[String] = {
      val chars = merges.flatMap { case (a, b) => Seq(a, b) }
        .flatMap(s => s.map(_.toString)).distinct.sorted
      (chars ++ merges.map { case (a, b) => a + b }).distinct
    }

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

  /** Load a HuggingFace/GPT-2-format `merges.txt` into a [[Model]] —
    * the drop-in slot SURVEY §7 reserves: a deployment WITH vocabulary
    * access (this container has none — zero egress) drops its
    * tokenizer's merges file here and [[Model.encodeWord]]'s agenda
    * inference applies those merges under the exact HF rule
    * (best-ranked adjacent pair, leftmost on ties), making the
    * trained-BPE surface bit-compatible with the external tokenizer's
    * merge semantics. Format, per the published tokenizer layout: an
    * optional `#version:` header, then one merge per line as two
    * space-separated symbols, rank = line order. Blank lines and
    * trailing whitespace tolerated; a line without exactly two symbols
    * is a corrupt file and raises (silently skipping would shift every
    * later rank and mis-tokenize everything downstream).
    */
  def loadMerges(lines: IterableOnce[String]): Model = {
    val merges = lines.iterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#version"))
      .map { l =>
        l.split(" ") match {
          case Array(a, b) if a.nonEmpty && b.nonEmpty => (a, b)
          case _ => throw new IllegalArgumentException(
            s"loadMerges: malformed merge line '$l' (want 'sym1 sym2')")
        }
      }.toVector
    Model(merges)
  }

  /** Parse a HuggingFace-format `vocab.json` (one flat JSON object,
    * token → integer id) into the id map the exporter needs to emit
    * the external tokenizer's ids. Scope: the flat string→int object
    * the published tokenizer files actually use — string escapes
    * (\uXXXX, \n, \", \\, ...) are handled; nested values are not a
    * vocab file and raise.
    */
  def loadVocabJson(json: String): Map[String, Int] = {
    val s = json
    var i = 0
    def ws(): Unit = { while (i < s.length && s.charAt(i).isWhitespace) i += 1 }
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"loadVocabJson: $msg at offset $i")
    def expect(c: Char): Unit = {
      ws(); if (i >= s.length || s.charAt(i) != c) fail(s"expected '$c'"); i += 1
    }
    def parseString(): String = {
      expect('"')
      val sb = new StringBuilder
      while (i < s.length && s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\') {
          if (i + 1 >= s.length) fail("dangling escape")
          s.charAt(i + 1) match {
            case 'u' =>
              if (i + 6 > s.length) fail("short \\u escape")
              // per-char hex check: Integer.parseInt would accept a
              // leading sign ("\u-1ff") and wrap through .toChar
              var hex = 0
              var j = i + 2
              while (j < i + 6) {
                val d = Character.digit(s.charAt(j), 16)
                if (d < 0) fail("non-hex \\u escape digits")
                hex = (hex << 4) | d
                j += 1
              }
              sb.append(hex.toChar)
              i += 6
            case 'n' => sb.append('\n'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 'b' => sb.append('\b'); i += 2
            case 'f' => sb.append('\f'); i += 2
            case '/' => sb.append('/'); i += 2
            case '"' => sb.append('"'); i += 2
            case '\\' => sb.append('\\'); i += 2
            case other => fail(s"unsupported escape \\$other")
          }
        } else { sb.append(c); i += 1 }
      }
      expect('"')
      sb.result()
    }
    def parseInt(): Int = {
      ws()
      val start = i
      if (i < s.length && s.charAt(i) == '-') i += 1
      while (i < s.length && s.charAt(i).isDigit) i += 1
      if (i == start) fail("expected an integer id")
      try s.substring(start, i).toInt
      catch { case _: NumberFormatException => fail("integer id out of Int range") }
    }
    ws(); expect('{'); ws()
    val out = Map.newBuilder[String, Int]
    if (i < s.length && s.charAt(i) != '}') {
      var more = true
      while (more) {
        val k = parseString(); expect(':'); val v = parseInt()
        out += (k -> v)
        ws()
        if (i < s.length && s.charAt(i) == ',') { i += 1; ws() }
        else more = false
      }
    }
    expect('}')
    out.result()
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
