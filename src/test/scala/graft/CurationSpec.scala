package graft

import org.apache.spark.sql.functions._

import graft.ops.{Curation, KMeans}

/** Gopher rules, repetition signals, DSIR weights, k-means training —
  * hand-computed fixtures + determinism/separation properties.
  */
class CurationSpec extends SparkTestBase {
  import CurationSpec._

  private def docsDf(texts: (Long, String)*) = {
    import spark.implicits._
    texts.toDF("doc_id", "text")
  }

  test("gopher signals: hand-computed fixture") {
    val df = Curation.gopherSignals(
      docsDf((1L, "the cat and the hat sat")), "text")
    val r = df.collect().head
    assert(r.getAs[Long]("n_words") === 6L)
    // chars 3+3+3+3+3+3=18, mean 3.0 -> 30000
    assert(r.getAs[Long]("mean_word_len_q") === 30000L)
    assert(r.getAs[Long]("alpha_word_frac_q") === 10000L)
    assert(r.getAs[Long]("symbol_ratio_q") === 0L)
    // stopword members present: the, and -> 2
    assert(r.getAs[Long]("stop_hits") === 2L)
  }

  test("gopher rules: first-match-wins ordering and keep flag") {
    val rules = Curation.gopherRules(Curation.gopherSignals(docsDf(
      (1L, "short doc"),                       // few words AND few stopwords
      (2L, ("the of and to be that have with " * 5).trim), // 40 words, all stops
      (3L, null)), "text"))
      .select("doc_id", "gopher_reason", "gopher_keep")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)).map(_.toString), r.getBoolean(2))).toMap
    // word-count rule outranks the stopword rule
    assert(rules(1L) === ((Some("too_few_words"), false)))
    // 40 words, mean length 3.0 (boundary-inclusive), 8/8 stopwords: passes
    assert(rules(2L) === ((None, true)))
    assert(rules(3L)._1.contains("too_few_words"))
  }

  test("dup ngram stats: hand-computed fixture") {
    val r = Curation.dupNgramStats(docsDf((1L, "a b a b a b")), "text")
      .collect().head
    assert(r.getAs[Long]("n_words") === 6L)
    assert(r.getAs[Long]("total_chars") === 6L)
    // 2-grams: 'a b'x3 (2 chars) beats 'b a'x2 -> 6/6
    assert(r.getAs[Long]("top2gram_frac_q") === 10000L)
    // 3-grams: 'a b a'x2 + 'b a b'x2, 3 chars each -> 12/6
    assert(r.getAs[Long]("dup3gram_frac_q") === 20000L)
  }

  test("dup ngram stats: unique text has zero dup3 fraction") {
    val r = Curation.dupNgramStats(docsDf((1L, "one two three four five")), "text")
      .collect().head
    assert(r.getAs[Long]("dup3gram_frac_q") === 0L)
    // all 2-grams occur once; the widest ('three four', 9 chars) wins
    assert(r.getAs[Long]("top2gram_frac_q") === (9L * 10000L) / 19L)
  }

  test("dup ngram stats: native kernel matches the HOF executable spec") {
    val rnd = new scala.util.Random(11)
    val vocab = Seq("alpha", "b", "gamma", "dd", "e", "zeta")
    val fuzz = (10L until 40L).map(i =>
      (i, Seq.fill(rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val docs = docsDf(Seq(
      (1L, "a b a b a b"), (2L, "one two three four five"), (3L, ""),
      (4L, null.asInstanceOf[String]), (5L, "x"), (6L, "x y"),
      (7L, "repeat repeat repeat repeat")) ++ fuzz: _*)
    val cols = Seq("doc_id", "n_words", "total_chars",
      "top2gram_frac_q", "dup3gram_frac_q")
    val kernel = Curation.dupNgramStats(docs, "text")
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    val hof = dupNgramStatsHof(docs, "text")
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(kernel === hof)
  }

  test("dsir weights: target-like docs outscore target-unlike docs") {
    // target vocabulary {alpha beta}, background vocabulary {x y z}
    val rows = (0L until 10L).map { i =>
      if (i % 3 == 0) (i, "alpha beta alpha beta")    // targets
      else if (i % 3 == 1) (i, "alpha beta alpha")    // target-like corpus
      else (i, "x y z x y z")                         // unlike corpus
    }
    val out = Curation.dsirLogWeights(docsDf(rows: _*), "doc_id", "text",
      isTarget = col("doc_id") % 3 === 0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(!out.contains(0L) && out.contains(1L))   // targets excluded
    val like = out.collect { case (k, v) if k % 3 == 1 => v._2.toDouble / v._1 }
    val unlike = out.collect { case (k, v) if k % 3 == 2 => v._2.toDouble / v._1 }
    assert(like.min > unlike.max,
      s"per-token weights should separate: $out")
  }

  test("dsir weights: empty doc gets a zero row") {
    val out = Curation.dsirLogWeights(
      docsDf((0L, "alpha"), (1L, ""), (2L, "beta")), "doc_id", "text",
      isTarget = col("doc_id") === 0L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) === ((0L, 0L)))
  }

  test("kmeans lloyd: separates two obvious clusters, deterministically") {
    import spark.implicits._
    // two tight blobs; ids interleave so modulo init starts badly mixed
    val vecs = Seq(
      (0L, Array(0.1f, 0.0f)), (1L, Array(10.0f, 10.1f)),
      (2L, Array(0.0f, 0.2f)), (3L, Array(10.2f, 9.9f)),
      (4L, Array(0.2f, 0.1f)), (5L, Array(9.9f, 10.0f)))
    val df = vecs.toDF("vec_id", "embedding")
    val (a1, c1) = KMeans.lloyd(df, k = 2, iters = 3, dim = 2)
    val assign = a1.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(Set(assign(0L), assign(2L), assign(4L)).size === 1)
    assert(Set(assign(1L), assign(3L), assign(5L)).size === 1)
    assert(assign(0L) !== assign(1L))
    val cents = c1.collect().map(r =>
      r.getInt(0) -> r.getSeq[Long](1)).toMap
    val lowCluster = assign(0L)
    // centroid of the low blob = floor(mean of quantized (0.1,0.0,0.2)...)
    assert(math.abs(cents(lowCluster).head) < 300000L)
    assert(cents(1 - lowCluster).head > 9000000L)
    // determinism: identical second run
    val (a2, c2) = KMeans.lloyd(df, k = 2, iters = 3, dim = 2)
    assert(a2.collect().map(_.toSeq).toSet === a1.collect().map(_.toSeq).toSet)
    assert(c2.collect().map(_.toSeq).toSet === c1.collect().map(_.toSeq).toSet)
  }

  test("kmeans lloyd: local fast path is bit-identical to the distributed path") {
    import spark.implicits._
    // irregular blobs + interleaved ids so assignments genuinely move
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 120L).map { i =>
      val c = (i % 3).toInt
      (i, Array.tabulate(5)(d =>
        (c * 4 + rnd.nextGaussian() * 0.7 + d * 0.1).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding").repartition(7)
    // the default call equals the forced distributed run; returns the
    // SQL executions the default call took
    def pin(df: org.apache.spark.sql.DataFrame, dim: Int, iters: Int): Int = {
      var gated: (Set[Seq[Any]], Map[Int, Seq[Long]]) = null
      val (plans, _) = executedPlans {
        val (a, c) = KMeans.lloyd(df, k = 4, iters = iters, dim = dim)
        gated = (a.collect().map(_.toSeq).toSet,
          c.collect().map(r => (r.getInt(0), r.getSeq[Long](1))).toMap)
      }
      val (aD, cD) = KMeans.lloyd(df, k = 4, iters = iters, dim = dim, localGate = 0)
      assert(gated._1 === aD.collect().map(_.toSeq).toSet)
      assert(gated._2 === cD.collect().map(r => (r.getInt(0), r.getSeq[Long](1))).toMap)
      plans.size
    }
    val localRuns = pin(df, dim = 5, iters = 3) // gated -> local: probe + collects
    // wide vectors: 5,500 rows pass the 65,536-row gate, but at dim 768
    // they are 33.8 MB of quantized components, over the 32 MiB byte
    // budget, so the default call must take the distributed path: at
    // least one centroid collect per round on top of the probe
    val wide = spark.range(5500).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(767)), d =>
        (pmod(col("id") * 31 + d * 7, lit(97)) / 97.0 + pmod(col("id"), lit(3)) * 4.0)
          .cast("float")).as("embedding"))
    val wideRuns = pin(wide, dim = 768, iters = 2)
    assert(wideRuns >= localRuns + 3,
      s"$wideRuns vs $localRuns executions: the wide input took the local path")
  }

  test("kmeans lloyd: inertia never increases across an extra round") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map { i =>
      val cx = if (i % 4 < 2) 0.0 else 5.0
      (i, Array.fill(4)(cx.toFloat + rnd.nextFloat()))
    }
    val df = vecs.toDF("vec_id", "embedding")
    def inertia(iters: Int): Long =
      KMeans.lloyd(df, k = 2, iters = iters, dim = 4)._1
        .agg(sum("dist_q")).collect().head.getLong(0)
    assert(inertia(3) <= inertia(1))
  }

  // ---- line dedup / dup spans / C4 rules --------------------------------

  // 12 tokens -> two 10-token segments (second has 2 tokens); the first
  // segment is byte-identical across docs 1 and 2, so it is boilerplate
  private val sharedSeg = "a b c d e f g h i j"

  test("line dedup: corpus-frequent segment removed, remainder md5 stable") {
    val df = Curation.lineDedup(docsDf(
      (1L, s"$sharedSeg tail1 x"),
      (2L, s"$sharedSeg tail2 y"),
      (3L, "entirely unique words only here")), "doc_id", "text")
    val rows = df.collect().map(r => r.getLong(0) ->
      (r.getAs[Long]("n_lines"), r.getAs[Long]("n_removed"),
        r.getAs[String]("clean_md5"))).toMap
    assert(rows(1L)._1 === 2L && rows(1L)._2 === 1L)
    assert(rows(2L)._1 === 2L && rows(2L)._2 === 1L)
    assert(rows(3L)._1 === 1L && rows(3L)._2 === 0L)
    // kept text of doc 1 is exactly its second segment
    val md5Tail1 = java.security.MessageDigest.getInstance("MD5")
      .digest("tail1 x".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(rows(1L)._3 === md5Tail1)
  }

  test("line dedup: doc with every segment removed hashes empty string") {
    val df = Curation.lineDedup(docsDf(
      (1L, sharedSeg), (2L, sharedSeg), (3L, "padding so corpus is ragged")),
      "doc_id", "text")
    val r1 = df.filter(col("doc_id") === 1L).collect().head
    assert(r1.getAs[Long]("n_removed") === 1L)
    assert(r1.getAs[String]("clean_md5") === "d41d8cd98f00b204e9800998ecf8427e")
  }

  test("dup spans: planted cross-doc 8-gram flagged, within-doc repeat not") {
    val span = "one two three four five six seven eight"
    val df = Curation.dupSpans(docsDf(
      (1L, s"$span alpha"),     // 9 toks -> spans at pos 0,1; pos-0 span shared
      (2L, s"beta $span"),      // shared span at pos 1
      (3L, s"rep rep rep rep rep rep rep rep rep"), // self-repeat, single doc
      (4L, "short")), "doc_id", "text")     // < 8 tokens -> no spans
    val rows = df.collect().map(r => r.getLong(0) ->
      (r.getAs[Long]("n_spans"), r.getAs[Long]("dup_spans"),
        r.getAs[Long]("dup_frac_q"))).toMap
    assert(rows(1L) === ((2L, 1L, 5000L)))
    assert(rows(2L) === ((2L, 1L, 5000L)))
    // 9 identical tokens: both spans identical but only ONE distinct doc
    assert(rows(3L) === ((2L, 0L, 0L)))
    assert(rows(4L) === ((0L, 0L, 0L)))
  }

  test("c4 rules: line word-count gate and doc-level reasons") {
    val longDoc = (1 to 35).map(i => s"w$i").mkString(" ") // 4 lines: 10/10/10/5
    val df = Curation.c4Rules(docsDf(
      (1L, longDoc),                         // all 4 lines >= 5 words: keep
      (2L, (1 to 32).map(i => s"w$i").mkString(" ")), // tail line 2 words: 3 kept, keep
      (3L, (1 to 22).map(i => s"w$i").mkString(" ")), // 10/10/2 -> 2 kept: drop
      (4L, s"$longDoc lorem ipsum extra"),   // lorem ipsum outranks line count
      (5L, longDoc + " {")), "doc_id", "text")
    val rows = df.collect().map(r => r.getLong(0) ->
      (r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept_lines"),
        Option(r.getAs[String]("c4_reason")), r.getAs[Boolean]("c4_keep"))).toMap
    assert(rows(1L) === ((4L, 4L, None, true)))
    assert(rows(2L) === ((4L, 3L, None, true)))
    assert(rows(3L) === ((3L, 2L, Some("too_few_lines"), false)))
    assert(rows(4L)._3 === Some("lorem_ipsum") && !rows(4L)._4)
    assert(rows(5L)._3 === Some("brace") && !rows(5L)._4)
  }

  test("topic assign: argmax, declared-order tie-break, unlabeled floor") {
    val rows = Curation.topicAssign(docsDf(
      (1L, "join join scan stream"),   // relational 3 > streaming 1
      (2L, "join stream"),             // 1-1 tie -> declared order: relational
      (3L, "vector vector sort"),      // vector 2 > queries 1
      (4L, "foo bar baz"),             // no list hits anywhere
      (5L, "")))                       // empty text
      .select("doc_id", "topic", "topic_hits")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(rows(1L) === (("relational", 3L)))
    assert(rows(2L) === (("relational", 1L)))
    assert(rows(3L) === (("vector", 2L)))
    assert(rows(4L) === (("unlabeled", 0L)))
    assert(rows(5L) === (("unlabeled", 0L)))
  }

  test("intra dedup: repeated segment dropped, first occurrence kept") {
    // segLen=10: segs = [s, s, "x y z"] — the verbatim repeat goes, the
    // first occurrence and the distinct tail stay, in reading order
    val s10 = "a b c d e f g h i j"
    val rows = graft.ops.Dedup.intraDedup(docsDf(
      (1L, s"$s10 $s10 x y z"),
      (2L, "just a few words")))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_segs"), r.getAs[Long]("n_kept"),
          r.getAs[String]("clean_md5")))).toMap
    assert(rows(1L) === ((3L, 2L, md5Hex(s"$s10 x y z"))))
    assert(rows(2L) === ((1L, 1L, md5Hex("just a few words"))))
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("novelty curve: first sightings credited to the earliest batch") {
    val rows = graft.ops.Dedup.noveltyCurve(docsDf(
      (0L, "A"), (1L, "B"),   // batch 0: both novel
      (2L, "A"), (3L, "C"),   // batch 1: A is a repeat, C novel
      (4L, "B"), (5L, "B")),  // batch 2: nothing new
      batchSize = 2)
      .collect().map(r => r.getAs[Long]("batch") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_novel"),
          r.getAs[Long]("novelty_q")))).toMap
    assert(rows(0L) === ((2L, 2L, 10000L)))
    assert(rows(1L) === ((2L, 1L, 5000L)))
    assert(rows(2L) === ((2L, 0L, 0L)))
    spark.catalog.clearCache()
  }

  test("span removal: overlapping dup 8-grams merge into maximal spans") {
    // 9-token run shared by three docs -> its two overlapping 8-grams
    // are corpus-duplicated and must stitch into ONE maximal 9-token cut
    val common = "a b c d e f g h i"
    val gap = "m1 m2 m3 m4 m5 m6 m7 m8" // 8 unique tokens: no dup 8-gram
                                        // can bridge the two cuts
    val out = Curation.removeDupSpans(docsDf(
      (1L, s"x1 $common y1 z1"),
      (2L, s"x2 x3 $common"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),
      (4L, s"$common $gap $common")))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[Long]("n_cut_spans"), r.getAs[String]("clean_md5"))))
      .toMap
    assert(out(1L) === ((12L, 9L, 1L, md5Hex("x1 y1 z1"))))
    assert(out(2L) === ((11L, 9L, 1L, md5Hex("x2 x3"))))
    // no duplicated grams touch doc 3: nothing cut, text survives intact
    assert(out(3L) === ((10L, 0L, 0L,
      md5Hex("u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"))))
    // the same run twice with a unique 8-token gap: TWO maximal spans
    assert(out(4L) === ((26L, 18L, 2L, md5Hex(gap))))
    spark.catalog.clearCache()
  }

  test("kneser-ney bigram logprobs: hand-computed smoothing fixture") {
    // corpus "a b a b" + "a c": cb (a,b)=2 (b,a)=1 (a,c)=1; starts a=3
    // b=1; distinct successors a=2 b=1; distinct predecessors b=1 a=1
    // c=1; |types|=3
    def lpq(cb: Long, cs: Long, n1f: Long, n1r: Long, t: Double): Long =
      math.floor(math.log((math.max(cb - 0.75, 0.0)
        + ((0.75 * n1f) * n1r) / t) / cs) * 10000).toLong
    val ab = lpq(2, 3, 2, 1, 3.0)
    val ba = lpq(1, 1, 1, 1, 3.0)
    val ac = lpq(1, 3, 2, 1, 3.0)
    val out = graft.ops.Score.knBigramLogprobs(
      docsDf((1L, "a b a b"), (2L, "a c"), (3L, null), (4L, "solo")),
      "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("kn_lp_sum_q")))).toMap
    assert(out(1L) === ((3L, 2 * ab + ba)))
    assert(out(2L) === ((1L, ac)))
    // null text and single-token docs are unscorable, not dropped
    assert(out(3L) === ((0L, 0L)))
    assert(out(4L) === ((0L, 0L)))
    // KN must discount the raw MLE: every smoothed logprob sits below
    // the unsmoothed conditional for seen pairs with cb < cs
    assert(ab < 0 && ab > math.floor(math.log(2.0 / 3.0) * 10000) - 10000)
    spark.catalog.clearCache()
  }

  test("kneser-ney trigram logprobs: hand-computed two-doc fixture") {
    // corpus: doc1 "a b c a b c", doc2 "a b d"
    // trigrams: abc×2, bca, cab (doc1); abd (doc2)
    // bigram TYPES: ab, bc, ca, bd -> T2 = 4; N1+(·w): b=1 c=1 a=1 d=1
    val D = 0.75
    val t2 = 4.0
    // P2(w|v) = (max(N1+(·vw)−D,0) + D·N1+c(v·)·(N1+(·w)/T2)) / N1+(·v·)
    def p2(n1p23: Long, n1fc2: Long, n1r: Long, denom2: Long): Double =
      (math.max(n1p23 - D, 0.0) + ((D * n1fc2) * n1r) / t2) / denom2
    def lp3(c3: Long, cs3: Long, n1f3: Long, p2v: Double): Long =
      math.floor(math.log(
        (math.max(c3 - D, 0.0) + (D * n1f3) * p2v) / cs3) * 10000).toLong
    // contexts: (a,b): cs3=3 n1f3=2; (b,c): 1,1; (c,a): 1,1
    // continuations N1+(·vw): (b,c)=1 (c,a)=1 (a,b)=1 (b,d)=1
    // v-marginals: b: denom2=2 n1fc2=2; c: 1,1; a: 1,1
    val abc = lp3(2, 3, 2, p2(1, 2, 1, 2)) // w2=b, w3=c
    val bca = lp3(1, 1, 1, p2(1, 1, 1, 1)) // w2=c, w3=a
    val cab = lp3(1, 1, 1, p2(1, 1, 1, 1)) // w2=a, w3=b
    val abd = lp3(1, 3, 2, p2(1, 2, 1, 2)) // w2=b, w3=d
    val out = graft.ops.Score.knTrigramLogprobs(
      docsDf((1L, "a b c a b c"), (2L, "a b d"), (3L, "a b"), (4L, null)),
      "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_trigrams"), r.getAs[Long]("kn3_lp_sum_q")))).toMap
    assert(out(1L) === ((4L, 2 * abc + bca + cab)))
    assert(out(2L) === ((1L, abd)))
    // sub-trigram and null docs are unscorable, not dropped
    assert(out(3L) === ((0L, 0L)) && out(4L) === ((0L, 0L)))
    spark.catalog.clearCache()
  }
}

object CurationSpec {
  import org.apache.spark.sql.{Column, DataFrame}

  /** The declarative HOF form of [[graft.ops.Curation.dupNgramStats]] —
    * the kernel's executable spec and the shape the DuckDB oracle states.
    */
  def dupNgramStatsHof(df: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = col("__toks")
    val n = size(toks)
    def grams(k: Int): Column = {
      // windows of k consecutive tokens, joined with a single space
      val slices = (0 until k).map(i => slice(toks, lit(i + 1), n - lit(k - 1)))
      zip_with(slices(0), slices.drop(1).reduceLeft((a, b) =>
        zip_with(a, b, (x, y) => concat(x, lit(" "), y))), (x, y) => concat(x, lit(" "), y))
    }
    // (occurrences * non-space chars) per distinct gram
    def weights(gramCol: Column): Column = transform(array_distinct(gramCol),
      g => (size(filter(gramCol, x => x === g)) *
        (length(g) - length(regexp_replace(g, "[^ ]", "")))).cast("long"))
    def dupWeights(gramCol: Column): Column = transform(array_distinct(gramCol),
      g => {
        val occ = size(filter(gramCol, x => x === g))
        when(occ > 1, (occ * (length(g) - length(regexp_replace(g, "[^ ]", ""))))
          .cast("long")).otherwise(lit(0L))
      })
    val totalChars = aggregate(transform(toks, t => length(t).cast("long")),
      lit(0L), (acc, x) => acc + x)
    def q(numer: Column): Column =
      when(col("__total") > 0,
        floor(numer.cast("double") * 10000.0d / col("__total").cast("double")))
        .otherwise(lit(0L)).cast("long")
    df.withColumn("__toks", graft.text.TextMetrics.tokens(col(textCol)))
      .withColumn("__total", totalChars)
      .withColumn("__g2", when(n >= 2, grams(2)).otherwise(array().cast("array<string>")))
      .withColumn("__g3", when(n >= 3, grams(3)).otherwise(array().cast("array<string>")))
      .withColumn("n_words", n.cast("long"))
      .withColumn("total_chars", col("__total"))
      .withColumn("top2gram_frac_q",
        q(coalesce(array_max(weights(col("__g2"))), lit(0L))))
      .withColumn("dup3gram_frac_q",
        q(coalesce(aggregate(dupWeights(col("__g3")), lit(0L), (a, x) => a + x), lit(0L))))
      .drop("__toks", "__total", "__g2", "__g3")
  }
}
