package graft

import org.apache.spark.sql.functions._

import graft.ops.{Similarity, SketchDedup}
import graft.text.TextMetrics

/** Sketch-dedup invariants + hash parity between the compiled fast path
  * (SketchDedup.sketchDoc) and the declarative expression form.
  */
class SketchDedupSpec extends SparkTestBase {
  import SketchDedupSpec._

  private val docs = Seq(
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy cat",
    "one two",
    "single",
    "a b c d e f g h i j k l m n o p q r s t u v w x y z",
    "repeat repeat repeat repeat repeat repeat repeat"
  )

  test("compiled sketch matches expression shingle hashes and signature") {
    import spark.implicits._
    val df = docs.toDF("text")
      .select(col("text"),
        transform(TextMetrics.tokens(col("text")), t => xxhash64(t)).as("th"))
      .select(col("text"), shingleHashes(col("th"), 3).as("hs"))
      .select(col("text"), col("hs"),
        minhashSignature(col("hs"), 16).as("sig"))
    df.collect().foreach { r =>
      val (hs, sig, bands) = SketchDedup.sketchDoc(r.getString(0), 3, 16, 4)
      assert(hs.toSeq === r.getSeq[Long](1), s"hs mismatch for '${r.getString(0)}'")
      assert(sig.toSeq === r.getSeq[Long](2), s"sig mismatch for '${r.getString(0)}'")
      assert(bands.length === 4)
    }
  }

  test("sketchDoc edge cases: null, empty, whitespace") {
    assert(SketchDedup.sketchDoc(null, 3, 16, 4)._1.isEmpty)
    assert(SketchDedup.sketchDoc("", 3, 16, 4)._1.isEmpty)
    assert(SketchDedup.sketchDoc("   ", 3, 16, 4)._1.isEmpty)
    assert(SketchDedup.sketchDoc("one two", 3, 16, 4)._1.length === 1)
  }

  test("minhashLshPairs finds exact and near duplicates, not distinct docs") {
    import spark.implicits._
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " * 5
    val df = Seq(
      ("a", base),
      ("b", base),                          // exact duplicate of a
      ("c", base + "kilo lima"),            // near duplicate of a
      ("d", "completely different words entirely unrelated content here okay")
    ).toDF("doc_id", "text")
    val pairs = SketchDedup.minhashLshPairs(df, "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.7)
      .select("id_a", "id_b").as[(String, String)].collect().toSet
    assert(pairs.contains(("a", "b")))
    assert(pairs.contains(("a", "c")) && pairs.contains(("b", "c")))
    assert(!pairs.exists { case (x, y) => x == "d" || y == "d" })
  }

  test("simhash: identical docs distance 0, near docs within threshold") {
    import spark.implicits._
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val df = Seq(("a", base), ("b", base), ("c", base.replace("echo", "exxo")),
      ("d", "zz yy xx ww vv uu tt ss rr qq")).toDF("doc_id", "text")
    val pairs = SketchDedup.simhashPairs(df, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b", "hamming").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(pairs.exists { case (x, y, h) => x == "a" && y == "b" && h == 0 })
    assert(!pairs.exists { case (x, y, _) => x == "d" || y == "d" })
  }

  test("winnowing: shared substrings >= w+k-1 chars share a fingerprint; short docs excluded") {
    import spark.implicits._
    val k = 8; val w = 4
    val shared = "a very distinctive stretch of reused prose"
    val df = Seq(
      (1L, s"first document begins. $shared. then diverges completely xyz"),
      (2L, s"totally different opening here! $shared! and another ending"),
      (3L, "unrelated text with nothing in common at all with the others"),
      (4L, "tiny") // under k+w-1 chars: no window, no rows
    ).toDF("doc_id", "text")
    val fps = SketchDedup.winnowFingerprints(df, "doc_id", "text", k, w)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // the winnowing guarantee: docs 1 and 2 share the long substring
    assert((byDoc(1L) & byDoc(2L)).nonEmpty)
    // doc 3 shares nothing that long with doc 1
    assert((byDoc(1L) & byDoc(3L)).isEmpty)
    assert(!byDoc.contains(4L))
    // digest form agrees with the exploded form
    val digests = SketchDedup.winnowDigest(df, "doc_id", "text", k, w)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(digests(1L) === byDoc(1L).size.toLong)
    assert(digests.keySet === Set(1L, 2L, 3L))
  }

  test("cdc chunks: tile the text exactly and survive a mid-document insertion") {
    import spark.implicits._
    val base = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet " * 8).trim
    val edited = base.substring(0, 200) + " INSERTED PASSAGE HERE " + base.substring(200)
    val chunks = Seq((1L, base), (2L, edited), (3L, "tiny"), (4L, ""))
      .toDF("doc_id", "text")
    val got = graft.queries.SimilarityQueries.cdcChunks(spark,
      { // route the fixture through a temp parquet dir shaped like testdata
        val d = java.nio.file.Files.createTempDirectory("cdc").toString
        chunks.write.mode("overwrite").parquet(s"$d/documents.parquet")
        d
      })
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val byDoc = got.groupBy(_._1)
    // chunks tile: starts contiguous from 1, lengths sum to text length
    Seq(1L -> base, 2L -> edited.replaceAll("\\s+", " ").toLowerCase).foreach { case (id, t) =>
      val cs = byDoc(id).sortBy(_._2)
      assert(cs.head._3 === 1L)
      assert(cs.map(_._4).sum === t.length.toLong, s"doc $id lengths")
      cs.sliding(2).foreach { case Array(a, b) => assert(a._3 + a._4 === b._3) case _ => }
    }
    // CDC property: the edit only disturbs chunks around the insertion —
    // most chunk hashes survive verbatim
    val h1 = byDoc(1L).map(_._5).toSeq
    val h2 = byDoc(2L).map(_._5).toSet
    val surviving = h1.count(h2.contains)
    assert(surviving >= h1.length - 3,
      s"only $surviving/${h1.length} chunks survived the insertion")
    // sub-gram doc: one whole-text chunk; empty doc: no rows
    assert(byDoc(3L).map(c => (c._3, c._4)).toSeq === Seq((1L, 4L)))
    assert(!byDoc.contains(4L))
  }

  test("cdc chunks: unicode fuzz — chunks tile by code points, hashes re-derivable") {
    import spark.implicits._
    val alphabet = "ab cd🎉ü日\tx.🚀é".codePoints().toArray
    val rnd = new scala.util.Random(99)
    val texts = (1 to 40).map { i =>
      val cps = (0 until rnd.nextInt(120)).map(_ => alphabet(rnd.nextInt(alphabet.length)))
      (i.toLong, cps.flatMap(Character.toChars(_)).mkString)
    }.filter(_._2.nonEmpty)
    val got = texts.toDF("doc_id", "text")
      .select(col("doc_id"), graft.text.Normalize.canonExact(col("text")).as("canon"))
      .filter(length(col("canon")) >= 1)
      .select(col("doc_id"), col("canon"),
        explode(graft.plans.CdcChunks(col("canon"), k = 4)).as("c"))
      .select(col("doc_id"), col("canon"), col("c.start"), col("c.len"), col("c.hash"))
      .collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    got.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val canon = rows.head.getString(1)
      val nCp = canon.codePointCount(0, canon.length)
      val cs = rows.map(r => (r.getLong(2), r.getLong(3), r.getString(4))).sortBy(_._1)
      assert(cs.head._1 === 1L)
      assert(cs.map(_._2).sum === nCp.toLong)
      cs.sliding(2).foreach {
        case Array(a, b) => assert(a._1 + a._2 === b._1)
        case _ =>
      }
      // every chunk hash is md5 of the code-point substring's UTF-8 bytes
      cs.foreach { case (start, len, hash) =>
        val from = canon.offsetByCodePoints(0, (start - 1).toInt)
        val to = canon.offsetByCodePoints(from, len.toInt)
        md.reset()
        val d = md.digest(canon.substring(from, to).getBytes("UTF-8"))
        assert(d.map("%02x".format(_)).mkString === hash)
      }
    }
    assert(got.nonEmpty)
  }

  test("winnow overlap pairs: shared paragraph found, ubiquitous grams pruned") {
    import spark.implicits._
    val quote = "to be or not to be that is the question whether tis nobler"
    val boiler = "all rights reserved contact us for more information today"
    val docs = Seq(
      (1L, s"essay one begins here. $quote. and then one concludes. $boiler"),
      (2L, s"review two starts differently! $quote! closing remarks differ. $boiler"),
      (3L, s"unrelated third text about completely other topics entirely. $boiler"),
      (4L, s"fourth doc shares nothing with anyone else at all, honestly. $boiler"),
      (5L, s"fifth also distinct content through and through, no reuse. $boiler")
    ).toDF("doc_id", "text")
    // boilerplate in ALL five docs -> df guard (maxDf=2) must prune it, so
    // only the quote pair survives
    val out = SketchDedup.winnowOverlapPairs(docs, "doc_id", "text",
      k = 8, w = 4, maxDf = 2, minShared = 3)
    val pairs = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
    // the bounded collector works in bigint/string internally; the
    // output restores the caller's id dtype (here int, not bigint)
    val intDocs = docs.withColumn("doc_id", col("doc_id").cast("int"))
    val intOut = SketchDedup.winnowOverlapPairs(intDocs, "doc_id", "text",
      k = 8, w = 4, maxDf = 2, minShared = 3)
    assert(intOut.schema("id_a").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(intOut.schema("id_b").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(SketchDedup.containmentPairs(intDocs, "doc_id", "text")
      .schema("id_a").dataType === org.apache.spark.sql.types.IntegerType)
  }

  test("winnow kernel is value-identical to the HOF reference form") {
    import spark.implicits._
    // the readable-but-O(n^2) SQL formulation the kernel replaces; kept
    // here as the executable spec of the kernel's semantics (matches the
    // DuckDB oracle in SimilarityQueries.winnowFpSql)
    def hofSels(k: Int, w: Int) = expr(
      s"""transform(sequence(1, length(canon) - ${k + w - 2}), j ->
         |  array_min(transform(sequence(j, j + ${w - 1}), i ->
         |    md5(substring(canon, i, $k)))))""".stripMargin)
    val docs = Seq("the quick brown fox jumps over the lazy dog",
      "abababababababab", "ünïcödé — mixed width テキスト here",
      "exactly-eleven!", "aaaaaaaaaaaaaaaaaaaaaa",
      "astral 🎉🚀 pairs 🎉 mixed in ascii text runs 🚀🚀 end").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    for ((k, w) <- Seq((8, 4), (5, 3), (3, 7))) {
      val df = docs.toDF("id", "text")
        .select(col("id"), graft.text.Normalize.canonExact(col("text")).as("canon"))
        .filter(length(col("canon")) >= k + w - 1)
      val got = df.select(col("id"), graft.plans.WinnowSelect(col("canon"), k, w).as("s"))
        .as[(Long, Seq[String])].collect().toMap
      val want = df.select(col("id"), hofSels(k, w).as("s"))
        .as[(Long, Seq[String])].collect().toMap
      assert(got === want, s"k=$k w=$w")
    }
  }

  test("incremental minhash: batch flags near-dups of corpus state, not of itself") {
    import spark.implicits._
    val para = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      (1L, s"$para plus some corpus-only trailing words here"),
      (2L, "a completely different corpus document about other things entirely")
    ).toDF("doc_id", "text")
    val state = SketchDedup.sketchTable(corpus, "doc_id", "text")
    val batch = Seq(
      (10L, s"$para plus some corpus-only trailing words here"),  // near-dup of 1
      (11L, "fresh new content that matches nothing in the corpus at all"),
      (12L, ""),                                                  // empty: no sketch
      (13L, "fresh new content that matches nothing in the corpus at all") // intra-dup of 11
    ).toDF("doc_id", "text")
    def incremental(b: org.apache.spark.sql.DataFrame, corpusState: org.apache.spark.sql.DataFrame) =
      SketchDedup.incrementalFromSketches(b, SketchDedup.sketchTable(b, "doc_id", "text"),
        corpusState, "doc_id", threshold = 0.6)
    val res = incremental(batch, state)
    val out = res.flagged
      .select("doc_id", "is_dup_near_corpus", "near_dup_of",
        "is_dup_near_batch", "batch_dup_of")
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getBoolean(3), if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
    assert(out(10L) === ((true, Some(1L), false, None)))
    assert(out(11L) === ((false, None, false, None)))
    assert(out(12L) === ((false, None, false, None)))
    assert(out(13L) === ((false, None, true, Some(11L))))
    // round-trip: append the ALREADY-computed sketches of kept docs
    val keptIds = res.flagged
      .filter(!col("is_dup_near_batch") && !col("is_dup_near_corpus"))
      .select(col("doc_id").as("id"))
    val grown = state.unionByName(
      res.sketches.join(keptIds, Seq("id"), "left_semi"))
    val res2 = incremental(
      Seq((20L, "fresh new content that matches nothing in the corpus at all"))
        .toDF("doc_id", "text"), grown)
    val out2 = res2.flagged
      .select("is_dup_near_corpus", "near_dup_of").collect()(0)
    assert(out2.getBoolean(0) && out2.getLong(1) === 11L)
  }

  test("incremental md5 variant matches the pairwise md5 ground truth") {
    // q_incr_neardup's semantics derived independently from the
    // already-oracle-checked md5 pair generator: for each odd (batch)
    // doc, batch_dup_of = min odd partner below it, corpus_dup_of =
    // min even partner, over the same banding + verify.
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val pairs = SketchDedup.minhashMd5Pairs(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.7)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def matchesOf(n: Long): Seq[Long] =
      pairs.collect {
        case (a, b) if a == n => b
        case (a, b) if b == n => a
      }.toSeq
    val out = graft.queries.SimilarityQueries
      .incrNearDedup(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
    assert(out.nonEmpty && out.keySet.forall(_ % 2 == 1))
    out.foreach { case (n, (batchOf, corpusOf)) =>
      val ms = matchesOf(n)
      val expBatch = ms.filter(m => m % 2 == 1 && m < n).sorted.headOption
      val expCorpus = ms.filter(_ % 2 == 0).sorted.headOption
      assert(batchOf === expBatch, s"batch_dup_of for $n")
      assert(corpusOf === expCorpus, s"corpus_dup_of for $n")
    }
    // the fixture must actually exercise both flag families
    assert(out.values.exists(_._1.isDefined), "no intra-batch dup in fixture")
    assert(out.values.exists(_._2.isDefined), "no corpus dup in fixture")
    spark.catalog.clearCache()
  }

  test("prefix jaccard: finds the first-token edit the block key misses") {
    import spark.implicits._
    // 40 identical tokens except token ONE differs -> jaccard on 3-gram
    // shingles ~ 35/41 ≈ 0.85. The edit sits inside the first-8-token
    // block key, so ngramJaccardPairs (blocking) misses the pair; the
    // lossless prefix filter must not.
    val body = (1 to 39).map(i => s"tok$i").mkString(" ")
    val df = Seq((1L, s"aaa $body"), (2L, s"bbb $body"),
      (3L, "completely different words entirely unrelated")).toDF("doc_id", "text")
    val blocked = SketchDedup.ngramJaccardPairs(df, "doc_id", "text", 3, 8, 0.8)
    val prefix = SketchDedup.prefixJaccardPairs(df, "doc_id", "text", 3, 0.8)
    assert(blocked.count() === 0L)
    val rows = prefix.collect()
    assert(rows.length === 1)
    assert(rows.head.getLong(0) === 1L && rows.head.getLong(1) === 2L)
    assert(rows.head.getDouble(2) >= 0.8)
  }

  test("prefix jaccard: equals brute-force all-pairs on a random corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    // near-dup pairs: doc 2i+1 is doc 2i with one token changed
    val docs = (0L until 30L by 2L).flatMap { i =>
      val base = Vector.fill(20)(vocab(rnd.nextInt(vocab.size)))
      val edited = base.updated(rnd.nextInt(20), vocab(rnd.nextInt(vocab.size)))
      Seq((i, base.mkString(" ")), (i + 1, edited.mkString(" ")))
    }
    val df = docs.toDF("doc_id", "text")
    val got = SketchDedup.prefixJaccardPairs(df, "doc_id", "text", 3, 0.6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over all pairs with the same shingle sets
    val sh = df.select(col("doc_id"),
      wordShingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val expected = (for {
      a <- sh.keys; b <- sh.keys if a < b
      j = sh(a).intersect(sh(b)).size.toDouble / sh(a).union(sh(b)).size
      if j >= 0.6
    } yield (a, b)).toSet
    assert(got === expected)
    assert(expected.nonEmpty) // the fixture must actually exercise pairs
  }

  test("bounded collect: post-filter result identical to unbounded collect_list") {
    import spark.implicits._
    // groups straddling the cap: sizes 1, 2, cap, cap+1, 3·cap
    val cap = 4
    val rows = Seq.tabulate(1)(i => ("g1", i.toLong)) ++
      Seq.tabulate(2)(i => ("g2", i.toLong)) ++
      Seq.tabulate(cap)(i => ("g4", i.toLong)) ++
      Seq.tabulate(cap + 1)(i => ("g5", i.toLong)) ++
      Seq.tabulate(3 * cap)(i => ("g12", i.toLong))
    val df = rows.toDF("key", "id").repartition(8) // arrival order scrambled
    val bounded = df.groupBy("key")
      .agg(graft.ops.BoundedCollect.longIdsUpTo(cap)(col("id")).as("c"))
      .select(col("key"), col("c.ids").as("ids"))
      .filter(size(col("ids")).between(2, cap))
      .select(col("key"), array_sort(col("ids")).as("ids"))
    val plain = df.groupBy("key").agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, cap))
      .select(col("key"), array_sort(col("ids")).as("ids"))
    val b = bounded.collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val p = plain.collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(b === p)
    assert(b.keySet === Set("g2", "g4")) // over-cap and singleton groups gone
  }

  test("word_shingles kernel is value-identical to the HOF fold") {
    import spark.implicits._
    val toksCol = graft.text.TextMetrics.tokens(col("text"))
    val real = Tables.documents(spark, "/root/testdata/sf0.001").limit(100)
      .select(col("text"))
    val edges = Seq("", "one", "one two", "a b c", "a b c d",
      "x x x x x", "  padded   spacing  ").toDF("text")
    Seq(real, edges).foreach { df =>
      val rows = df.select(col("text"), toksCol.as("toks"))
        .select(
          SketchDedup.shinglesFromTokens(col("toks"), 3).as("native"),
          shinglesFromTokensHof(col("toks"), 3).as("hof"))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getSeq[String](0) === r.getSeq[String](1), r.toString)
      }
    }
  }

  test("minhash_md5 kernel is value-identical to the HOF fold") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(100)
      .select(col("doc_id"),
        wordShingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(
        graft.plans.MinhashMd5(col("sh"), 16).as("native"),
        minhashMd5SignatureHof(col("sh"), 16).as("hof"))
      .collect()
    assert(docs.nonEmpty)
    docs.foreach { r =>
      assert(r.getSeq[String](0) === r.getSeq[String](1), r.toString)
    }
  }

  test("md5 minhash pairs: planted near-dup found, outputs meet the threshold") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base + " extra"),                  // J well above 0.7
      (3L, (100 to 140).map(i => s"zzz$i").mkString(" ")))
      .toDF("doc_id", "text")
    val rows = SketchDedup.minhashMd5Pairs(docs, "doc_id", "text").collect()
    val pairs = rows.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs === Set((1L, 2L)), rows.mkString(";"))
    assert(rows.forall(_.getAs[Double]("jaccard") >= 0.7))
  }

  test("cosine matches a plain scala computation") {
    import spark.implicits._
    val a = Array(1.0, 2.0, 3.0)
    val b = Array(4.0, 5.0, 6.0)
    val expected = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val got = Seq((a, b)).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b"))).as[Double].head()
    assert(math.abs(got - expected) < 1e-15)
  }

  test("simhash64 kernel is bit-identical to the UDF spec form") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val exotic = Seq(null, "", "   ", "\t\n x \r", "one",
      "a b  cd", "edge middle ",
      "line\u2028sep stays one token", // U+2028 is NOT java-regex \s
      "naïve café über ¡hola! 中文 字", "a " * 500)
    val docs = (exotic ++ (0 until 300).map { _ =>
      (0 until rnd.nextInt(30))
        .map(_ => ("word" + rnd.nextInt(40)) * (1 + rnd.nextInt(2)))
        .mkString(Seq(" ", "  ", "\t", "\n")(rnd.nextInt(4)))
    }).toDF("t")
    // null: the kernel is null-intolerant (kernel convention), the
    // spec UDF maps null -> 0L; the production path coalesces the
    // kernel to 0L, so THAT composition is what must equal the UDF
    val both = docs.select(
      coalesce(graft.plans.Simhash64(col("t")), lit(0L)).as("k"),
      SketchDedupSpec.simhash64(col("t")).as("u")).collect()
    both.foreach { r =>
      assert(!r.isNullAt(0) && !r.isNullAt(1))
      assert(r.getLong(0) === r.getLong(1),
        "kernel/UDF signature divergence")
    }
    assert(spark.range(1)
      .select(graft.plans.Simhash64(lit(null).cast("string")))
      .head().isNullAt(0), "bare kernel stays null-intolerant")
    // and the SQL registration answers
    graft.plans.GraftFunctions.register(spark)
    val viaSql = spark.sql("SELECT simhash64('hello world')").head().getLong(0)
    val viaUdf = Seq("hello world").toDF("t")
      .select(SketchDedupSpec.simhash64(col("t"))).head().getLong(0)
    assert(viaSql === viaUdf)
  }
}

/** The declarative expression forms the compiled sketch kernels replaced
  * (interpreted: higher-order functions are CodegenFallback), kept as
  * their parity references.
  */
object SketchDedupSpec {
  import org.apache.spark.sql.Column

  /** Word 3-shingles straight from a text column. */
  def wordShingles(c: Column, k: Int = 3): Column =
    SketchDedup.shinglesFromTokens(TextMetrics.tokens(c), k)

  /** Distinct word k-shingles, [[graft.plans.WordShinglesK]]'s reference.
    * ⚠ `toks` MUST be a bound attribute (a column produced by a previous
    * select), not an inline expression: an inline tokenizer subtree gets
    * copied into the `slice` lambda and re-evaluated per shingle index —
    * O(n²) per document.
    */
  def shinglesFromTokensHof(toks: Column, k: Int = 3): Column =
    when(size(toks) >= k,
      array_distinct(transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k))))))
      .otherwise(when(size(toks) > 0, array(concat_ws(" ", toks)))
        .otherwise(array().cast("array<string>")))

  /** Shingle identities as 64-bit hashes built from per-token hashes
    * (`tokenHashes` must be a bound attribute, same inlining hazard) —
    * [[SketchDedup.sketchDoc]]'s shingle hashes.
    */
  def shingleHashes(tokenHashes: Column, k: Int = 3): Column =
    when(size(tokenHashes) >= k,
      array_distinct(transform(sequence(lit(0), size(tokenHashes) - k),
        i => xxhash64((1 to k).map(d => element_at(tokenHashes, i + d)): _*))))
      .otherwise(when(size(tokenHashes) > 0,
        array(aggregate(tokenHashes, lit(-1L), (a, h) => xxhash64(a, h))))
        .otherwise(array().cast("array<bigint>")))

  /** MinHash signature over base-hashed shingles, each member of the
    * hash family re-mixing the base hash as xxhash64(j, h) —
    * [[SketchDedup.sketchDoc]]'s signature.
    */
  def minhashSignature(hashes: Column, numHashes: Int = 64): Column =
    transform(sequence(lit(0), lit(numHashes - 1)), j =>
      when(size(hashes) > 0,
        array_min(transform(hashes, h => xxhash64(j, h))))
        .otherwise(lit(Long.MaxValue)))

  /** The [[graft.plans.MinhashMd5]] signature: the same numHashes·|sh|
    * md5 calls, interpreted.
    */
  def minhashMd5SignatureHof(sh: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)), j =>
      array_min(transform(sh, s0 =>
        md5(concat(j.cast("string"), lit(":"), s0)))))

  /** 64-bit SimHash over whitespace tokens (FNV-1a token hashes) —
    * the executable SPEC form of the codegen kernel
    * [[graft.plans.Simhash64]].
    */
  val simhash64 = udf { (s: String) =>
    if (s == null) 0L
    else {
      val toks = s.trim.split("\\s+").filter(_.nonEmpty)
      if (toks.isEmpty) 0L
      else {
        val counts = new Array[Int](64)
        toks.foreach { t =>
          var h = 0xcbf29ce484222325L // FNV-1a 64 offset basis
          var i = 0
          while (i < t.length) {
            h ^= t.charAt(i).toLong
            h *= 0x100000001b3L
            i += 1
          }
          var bit = 0
          while (bit < 64) {
            if (((h >>> bit) & 1L) == 1L) counts(bit) += 1 else counts(bit) -= 1
            bit += 1
          }
        }
        var sig = 0L
        var bit = 0
        while (bit < 64) {
          if (counts(bit) > 0) sig |= (1L << bit)
          bit += 1
        }
        sig
      }
    }
  }
}
