package graft

import org.apache.spark.sql.functions._

import graft.ops.{Domains, Pack}

/** Sequence packing + domain caps: layout correctness, partition
  * independence, determinism.
  */
class PackSpec extends SparkTestBase {

  test("running total equals a single-threaded scan, regardless of partitioning") {
    import spark.implicits._
    val rows = (1L to 997L).map(i => (i, (i * 7919) % 431)) // ragged sizes
    val df = rows.toDF("id", "n").repartition(13) // scrambled input order
    val got = Pack.withRunningTotal(df, "id", "n")
      .select("id", "start_offset").as[(Long, Long)].collect().toMap
    var run = 0L
    rows.sortBy(_._1).foreach { case (id, n) =>
      assert(got(id) === run, s"offset for id=$id")
      run += n
    }
  }

  test("ordered running total follows (score DESC, id) across partition layouts") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // scores engineered with heavy ties so the id tie-break is load-bearing
    val rows = (1L to 500L).map(i => (i, (i % 7).toDouble / 7.0, (i * 13) % 97))
    val expect = {
      var run = 0L
      rows.sortBy { case (id, s, _) => (-s, id) }.map { case (id, _, n) =>
        val r = (id, run); run += n; r
      }.toMap
    }
    Seq(1, 4, 17).foreach { parts =>
      val df = rows.toDF("id", "score", "n").repartition(parts)
      val got = Pack.withRunningTotalOrdered(df,
          Seq(col("score").desc, col("id").asc), "n", "cum")
        .select("id", "cum").as[(Long, Long)].collect().toMap
      assert(got === expect, s"parts=$parts")
    }
  }

  test("budget select keeps exactly the maximal quality-first prefix") {
    import spark.implicits._
    val rows = Seq( // (id, score, tokens)
      (1L, 0.9, 40L), (2L, 0.9, 30L), (3L, 0.8, 50L),
      (4L, 0.7, 10L), (5L, 0.6, 100L))
    val df = rows.toDF("id", "score", "tokens").repartition(3)
    val got = graft.ops.Sampling.budgetSelect(df, "id", "score", "tokens", 100L)
      .select("id", "cum_before", "kept")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    // order: 1 (40), 2 (70), 3 (120 > 100 -> cut), 4, 5 all out (prefix
    // semantics: id=4's 10 tokens WOULD fit but the line is crossed)
    assert(got(1L) === ((0L, true)))
    assert(got(2L) === ((40L, true)))
    assert(got(3L) === ((70L, false)))
    assert(got(4L) === ((120L, false)))
    assert(got(5L) === ((130L, false)))
  }

  test("hybrid grouped total: window path for ordinary groups, two-pass for a planted mega-group, identical results") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 6 ordinary hosts x ~10 rows + one 300-row mega host, ragged values
    val rows = (1L to 360L).map { i =>
      val host = if (i <= 300) "mega.example.org" else s"h${i % 6}.example.org"
      (i, host, (i * 7) % 5 + 1)
    }
    val df = rows.toDF("id", "host", "n").repartition(11)
    val expect: Map[Long, Long] = rows.groupBy(_._2).values.flatMap { grp =>
      var run = 0L
      grp.sortBy(_._1).map { case (id, _, n) => val r = id -> run; run += n; r }
    }.toMap
    // no-skew regime: the plan is the plain partitioned window — no
    // two-pass RDD materialization anywhere
    val win = Pack.withRunningTotalPerGroupHybrid(
      df, "host", Seq(col("id")), "n", "off", skewThreshold = 1000L)
    val winPlan = win.queryExecution.executedPlan.toString
    assert(winPlan.contains("Window"), winPlan)
    assert(!winPlan.contains("Scan ExistingRDD"), winPlan)
    // skew regime: mega host routed to the two-pass path (RDD scan in
    // plan), ordinary hosts keep the window; union of both present
    val hyb = Pack.withRunningTotalPerGroupHybrid(
      df, "host", Seq(col("id")), "n", "off", skewThreshold = 50L)
    val hybPlan = hyb.queryExecution.executedPlan.toString
    assert(hybPlan.contains("Window"), hybPlan)
    assert(hybPlan.contains("Scan ExistingRDD"), hybPlan)
    def got(d: org.apache.spark.sql.DataFrame) =
      d.select("id", "off").as[(Long, Long)].collect().toMap
    assert(got(win) === expect)
    assert(got(hyb) === expect)
    // both regimes agree with the plain two-pass form
    assert(got(Pack.withRunningTotalPerGroup(
      df, "host", Seq(col("id")), "n", "off")) === expect)
    // semi-join dispatch regime: inListMax forced below the detected
    // key count, so routing goes through broadcast anti/semi joins
    // against the distributed key set instead of an IN-list literal —
    // the shape the helper takes past ~1k mega-keys, where a literal
    // list would compile 50k+ constants into the plan
    val joined = Pack.withRunningTotalPerGroupHybrid(
      df, "host", Seq(col("id")), "n", "off",
      skewThreshold = 50L, inListMax = 0)
    val joinedPlan = joined.queryExecution.executedPlan.toString
    assert(joinedPlan.contains("BroadcastHashJoin"), joinedPlan)
    assert(!joinedPlan.contains("isInCollection") &&
      !joinedPlan.contains("INSET"), joinedPlan)
    assert(got(joined) === expect)
    spark.catalog.clearCache()
  }

  test("hybrid grouped total: null group keys ride the window path in both dispatch shapes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // null-host rows must never be routed to the two-pass path (engine
    // convention: callers fold null -> '' first, but the helper still
    // has to keep them, once each, whichever dispatch shape fires)
    val rows = (1L to 80L).map { i =>
      val host: String = if (i <= 60) "mega.example.org"
      else if (i % 2 == 0) null else "small.example.org"
      (i, host, 2L)
    }
    val df = rows.toDF("id", "host", "n").repartition(5)
    val expect: Map[Long, Long] = rows.groupBy(_._2).values.flatMap { grp =>
      var run = 0L
      grp.sortBy(_._1).map { case (id, _, n) => val r = id -> run; run += n; r }
    }.toMap
    Seq(1000, 0).foreach { max =>
      val out = Pack.withRunningTotalPerGroupHybrid(
        df, "host", Seq(col("id")), "n", "off",
        skewThreshold = 30L, inListMax = max)
        .select("id", "off").as[(Long, Long)].collect().toMap
      assert(out === expect, s"inListMax=$max")
    }
    spark.catalog.clearCache()
  }

  test("the hybrid tests leave no persistent RDD behind") {
    // each test body runs in its own Persisted.owned scope, which
    // releases the two-pass path's sorted rows once the test ends
    val left = spark.sparkContext.getPersistentRDDs.values
      .filter(_.toString.contains("Pack.scala"))
    assert(left.isEmpty, left.mkString(", "))
  }

  test("pack layout: boundaries, straddles, zero-token docs") {
    import spark.implicits._
    // capacity 10: doc layouts chosen to pin every edge case
    val df = Seq(
      (1L, 4L),  // [0,4)    pack 0
      (2L, 6L),  // [4,10)   pack 0 — ends EXACTLY at the boundary, no straddle
      (3L, 0L),  // offset 10, zero tokens: wholly in pack 1
      (4L, 15L), // [10,25)  packs 1..2 — straddles
      (5L, 1L)   // [25,26)  pack 2
    ).toDF("doc_id", "n_toks")
    val got = Pack.packTokens(df, "doc_id", "n_toks", capacity = 10L)
      .select("doc_id", "start_offset", "pack_first", "pack_last", "spans_packs")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
      .toMap
    assert(got(1L) === ((0L, 0L, 0L, false)))
    assert(got(2L) === ((4L, 0L, 0L, false)))
    assert(got(3L) === ((10L, 1L, 1L, false)))
    assert(got(4L) === ((10L, 1L, 2L, true)))
    assert(got(5L) === ((25L, 2L, 2L, false)))
  }

  test("domain cap keeps the cap smallest ids per domain, partition-independent") {
    import spark.implicits._
    val df = (1L to 90L).map { i =>
      (i, s"https://user@host${i % 3}.Example.COM:8443/path?q=$i#frag")
    }.toDF("doc_id", "url")
    val flagged = Domains.capPerDomain(df.repartition(7), "url", "doc_id", cap = 5)
    val kept = flagged.filter(col("kept"))
      .select("domain", "doc_id", "domain_rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // port/userinfo/path stripped, lowercased
    assert(kept.map(_._1).toSet === Set("host0.example.com", "host1.example.com", "host2.example.com"))
    // per domain: exactly the 5 smallest ids, ranked 1..5 in id order
    kept.groupBy(_._1).foreach { case (dom, rows) =>
      val expected = (1L to 90L).filter(i => s"host${i % 3}.example.com" == dom).take(5)
      assert(rows.sortBy(_._3).map(_._2).toSeq === expected, dom)
      assert(rows.map(_._3).sorted.toSeq === (1L to 5L), dom)
    }
    // dropped rows carry a null rank and the domain
    val dropped = flagged.filter(!col("kept"))
    assert(dropped.count() === 90 - 15)
    assert(dropped.filter(col("domain_rank").isNotNull).count() === 0)
  }

  test("bloom-prefiltered decontamination is bit-identical to the broadcast-exact form") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val exact = graft.ops.Decontaminate
      .overlapReport(corpus, bench, "doc_id", "text", n = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // tiny fpp stress: a 50% false-positive bloom must STILL be exact,
    // because the verify join removes every false positive
    val viaBloom = graft.ops.Decontaminate
      .bloomOverlapReport(corpus, bench, "doc_id", "text", n = 4, fpp = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(viaBloom === exact)
    assert(exact.exists(_._3), "fixture should contain at least one contaminated doc")
  }
}
