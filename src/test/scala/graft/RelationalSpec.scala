package graft

import org.apache.spark.sql.functions._

import graft.queries.RelationalQueries

/** Round-2 relational surface: subquery decorrelation, CUBE, pivot /
  * unpivot, set ops, window frames, range join, tiles, full outer,
  * generators, sketch aggregates. Value-level checks here; cross-engine
  * value parity is the driver's DuckDB oracle.
  */
class RelationalSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  test("cube emits every grouping-set combination with consistent totals") {
    val rows = RelationalQueries.cubeEvents(spark, sf).collect()
    val byGid = rows.groupBy(_.getAs[Long]("gid"))
    assert(byGid.keySet == Set(0L, 1L, 2L, 3L))
    val grand = byGid(3L).map(_.getAs[Long]("n_events")).sum
    // each grouping set partitions the same underlying rows
    assert(byGid(0L).map(_.getAs[Long]("n_events")).sum == grand)
    assert(byGid(1L).map(_.getAs[Long]("n_events")).sum == grand)
    assert(byGid(2L).map(_.getAs[Long]("n_events")).sum == grand)
  }

  test("pivot row sums equal per-user event counts (unpivot of the pivot)") {
    val p = RelationalQueries.pivotUserEvents(spark, sf)
    val totals = p.select(col("user_id"),
      (col("n_click") + col("n_error") + col("n_purchase") +
        col("n_signup") + col("n_view")).as("n")).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n")).toMap
    val expected = Tables.events(spark, sf).groupBy("user_id").count()
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("count")).toMap
    assert(totals == expected)
  }

  test("unpivot melts 3 metrics per priority with no loss") {
    val long = RelationalQueries.unpivotPriority(spark, sf)
    val n = Tables.orders(spark, sf).select("o_orderpriority").distinct().count()
    assert(long.count() == n * 3)
    assert(long.select("metric").distinct().count() == 3)
  }

  test("except/intersect agree with a manual distinct-key comparison") {
    val ev = Tables.events(spark, sf)
    def slots(t: String) = ev.filter(col("event_type") === t)
      .select(col("user_id"), hour(col("ts")).as("h")).distinct()
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val click = slots("click"); val purchase = slots("purchase")
    val signup = slots("signup"); val error = slots("error")
    val exceptRes = RelationalQueries.exceptClickNoPurchase(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val interRes = RelationalQueries.intersectSignupError(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(exceptRes == (click -- purchase))
    assert(interRes == (signup intersect error))
    assert(exceptRes.nonEmpty && interRes.nonEmpty, "degenerate fixture")
  }

  test("moving-average frame covers at most 3 rows and matches a brute force") {
    val res = RelationalQueries.movingWindow(spark, sf)
      .collect().map(r => r.getAs[Long]("event_id") ->
        (r.getAs[Double]("mov_avg_3"), r.getAs[Double]("hour_sum"))).toMap
    val ev = Tables.events(spark, sf)
      .select("event_id", "user_id", "ts", "value").collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        r.getAs[java.sql.Timestamp]("ts"), r.getAs[Double]("value")))
    def q(d: Double) = math.floor(d * 10000.0).toLong
    ev.groupBy(_._2).foreach { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._3.getTime, r._1))
      sorted.zipWithIndex.foreach { case ((id, _, ts, _), i) =>
        val frame = sorted.slice(math.max(0, i - 2), i + 1)
        val expAvg = frame.map(r => q(r._4)).sum / 10000.0 / frame.size
        val hourFrame = sorted.filter(r =>
          r._3.getTime / 1000 <= ts.getTime / 1000 &&
            r._3.getTime / 1000 >= ts.getTime / 1000 - 3600)
        val expSum = hourFrame.map(r => q(r._4)).sum / 10000.0
        assert(math.abs(res(id)._1 - expAvg) < 1e-9, s"mov_avg_3 for $id")
        assert(math.abs(res(id)._2 - expSum) < 1e-9, s"hour_sum for $id")
      }
    }
  }

  test("range join counts clicks in the trailing hour (brute-force parity)") {
    val res = RelationalQueries.rangeJoinClicks(spark, sf).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("n_clicks_prev_hour")).toMap
    val ev = Tables.events(spark, sf)
      .select("event_id", "user_id", "ts", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[java.sql.Timestamp]("ts").getTime, r.getString(3)))
    val clicks = ev.filter(_._4 == "click")
    val purchases = ev.filter(_._4 == "purchase")
    assert(res.size == purchases.length)
    purchases.foreach { case (id, user, ts, _) =>
      val exp = clicks.count(c => c._2 == user &&
        c._3 >= ts - 3600000L && c._3 <= ts)
      assert(res(id) == exp, s"purchase $id")
    }
    assert(res.values.exists(_ > 0), "degenerate fixture: no clicks matched")
  }

  test("quartiles partition orders evenly with increasing price ranges") {
    val rows = RelationalQueries.orderQuartiles(spark, sf)
      .orderBy("quartile").collect()
    assert(rows.map(_.getAs[Int]("quartile")).toSeq == Seq(1, 2, 3, 4))
    val counts = rows.map(_.getAs[Long]("n_orders"))
    assert(counts.max - counts.min <= 1, "ntile must balance within 1")
    val ranges = rows.map(r =>
      (r.getAs[Double]("min_price"), r.getAs[Double]("max_price")))
    ranges.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 <= b._1, "quartile price ranges must not overlap")
    }
    assert(rows.last.getAs[Double]("max_percent_rank") == 1.0)
  }

  test("full outer join keeps unmatched nations from both sides") {
    val rows = RelationalQueries.fullOuterNation(spark, sf).collect()
    val custOnly = rows.count(r => r.getAs[Long]("n_supp") == 0L)
    assert(custOnly > 0, "expected nations with negative-balance customers only")
    assert(rows.forall(r =>
      r.getAs[Long]("n_cust") > 0L || r.getAs[Long]("n_supp") > 0L))
  }

  test("word freq: top token count equals a manual scan") {
    val top = RelationalQueries.wordFreq(spark, sf).collect()
    assert(top.length == 30)
    val (word, n) = (top.head.getString(0), top.head.getAs[Long]("n"))
    val manual = Tables.documents(spark, sf).select("text").collect()
      .flatMap(r => Option(r.getString(0)).toSeq)
      .flatMap(_.trim.split("\\s+")).count(_ == word)
    assert(n == manual)
    assert(top.map(_.getAs[Long]("n")).toSeq.sliding(2).forall {
      case Seq(a, b) => a >= b; case _ => true })
  }

  test("small-qty revenue matches a brute-force per-part computation") {
    val res = RelationalQueries.smallQtyRevenue(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getAs[Double]("avg_yearly"),
        r.getAs[Long]("n_small"))).toMap
    val li = Tables.lineitem(spark, sf)
      .select("l_partkey", "l_quantity", "l_extendedprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val brand = Tables.part(spark, sf).select("p_partkey", "p_brand").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val avgQ = li.groupBy(_._1).map { case (k, rs) =>
      k -> (rs.map(r => math.floor(r._2 * 10000.0).toLong).sum / 10000.0 / rs.size)
    }
    val small = li.filter(r => r._2 < 0.2 * avgQ(r._1))
    val exp = small.groupBy(r => brand(r._1)).map { case (b, rs) =>
      b -> (rs.map(r => math.floor(r._3 * 10000.0).toLong).sum / 10000.0 / 7.0, rs.size.toLong)
    }
    assert(res.keySet == exp.keySet)
    exp.foreach { case (b, (rev, n)) =>
      assert(res(b)._2 == n, s"count for $b")
      assert(math.abs(res(b)._1 - rev) < 1e-6, s"revenue for $b")
    }
  }

  test("typed Aggregator stats match a driver-side computation") {
    val res = RelationalQueries.typedStats(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n"), r.getAs[Double]("mean_value"), r.getAs[Double]("var_value"))).toMap
    val vals = Tables.events(spark, sf).select("event_type", "value").collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    vals.groupBy(_._1).foreach { case (t, rows) =>
      val qs = rows.map(r => math.floor(r._2 * 100.0).toLong)
      val n = qs.length
      val mean = qs.sum / 100.0 / n
      val meanSq = qs.map(q => q * q).sum / 10000.0 / n
      val (gn, gm, gv) = res(t)
      assert(gn == n)
      assert(math.abs(gm - mean) < 1e-12, s"mean for $t")
      assert(math.abs(gv - (meanSq - mean * mean)) < 1e-9, s"var for $t")
      assert(gv >= 0.0)
    }
  }

  test("mixture allocation caps fractions at 1 and covers every stratum") {
    val rows = RelationalQueries.mixtureAlloc(spark, sf).collect()
    val strata = Tables.documents(spark, sf)
      .select("lang", "source").distinct().count()
    assert(rows.length == strata)
    rows.foreach { r =>
      val f = r.getAs[Double]("alloc_fraction")
      assert(f > 0.0 && f <= 1.0, r.toString)
      assert(r.getAs[Long]("target_docs") <= r.getAs[Long]("n_docs"))
    }
  }

  test("SQL-text surface produces the same plan result as the DataFrame form") {
    val viaSql = RelationalQueries.sqlSurface(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val viaDf = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("o_totalprice") * 10000.0).cast("long")) / 10000.0).as("t"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaSql == viaDf)
    assert(viaSql.nonEmpty)
  }

  test("approx sketches land near exact answers") {
    val res = RelationalQueries.approxDistinct(spark, sf).collect()
    val exact = Tables.events(spark, sf).groupBy("event_type")
      .agg(countDistinct("user_id").as("u"),
        expr("percentile(value, 0.5)").as("m")).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("u"), r.getAs[Double]("m"))).toMap
    res.foreach { r =>
      val t = r.getString(0)
      val (eu, em) = exact(t)
      assert(math.abs(r.getAs[Long]("approx_users") - eu) <= math.max(2, eu / 10),
        s"HLL estimate off for $t")
      assert(math.abs(r.getAs[Double]("approx_median_value") - em) <=
        math.max(1.0, math.abs(em) * 0.1), s"approx median off for $t")
    }
  }

  test("multi-column describe equals per-column describe, in one pass") {
    val docs = Tables.documents(spark, sf)
      .withColumn("token_count",
        size(graft.text.TextMetrics.tokens(col("text"))).cast("long"))
    val multi = graft.ops.Report.describeCols(docs, Seq("n_chars", "token_count"))
      .collect().map(r => r.getString(0) -> r).toMap
    Seq("n_chars", "token_count").foreach { c =>
      val single = graft.ops.Report.describeCol(docs, c).collect()(0)
      val m = multi(c)
      assert(m.getAs[Long]("n") === single.getAs[Long]("n"))
      assert(m.getAs[Double]("min") === single.getAs[Long]("min").toDouble)
      assert(m.getAs[Double]("max") === single.getAs[Long]("max").toDouble)
      Seq("mean", "std", "p25", "median", "p75").foreach { f =>
        assert(m.getAs[Double](f) === single.getAs[Double](f), s"$c.$f")
      }
    }
    // single aggregation pass: exactly one scan in the plan
    val p = graft.ops.Report.describeCols(docs, Seq("n_chars", "token_count"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size === 1, p)
  }

  test("approx describe tracks exact describe (bounded-state scale path)") {
    val docs = Tables.documents(spark, sf)
    val exact = graft.ops.Report.describeCol(docs, "n_chars").collect()(0)
    val approx = RelationalSpec.describeColApprox(docs, "n_chars").collect()(0)
    // identical moments (same plain aggregates)...
    assert(approx.getAs[Long]("n") === exact.getAs[Long]("n"))
    assert(approx.getAs[Long]("min") === exact.getAs[Long]("min"))
    assert(approx.getAs[Long]("max") === exact.getAs[Long]("max"))
    assert(math.abs(approx.getAs[Double]("mean") - exact.getAs[Double]("mean")) < 1e-9)
    assert(math.abs(approx.getAs[Double]("std") - exact.getAs[Double]("std")) < 1e-6)
    // ...and sketched quantiles within 2% of exact at default accuracy
    Seq("p25", "median", "p75").foreach { q =>
      val e = exact.getAs[Double](q)
      val a = approx.getAs[Long](q).toDouble // approx returns the col's type
      assert(math.abs(a - e) <= math.max(1.0, e * 0.02), s"$q: approx $a vs exact $e")
    }
  }

  test("session_window merges the exact-gap event (inclusive boundary)") {
    // pins the semantics q_session_window's oracle mirrors: an event
    // exactly gapDuration after the session's last event MERGES, so the
    // oracle's island break is strict `>` — `>=` would split here and
    // diverge from the native operator
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2026-01-01 10:00:00"), 1.0),
      (1L, java.sql.Timestamp.valueOf("2026-01-01 10:30:00"), 2.0), // == gap
      (1L, java.sql.Timestamp.valueOf("2026-01-01 11:00:01"), 3.0)) // > gap
      .toDF("user_id", "ts", "value")
    val n = df.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n")).collect().map(_.getAs[Long]("n"))
    assert(n.sorted.toSeq === Seq(1L, 2L), n.toSeq.toString)
  }

  test("hll shard sketches: accurate estimates, union == global sketch") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf)
    val res = RelationalQueries.hllShards(spark, sf).collect()
      .map(r => r.getAs[String]("group") ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("n_distinct_est")))).toMap
    val exact = docs.groupBy("source").agg(countDistinct("doc_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (src, e) =>
      val (_, est) = res(src)
      assert(math.abs(est - e) <= math.max(2.0, e * 0.05),
        s"$src: sketch $est vs exact $e")
    }
    // Mergeability — THE property motivating sketch columns over
    // approx_count_distinct: per-shard sketches union to a corpus
    // estimate without rescanning any shard. The union is NOT
    // bit-identical to one global sketch (the union gadget promotes
    // exact list-mode sketches to estimating HLL mode — observed
    // 492 vs 500 at lgK=12), so the pin is the accuracy contract, not
    // identity: within HLL relative error (~1.6% at lgK=12; 5% margin).
    val exactAll = docs.select(countDistinct("doc_id")).collect().head.getLong(0)
    val unionEst = res("__all__")._2
    assert(math.abs(unionEst - exactAll) <= exactAll * 0.05,
      s"union estimate $unionEst vs exact $exactAll")
    assert(res("__all__")._1 === docs.count())
    spark.catalog.clearCache()
  }

  // The events table's physical `ts` type has varied across driver
  // testdata generations (epoch-nanos int64 via the nanosAsLong legacy
  // conf; TIMESTAMP(MICROS) without the UTC flag, read as NTZ). The
  // loader contract is: whatever the physical shape, downstream queries
  // see one session-TZ TimestampType column with identical instants.
  test("events loader normalizes every historical ts physical shape") {
    import org.apache.spark.sql.types._
    val micros = Seq(0L, 1_000_000L, 1_755_000_000_123_456L)
    val microsArr = array(micros.map(m =>
      org.apache.spark.sql.functions.lit(m)): _*)
    def roundTrip(tsExpr: org.apache.spark.sql.Column): Seq[Long] = {
      val dir = java.nio.file.Files.createTempDirectory("evts").toString
      spark.range(micros.length)
        .selectExpr("id AS event_id", "CAST(id AS INT) AS __i",
          "id AS user_id", "'click' AS event_type", "0.0 AS value",
          "'' AS props")
        .withColumn("ts", tsExpr).drop("__i")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val loaded = Tables.events(spark, dir)
      assert(loaded.schema("ts").dataType === TimestampType,
        s"loader must emit TimestampType, got ${loaded.schema("ts").dataType}")
      loaded.select(unix_micros(col("ts"))).collect()
        .map(_.getLong(0)).sorted.toSeq
    }
    val us = element_at(microsArr, col("__i") + 1)
    // epoch-nanos int64 (legacy generations, read via nanosAsLong);
    // TIMESTAMP_NTZ (current generation: MICROS without the UTC flag);
    // plain TimestampType (already-normalized parquet)
    assert(roundTrip(us * 1000L) === micros.sorted)
    assert(roundTrip(timestamp_micros(us).cast(TimestampNTZType)) === micros.sorted)
    assert(roundTrip(timestamp_micros(us)) === micros.sorted)
  }
}

object RelationalSpec {
  import org.apache.spark.sql.DataFrame

  /** The bounded-state form of [[graft.ops.Report.describeCol]]: exact
    * `percentile` buffers every value in the aggregation state, while
    * approx_percentile's sketch keeps bounded state at a chosen
    * accuracy. Sketch internals are engine-defined, so this form is
    * checked against the exact describe, not oracle-hashed.
    */
  def describeColApprox(df: DataFrame, c: String, accuracy: Int = 10000): DataFrame =
    df.agg(
        count(col(c)).as("n"),
        min(col(c)).as("min"),
        max(col(c)).as("max"),
        avg(col(c)).as("mean"),
        stddev_samp(col(c)).as("std"),
        expr(s"approx_percentile($c, array(0.25, 0.5, 0.75), $accuracy)").as("_q"))
      .select(col("n"), col("min"), col("max"), col("mean"), col("std"),
        col("_q").getItem(0).as("p25"), col("_q").getItem(1).as("median"),
        col("_q").getItem(2).as("p75"))
}
