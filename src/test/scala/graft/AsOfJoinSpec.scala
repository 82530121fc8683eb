package graft

import java.sql.Timestamp

import graft.ops.AsOfJoin

/** Backward as-of join semantics on a hand-computable fixture. */
class AsOfJoinSpec extends SparkTestBase {

  private def ts(m: Int) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")

  test("attaches latest right row at-or-before; null when none; per key") {
    import spark.implicits._
    val left = Seq(
      (1L, 7L, ts(10)),  // after clicks at 5 and 9 -> pick 9
      (2L, 7L, ts(5)),   // exactly at click 5 -> inclusive, pick 5
      (3L, 7L, ts(1)),   // before any click -> null
      (4L, 8L, ts(30))   // other user, no clicks at all -> null
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (7L, ts(5), 100.0),
      (7L, ts(9), 200.0),
      (9L, ts(1), 999.0)  // different key, never visible
    ).toDF("user_id", "ts", "click_value")

    val got = AsOfJoin.asofBackward(left, right, "user_id", "ts", Seq("click_value"))
      .select("event_id", "click_value").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(got === Map(
      1L -> Some(200.0), 2L -> Some(100.0), 3L -> None, 4L -> None))
  }

  test("matches a brute-force reference on pseudo-random data") {
    import spark.implicits._
    // deterministic pseudo-random fixture (seeded)
    val rnd = new scala.util.Random(42)
    val left = (1 to 120).map(i =>
      (i.toLong, (rnd.nextInt(5) + 1).toLong, ts(rnd.nextInt(60))))
    val right = (1 to 80).map(i =>
      ((rnd.nextInt(5) + 1).toLong, ts(rnd.nextInt(60)), rnd.nextInt(1000).toDouble))
    val got = AsOfJoin.asofBackward(
      left.toDF("event_id", "user_id", "ts"),
      right.toDF("user_id", "ts", "pay"),
      "user_id", "ts", Seq("pay"))
      .select("event_id", "pay").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    // brute force: latest right at-or-before, ties -> any of the tied
    // rows is acceptable (engine picks one deterministically per run)
    val want = left.map { case (id, u, t) =>
      val priors = right.filter(r => r._1 == u && !r._2.after(t))
      id -> (if (priors.isEmpty) Set.empty[Double]
             else {
               val mx = priors.map(_._2.getTime).max
               priors.filter(_._2.getTime == mx).map(_._3).toSet
             })
    }.toMap
    left.foreach { case (id, _, _) =>
      (got(id), want(id)) match {
        case (None, w) => assert(w.isEmpty, s"event $id: expected a match from $w")
        case (Some(v), w) => assert(w.contains(v), s"event $id: $v not in $w")
      }
    }
  }

  test("native exec: fixture semantics match the composed form") {
    import spark.implicits._
    val left = Seq(
      (1L, 7L, ts(10)), (2L, 7L, ts(5)), (3L, 7L, ts(1)), (4L, 8L, ts(30))
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (7L, ts(5), 100.0), (7L, ts(9), 200.0), (9L, ts(1), 999.0)
    ).toDF("user_id", "ts", "click_value")
    val got = AsOfJoin.asofBackwardNative(left, right, "user_id", "ts", Seq("click_value"))
      .select("event_id", "click_value").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(got === Map(
      1L -> Some(200.0), 2L -> Some(100.0), 3L -> None, 4L -> None))
  }

  test("native exec: null keys/times never match and never block other rows") {
    import spark.implicits._
    val left = Seq(
      (1L, Some(7L), Some(ts(10))),
      (2L, None, Some(ts(10))),     // null key -> null payload
      (3L, Some(7L), None),         // null time -> null payload
      (4L, Some(7L), Some(ts(20)))
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (Some(7L), Some(ts(5)), 100.0),
      (None, Some(ts(1)), 666.0),   // null right key: invisible
      (Some(7L), None, 777.0),      // null right time: invisible
      (Some(7L), Some(ts(15)), 200.0)
    ).toDF("user_id", "ts", "click_value")
    val got = AsOfJoin.asofBackwardNative(left, right, "user_id", "ts", Seq("click_value"))
      .select("event_id", "click_value").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(got === Map(
      1L -> Some(100.0), 2L -> None, 3L -> None, 4L -> Some(200.0)))
  }

  test("native exec: equals composed on pseudo-random data across partitionings") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // tie-free right side per (user, ts) so both forms are deterministic
    val left = (1 to 200).map(i =>
      (i.toLong, (rnd.nextInt(6) + 1).toLong, ts(rnd.nextInt(60))))
    // right starts at minute 5, so left rows before :05 have no match
    val right = rnd.shuffle((1 to 6).flatMap(u => (5 until 60 by 3).map(m =>
      (u.toLong, ts(m), (u * 1000 + m).toDouble))))
    val l = left.toDF("event_id", "user_id", "ts").repartition(7)
    val r = right.toDF("user_id", "ts", "pay").repartition(3)
    def collectMap(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "pay").collect()
        .map(x => x.getLong(0) -> (if (x.isNullAt(1)) None else Some(x.getDouble(1))))
        .toMap
    val composed = collectMap(AsOfJoin.asofBackward(l, r, "user_id", "ts", Seq("pay")))
    val native = collectMap(AsOfJoin.asofBackwardNative(l, r, "user_id", "ts", Seq("pay")))
    assert(native === composed)
    assert(native.values.exists(_.nonEmpty) && native.values.exists(_.isEmpty))
  }

  test("native exec plans as AsofJoin with one exchange per side, no window") {
    import spark.implicits._
    val l = Seq((1L, 7L, ts(10))).toDF("event_id", "user_id", "ts")
    val r = Seq((7L, ts(5), 1.0)).toDF("user_id", "ts", "pay")
    val df = AsOfJoin.asofBackwardNative(l, r, "user_id", "ts", Seq("pay"))
    df.collect() // materialize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsofJoin"), s"native operator missing:\n$p")
    assert(!p.contains("Window"), s"window resurfaced:\n$p")
  }

  test("native exec adds only its planner strategy to the session") {
    val s = spark.newSession()
    import s.implicits._
    val l = Seq((1L, 7L, ts(10)), (2L, 7L, ts(1)), (3L, 8L, ts(30)))
      .toDF("event_id", "user_id", "ts")
    val r = Seq((7L, ts(5), 1.0), (7L, ts(9), 2.0)).toDF("user_id", "ts", "pay")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "pay").collect().map(_.toSeq).toSet
    val native = AsOfJoin.asofBackwardNative(l, r, "user_id", "ts", Seq("pay"))
    assert(rows(native) === rows(AsOfJoin.asofBackward(l, r, "user_id", "ts", Seq("pay"))))
    assert(native.queryExecution.executedPlan.toString.contains("AsofJoin"))
    AsOfJoin.asofBackwardNative(l, r, "user_id", "ts", Seq("pay"))
    assert(s.experimental.extraStrategies === Seq(graft.plans.AsofJoinStrategy))
    assert(!s.experimental.extraOptimizations.contains(graft.plans.CollapseNfkc))
    val e = intercept[org.apache.spark.sql.AnalysisException](s.sql("SELECT nfkc('x')"))
    assert(e.getMessage.contains("UNRESOLVED_ROUTINE"), e.getMessage)
  }

  test("rejects colliding payload column names") {
    import spark.implicits._
    val l = Seq((1L, 1L, ts(0), 5.0)).toDF("event_id", "user_id", "ts", "v")
    val r = Seq((1L, ts(0), 1.0)).toDF("user_id", "ts", "v")
    assertThrows[IllegalArgumentException] {
      AsOfJoin.asofBackward(l, r, "user_id", "ts", Seq("v"))
    }
  }
}
