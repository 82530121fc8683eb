package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Generic relational query surface over the TPC-H-ish tables
  * (SURVEY.md §7 step 7 — north-star capability beyond reference parity).
  *
  * Numeric-parity design for the DuckDB oracle: double SUMs are
  * aggregated as DECIMAL(18,4) (exact, order-independent — a double sum
  * would differ in the low bits between engines because Spark reduces in
  * shuffle order), then cast back to double and rounded. Averages are
  * exact-decimal-sum / count. Per-row double arithmetic keeps identical
  * operation order on both sides, so values match bit-for-bit.
  */
object TpchQueries {

  /** sum(double) made deterministic AND engine-portable: quantize each
    * row to 1e-4 with floor (floor of identical doubles is identical —
    * unlike double->decimal casts, whose rounding is engine-specific),
    * sum exactly as BIGINT, divide back once. Same value bit-for-bit in
    * Spark and DuckDB regardless of partitioning / accumulation order.
    */
  private def decSum(c: Column): Column =
    sum(floor(c * lit(10000.0)).cast("long")) / lit(10000.0)

  private def decAvg(c: Column): Column =
    sum(floor(c * lit(10000.0)).cast("long")) / lit(10000.0) / count(lit(1))

  private val DecSumSql = (x: String) =>
    s"sum(CAST(floor(($x) * 10000.0) AS BIGINT)) / 10000.0"
  private val DecAvgSql = (x: String) =>
    s"sum(CAST(floor(($x) * 10000.0) AS BIGINT)) / 10000.0 / count(*)"

  /** q1: TPC-H Q1-style pricing summary. Partial (map-side) aggregation
    * + single shuffle on the two low-cardinality group keys; scan prunes
    * to the 7 referenced columns with the shipdate filter pushed down.
    */
  def pricingSummary(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        decSum(col("l_quantity")).as("sum_qty"),
        decSum(col("l_extendedprice")).as("sum_base_price"),
        decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        decAvg(col("l_quantity")).as("avg_qty"),
        decAvg(col("l_extendedprice")).as("avg_price"),
        decAvg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))

  val pricingSummarySql: String =
    s"""SELECT l_returnflag, l_linestatus,
       | ${DecSumSql("l_quantity")} AS sum_qty,
       | ${DecSumSql("l_extendedprice")} AS sum_base_price,
       | ${DecSumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
       | ${DecSumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
       | ${DecAvgSql("l_quantity")} AS avg_qty,
       | ${DecAvgSql("l_extendedprice")} AS avg_price,
       | ${DecAvgSql("l_discount")} AS avg_disc,
       | count(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** q6: TPC-H Q6-style forecast revenue — pure pushed-down filter + agg. */
  def revenueFilter(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24 &&
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .agg(decSum(col("l_extendedprice") * col("l_discount")).as("revenue"),
        count(lit(1)).as("n_rows"))

  val revenueFilterSql: String =
    s"""SELECT ${DecSumSql("l_extendedprice * l_discount")} AS revenue,
       | count(*) AS n_rows
       |FROM lineitem
       |WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
       |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'""".stripMargin

  /** q3: revenue per customer nation — a 4-table join tree. nation and
    * region are tiny dims: broadcast explicitly so the big fact tables
    * never shuffle for them (only the orders⋈customer equi-join shuffles).
    */
  def revenueByNation(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val ord = Tables.orders(s, dir)
    val cust = Tables.customer(s, dir)
    val nat = Tables.nation(s, dir)
    val reg = Tables.region(s, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region_name"), col("n_name").as("nation_name"))
      .agg(
        decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_lineitems"))
  }

  // ---- q2/q11/q16/q20: the remaining TPC-H shapes (adapted: no partsupp
  // table in the fixture, so "supply cost" derives from lineitem history
  // and the Q16/Q20 supplier screens use the columns that exist) -------

  /** Q2 shape: per-part argmin supplier. Unit cost = exact integer sums
    * (price ticks / quantity ticks) divided once — identical IEEE double
    * in any engine; argmin via min(struct(cost, suppkey)), never a
    * per-part window. Dims (EU suppliers, SMALL parts) broadcast.
    */
  def minCostSupplier(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE")
      .select("s_suppkey", "s_name")
    val smallParts = Tables.part(s, dir).filter(col("p_type") === "SMALL")
      .select("p_partkey", "p_name")
    val cost = Tables.lineitem(s, dir)
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(floor(col("l_extendedprice") * 10000.0).cast("long")).as("pq"),
        sum(floor(col("l_quantity") * 10000.0).cast("long")).as("qq"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"))
      .withColumn("unit_cost", col("pq").cast("double") / col("qq").cast("double"))
    cost.groupBy("p_partkey")
      .agg(min(struct(col("unit_cost"), col("l_suppkey"))).as("b"),
        first("p_name").as("p_name"))
      .select(col("p_partkey"), col("p_name"),
        col("b.l_suppkey").as("s_suppkey"), col("b.unit_cost").as("unit_cost"))
      .join(broadcast(sup), Seq("s_suppkey"))
      .select("p_partkey", "p_name", "s_name", "unit_cost")
  }

  val minCostSupplierSql: String =
    """WITH sup AS (
      |  SELECT s_suppkey, s_name FROM supplier s
      |  JOIN nation n ON s.s_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey
      |  WHERE r.r_name = 'EUROPE'),
      |c AS (SELECT l_partkey, l_suppkey,
      |    sum(CAST(floor(l_extendedprice * 10000.0) AS BIGINT)) AS pq,
      |    sum(CAST(floor(l_quantity * 10000.0) AS BIGINT)) AS qq
      |  FROM lineitem GROUP BY 1, 2),
      |e AS (SELECT c.l_partkey, c.l_suppkey, sup.s_name,
      |    CAST(pq AS DOUBLE) / CAST(qq AS DOUBLE) AS unit_cost
      |  FROM c JOIN sup ON sup.s_suppkey = c.l_suppkey
      |  JOIN part p ON p.p_partkey = c.l_partkey AND p.p_type = 'SMALL'),
      |r AS (SELECT e.*, p.p_name,
      |    row_number() OVER (PARTITION BY e.l_partkey
      |      ORDER BY unit_cost, l_suppkey) AS rn
      |  FROM e JOIN part p ON p.p_partkey = e.l_partkey)
      |SELECT l_partkey AS p_partkey, p_name, s_name, unit_cost
      |FROM r WHERE rn = 1""".stripMargin

  /** Q11 shape: groups kept only when their aggregate clears a fraction
    * of the global aggregate — the scalar-subquery HAVING. Integer tick
    * sums both levels; the 0.001 threshold compares in doubles the same
    * way in both engines.
    */
  def importantParts(s: SparkSession, dir: String): DataFrame = {
    val natSup = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === "NATION_7")
      .select("s_suppkey")
    val byPart = Tables.lineitem(s, dir)
      .join(broadcast(natSup), col("l_suppkey") === col("s_suppkey"))
      .groupBy("l_partkey")
      .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * 10000.0).cast("long")).as("vq"))
    val total = byPart.agg(sum("vq").as("tq"))
    byPart.crossJoin(broadcast(total))
      .filter(col("vq").cast("double") > col("tq").cast("double") * 0.001)
      .select(col("l_partkey").as("p_partkey"),
        (col("vq") / 10000.0).as("part_value"))
  }

  val importantPartsSql: String =
    """WITH ns AS (
      |  SELECT s_suppkey FROM supplier s
      |  JOIN nation n ON s.s_nationkey = n.n_nationkey
      |  WHERE n.n_name = 'NATION_7'),
      |bp AS (SELECT l_partkey,
      |    sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0) AS BIGINT)) AS vq
      |  FROM lineitem JOIN ns ON ns.s_suppkey = lineitem.l_suppkey
      |  GROUP BY 1),
      |t AS (SELECT sum(vq) AS tq FROM bp)
      |SELECT l_partkey AS p_partkey, vq / 10000.0 AS part_value
      |FROM bp CROSS JOIN t
      |WHERE CAST(vq AS DOUBLE) > CAST(tq AS DOUBLE) * 0.001""".stripMargin

  /** Q16 shape: distinct-count per group behind an anti-join supplier
    * screen (no s_comment in the fixture → negative balance is the
    * excluded-supplier set).
    */
  def supplierVariety(s: SparkSession, dir: String): DataFrame = {
    val bad = Tables.supplier(s, dir).filter(col("s_acctbal") < 0)
      .select(col("s_suppkey").as("bad_suppkey"))
    Tables.lineitem(s, dir)
      .join(broadcast(bad), col("l_suppkey") === col("bad_suppkey"), "left_anti")
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  val supplierVarietySql: String =
    """SELECT p_brand, p_type,
      |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM lineitem l
      |JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY 1, 2""".stripMargin

  /** Q20 shape: nested semi-join chain — suppliers who shipped, for some
    * part, more than half that part's total 1996 quantity (the year's
    * dominant source of the part). The half test is pure integer
    * arithmetic (2·q96 > total ticks): no float enters the predicate,
    * and the per-part total re-aggregates the already-reduced
    * (part, supplier) table — no second pass over lineitem.
    */
  def halfStockShippers(s: SparkSession, dir: String): DataFrame = {
    val q96 = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(floor(col("l_quantity") * 10000.0).cast("long")).as("q96"))
    val tot = q96.groupBy(col("l_partkey"))
      .agg(sum(col("q96")).as("qtot"))
    val dominant = q96.join(tot, Seq("l_partkey"))
      .filter(col("q96") * 2 > col("qtot"))
      .select("l_suppkey").distinct()
    Tables.supplier(s, dir)
      .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "n_name")
  }

  val halfStockShippersSql: String =
    """WITH q96 AS (SELECT l_partkey, l_suppkey,
      |    sum(CAST(floor(l_quantity * 10000.0) AS BIGINT)) AS q96
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1997-01-01'
      |  GROUP BY 1, 2),
      |tot AS (SELECT l_partkey, sum(q96) AS qtot FROM q96 GROUP BY 1),
      |dom AS (SELECT DISTINCT l_suppkey FROM q96
      |  JOIN tot USING (l_partkey) WHERE q96 * 2 > qtot)
      |SELECT s_suppkey, s_name, n_name
      |FROM supplier s
      |JOIN nation n ON n.n_nationkey = s.s_nationkey
      |WHERE s.s_suppkey IN (SELECT l_suppkey FROM dom)""".stripMargin

  /** Weighted PageRank over the nation trade graph (supplier nation →
    * customer nation, weight = whole-unit revenue): the host-authority
    * shape a corpus build runs over its URL graph, exercised on the
    * relational fixture. Two quantized rounds, oracle fully unrolled.
    */
  def pagerankNations(s: SparkSession, dir: String): DataFrame = {
    val edges = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir).select(
        col("n_nationkey").as("ck"), col("n_name").as("dst"))),
        col("c_nationkey") === col("ck"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir).select(
        col("n_nationkey").as("sk"), col("n_name").as("src"))),
        col("s_nationkey") === col("sk"))
      .groupBy("src", "dst")
      .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("long")).as("weight"))
    graft.ops.PageRank.ranks(edges, iters = 2)
      .select(col("node").as("nation"), col("rank_q"))
  }

  val pagerankNationsSql: String =
    """WITH e0 AS (SELECT ns.n_name AS src, nc.n_name AS dst,
      |    sum(CAST(floor(l_extendedprice * (1.0 - l_discount)) AS BIGINT)) AS w
      |  FROM lineitem l
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN nation nc ON nc.n_nationkey = c.c_nationkey
      |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  JOIN nation ns ON ns.n_nationkey = s.s_nationkey
      |  GROUP BY 1, 2),
      |nodes AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
      |nn AS (SELECT count(*) AS n FROM nodes),
      |ow AS (SELECT src, sum(w) AS ww FROM e0 GROUP BY 1),
      |sh AS (SELECT e0.src, e0.dst, (w * 1000000) // ww AS share_q
      |       FROM e0 JOIN ow USING (src)),
      |r0 AS (SELECT node, 1000000 // n AS rank_q FROM nodes CROSS JOIN nn),
      |c1 AS (SELECT sh.dst AS node,
      |    sum((r0.rank_q * sh.share_q) // 1000000) AS cq
      |  FROM sh JOIN r0 ON r0.node = sh.src GROUP BY 1),
      |r1 AS (SELECT nodes.node,
      |    150000 // n + (850000 * coalesce(c1.cq, 0)) // 1000000 AS rank_q
      |  FROM nodes CROSS JOIN nn LEFT JOIN c1 ON c1.node = nodes.node),
      |c2 AS (SELECT sh.dst AS node,
      |    sum((r1.rank_q * sh.share_q) // 1000000) AS cq
      |  FROM sh JOIN r1 ON r1.node = sh.src GROUP BY 1),
      |r2 AS (SELECT nodes.node,
      |    150000 // n + (850000 * coalesce(c2.cq, 0)) // 1000000 AS rank_q
      |  FROM nodes CROSS JOIN nn LEFT JOIN c2 ON c2.node = nodes.node)
      |SELECT node AS nation, CAST(rank_q AS BIGINT) AS rank_q FROM r2""".stripMargin

  val revenueByNationSql: String =
    s"""SELECT r_name AS region_name, n_name AS nation_name,
       | ${DecSumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
       | count(*) AS n_lineitems
       |FROM lineitem
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation   ON c_nationkey = n_nationkey
       |JOIN region   ON n_regionkey = r_regionkey
       |GROUP BY r_name, n_name""".stripMargin

  /** q4: left-semi join — orders that have at least one line item with a
    * quantity above threshold, counted per priority.
    */
  def semiJoinOrders(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(s, dir).filter(col("l_quantity") >= 45)
      .select("l_orderkey")
    Tables.orders(s, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
  }

  val semiJoinOrdersSql: String =
    """SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
      |GROUP BY o_orderpriority""".stripMargin

  /** q5: anti join — customers with no high-value (>450k) order, per
    * market segment. The filter keeps the right side selective AND makes
    * the result non-degenerate at every SF (in this data every customer
    * has *some* order, so an unfiltered anti join would prove a 0=0
    * match and nothing else).
    */
  def antiJoinCustomers(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.orders(s, dir)
      .filter(col("o_totalprice") > 450000).select("o_custkey")
    Tables.customer(s, dir)
      .join(big, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"))
  }

  val antiJoinCustomersSql: String =
    """SELECT c_mktsegment, count(*) AS n_customers
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
      |GROUP BY c_mktsegment""".stripMargin

  /** q_topk: top 10 orders by total price (deterministic tiebreak on key). */
  def topOrders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)

  val topOrdersSql: String =
    """SELECT o_orderkey, o_totalprice, o_orderpriority
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin

  /** q_window: per-user running event stats (rank + cumulative value).
    * Window partitions by user_id — a plain hash shuffle, no global sort.
    */
  def userRunningStats(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, dir)
      .withColumn("event_rank", row_number().over(w))
      .withColumn("running_value",
        sum(floor(col("value") * lit(10000.0)).cast("long")).over(w) / lit(10000.0))
      .select("event_id", "user_id", "event_type", "event_rank", "running_value")
  }

  val userRunningStatsSql: String =
    """SELECT event_id, user_id, event_type,
      | row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS event_rank,
      | sum(CAST(floor(value * 10000.0) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id) / 10000.0 AS running_value
      |FROM events""".stripMargin

  /** q_tumbling: hourly tumbling-window aggregation over the events
    * table.
    */
  def eventsHourly(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        decSum(col("value")).as("total_value"))

  val eventsHourlySql: String =
    s"""SELECT date_trunc('hour', ts) AS hour, event_type,
       | count(*) AS n_events,
       | ${DecSumSql("value")} AS total_value
       |FROM events GROUP BY date_trunc('hour', ts), event_type""".stripMargin

  /** q_sessions: gap-based sessionization via lag() — session starts when
    * >30 min elapsed since the user's previous event.
    */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, dir)
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("is_session_start",
        col("prev_ts").isNull ||
          (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800))
      .withColumn("session_id",
        sum(when(col("is_session_start"), 1).otherwise(0)).over(w))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("session_value"))
  }

  val sessionizeSql: String =
    s"""WITH l AS (
       | SELECT user_id, event_id, ts, value,
       |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
       | FROM events),
       |m AS (
       | SELECT *, (prev_ts IS NULL OR date_diff('second', prev_ts, ts) > 1800) AS is_session_start FROM l),
       |sess AS (
       | SELECT *, CAST(sum(CASE WHEN is_session_start THEN 1 ELSE 0 END)
       |   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_id
       | FROM m)
       |SELECT user_id, session_id, count(*) AS n_events,
       | ${DecSumSql("value")} AS session_value
       |FROM sess GROUP BY user_id, session_id""".stripMargin

  /** q_session_window: the same 30-minute gap sessions as [[sessionize]],
    * through Spark's native `session_window` aggregate instead of the
    * lag/cumsum window pair (merge condition: an event at or within
    * gapDuration of the session's last event extends it — the exact-gap
    * event MERGES, verified against the operator, so the oracle's island
    * break is strict `>`; window end = last event + gap). Bounds emitted as
    * epoch MICROS bigints: both engines truncate the nano source to µs
    * identically, and integer output sidesteps any timestamp rendering
    * drift.
    */
  def sessionWindows(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("session_value"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("session_start_us"),
        unix_micros(col("sw.end")).as("session_end_us"),
        col("n_events"), col("session_value"))

  val sessionWindowsSql: String =
    s"""WITH l AS (
       | SELECT user_id, event_id, ts, value,
       |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
       | FROM events),
       |m AS (
       | SELECT *, (prev_ts IS NULL
       |   OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000) AS st FROM l),
       |sess AS (
       | SELECT *, CAST(sum(CASE WHEN st THEN 1 ELSE 0 END)
       |   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS sid
       | FROM m)
       |SELECT user_id,
       | CAST(epoch_us(min(ts)) AS BIGINT) AS session_start_us,
       | CAST(epoch_us(max(ts)) + 1800000000 AS BIGINT) AS session_end_us,
       | count(*) AS n_events,
       | ${DecSumSql("value")} AS session_value
       |FROM sess GROUP BY user_id, sid""".stripMargin

  /** q_brand: lineitem ⋈ broadcast(part) revenue per brand. */
  def revenueByBrand(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        decAvg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("n_rows"))

  val revenueByBrandSql: String =
    s"""SELECT p_brand,
       | ${DecSumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
       | ${DecAvgSql("l_quantity")} AS avg_qty,
       | count(*) AS n_rows
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |GROUP BY p_brand""".stripMargin

  /** q_rollup: multi-level aggregate over (event_type, hour) with
    * subtotals and grand total — ROLLUP grouping sets.
    */
  def rollupEvents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .rollup(col("event_type"), hour(col("ts")).as("h"))
      .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("total_value"))

  val rollupEventsSql: String =
    s"""SELECT event_type, hour(ts) AS h, count(*) AS n_events,
       | ${DecSumSql("value")} AS total_value
       |FROM events GROUP BY ROLLUP(event_type, hour(ts))""".stripMargin

  /** q_asof: backward as-of join — each purchase attaches the user's most
    * recent click at-or-before it (graft.ops.AsOfJoin; DuckDB oracle uses
    * its native ASOF LEFT JOIN). Timestamps compared at microseconds on
    * both sides (Spark's native resolution).
    */
  def asofPurchaseClick(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        col("event_id").as("click_event_id"),
        col("value").as("click_value"))
    graft.ops.AsOfJoin
      .asofBackward(purchases, clicks, "user_id", "ts",
        Seq("click_event_id", "click_value"))
      .select("event_id", "user_id", "click_event_id", "click_value")
  }

  /** The same join through the native whole-operator path
    * (graft.plans.AsofJoinExec — custom LogicalPlan + Strategy +
    * SparkPlan): identical results, one streaming merge per partition
    * instead of union + window + filter. Shares the DuckDB ASOF oracle.
    */
  def asofPurchaseClickNative(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        col("event_id").as("click_event_id"),
        col("value").as("click_value"))
    graft.ops.AsOfJoin
      .asofBackwardNative(purchases, clicks, "user_id", "ts",
        Seq("click_event_id", "click_value"))
      .select("event_id", "user_id", "click_event_id", "click_value")
  }

  val asofPurchaseClickSql: String =
    """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS us,
      |                  event_type, value FROM events),
      |p AS (SELECT event_id, user_id, us, value FROM e WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, us, event_id AS click_event_id,
      |             value AS click_value FROM e WHERE event_type = 'click')
      |SELECT p.event_id, p.user_id, c.click_event_id, c.click_value
      |FROM p ASOF LEFT JOIN c
      |  ON p.user_id = c.user_id AND c.us <= p.us""".stripMargin

  /** q_group_sample: deterministic uniform per-group sample (md5
    * priority ranking — reproducible across partitionings and engines,
    * so unlike RNG samples it IS oracle-checkable).
    */
  def groupSample(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.uniformPerGroup(
      Tables.events(s, dir).select("event_id", "event_type", "user_id"),
      "event_type", "event_id", k = 5)

  val groupSampleSql: String =
    """WITH r AS (
      | SELECT event_id, event_type, user_id,
      |  row_number() OVER (PARTITION BY event_type
      |    ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS sample_rank
      | FROM events)
      |SELECT event_id, event_type, user_id, sample_rank
      |FROM r WHERE sample_rank <= 5""".stripMargin

  /** q_distinct: distinct-aggregate (exact count distinct per group) —
    * native capability beyond the reference (SURVEY §2.6 note).
    */
  def distinctUsers(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("n_users"),
        count(lit(1)).as("n_events"))

  val distinctUsersSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users,
      | count(*) AS n_events
      |FROM events GROUP BY event_type""".stripMargin

  /** q_union: U1 ragged-schema union (unionByName allowMissingColumns). */
  def unionByNameEvents(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "value")
    val signups = ev.filter(col("event_type") === "signup")
      .select("event_id", "user_id", "props")
    clicks.unionByName(signups, allowMissingColumns = true)
  }

  val unionByNameEventsSql: String =
    """SELECT event_id, user_id, value FROM events WHERE event_type = 'click'
      |UNION ALL BY NAME
      |SELECT event_id, user_id, props FROM events WHERE event_type = 'signup'""".stripMargin

  // ---- q_grouping_sets: explicit grouping sets via SQL text -------------

  /** Explicit GROUPING SETS (the general form behind rollup/cube),
    * through the SQL-text interface — Catalyst expands it to the same
    * Expand + partial-agg plan the DataFrame rollup gets.
    */
  def groupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("events_gs")
    s.sql(
      """SELECT event_type, user_id % 10 AS user_bucket,
        |  count(*) AS n, grouping(event_type) AS g_type,
        |  grouping(user_id % 10) AS g_bucket
        |FROM events_gs
        |GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())""".stripMargin)
  }

  val groupingSetsSql: String =
    """SELECT event_type, user_id % 10 AS user_bucket,
      |  count(*) AS n, grouping(event_type) AS g_type,
      |  grouping(user_id % 10) AS g_bucket
      |FROM events
      |GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())""".stripMargin

  // ---- q_json_extract: semi-structured props ----------------------------

  /** JSON path extraction over the `props` string column + typed
    * aggregation — the semi-structured ingestion shape (Spark
    * `get_json_object` stays codegen'd; no UDF JSON parsing).
    */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n_k"), sum("k").as("sum_k"),
        min("k").as("min_k"), max("k").as("max_k"))

  val jsonExtractSql: String =
    """SELECT event_type, count(k) AS n_k,
      |  CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events)
      |GROUP BY event_type""".stripMargin

  // ---- q_lead_lag: inter-event gaps -------------------------------------

  /** Per-user event sequencing: microsecond gap to the previous event
    * and the next event's type (lead + lag in one window; exact integer
    * microseconds on both engines — no float time math).
    */
  def leadLagGaps(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, dir)
      .withColumn("gap_us", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .select("event_id", "user_id", "gap_us", "next_type")
  }

  val leadLagGapsSql: String =
    """SELECT event_id, user_id,
      |  epoch_us(ts) - lag(epoch_us(ts), 1)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us,
      |  lead(event_type, 1)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |FROM events""".stripMargin

  // ---- q_source_percentiles: grouped exact percentiles ------------------

  /** Per-source length percentiles — grouped exact `percentile` (the
    * per-stratum flavor of the describe report).
    */
  def sourcePercentiles(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        expr("percentile(n_chars, 0.25)").as("p25"),
        expr("percentile(n_chars, 0.5)").as("p50"),
        expr("percentile(n_chars, 0.75)").as("p75"))

  val sourcePercentilesSql: String =
    """SELECT source, count(*) AS n,
      |  quantile_cont(n_chars, 0.25) AS p25,
      |  quantile_cont(n_chars, 0.5) AS p50,
      |  quantile_cont(n_chars, 0.75) AS p75
      |FROM documents GROUP BY source""".stripMargin

  // ---- q13_order_distribution: TPC-H Q13 shape --------------------------

  /** Customer distribution by order count, INCLUDING zero-order
    * customers — the left-join + double-aggregation shape (TPC-H Q13).
    * First agg keys on customer (high cardinality), second on the tiny
    * count domain; both partial-aggregate map-side.
    */
  def orderCountDistribution(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count")) // count(col) skips nulls
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))

  val orderCountDistributionSql: String =
    """SELECT c_count, count(*) AS custdist
      |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      |      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |      GROUP BY c_custkey)
      |GROUP BY c_count""".stripMargin

  // ---- q14_promo_revenue: TPC-H Q14 shape -------------------------------

  /** Promo-type revenue share — conditional aggregation over a
    * dimension join (TPC-H Q14). `part` broadcasts; the ratio is
    * assembled from two quantized sums so both engines divide the same
    * longs.
    */
  def promoRevenue(s: SparkSession, dir: String): DataFrame = {
    val rev = floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      * lit(10000.0)).cast("long")
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0L))).as("_p"),
        sum(rev).as("_t"))
      .select((lit(100.0) * col("_p") / col("_t")).as("promo_pct"),
        (col("_p") / lit(10000.0)).as("promo_revenue"),
        (col("_t") / lit(10000.0)).as("total_revenue"))
  }

  val promoRevenueSql: String =
    """WITH q AS (SELECT
      |    CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0) AS BIGINT) AS rev,
      |    p_type
      |  FROM lineitem JOIN part ON l_partkey = p_partkey)
      |SELECT 100.0 * sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END)
      |         / sum(rev) AS promo_pct,
      |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) AS BIGINT) / 10000.0
      |    AS promo_revenue,
      |  CAST(sum(rev) AS BIGINT) / 10000.0 AS total_revenue
      |FROM q""".stripMargin

  // ---- q10_returned_revenue: TPC-H Q10 shape ----------------------------

  /** Top customers by revenue lost to returned items (TPC-H Q10):
    * fact⋈fact on orderkey, broadcast customer/nation dims, quantized
    * revenue ordering with the custkey tiebreak so top-20 is total.
    */
  def returnedItemRevenue(s: SparkSession, dir: String): DataFrame = {
    val revQ = floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      * lit(10000.0)).cast("long")
    Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name").as("nation_name"))
      .agg(sum(revQ).as("_rq"))
      .select(col("c_custkey"), col("c_name"), col("nation_name"),
        (col("_rq") / lit(10000.0)).as("revenue"), col("_rq"))
      .orderBy(desc("_rq"), asc("c_custkey"))
      .limit(20)
      .drop("_rq")
  }

  val returnedItemRevenueSql: String =
    """WITH r AS (SELECT c_custkey, c_name, n_name AS nation_name,
      |    sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0) AS BIGINT)) AS rq
      |  FROM lineitem
      |  JOIN orders   ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation   ON c_nationkey = n_nationkey
      |  WHERE l_returnflag = 'R'
      |  GROUP BY c_custkey, c_name, n_name)
      |SELECT c_custkey, c_name, nation_name, CAST(rq AS BIGINT) / 10000.0 AS revenue
      |FROM r ORDER BY rq DESC, c_custkey LIMIT 20""".stripMargin

  /** q7: TPC-H Q7-style bilateral shipping volume — revenue between two
    * nations by (supplier nation, customer nation, ship year).
    *
    * The nation restriction is applied BEFORE the fact joins, not
    * after: suppliers and customers are each pre-joined to the
    * two-nation sliver (tiny broadcasts), so the lineitem scan is
    * immediately cut to the ~2/|nations| of lines with a qualifying
    * supplier before the only real shuffle (lineitem ⋈ orders on
    * orderkey), and the order side is pair-filtered right after its
    * customer broadcast. The original filter-after-five-joins shape
    * dragged every lineitem row through the orderkey shuffle —
    * measured 2.9s vs 1.0s for the same-shape q3/q8 at sf0.1, and at
    * 100 TB the difference is the whole fact table. The residual
    * nation-pair disjunction prunes before the aggregate.
    */
  def nationVolume(s: SparkSession, dir: String): DataFrame = {
    val nations = Tables.nation(s, dir)
      .filter(col("n_name").isin("NATION_1", "NATION_2"))
    val supp = Tables.supplier(s, dir)
      .join(broadcast(nations.select(col("n_nationkey").as("s_nk"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("s_nk"))
      .select("s_suppkey", "supp_nation")
    val cust = Tables.customer(s, dir)
      .join(broadcast(nations.select(col("n_nationkey").as("c_nk"),
        col("n_name").as("cust_nation"))), col("c_nationkey") === col("c_nk"))
      .select("c_custkey", "cust_nation")
    Tables.lineitem(s, dir)
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  val nationVolumeSql: String =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       | CAST(year(l_shipdate) AS BIGINT) AS l_year,
       | ${DecSumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
       | count(*) AS n_lines
       |FROM lineitem
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
       |GROUP BY n1.n_name, n2.n_name, year(l_shipdate)""".stripMargin

  /** q12: TPC-H Q12-style late-shipment accounting (the testdata has no
    * shipmode/receiptdate, so "late" = shipped more than 90 days after
    * the order date) — per order priority, total lines vs late lines.
    * Exact timestamp interval arithmetic on both engines.
    */
  def lateShipments(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
          1L).otherwise(0L)).as("n_late"))

  val lateShipmentsSql: String =
    """SELECT o_orderpriority, count(*) AS n_lines,
      | CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
      |               THEN 1 ELSE 0 END) AS BIGINT) AS n_late
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  /** q18: TPC-H Q18-style large-volume orders — orders whose summed
    * quantity clears a threshold, with the buyer. The per-order
    * aggregate runs BEFORE the joins so only qualifying orderkeys join
    * (semi-join-sized probe side); quantities are integral doubles so
    * the sum is exact.
    */
  private val LargeOrderQty = 300

  def largeOrders(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity")).cast("long").as("total_qty"))
      .filter(col("total_qty") > LargeOrderQty)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))

  val largeOrdersSql: String =
    s"""WITH big AS (SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS total_qty
       |  FROM lineitem GROUP BY l_orderkey
       |  HAVING CAST(sum(l_quantity) AS BIGINT) > $LargeOrderQty)
       |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
       |FROM big JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey""".stripMargin

  /** q19: TPC-H Q19-style disjunctive bracket predicates — three
    * (brand, size range, quantity range) brackets OR'd together across
    * the lineitem ⋈ part join. Catalyst pushes the common join key and
    * evaluates the disjunction post-join; part broadcasts.
    */
  def bracketRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#24" && col("p_size").between(1, 35) &&
          col("l_quantity").between(20, 30)))
      .agg(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_rows"))

  val bracketRevenueSql: String =
    s"""SELECT ${DecSumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
       | count(*) AS n_rows
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
       |   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  /** q15: TPC-H Q15-style top supplier — revenue per supplier over a
    * quarter, keep every supplier matching the maximum (the view +
    * scalar-subquery shape). The max is one scalar aggregate broadcast
    * back; revenue is quantized per-row so "equal to max" is an exact
    * integer comparison, not a float one.
    */
  def topSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy("l_suppkey")
      .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * lit(10000.0)).cast("long")).as("rq"))
    val top = rev.agg(max("rq").as("max_rq"))
    rev.crossJoin(broadcast(top))
      .filter(col("rq") === col("max_rq"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("rq") / lit(10000.0)).as("total_revenue"))
  }

  val topSupplierSql: String =
    """WITH rev AS (SELECT l_suppkey,
      |    sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0) AS BIGINT)) AS rq
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(rq AS BIGINT) / 10000.0 AS total_revenue
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE rq = (SELECT max(rq) FROM rev)""".stripMargin

  /** q22: TPC-H Q22-style dormant high-balance customers — customers
    * with balance above the positive-balance average and NO orders in
    * the final year, grouped by market segment. The average is computed
    * over exact integer cents (floor-quantized once) so the threshold
    * comparison is order-proof; the "no recent orders" side is a
    * left-anti join against the date-filtered orders.
    */
  private val DormantSince = "2001-01-01"

  def dormantCustomers(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .withColumn("bal_cents", round(col("c_acctbal") * 100.0d).cast("long"))
    val avgPos = cust.filter(col("bal_cents") > 0)
      .agg(floor(avg("bal_cents")).cast("long").as("avg_cents"))
    val recent = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit(DormantSince).cast("timestamp"))
      .select("o_custkey")
    cust.crossJoin(broadcast(avgPos))
      .filter(col("bal_cents") > col("avg_cents"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_custs"), sum("bal_cents").as("bal_cents_sum"))
  }

  val dormantCustomersSql: String =
    s"""WITH c AS (SELECT c_custkey, c_mktsegment,
       |    CAST(round(c_acctbal * 100.0) AS BIGINT) AS bal_cents FROM customer),
       |t AS (SELECT CAST(floor(avg(bal_cents)) AS BIGINT) AS avg_cents
       |      FROM c WHERE bal_cents > 0)
       |SELECT c_mktsegment, count(*) AS n_custs,
       | CAST(sum(bal_cents) AS BIGINT) AS bal_cents_sum
       |FROM c CROSS JOIN t
       |WHERE bal_cents > avg_cents
       |  AND NOT EXISTS (SELECT 1 FROM orders o
       |    WHERE o.o_custkey = c.c_custkey
       |      AND o.o_orderdate >= TIMESTAMP '$DormantSince 00:00:00')
       |GROUP BY c_mktsegment""".stripMargin

  /** q8: TPC-H Q8-style market share — one nation's slice of a region's
    * revenue for one part type, per order year. Planner shape: a 6-way
    * star join where every dimension (filtered part, supplier, customer,
    * both nation roles, region) broadcasts, so the lineitem⋈orders
    * equi-join is the only big shuffle; the share is a conditional-sum /
    * total-sum ratio computed in one aggregation pass (no second scan,
    * no self-join on the year).
    */
  def marketShare(s: SparkSession, dir: String): DataFrame = {
    val n1 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("c_nk"), col("n_regionkey").as("c_rk"))
    val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir).filter(col("p_type") === "PROMO")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
        col("c_rk") === col("r_regionkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(decSum(when(col("supp_nation") === "NATION_3", vol).otherwise(0.0d))
          .as("nation_rev"),
        decSum(vol).as("total_rev"),
        count(lit(1)).as("n_lines"))
      .withColumn("mkt_share_q",
        floor(col("nation_rev") / col("total_rev") * 10000.0d).cast("long"))
  }

  val marketShareSql: String =
    s"""WITH v AS (
       |  SELECT year(o_orderdate) AS o_year, n1.n_name AS supp_nation,
       |    l_extendedprice * (1.0 - l_discount) AS vol
       |  FROM lineitem
       |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
       |  JOIN orders ON l_orderkey = o_orderkey
       |    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
       |    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |  JOIN region ON n2.n_regionkey = r_regionkey AND r_name = 'ASIA'),
       |a AS (SELECT CAST(o_year AS BIGINT) AS o_year,
       |  ${DecSumSql("CASE WHEN supp_nation = 'NATION_3' THEN vol ELSE 0.0 END")} AS nation_rev,
       |  ${DecSumSql("vol")} AS total_rev,
       |  count(*) AS n_lines
       | FROM v GROUP BY 1)
       |SELECT o_year, nation_rev, total_rev, n_lines,
       |  CAST(floor(nation_rev / total_rev * 10000.0) AS BIGINT) AS mkt_share_q
       |FROM a""".stripMargin

  /** q_event_funnel: sequential conversion funnel — users who signed
    * up, then clicked AFTER the signup, then purchased AFTER that
    * click. Each step is a filtered min-aggregate joined to the
    * previous step (user-keyed shuffles, no windows, no self-join
    * explosion); the three step counts cross-join into one row.
    * Timestamps compare as integer MICROSECONDS on both engines
    * (unix_micros / epoch_us) — [[Tables.events]] normalizes the
    * physical column (nanos-as-long or TIMESTAMP(MICROS), it has been
    * both across testdata generations) to micro-precision
    * TimestampType, and a strict '>' at a sub-micro boundary would
    * otherwise disagree.
    */
  def eventFunnel(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.sequentialFunnel(
      Tables.events(s, dir).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us")),
      steps = Seq("signup", "click", "purchase"))
      .select(col("n_step_1").as("n_signup"),
        col("n_step_2").as("n_click_after"),
        col("n_step_3").as("n_purchase_after"))

  val eventFunnelSql: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |t1 AS (SELECT user_id, min(us) AS t1 FROM ev
      |       WHERE event_type = 'signup' GROUP BY user_id),
      |t2 AS (SELECT ev.user_id, min(us) AS t2 FROM ev
      |       JOIN t1 USING (user_id)
      |       WHERE event_type = 'click' AND us > t1 GROUP BY ev.user_id),
      |t3 AS (SELECT ev.user_id, min(us) AS t3 FROM ev
      |       JOIN t2 USING (user_id)
      |       WHERE event_type = 'purchase' AND us > t2 GROUP BY ev.user_id)
      |SELECT (SELECT count(*) FROM t1) AS n_signup,
      |       (SELECT count(*) FROM t2) AS n_click_after,
      |       (SELECT count(*) FROM t3) AS n_purchase_after""".stripMargin

  /** q_retention_cohorts: classic cohort retention — users grouped by
    * first-seen week, counted per week offset since their cohort.
    * Shape: one distinct (user, week) projection feeds both the
    * per-user min (cohort assignment) and the activity join — two
    * keyed shuffles on user_id, a count-distinct rollup, no windows.
    * Weekly truncation (ISO Monday in both engines) erases the
    * nanos-vs-micros timestamp difference.
    */
  def retentionCohorts(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.cohortRetention(
      Tables.events(s, dir)
        .select(col("user_id"), date_trunc("week", col("ts")).as("week")),
      userCol = "user_id", periodCol = "week",
      // offsets are exact multiples of 7 days, so the double division
      // is integer-valued and truncation-safe in both engines
      offsetOf = (w, c) => (datediff(w, c) / 7).cast("long"))
      .select(col("cohort_period").as("cohort_week"),
        col("period_offset").as("week_offset"), col("n_users"))

  val retentionCohortsSql: String =
    """WITH wk AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week
      |            FROM events),
      |c AS (SELECT user_id, min(week) AS cohort_week FROM wk GROUP BY user_id)
      |SELECT c.cohort_week,
      |  CAST(date_diff('day', c.cohort_week, wk.week) / 7 AS BIGINT) AS week_offset,
      |  count(DISTINCT wk.user_id) AS n_users
      |FROM wk JOIN c USING (user_id)
      |GROUP BY 1, 2""".stripMargin

  /** q9: TPC-H Q9-style product-line profit by supplier nation and order
    * year (adapted: the reduced schema has no partsupp, so profit is
    * discounted revenue rather than revenue minus supply cost — the
    * planner shape is unchanged). LIKE-filtered part dim broadcasts;
    * lineitem⋈orders stays the one big shuffle.
    */
  def profitByNation(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir).filter(col("p_name").contains("bolt"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation_name"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("profit"),
        count(lit(1)).as("n_lines"))

  val profitByNationSql: String =
    s"""SELECT n_name AS nation_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       | ${DecSumSql("l_extendedprice * (1.0 - l_discount)")} AS profit,
       | count(*) AS n_lines
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey AND contains(p_name, 'bolt')
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY n_name, year(o_orderdate)""".stripMargin

  /** q21: TPC-H Q21-style blame isolation — suppliers who returned goods
    * ('R') in multi-supplier orders where NO other supplier returned.
    * Planner shape: the same fact table joined back to itself twice with
    * correlated inequality conditions — once as a left-semi (EXISTS:
    * another supplier in the order) and once as a left-anti (NOT EXISTS:
    * another supplier also returned). Both self-joins are equi-joins on
    * l_orderkey, so all three legs co-partition on one key and the
    * inequality is evaluated post-match — no cartesian anywhere.
    */
  def returnIsolation(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val l1 = li.filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_suppkey")
    val l2 = li.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
    val l3 = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3"))
    l1.join(l2, col("l_orderkey") === col("o2") && col("l_suppkey") =!= col("s2"),
        "left_semi")
      .join(l3, col("l_orderkey") === col("o3") && col("l_suppkey") =!= col("s3"),
        "left_anti")
      .join(broadcast(Tables.supplier(s, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("s_name"), col("n_name").as("nation_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  val returnIsolationSql: String =
    """WITH w AS (
      |  SELECT l1.l_suppkey
      |  FROM lineitem l1
      |  WHERE l1.l_returnflag = 'R'
      |    AND EXISTS (SELECT 1 FROM lineitem l2
      |      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      |    AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      |        AND l3.l_returnflag = 'R'))
      |SELECT s_name, n_name AS nation_name, count(*) AS numwait
      |FROM w JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY s_name, n_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 20""".stripMargin
}
