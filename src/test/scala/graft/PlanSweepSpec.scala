package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.TestSqlBridge
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Whole-surface physical-plan audit — every query in the driver
  * contract, not just the hand-picked PlanSpec pins.
  *
  * PlanSpec pins the load-bearing shapes of individual operators
  * (pushdown, broadcast, exchange counts). This sweep closes the gap
  * those point-pins leave: a NEW query added without a pin could still
  * ship one of the two unconditional scale-killers —
  *
  *  - a cartesian product (candidate generation degenerated to
  *    all-pairs: |corpus|² rows at 100 TB), or
  *  - a window/group-limit over an EMPTY partition spec (Spark moves
  *    the entire input into ONE partition to order it — the
  *    single-reducer global sort, the exact shape the bounded-heap
  *    TopK aggregate and the two-pass global-sequence scheme exist to
  *    avoid).
  *
  * Neither has a legitimate use anywhere in the 161-query surface (the
  * engine's tiny cross joins are all against broadcast one-row or
  * k-row aggregates, which plan as BroadcastNestedLoopJoin, not
  * CartesianProduct), so the audit asserts ZERO occurrences with no
  * whitelist — a regression fails with the offending query's name.
  *
  * The audit inspects `sparkPlan` (the physical plan before AQE
  * re-planning): AQE can only *improve* on it at runtime, so a clean
  * initial plan is the conservative bound, and planning it executes no
  * corpus work (query CONSTRUCTION may run small driver jobs — k-means
  * centroids, PQ codebooks, BPE vocab — which is why the sweep runs at
  * sf0.001).
  */
class PlanSweepSpec extends SparkTestBase {

  // Env-overridable so the same invariants can be swept at a larger
  // scale fixture (round-6 10x sweep: tools/gen_scale.py output —
  // plan SHAPE must not degrade when file-size statistics grow, e.g.
  // a broadcast silently becoming a cartesian fallback).
  private val dir = sys.env.getOrElse("SPARK_GRAFT_SWEEP_DIR",
    "/root/testdata/sf0.001")

  test("no query in the contract plans a cartesian product or an unpartitioned window") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        Persisted.owned {
          try {
            val p = fn(spark, dir).queryExecution.sparkPlan
            val carts = p.collect { case c: CartesianProductExec => c }
            val badWindows = p.collect {
              case w: WindowExec if w.partitionSpec.isEmpty =>
                "unpartitioned Window"
              case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
                "unpartitioned WindowGroupLimit"
            }
            (if (carts.nonEmpty) Seq(s"$name: CartesianProduct") else Nil) ++
              badWindows.map(k => s"$name: $k (single-reducer global sort)")
          } catch {
            case NonFatal(e) => Seq(s"$name: failed to plan: ${e.getMessage}")
          }
        }
    }
    assert(offenders.isEmpty,
      s"scale-killer plan shapes found:\n${offenders.mkString("\n")}")
  }

  test("every contract query releases what it persists") {
    // Each query runs to the noop sink inside its own Persisted.owned
    // scope, as Bench and Verify run it. Afterwards the session must
    // hold no cached plan and no persistent RDD. A leak stays pinned,
    // so only the query after which a leak first shows is named.
    val sc = spark.sparkContext
    var plansLeaked = false
    val seenRdds = collection.mutable.Set.empty[Int]
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val failed =
          try {
            Persisted.owned(
              fn(spark, dir).write.mode("overwrite").format("noop").save())
            Nil
          } catch {
            case NonFatal(e) => Seq(s"$name: failed: ${e.getMessage}")
          }
        val plans =
          if (plansLeaked || TestSqlBridge.noCachedPlans(spark)) Nil
          else { plansLeaked = true; Seq(s"$name: left a cached plan") }
        val rdds = sc.getPersistentRDDs.values.filter(r => seenRdds.add(r.id))
          .map(r => s"$name: left persistent RDD ${r.id} " +
            s"(${r.toString.linesIterator.next().take(100)})")
        failed ++ plans ++ rdds
    }
    assert(offenders.isEmpty,
      s"queries left cached state behind:\n${offenders.mkString("\n")}")
  }
}
