package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session, cheap). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Every test body runs in its own [[Persisted.owned]] scope, so no
    * spec's persists outlive its test.
    */
  override def withFixture(test: NoArgTest): Outcome =
    Persisted.owned(super.withFixture(test))

  /** Runs `f` with the session confs `pairs` set, then restores them. */
  protected def withSQLConf[A](pairs: (String, String)*)(f: => A): A = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Every node of `p`, looking through adaptive plans (their current,
    * after execution final, plan) and query stages.
    */
  protected def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case o => o +: o.children.flatMap(planNodes)
  }

  /** The range-partitioning exchanges among every node of `plans`. */
  protected def rangeExchanges(plans: Seq[SparkPlan]): Seq[ShuffleExchangeExec] =
    plans.flatMap(planNodes).collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }

  /** Runs `body` and returns the executed (final, under AQE) plan of
    * every SQL execution that reported to QueryExecutionListeners
    * while it ran — actions, plus the named executions the engine
    * runs itself (GraftSqlBridge.appendRouted) — and the end event of
    * every task that ran meanwhile (its metrics and accumulator updates). Events arrive asynchronously:
    * waits until no job is open and no event arrived for three polls.
    */
  protected def executedPlans(body: => Unit): (Seq[SparkPlan], Seq[SparkListenerTaskEnd]) = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val tasks = new ConcurrentLinkedQueue[SparkListenerTaskEnd]()
    val openJobs = new AtomicLong
    val events = new AtomicLong
    val qel = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan); events.incrementAndGet()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        events.incrementAndGet()
    }
    val sl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        openJobs.incrementAndGet(); events.incrementAndGet()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        openJobs.decrementAndGet(); events.incrementAndGet()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        if (t.taskMetrics != null) tasks.add(t)
        events.incrementAndGet()
      }
    }
    spark.listenerManager.register(qel)
    spark.sparkContext.addSparkListener(sl)
    try {
      body
      var last = -1L
      var quiet = 0
      val deadline = System.nanoTime() + 60L * 1000000000L
      while ((quiet < 3 || openJobs.get() != 0) && System.nanoTime() < deadline) {
        Thread.sleep(200)
        val n = events.get()
        if (n == last) quiet += 1 else { quiet = 0; last = n }
      }
    } finally {
      spark.sparkContext.removeSparkListener(sl)
      spark.listenerManager.unregister(qel)
    }
    (plans.asScala.toSeq, tasks.asScala.toSeq)
  }
}
