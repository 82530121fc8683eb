package pipebench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Resource cost of one layer: the per-layer metric set. */
final case class Cost(wallS: Double, cpuS: Double, gcS: Double,
                      shuffleMb: Double, spillMb: Double, jobs: Double,
                      tasks: Double, bytesWrittenMb: Double, driverS: Double) {
  def +(o: Cost): Cost = Cost(wallS + o.wallS, cpuS + o.cpuS, gcS + o.gcS,
    shuffleMb + o.shuffleMb, spillMb + o.spillMb, jobs + o.jobs,
    tasks + o.tasks, bytesWrittenMb + o.bytesWrittenMb, driverS + o.driverS)
  def -(o: Cost): Cost = Cost(wallS - o.wallS, cpuS - o.cpuS, gcS - o.gcS,
    shuffleMb - o.shuffleMb, spillMb - o.spillMb, jobs - o.jobs,
    tasks - o.tasks, bytesWrittenMb - o.bytesWrittenMb, driverS - o.driverS)
  def metrics: Seq[(String, Double)] = Seq("wall_s" -> wallS, "cpu_s" -> cpuS,
    "gc_s" -> gcS, "shuffle_mb" -> shuffleMb, "spill_mb" -> spillMb,
    "jobs" -> jobs, "tasks" -> tasks, "bytes_written_mb" -> bytesWrittenMb,
    "driver_s" -> driverS)
}

object Cost {
  val Zero: Cost = Cost(0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** A public `SparkListener` that keeps job, stage-task and SQL-execution
  * records in memory. Running totals of disk-bound bytes (shuffle writes
  * and spills) are always kept, for `write_amp`; the per-job records are
  * kept only while `detailed` is on (the traced run). Events arrive on
  * the listener bus thread; read after [[drain]].
  */
final class Accounting extends SparkListener {

  @volatile var detailed: Boolean = false

  private var shuffleWritten = 0L
  private var spilled = 0L

  final class StageAgg {
    var cpuNs, gcMs, shuffleWrite, spill, outBytes, tasks = 0L
  }
  final case class JobRec(id: Int, start: Long, stages: Seq[Int]) { var end: Long = start }
  final case class ExecRec(id: Long, start: Long, plan: String) { var end: Long = start }

  private val stageAgg = mutable.Map.empty[Int, StageAgg]
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val execs = mutable.Map.empty[Long, ExecRec]

  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.ListenerDrain(spark.sparkContext)

  def diskBytes: Long = synchronized(shuffleWritten + spilled)

  def reset(): Unit = synchronized { stageAgg.clear(); jobs.clear(); execs.clear() }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      shuffleWritten += m.shuffleWriteMetrics.bytesWritten
      spilled += m.diskBytesSpilled
      if (detailed) {
        val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
        a.outBytes += m.outputMetrics.bytesWritten
        a.tasks += 1
      }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (detailed) jobs(e.jobId) = JobRec(e.jobId, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    if (detailed) e match {
      case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
        execs(s.executionId) = ExecRec(s.executionId, s.time, s.physicalPlanDescription)
      case s: SparkListenerSQLExecutionEnd =>
        execs.get(s.executionId).foreach(_.end = s.time)
      case _ =>
    }
  }

  /** Root SQL executions that started in [from, to), in start order. */
  def executions(from: Long, to: Long): Seq[ExecRec] = synchronized {
    execs.values.filter(x => x.start >= from && x.start < to).toSeq.sortBy(_.start)
  }

  /** End of the last job submitted in [from, to), if any. */
  def lastJobEnd(from: Long, to: Long): Option[Long] = synchronized {
    jobs.values.filter(j => j.start >= from && j.start < to).map(_.end).maxOption
  }

  /** Cost of the interval [from, to) (epoch ms): every job submitted in
    * it, with each stage counted under the first job that ran it; the
    * driver share is the interval time no job covers.
    */
  def cost(from: Long, to: Long): Cost = synchronized {
    val js = jobs.values.filter(j => j.start >= from && j.start < to).toSeq.sortBy(_.start)
    val owner = mutable.Map.empty[Int, Int]
    jobs.values.toSeq.sortBy(_.id).foreach(j => j.stages.foreach(s => owner.getOrElseUpdate(s, j.id)))
    val mine = js.map(_.id).toSet
    val aggs = stageAgg.collect { case (s, a) if owner.get(s).exists(mine) => a }
    var covered = 0L
    var reach = from
    js.foreach { j =>
      val s = math.max(j.start, reach)
      val e = math.min(j.end, to)
      if (e > s) { covered += e - s; reach = e }
    }
    val wall = (to - from) / 1e3
    Cost(wall, aggs.map(_.cpuNs).sum / 1e9, aggs.map(_.gcMs).sum / 1e3,
      aggs.map(_.shuffleWrite).sum / 1e6, aggs.map(_.spill).sum / 1e6,
      js.size, aggs.map(_.tasks).sum, aggs.map(_.outBytes).sum / 1e6,
      wall - covered / 1e3)
  }
}
