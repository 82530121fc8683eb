package pipebench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark JVM: one workload per invocation.
  *
  *   pipebench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --result <file> [--size <factor>] [--corrupt line|dup]
  *
  * `--size` scales the inputs; `pipebench/run.py` passes 1 for measured
  * runs and a small factor for its smoke run.
  *
  * Set-up (session, input generation repeated three times, the warm
  * pass on a quarter-size input and its validation) is timed apart from
  * the measured passes. Untraced, a fixed number of passes (about
  * `--seconds` of measured time on 4 cores) runs and the end-to-end
  * metrics are medians over passes. Traced, one untraced pass (for the
  * tracing overhead) follows the traced passes; their per-layer costs
  * come from the [[Accounting]] listener and `trace.json` holds the
  * stage table.
  * The result goes to `--result` as JSON; `pipebench/run.py` reads it.
  */
object Main {

  private final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                                work: String, result: String, size: Double,
                                corrupt: Option[String])

  private def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--work"), need("--result"),
      kv.get("--size").fold(1.0)(_.toDouble), kv.get("--corrupt"))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** JIT compile seconds so far: most of a measured pass's process CPU. */
  private def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  private def processCpuS: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Fail loudly when the disk cannot hold what one pass writes. */
  private def requireDisk(work: String, needBytes: Long): Unit = {
    val free = new java.io.File(work).getUsableSpace
    if (free < needBytes)
      throw new IllegalStateException(f"free disk ${free / 1e6}%.0f MB is below the " +
        f"${needBytes / 1e6}%.0f MB one pass of this workload writes")
  }

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = parse(args)
    val bootS = (System.currentTimeMillis() - jvmStart) / 1e3
    new java.io.File(opts.work).mkdirs()

    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("pipebench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${opts.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val acc = new Accounting
    spark.sparkContext.addSparkListener(acc)
    val sessionS = seconds(t0)

    val w = Workload(opts.workload, Ctx(spark, opts.work, opts.seed,
      Scale(opts.size), opts.corrupt))
    val failures = ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    try {
      // inputs three times: the median is the set-up share, and the
      // digests must agree (same seed, same bytes)
      val gens = (1 to 3).map { _ => val g0 = System.nanoTime(); val d = w.generate(); (seconds(g0), d) }
      if (gens.map(_._2).distinct.size != 1)
        throw new IllegalStateException(s"generator is not deterministic: ${gens.map(_._2)}")
      // session sizing as the engine's own entry points derive it
      spark.conf.set("spark.sql.shuffle.partitions", graft.Sizing.shufflePartitions(w.inputPath))
      // before any pass: an estimate; afterwards what the last pass wrote
      var needBytes = 40L * w.inputBytes
      requireDisk(opts.work, needBytes)
      val w0 = System.nanoTime()
      val warmFailures = try w.warm() catch { case NonFatal(e) => Seq(s"warm pass threw: $e") }
      val warmS = seconds(w0)
      failures ++= warmFailures.map("warm-up: " + _)
      val setupS = bootS + sessionS + median(gens.map(_._1)) + warmS
      out ++= Seq("input_sha256" -> gens.head._2, "input_docs" -> w.inputDocs,
        "input_bytes" -> w.inputBytes, "setup_parts" -> Map("jvm_s" -> bootS,
          "session_s" -> sessionS, "generate_s" -> gens.map(_._1), "warm_s" -> warmS))

      // a run must end well inside the caller's 180 s limit
      def withinBudget = System.currentTimeMillis() - jvmStart < 120000L
      final case class Pass(wall: Double, cpu: Double, jit: Double, peakMb: Double, written: Long)
      val measureStart = System.nanoTime()
      def onePass(): Option[Pass] = {
        requireDisk(opts.work, needBytes)
        heapPools.foreach(_.resetPeakUsage())
        val c0 = processCpuS
        val j0 = jitS
        acc.drain(spark)
        val d0 = acc.diskBytes
        attempted += 1
        val ran = try Right(w.run()) catch { case NonFatal(e) => Left(s"pass threw: $e") }
        val cpu = processCpuS - c0
        val jit = jitS - j0
        val peakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
        // the pass's own shuffle and spill bytes, read before the checks
        // run jobs of their own
        acc.drain(spark)
        val shuffled = acc.diskBytes - d0
        val problems = ran match {
          case Left(msg) => Seq(msg)
          case Right(_) => try w.check() catch { case NonFatal(e) => Seq(s"check threw: $e") }
        }
        if (problems.nonEmpty) failed += 1
        val written = w.outputBytes + shuffled
        needBytes = written
        w.cleanup()
        failures ++= problems
        ran.toOption.filter(_ => problems.isEmpty).map(wall => Pass(wall, cpu, jit, peakMb, written))
      }

      if (!opts.trace) {
        // a fixed pass count per workload: pass times keep falling as the
        // JIT warms, so a count that followed the host's speed would move
        // the median; on 4 cores the count covers about --seconds
        val target = math.max(1, math.round(opts.seconds / w.nominalPassS).toInt)
        val passes = ArrayBuffer.empty[Pass]
        var tries = 0
        while (passes.size < target && tries < target + 2 && withinBudget) {
          passes ++= onePass()
          tries += 1
        }
        val wall = median(passes.map(_.wall).toSeq)
        out ++= Seq("passes" -> passes.map(p => Map("wall_s" -> p.wall, "cpu_s" -> p.cpu,
          "jit_s" -> p.jit, "peak_heap_mb" -> p.peakMb, "bytes_written" -> p.written)))
        out("metrics") = Map(
          "setup_s" -> (setupS, "s"),
          "wall_s" -> (wall, "s"),
          "docs_per_s" -> (w.inputDocs / wall, "docs/s"),
          "write_amp" -> (median(passes.map(_.written.toDouble / w.inputBytes).toSeq), "ratio"))
      } else {
        acc.detailed = true
        val traced = ArrayBuffer.empty[TracedPass]
        while (traced.isEmpty || seconds(measureStart) < opts.seconds && withinBudget) {
          acc.reset()
          attempted += 1
          val tp = try w.traced(acc) catch {
            case NonFatal(e) => TracedPass(Map.empty, Map.empty, Map.empty, Seq(s"traced pass threw: $e"))
          }
          val checked = if (tp.layers.isEmpty) Nil
            else try w.check() catch { case NonFatal(e) => Seq(s"check threw: $e") }
          w.cleanup()
          if (tp.failures.nonEmpty || checked.nonEmpty) failed += 1
          failures ++= tp.failures ++ checked
          traced += tp
        }
        acc.detailed = false
        // one untraced pass after the traced ones, for the tracing
        // overhead and the process-wide figures
        val untracedPasses = onePass().toSeq
        val untraced = untracedPasses.map(_.wall)
        val ok = traced.filter(_.layers.nonEmpty).toSeq
        def layerMedian(layer: String, f: Cost => Double) =
          median(ok.map(p => p.layers.get(layer).map(f).getOrElse(0.0)))
        val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
        val units = Map("wall_s" -> "s", "cpu_s" -> "s", "gc_s" -> "s", "shuffle_mb" -> "MB",
          "spill_mb" -> "MB", "jobs" -> "count", "tasks" -> "count", "bytes_written_mb" -> "MB",
          "driver_s" -> "s")
        Layers.Pipeline.foreach { l =>
          Cost.Zero.metrics.map(_._1).zipWithIndex.foreach { case (m, i) =>
            metrics(s"$l.$m") = (layerMedian(l, _.metrics(i)._2), units(m))
          }
          metrics(s"$l.rows_out") = (median(ok.map(_.rows.getOrElse(l, 0L).toDouble)), "rows")
        }
        // checkpoints are on disk after the pass: count them there
        val files = ok.flatMap(_.record.get("checkpoint_files")).map(_.toString.toDouble)
        metrics("checkpoint.files_written") = (if (files.isEmpty) 0.0 else median(files), "count")
        // heap high-water and process CPU (JIT threads included) do not
        // repeat closely enough across runs to carry a bound
        metrics("peak_heap_mb") = (median(untracedPasses.map(_.peakMb)), "MB")
        metrics("cpu_s") = (median(untracedPasses.map(_.cpu)), "s")
        val tracedWall = median(ok.map(_.layers.values.map(_.wallS).sum))
        metrics("trace_overhead_s") = (tracedWall - untraced.sum / untraced.size, "s")
        out("metrics") = metrics
        val traceFile = s"${opts.work}/trace.json"
        java.nio.file.Files.writeString(java.nio.file.Paths.get(traceFile), Json.render(Map(
          "workload" -> opts.workload, "seed" -> opts.seed,
          "untraced_wall_s" -> untraced, "traced_wall_s" -> tracedWall,
          "layers" -> ok.lastOption.map(_.layers.map { case (l, c) => l -> c.metrics.toMap }),
          "rows_out" -> ok.lastOption.map(_.rows),
          "record" -> ok.lastOption.map(_.record))))
        out("trace_file") = traceFile
      }
    } catch {
      case NonFatal(e) =>
        failures += s"benchmark error: $e"
        out("error") = e.toString
    } finally {
      out ++= Seq("attempted" -> attempted, "failed" -> failed, "failures" -> failures.take(50),
        "correct" -> (failures.isEmpty && attempted > 0))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(opts.result), Json.render(out.map {
        case ("metrics", m: scala.collection.Map[_, _]) => "metrics" -> m.map {
          case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u)
        }
        case kv => kv
      }))
      spark.stop()
    }
  }
}
