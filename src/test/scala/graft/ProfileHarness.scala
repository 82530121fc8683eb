package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The shared bench discipline behind the test-scope profiling mains
  * ([[ChainProfile]], [[S3Profile]]): one place for the session
  * config, the untimed sf0.001 warm-up, the SPARK_GRAFT_BENCH_REPEAT
  * min-of-N passes, the noop-sink timing and the clearCache-between-runs
  * rule — a discipline tweak lands once instead of drifting across
  * copies.
  */
object ProfileHarness {

  def session(dir: String =
                sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
      : SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // mirror Bench: input-derived, not core-derived (graft.Sizing)
      .config("spark.sql.shuffle.partitions", Sizing.shufflePartitions(dir))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Warm each variant once on the warm dir, then `repeat` interleaved
    * passes over `dir` keeping per-variant minima; prints one
    * `LABEL name min=…` line per variant in declaration order.
    */
  def run(label: String, spark: SparkSession, dir: String,
          variants: Seq[(String, String => DataFrame)]): Unit = {
    // NaN on failure, NOT the elapsed time: a crashing variant's
    // near-zero elapsed must never win the per-variant min and land in
    // a SCALING.md table looking like a valid bench number (ADVICE r13)
    def runOne(fn: String => DataFrame, d: String): Double = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(d).write.mode("overwrite").format("noop").save(); true }
        catch { case e: Throwable => println(s"ERR ${e.getMessage}"); false }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      if (ok) dt else Double.NaN
    }
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    variants.foreach { case (_, fn) => runOne(fn, warmDir) }
    val repeat = sys.env.get("SPARK_GRAFT_BENCH_REPEAT")
      .map(_.toInt).getOrElse(3)
    val mins = collection.mutable.LinkedHashMap.empty[String, Double]
    (1 to repeat).foreach { _ =>
      variants.foreach { case (name, fn) =>
        val dt = runOne(fn, dir)
        // a NaN sample (variant threw) is skipped: min stays whatever
        // the valid passes produced, or NaN if every pass failed
        if (!dt.isNaN)
          mins(name) = mins.get(name).filterNot(_.isNaN)
            .fold(dt)(math.min(_, dt))
        else if (!mins.contains(name)) mins(name) = Double.NaN
      }
    }
    mins.foreach { case (name, v) =>
      println(f"$label $name%-22s min=$v%8.2f s")
    }
    spark.stop()
  }
}
