package graft

import org.apache.spark.sql.SparkSession

/** Input-size-derived session sizing (guide §2.2/§2.3: shuffle
  * partitioning should follow the data, and AQE's coalescing — not a
  * constant pinned to the local core count — is the mechanism that
  * right-sizes small shuffles at runtime).
  *
  * The r14 scaling audit showed `shuffle.partitions = $SPARK_GRAFT_CPUS`
  * gave the driver no usable parallelism signal: the 8-core suite beat
  * the 32-core suite because 32 cores meant 4× the reduce tasks for the
  * same tiny data — the task-count, not the compute, scaled with cores.
  * Deriving the partition count from the input makes the task count
  * identical at every core count, so an 8→32-core ratio finally
  * measures parallel compute (or honestly reads ≈1 where fixed
  * overheads dominate — see SCALING.md for the measured threshold).
  *
  * The formula: one reduce partition per 512 KB of on-disk parquet,
  * floor 8, cap 4096. Compressed parquet text expands ~10–30× into the
  * exploded token/gram shuffles that dominate this engine, so 512 KB of
  * input ≈ 5–15 MB of pre-AQE shuffle per partition; AQE (on by
  * default) coalesces the small ones at runtime. The cap bounds
  * scheduler pressure in local mode; at cluster scale the right initial
  * number is cluster-shaped, so it is an env knob
  * (`SPARK_GRAFT_SHUFFLE_PARTS`), not something this local default
  * tries to guess — the point of the default is to be DATA-derived, not
  * core-derived, at the scales the bench actually runs.
  */
object Sizing {

  private val BytesPerPartition = 512L << 10
  private val Floor = 8
  private val Cap = 4096

  /** Recursive byte size of a directory (0 when missing/unreadable). */
  private def sizeOf(f: java.io.File): Long =
    if (f.isFile) f.length()
    else if (f.isDirectory)
      Option(f.listFiles()).map(_.map(sizeOf).sum).getOrElse(0L)
    else 0L

  /** Shuffle-partition default for a run over `dir`:
    * `SPARK_GRAFT_SHUFFLE_PARTS` if set, else
    * clamp(dirBytes / 512 KB + 1, 8, 4096). Deliberately independent of
    * the core count.
    */
  def shufflePartitions(dir: String): Int =
    envPositiveInt("SPARK_GRAFT_SHUFFLE_PARTS").getOrElse {
      val bytes = sizeOf(new java.io.File(dir))
      math.min(Cap.toLong, math.max(Floor.toLong,
        bytes / BytesPerPartition + 1)).toInt
    }

  /** The local session every entry point runs on: `local[$SPARK_GRAFT_CPUS]`
    * (default 4 cores), the input-derived shuffle-partition count for
    * `dataDir`, UTC session time, no UI and WARN logging. A change to
    * the session conf lands here once for Bench, Verify, Orchestrator
    * and PlanDump.
    */
  def session(dataDir: String): SparkSession = {
    val cpus = envPositiveInt("SPARK_GRAFT_CPUS").getOrElse(4)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions(dataDir))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The environment variable `name` as a positive integer, `None` when
    * unset. A malformed, zero or negative value fails here, naming the
    * variable, instead of as a bare NumberFormatException, a Spark
    * master-URL or conf error far from its cause, or a silent clamp.
    */
  private[graft] def envPositiveInt(name: String): Option[Int] =
    sys.env.get(name).map(positiveInt(name, _))

  /** `value` of the variable `name` as a positive integer, or an
    * IllegalArgumentException naming the variable.
    */
  private[graft] def positiveInt(name: String, value: String): Int =
    value.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"$name must be a positive integer, got '$value'"))
}
