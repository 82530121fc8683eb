package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Source-drift detection over tumbling windows:
  *
  *  - [[DriftMath.step]] is the integer EWMA / EW-variance recurrence
  *    (quantized ×10⁴ means, α = 1/4 shift-divides, double-computed
  *    clamped squared deviation, 3σ alert after warm-up);
  *  - [[Drift.sourceDrift]] folds it in batch over the events table,
  *    and its DuckDB oracle replays the identical recurrence as a
  *    recursive CTE (`q_source_drift`), which makes the fold
  *    arithmetic hash-checked.
  *
  * Scale shape of the batch form: the per-event aggregation is a keyed
  * (source, window) shuffle with map-side partials — corpus-scale work
  * stays distributed. The sequential EWMA replay then runs per source
  * over that aggregate: windows-per-source is bounded by
  * time-horizon / window-size (8,760 rows per source-YEAR at hourly
  * windows), so the per-source collect_list is a small bounded array,
  * never corpus-scale state.
  */
object DriftMath {

  val Warmup = 3L

  /** Facts emitted for one closed window, with the UPDATED state. */
  case class Step(xq: Long, ddq: Long, ewma: Long, ewvar: Long,
                  alert: Boolean)

  /** Quantized window mean: floor(sum·10⁴ / n), through doubles —
    * exact below 2^53 and overflow-proof above it.
    */
  def xq(sum: Long, n: Long): Long =
    math.floor(sum.toDouble * 10000.0 / math.max(n, 1L).toDouble).toLong

  /** Fold one window's quantized mean into (ewma, ewvar, nWindows).
    * The squared deviation goes through doubles with a 9e17 clamp —
    * pure-Long d·d wraps negative for mean shifts beyond ~3e5 units,
    * which would suppress the alert on exactly the extreme drift this
    * exists to catch. The alert tests the PREVIOUS variance (the
    * baseline the new window is judged against).
    */
  def step(ewma: Long, ewvar: Long, nw: Long, x: Long,
           warmup: Long = Warmup): Step =
    if (nw == 0L) Step(x, 0L, x, 0L, alert = false)
    else {
      val d = (x - ewma).toDouble
      val dd = math.min(math.floor(d * d / 10000.0), 9.0e17).toLong
      val a = nw >= warmup && dd > 9L * ewvar + 1L
      Step(x, dd, ewma + math.floorDiv(x - ewma, 4L),
        ewvar + math.floorDiv(dd - ewvar, 4L), a)
    }
}

object Drift {

  /** Batch drift report: per source, hourly tumbling windows of the
    * mean (×100-quantized) event value, replayed through
    * [[DriftMath.step]] in window order. Returns one row per
    * (source, window) with the window mean, deviation, updated
    * EWMA/EW-variance, and the 3σ alert flag.
    */
  def sourceDrift(events: DataFrame, tsCol: String = "ts",
                  sourceCol: String = "event_type",
                  valueCol: String = "value"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val wins = events
      .filter(col(tsCol).isNotNull)
      .select(coalesce(col(sourceCol), lit("")).as("source"),
        date_trunc("hour", col(tsCol)).as("window_start"),
        coalesce(floor(col(valueCol) * 100).cast("long"), lit(0L)).as("vq"))
      .groupBy("source", "window_start")
      .agg(count(lit(1)).as("n"), sum("vq").as("sum_vq"))
    wins.groupBy("source")
      .agg(array_sort(collect_list(
        struct(col("window_start"), col("n"), col("sum_vq")))).as("ws"))
      .as[(String, Seq[(java.sql.Timestamp, Long, Long)])]
      .flatMap { case (src, ws) =>
        var ewma = 0L
        var ewvar = 0L
        var nw = 0L
        ws.map { case (t, n, s) =>
          val st = DriftMath.step(ewma, ewvar, nw, DriftMath.xq(s, n))
          ewma = st.ewma; ewvar = st.ewvar; nw += 1L
          (src, t, n, st.xq, st.ddq, st.ewma, st.ewvar, st.alert)
        }
      }
      .toDF("source", "window_start", "n", "x_q", "dd_q", "ewma_q",
        "ewvar_q", "alert")
  }
}
