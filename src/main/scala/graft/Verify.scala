package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

import graft.sources.Sinks
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Optional name filter for iteration (comma-separated); the graded
    // driver run leaves it unset and dumps everything.
    val selected = SparkEntry.selected("SPARK_GRAFT_VERIFY_ONLY")
    // the same session as Bench (graft.Sizing), so the oracle verifies
    // results under the benched plan shape
    val spark = Sizing.session(sfDir)
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      Persisted.owned {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Sinks.jsonString(k)}: ${Sinks.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
