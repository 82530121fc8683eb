package graft

import scala.util.control.NonFatal

/** Dump `.explain("formatted")` for named SparkEntry queries to files —
  * the before/after plan artifacts under plans/. Runs on the shared
  * local session ([[Sizing.session]]: 4 cores unless SPARK_GRAFT_CPUS
  * says otherwise).
  *
  *   sbt 'Test/runMain graft.PlanDump <dir> <outDir> <suffix> q_a,q_b'
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args(3).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = Sizing.session(dir)
    new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      val txt = Persisted.owned {
        try fn(spark, dir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        catch { case NonFatal(e) => s"ERROR: ${e.getMessage}" }
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"dumped $n")
    }
    spark.stop()
  }
}
