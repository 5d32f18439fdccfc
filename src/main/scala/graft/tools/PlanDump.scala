package graft.tools

import java.nio.file.{Files, Paths}

/** Optimization-round measurement aid: writes `.explain("formatted")`
  * for each declared SparkEntry query to `<outDir>/<name>_<tag>.txt`.
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <tag> [nameRegex]
  * The dump is PRE-execution (AQE initial plan) — it shows Exchange
  * placement, join strategy and scan pushdown, which is what the plan
  * audit needs; runtime re-optimizations are noted separately when they
  * matter. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val filter = args.lift(3)
    val spark = LocalSession("graft-plan-dump")
    Files.createDirectories(Paths.get(outDir))
    graft.SparkEntry.queries
      .filter { case (n, _) => filter.forall(f => n.matches(f)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), txt)
          println(s"[plandump] $name ok")
        } catch { case t: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${t.getMessage}")
        }
        graft.operators.Dedup.releaseCaches()
        graft.operators.Dedup.releaseResults()
      }
    spark.stop()
  }
}
