package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Scratch: run q_triangles' computation once and print every executed
  * operator with its metrics, to find where the time goes. */
object TriProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession("graft-tri-probe")
    graft.SparkEntry.init(spark, sfDir)
    val edges = spark.table("events").select(
      pmod(col("user_id"), lit(300)).as("a"),
      pmod(col("user_id") * 7 + col("event_id"), lit(300)).as("b"))
    val df = graft.operators.Graphs.triangleCount(edges, "a", "b")
    val t0 = System.nanoTime()
    df.collect().foreach(println)
    println(f"collect took ${(System.nanoTime() - t0) / 1e9}%.2f s")
    def walk(p: org.apache.spark.sql.execution.SparkPlan, depth: Int): Unit = {
      val m = p.metrics.toSeq
        .map { case (k, v) => (v.name.getOrElse(k), v.value) }
        .filter { case (n, _) =>
          val l = n.toLowerCase
          l.contains("rows") || l.contains("time") || l.contains("bytes written") ||
            l.contains("data size") }
        .map { case (n, v) => s"$n=$v" }.mkString(", ")
      println("  " * depth + p.nodeName + "  [" + m + "]")
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan, depth + 1)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          println("  " * (depth + 1) + "(reused " + r.child.nodeName + ")")
        case _ => p.children.foreach(walk(_, depth + 1))
      }
      p.subqueries.foreach(walk(_, depth + 1))
    }
    walk(df.queryExecution.executedPlan, 0)
    spark.stop()
  }
}
