package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Scratch: job-level timing of the sink gates — how much of each gate
  * is Spark jobs vs driver/FS gaps. */
object SinkProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession("graft-sink-probe")
    graft.SparkEntry.init(spark, sfDir)
    spark.sql("SELECT count(*) FROM lineitem").collect()

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val d = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        starts.put(js.jobId, (System.nanoTime(), d))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, d) =>
          lines.add(f"job ${je.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%7.3f s  $d")
        }
      }
    })

    // warm one pass so codegen/classes are loaded, then time the 2nd
    val gateName = args.headOption.getOrElse("q_upsert_stream_parity")
    def gate(): Unit = {
      val fn = graft.SparkEntry.queries(gateName)
      val df = fn(spark, sfDir)
      df.queryExecution.toRdd.foreach(_ => ())
      graft.operators.Dedup.releaseCaches(blocking = true)
      graft.operators.Dedup.releaseResults(blocking = true)
    }
    gate()
    lines.clear()
    val t0 = System.nanoTime()
    gate()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500)
    import scala.jdk.CollectionConverters._
    lines.asScala.foreach(println)
    println(f"gate wall: $wall%.3f s, job count: ${lines.size}")
    spark.stop()
  }
}
