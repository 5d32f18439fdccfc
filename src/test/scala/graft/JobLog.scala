package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** What the Spark jobs submitted inside one block did: each job's
  * description (in submission order) and the shuffle bytes its tasks
  * wrote. Only jobs carrying the block's own marker property count, so
  * work from other threads never leaks in. */
final case class JobLog(descriptions: Seq[String], shuffleWriteBytes: Long)

object JobLog {
  private val MarkerKey = "graft.spec.jobLog"

  def during[T](sc: SparkContext)(f: => T): (T, JobLog) = {
    val marker = java.util.UUID.randomUUID().toString
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(p => p.getProperty(MarkerKey) == marker)) {
          descriptions.add(props.flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse(""))
          e.stageIds.foreach(stages.add)
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && stages.contains(e.stageId))
          bytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    val prior = sc.getLocalProperty(MarkerKey)
    org.apache.spark.graft.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty(MarkerKey, marker)
    try {
      val out = f
      org.apache.spark.graft.ListenerBusDrain(sc)
      import scala.jdk.CollectionConverters._
      (out, JobLog(descriptions.asScala.toSeq, bytes.get()))
    } finally {
      sc.setLocalProperty(MarkerKey, prior)
      sc.removeSparkListener(listener)
    }
  }
}
