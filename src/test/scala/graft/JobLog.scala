package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** What the Spark jobs submitted inside one block did: each job's
  * description (in submission order), the shuffle bytes their tasks
  * wrote, and the shuffle records each stage that wrote any wrote
  * (`stageShuffleRecords`: the description of the first job that listed
  * the stage, and its records, in stage order). Only jobs carrying the
  * block's own marker property count, so work from other threads never
  * leaks in. */
final case class JobLog(descriptions: Seq[String], shuffleWriteBytes: Long,
                        stageShuffleRecords: Seq[(String, Long)])

object JobLog {
  private val MarkerKey = "graft.spec.jobLog"

  def during[T](sc: SparkContext)(f: => T): (T, JobLog) = {
    val marker = java.util.UUID.randomUUID().toString
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // stage id -> the description of the first job that listed it
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val stageRecords = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(p => p.getProperty(MarkerKey) == marker)) {
          val d = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
          descriptions.add(d)
          e.stageIds.foreach(stages.putIfAbsent(_, d))
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && stages.containsKey(e.stageId)) {
          val w = e.taskMetrics.shuffleWriteMetrics
          bytes.addAndGet(w.bytesWritten)
          if (w.recordsWritten > 0) stageRecords.merge(e.stageId, w.recordsWritten,
            (a: java.lang.Long, b: java.lang.Long) => java.lang.Long.valueOf(a + b))
        }
    }
    val prior = sc.getLocalProperty(MarkerKey)
    org.apache.spark.graft.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty(MarkerKey, marker)
    try {
      val out = f
      org.apache.spark.graft.ListenerBusDrain(sc)
      import scala.jdk.CollectionConverters._
      val perStage = stageRecords.asScala.toSeq.sortBy(_._1)
        .map { case (id, n) => (stages.get(id), n.longValue) }
      (out, JobLog(descriptions.asScala.toSeq, bytes.get(), perStage))
    } finally {
      sc.setLocalProperty(MarkerKey, prior)
      sc.removeSparkListener(listener)
    }
  }
}
