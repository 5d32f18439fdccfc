package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spark work attributed to one span name: summed over every job that
  * ran while a span of that name was innermost on the submitting thread. */
final class JobStats {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L
  var inputBytes = 0L; var outputBytes = 0L; var spill = 0L
  def +=(o: JobStats): Unit = synchronized {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    inputBytes += o.inputBytes; outputBytes += o.outputBytes; spill += o.spill
  }
  def toJson: String = Json.obj(Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "cpu_ms" -> cpuNs / 1000000L,
    "gc_ms" -> gcMs, "shuffle_write" -> shuffleWrite, "shuffle_read" -> shuffleRead,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes, "spill" -> spill)
    .map { case (k, v) => k -> v.toString })
}

/** In-memory span recorder for a traced run.
  *
  * A span is a named, timed call into one layer's public functions. While
  * it is open, the submitting thread carries the span name as a Spark
  * local property, so a [[SparkListener]] can attribute every job, stage
  * and task to it. A [[QueryExecutionListener]] hands each finished SQL
  * query's executed plan to the registered plan hooks. Nothing is written
  * until [[write]] at the end of the run. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1L)
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val byName = new ConcurrentHashMap[String, JobStats]()
  private val stageName = new ConcurrentHashMap[Int, String]()
  private val planHooks = new java.util.concurrent.CopyOnWriteArrayList[QueryExecution => Unit]()
  private val t0 = System.nanoTime()

  private def stats(name: String) = byName.computeIfAbsent(name, _ => new JobStats)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val name = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .getOrElse(Unattributed)
      e.stageIds.foreach(stageName.put(_, name))
      val s = stats(name)
      s.synchronized { s.jobs += 1; s.stages += e.stageIds.size }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stats(stageName.getOrDefault(e.stageId, Unattributed))
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.cpuNs += m.executorCpuTime; s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.inputBytes += m.inputMetrics.bytesRead
          s.outputBytes += m.outputMetrics.bytesWritten
          s.spill += m.diskBytesSpilled
        }
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planHooks.forEach(h => h(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Runs `f` as a span named `name` (`layer.operation`), a child of the
    * span open on this thread, if any. */
  def span[T](name: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    val id = nextId.getAndIncrement()
    val parent = open.get.headOption.getOrElse(0L)
    open.set(id :: open.get)
    sc.setLocalProperty(SpanKey, name)
    val start = System.nanoTime()
    try f finally {
      spans.add(Span(id, parent, name, start, System.nanoTime() - start))
      open.set(open.get.tail)
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  def onPlan(h: QueryExecution => Unit): Unit = planHooks.add(h)

  /** Waits until the listener bus has delivered everything posted so far. */
  def settle(): Unit = org.apache.spark.graftbench.ListenerBusAccess.drain(spark.sparkContext)

  /** Job statistics summed over the given span names. */
  def jobStats(names: String*): JobStats = {
    settle()
    val out = new JobStats
    names.foreach(n => Option(byName.get(n)).foreach(out += _))
    out
  }

  /** Job statistics over every span name, attributed or not. */
  def allJobStats(): JobStats = {
    settle()
    val out = new JobStats
    byName.values().forEach(out += _)
    out
  }

  def close(): Unit = {
    settle()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    planHooks.clear()
  }

  /** The trace file: every span, per-name job statistics and the
    * per-layer metrics derived from them. */
  def write(file: java.io.File, meta: Seq[(String, String)], metrics: Seq[(String, Double, String)],
            samples: Map[String, Seq[Double]]): Unit = {
    settle()
    val all = spans.asScala.toSeq.sortBy(_.startNs)
    // self time: a span's duration minus the part its children cover
    val childNs = all.groupMapReduce(_.parent)(_.durNs)(_ + _)
    val spanJson = all.map(s => Json.obj(Seq(
      "id" -> s.id.toString, "parent" -> s.parent.toString,
      "name" -> Json.str(s.name),
      "start_ms" -> Json.num((s.startNs - t0) / 1e6),
      "dur_ms" -> Json.num(s.durNs / 1e6),
      "self_ms" -> Json.num((s.durNs - childNs.getOrElse(s.id, 0L)) / 1e6))))
    val jobs = byName.asScala.toSeq.sortBy(_._1).map { case (n, s) => n -> s.toJson }
    val ms = metrics.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }
    val smp = samples.toSeq.sortBy(_._1).map { case (n, xs) => n -> Json.arr(xs.map(Json.num)) }
    Proc.write(file, Json.obj(meta ++ Seq(
      "metrics" -> Json.obj(ms),
      "samples" -> Json.obj(smp),
      "jobs_by_span" -> Json.obj(jobs),
      "spans" -> Json.arr(spanJson))) + "\n")
  }
}

/** One closed span; `parent` 0 means a root span. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, durNs: Long)

object Tracer {
  val SpanKey = "graftbench.span"
  val Unattributed = "unattributed"
}

/** Walks an executed physical plan, through adaptive query stages. */
object PlanWalk {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case other => other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
  }

  def exchanges(p: SparkPlan): Int = nodes(p).count {
    case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
    case _ => false
  }

  def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)

  /** First node at or below `p`, following first children through
    * projections and codegen wrappers, that counts its output rows. */
  def counted(p: SparkPlan): Option[SparkPlan] = unwrap(p) match {
    case c: org.apache.spark.sql.execution.ColumnarToRowExec => counted(c.child)
    case q if rows(q) >= 0 => Some(q)
    case q => q.children.headOption.flatMap(counted)
  }

  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case s: QueryStageExec => s.plan
    case other => other
  }

  /** (rows kept by filters sitting directly on a source scan, rows those
    * scans produced) — the residual filter's keep ratio. */
  def scanKeep(p: SparkPlan): (Long, Long) = {
    var kept = 0L; var scanned = 0L
    nodes(p).foreach {
      case f: FilterExec =>
        counted(unwrap(f.child)).collect { case s: DataSourceV2ScanExecBase => s }.foreach { s =>
          kept += rows(f); scanned += rows(s)
        }
      case _ =>
    }
    (kept, scanned)
  }

  /** Rows every source scan in the plan produced. */
  def scanRows(p: SparkPlan): Long = nodes(p).collect {
    case s: DataSourceV2ScanExecBase => math.max(0L, rows(s))
  }.sum

  /** (rows out of the filter whose condition mentions `fn`, rows into it). */
  def filterKeep(p: SparkPlan, fn: String): Option[(Long, Long)] =
    nodes(p).collectFirst {
      case f: FilterExec if f.condition.toString.toLowerCase.contains(fn) =>
        (rows(f), counted(unwrap(f.child)).map(rows).getOrElse(-1L))
    }
}

/** Per-layer metric sink: name → (value, unit), in insertion order. */
final class LayerMetrics {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
  val samples: mutable.Map[String, Seq[Double]] = mutable.LinkedHashMap.empty
  def put(name: String, value: Double, unit: String): Unit = m(name) = (value, unit)
  def sample(name: String, xs: Seq[Double]): Unit = samples(name) = xs
  def toSeq: Seq[(String, Double, String)] = m.toSeq.map { case (k, (v, u)) => (k, v, u) }
}
