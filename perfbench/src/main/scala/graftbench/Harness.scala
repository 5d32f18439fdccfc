package graftbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.file.{Files, Path}

/** A wrong answer from the program under test. It aborts the run: the
  * result line then says `"correct": false` and the process exits 1. */
final class WrongAnswer(msg: String) extends RuntimeException(msg)

object Check {
  def that(cond: Boolean, what: => String): Unit =
    if (!cond) throw new WrongAnswer(what)
}

/** Command-line arguments shared by every workload. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      inject: Option[String])

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", kv.get("inject"))
  }
}

/** Order statistics over latency samples (linear interpolation between
  * closest ranks, the numpy default). */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Wall-clock helpers. */
object Clock {
  def now(): Long = System.nanoTime()
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  def timed[T](f: => T): (T, Double) = { val t0 = now(); val r = f; (r, ms(t0)) }
}

/** The engine every workload runs on: one local Spark session with one
  * executor thread per core, configured the way `graft.Bench` configures
  * its session (shuffle width = cores, AQE on, UTC). Scratch
  * files stay under the run's work directory. */
object Session {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  def start(work: File): SparkSession = {
    val tmp = new File(work, "spark-local"); tmp.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.catalogImplementation", "in-memory")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(new File(work, "checkpoints").getAbsolutePath)
    graft.Graft.register(spark)
    spark
  }

  def stop(spark: SparkSession): Unit = {
    graft.operators.Dedup.releaseResults(blocking = true)
    graft.operators.Dedup.releaseCaches(blocking = true)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

object Proc {
  /** Peak resident set size of this process (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Bytes of every regular file under `dir`. */
  def treeBytes(dir: File): Long =
    if (!dir.exists()) 0L
    else {
      val s = Files.walk(dir.toPath)
      try s.filter(p => Files.isRegularFile(p)).mapToLong(p => Files.size(p)).sum()
      finally s.close()
    }

  /** Regular files under `dir` with their sizes, keyed by path. */
  def files(dir: File): Map[Path, Long] =
    if (!dir.exists()) Map.empty
    else {
      val s = Files.walk(dir.toPath)
      try {
        val it = s.iterator()
        val b = Map.newBuilder[Path, Long]
        while (it.hasNext) { val p = it.next(); if (Files.isRegularFile(p)) b += p -> Files.size(p) }
        b.result()
      } finally s.close()
    }

  def deleteTree(f: File): Unit = if (f.exists()) {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def write(f: File, text: String): Unit = {
    f.getParentFile.mkdirs()
    Files.writeString(f.toPath, text)
  }
}

/** JSON text for the result line and the trace file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
