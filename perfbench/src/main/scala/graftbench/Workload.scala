package graftbench

import org.apache.spark.sql.SparkSession

import java.io.File

/** What one measured loop did. `latMs` holds the latency of every
  * completed primary operation (a query, a corpus pass, a commit);
  * throughput is `units` of work per `busyS` seconds. */
final case class Loop(latMs: Seq[Double], units: Double, busyS: Double,
                      attempted: Long, failed: Long,
                      detail: Seq[(String, Double, String)] = Nil)

/** One benchmark workload. The harness calls, in order: [[generate]]
  * (seeded inputs, untimed), then per set-up a fresh session and
  * [[setup]] (registration plus one untimed warm pass, timed as set-up),
  * then [[run]] for the measured window, [[probe]] for a traced run's
  * direct layer calls, and [[teardown]] before the session stops. */
trait Workload {
  def name: String
  def generate(seed: Long, work: File, full: Boolean): Unit
  def setup(spark: SparkSession): Unit
  def run(spark: SparkSession, seconds: Double, tracer: Option[Tracer],
          inject: Option[String]): Loop
  def probe(spark: SparkSession, tracer: Tracer, out: LayerMetrics): Unit
  /** Seconds of untimed loop run before the measured window of an
    * untraced run, after set-up. */
  def warmSeconds: Double = 0.0
  /** Final whole-state check after the last loop. */
  def finish(spark: SparkSession): Unit = ()
  def teardown(): Unit
}

object Workload {
  val names: Seq[String] = Seq("geo_serve", "corpus_dedup", "cdc_mixed")

  def apply(name: String, seed: Long): Workload = name match {
    case "geo_serve" => new GeoServe(seed)
    case "corpus_dedup" => new CorpusDedup(seed)
    case "cdc_mixed" => new CdcMixed(seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }
}

/** Seeded Zipf sampler over ranks 0 until n (rank 0 most frequent). */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sample(rng: java.util.SplittableRandom): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}
