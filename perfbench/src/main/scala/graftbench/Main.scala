package graftbench

import org.apache.spark.sql.SparkSession

import java.io.File

/** Benchmark entry point:
  *
  * {{{
  *   Main --workload <geo_serve|corpus_dedup|cdc_mixed> --seed <n>
  *        --seconds <s> --trace <0|1> [--inject drop_row|bad_lookup|spurious_pair]
  * }}}
  *
  * `--trace 0` prints the end-to-end metrics; `--trace 1` prints the
  * per-layer metrics and writes the run's spans to
  * `.bench_build/out/trace-<workload>-<seed>.json`. The last line of
  * standard output is always the result object; a wrong answer from the
  * program makes it `"correct": false` and the exit code 1. `--inject`
  * corrupts one program output before it is checked, to prove the
  * checker catches it. */
object Main {
  val SetupRounds = 3

  def main(argv: Array[String]): Unit = {
    val code =
      try run(Args.parse(argv))
      catch {
        case e: WrongAnswer =>
          System.err.println(s"WRONG ANSWER: ${e.getMessage}")
          println(Json.obj(Seq("correct" -> "false", "attempted" -> "1", "failed" -> "0",
            "metrics" -> "{}")))
          1
      }
    System.out.flush()
    // Spark leaves non-daemon threads behind; every session is stopped by now
    System.exit(code)
  }

  private def run(a: Args): Int = {
    val w = Workload(a.workload, a.seed)
    val work = new File(s".bench_build/work/${a.workload}-${a.seed}-${ProcessHandle.current().pid()}")
    Proc.deleteTree(work); work.mkdirs()
    try {
      val (_, genMs) = Clock.timed(w.generate(a.seed, work, full = true))
      System.err.println(f"perfbench: generated inputs in ${genMs / 1000}%.1f s")
      if (a.trace) traced(w, a, work) else untraced(w, a, work)
    } finally Proc.deleteTree(work)
  }

  private def setUp(w: Workload, work: File): (SparkSession, Double) = {
    val t0 = Clock.now()
    val spark = Session.start(work)
    w.setup(spark)
    (spark, Clock.ms(t0) / 1000.0)
  }

  private def untraced(w: Workload, a: Args, work: File): Int = {
    // set-up runs several times on fresh sessions; the median is reported
    val setups = (1 to SetupRounds).map { round =>
      val (spark, s) = setUp(w, work)
      if (round < SetupRounds) { w.teardown(); Session.stop(spark); (None, s) }
      else (Some(spark), s)
    }
    val spark = setups.last._1.get
    System.err.println(s"perfbench: set-up rounds ${setups.map(s => f"${s._2}%.2f").mkString(" ")} s")
    try {
      if (w.warmSeconds > 0) w.run(spark, w.warmSeconds, None, None)
      val (loop, loopMs) = Clock.timed(w.run(spark, a.seconds, None, a.inject))
      val (_, finishMs) = Clock.timed(w.finish(spark))
      System.err.println(f"perfbench: loop ${loopMs / 1000}%.1f s, final check ${finishMs / 1000}%.1f s")
      val lat = loop.latMs
      val rssMb = Proc.peakRssMb()
      val metrics = Seq(
        ("setup_s", Stats.median(setups.map(_._2)), "s"),
        ("p50_ms", Stats.median(lat), "ms"),
        ("tail_ms", Stats.quantile(lat, 0.9), "ms"),
        ("throughput", loop.units / loop.busyS, "1/s"),
        // the heap is fixed and pre-touched, so all of it is resident
        ("offheap_rss_mb", rssMb - Runtime.getRuntime.totalMemory / 1048576.0, "MB"))
      // the workload's own named metrics, one line above the result
      val detail = loop.detail :+ (("peak_rss_mb", rssMb, "MB"))
      println(Json.obj(Seq("workload" -> Json.str(w.name), "detail" -> metricsJson(detail))))
      println(result(loop.attempted, loop.failed, metrics))
      0
    } finally {
      val (_, stopMs) = Clock.timed { w.teardown(); Session.stop(spark) }
      System.err.println(f"perfbench: stop ${stopMs / 1000}%.1f s")
    }
  }

  private def traced(w: Workload, a: Args, work: File): Int = {
    val (spark, _) = setUp(w, work)
    val out = new LayerMetrics
    try {
      // untraced, traced, untraced windows over the same state: the traced
      // median against the untraced one is the tracing overhead
      val before = w.run(spark, a.seconds * 0.3, None, a.inject)
      val tracer = new Tracer(spark)
      val gc0 = gcMs()
      val loop = tracer.span(s"${w.name}.loop")(w.run(spark, a.seconds * 0.4, Some(tracer), a.inject))
      val gc = gcMs() - gc0
      val js = tracer.allJobStats()
      w.probe(spark, tracer, out)
      tracer.close()
      val after = w.run(spark, a.seconds * 0.3, None, a.inject)
      w.finish(spark)
      val attempted = before.attempted + loop.attempted + after.attempted
      val failed = before.failed + loop.failed + after.failed
      val ops = math.max(1, loop.latMs.size).toDouble
      val plainP50 = Stats.median(before.latMs ++ after.latMs)
      out.put("spark.jobs_per_op", js.jobs / ops, "count")
      out.put("spark.tasks_per_op", js.tasks / ops, "count")
      out.put("spark.spill_bytes", js.spill / ops, "B")
      out.put("spark.gc_ms", gc / ops, "ms")
      out.put("spark.executor_cpu_s", js.cpuNs / 1e9 / ops, "s")
      out.put("trace.overhead_pct", (Stats.median(loop.latMs) / plainP50 - 1.0) * 100.0, "%")
      w.teardown()
      // layers this workload bypasses: a short traced pass of the
      // workload that owns them, at reduced size, on the same session
      Workload.names.filterNot(_ == w.name).foreach { n =>
        val side = Workload(n, a.seed)
        val sideWork = new File(work, n); sideWork.mkdirs()
        side.generate(a.seed, sideWork, full = false)
        side.setup(spark)
        val t = new Tracer(spark)
        t.span(s"$n.loop")(side.run(spark, 2.0, Some(t), None))
        side.probe(spark, t, out)
        side.finish(spark)
        t.close()
        side.teardown()
      }
      tracer.write(new File(s".bench_build/out/trace-${w.name}-${a.seed}.json"),
        Seq("workload" -> Json.str(w.name), "seed" -> a.seed.toString,
          "untraced_p50_ms" -> Json.num(plainP50),
          "traced_p50_ms" -> Json.num(Stats.median(loop.latMs))),
        out.toSeq, out.samples.toMap)
      println(result(attempted, failed, out.toSeq))
      0
    } finally Session.stop(spark)
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  private def result(attempted: Long, failed: Long, metrics: Seq[(String, Double, String)]): String =
    Json.obj(Seq(
      "correct" -> "true",
      "attempted" -> math.max(1L, attempted).toString,
      "failed" -> failed.toString,
      "metrics" -> metricsJson(metrics)))

  private def metricsJson(metrics: Seq[(String, Double, String)]): String =
    Json.obj(metrics.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
}
