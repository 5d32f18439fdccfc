package graftbench

import graft.streaming.{MatView, UpsertSink}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `cdc_mixed`: writes next to reads on one change-data-capture store,
  * single client, closed loop. After an initial load, each commit is
  * `UpsertSink.applyBatch` (bucketed, `sortBy`, key bloom filter) of a
  * seeded change batch (60% updates, 25% inserts, 15% deletes, Zipf-skewed
  * keys) followed by `MatView.applyDelta` over that version's pre-image
  * changefeed. Point lookups through `readSnapshotKeys` (hot, cold and
  * absent keys) follow every commit; a `readSnapshotAt` time-travel read
  * runs every few commits and `compactSnapshot` + `vacuum` every few more.
  * An in-memory model of the store and the view checks every read, the
  * view after every commit, and the whole snapshot at the end. */
final class CdcMixed(seed: Long) extends Workload {
  import CdcMixed._

  val name = "cdc_mixed"
  private var initialRows: Int = 0
  private var initialPath: File = _
  private var work: File = _
  private var store: String = _
  private var view: String = _
  private var setupRound = 0

  // the model: key → (grp, amount, note), plus undo logs for time travel
  private val model = mutable.HashMap.empty[Long, (String, Long, String)]
  private val undo = mutable.LinkedHashMap.empty[Long, Seq[(Long, Option[(String, Long, String)])]]
  private var version = 0L
  private var nextKey = 0L
  private var readableFrom = 0L
  private var rng: java.util.SplittableRandom = _

  // counters for the derived metrics
  private var userBytes = 0L
  private var storeBytesWritten = 0L
  private var spaceAmp = Double.NaN
  private val commitStats = mutable.ArrayBuffer.empty[CommitStats]
  private val lookupMs = mutable.ArrayBuffer.empty[Double]
  private val compactMs = mutable.ArrayBuffer.empty[Double]
  private var compactBytes = 0L
  private val travelMs = mutable.ArrayBuffer.empty[Double]

  // ------------------------------------------------------------ generation

  def generate(seed0: Long, work0: File, full0: Boolean): Unit = {
    work = work0
    initialRows = if (full0) InitialRows else InitialRows / 10
    val g = new java.util.SplittableRandom(seed0 * 15485863L + 5L)
    initialPath = new File(work, "initial")
    val parts = Session.cores
    val per = (initialRows + parts - 1) / parts
    (0 until parts).foreach { p =>
      val sb = new StringBuilder
      (p * per until math.min(initialRows, (p + 1) * per)).foreach { k =>
        val (grp, amount, note) = payload(g)
        sb.append(k).append(',').append(grp).append(',').append(amount).append(',').append(note).append('\n')
      }
      Proc.write(new File(initialPath, f"part$p%02d.csv"), sb.toString)
    }
  }

  private def payload(g: java.util.SplittableRandom): (String, Long, String) = {
    val note = new String(Array.fill(24 + g.nextInt(24))(('a' + g.nextInt(26)).toChar))
    (s"g${g.nextInt(Groups)}", g.nextInt(100000).toLong, note)
  }

  // ------------------------------------------------------------ set-up

  def setup(spark: SparkSession): Unit = {
    setupRound += 1
    store = new File(work, s"store-$setupRound").getAbsolutePath
    view = new File(work, s"view-$setupRound").getAbsolutePath
    model.clear(); undo.clear()
    val initial = spark.read.schema("key BIGINT, grp STRING, amount BIGINT, note STRING")
      .csv(initialPath.getAbsolutePath)
      .select(col("key"), org.apache.spark.sql.functions.lit(0L).as("seq"),
        org.apache.spark.sql.functions.lit("U").as("op"), col("grp"), col("amount"), col("note"))
    applyStore(spark, initial, 0L)
    applyView(spark, -1L, 0L)
    version = 0L; readableFrom = 0L; nextKey = initialRows.toLong
    // the model mirrors the initial load from the same file
    initialPath.listFiles().filter(_.getName.endsWith(".csv")).sorted.foreach { f =>
      scala.io.Source.fromFile(f).getLines().foreach { l =>
        val a = l.split(',')
        model(a(0).toLong) = (a(1), a(2).toLong, a(3))
      }
    }
    rng = new java.util.SplittableRandom(seed * 7L + 17L)
    // the initial load and view above are the warm pass through the write
    // path; one lookup warms the read path
    UpsertSink.readSnapshotKeys(spark, store, Seq(0L)).collect()
  }

  def teardown(): Unit = ()

  private def applyStore(spark: SparkSession, changes: DataFrame, batch: Long): Boolean =
    UpsertSink.applyBatch(spark, store, "key", "seq", "op", Payload, Buckets,
      sortBy = Seq("grp"), bloomFilterKey = true)(changes, batch)

  private def applyView(spark: SparkSession, from: Long, to: Long): Boolean = {
    val feed = UpsertSink.readChanges(spark, store, from, to, preImages = true)
    MatView.applyDelta(spark, view, "grp", Seq("amount"), ViewBuckets)(feed, to)
  }

  // ------------------------------------------------------------ one commit


  private def span[T](tracer: Option[Tracer], name: String)(f: => T): T =
    tracer.map(_.span(name)(f)).getOrElse(f)

  private val keyZipf = new Zipf(1 << 16, 1.1)

  /** A seeded change batch over distinct keys, as user rows. */
  private def nextBatch(): Seq[(Long, String, Option[(String, Long, String)])] = {
    val seen = mutable.HashSet.empty[Long]
    val out = mutable.ArrayBuffer.empty[(Long, String, Option[(String, Long, String)])]
    while (out.size < BatchSize) {
      val u = rng.nextDouble()
      if (u < 0.25) { out += ((nextKey, "U", Some(payload(rng)))); seen += nextKey; nextKey += 1 }
      else {
        // Zipf over a fixed scatter of the key space, so hot keys recur
        val k = (keyZipf.sample(rng).toLong * 7919L) % math.max(1L, nextKey)
        if (seen.add(k)) out += (if (u < 0.85) (k, "U", Some(payload(rng))) else (k, "D", None))
      }
    }
    out.toSeq
  }

  private def commitCycle(spark: SparkSession, tracer: Option[Tracer], inject: Option[String],
                          record: Boolean): Double = {
    val batch = nextBatch()
    val id = version + 1
    val rows = batch.zipWithIndex.map { case ((k, op, p), i) =>
      Row(k, id * 1000000L + i, op, p.map(_._1).orNull, p.map(x => Long.box(x._2)).orNull, p.map(_._3).orNull)
    }
    val df = spark.createDataFrame(rows.asJava, ChangeSchema)
    val before = Proc.files(new File(store))
    val m0 = UpsertSink.readManifest(store).map(_.buckets).getOrElse(Map.empty)
    val t0 = Clock.now()
    val (applied, applyMs) = Clock.timed(span(tracer, "cdc.apply")(applyStore(spark, df, id)))
    val (_, viewMs) = Clock.timed(span(tracer, "cdc.matview")(applyView(spark, version, id)))
    val ms = Clock.ms(t0)
    Check.that(applied, s"applyBatch skipped batch $id")
    // model
    undo(id) = batch.map { case (k, _, _) => k -> model.get(k) }
    batch.foreach { case (k, op, p) => if (op == "D") model.remove(k) else model(k) = p.get }
    version = id
    val written = newBytes(before)
    val m1 = UpsertSink.readManifest(store).map(_.buckets).getOrElse(Map.empty)
    val rewritten = (m0.keySet ++ m1.keySet).count(b => m0.get(b) != m1.get(b))
    if (record) {
      userBytes += rows.map(r => rowJson(r).length.toLong).sum
      storeBytesWritten += written
      commitStats += CommitStats(ms, applyMs, viewMs, written, rewritten)
    }
    checkView(spark)
    lookups(spark, tracer, inject, record)
    ms
  }

  private def newBytes(before: Map[java.nio.file.Path, Long]): Long =
    Proc.files(new File(store)).collect { case (p, s) if !before.get(p).contains(s) => s }.sum

  private def rowJson(r: Row): String =
    s"""{"key":${r.get(0)},"seq":${r.get(1)},"op":"${r.get(2)}","grp":${Option(r.get(3)).map(v => s"\"$v\"").getOrElse("null")},""" +
      s""""amount":${Option(r.get(4)).getOrElse("null")},"note":${Option(r.get(5)).map(v => s"\"$v\"").getOrElse("null")}}"""

  private def liveJson(k: Long, v: (String, Long, String)): Long =
    s"""{"key":$k,"grp":"${v._1}","amount":${v._2},"note":"${v._3}"}""".length.toLong

  // ------------------------------------------------------------ reads

  private var injected = false

  private def lookups(spark: SparkSession, tracer: Option[Tracer], inject: Option[String],
                      record: Boolean): Unit = {
    val keys = (0 until LookupsPerCommit).map { i =>
      i % 4 match {
        case 0 | 1 => (keyZipf.sample(rng).toLong * 7919L) % nextKey // hot
        case 2 => (rng.nextDouble() * nextKey).toLong              // cold
        case _ => -1L - rng.nextInt(1000000)                       // absent
      }
    }
    keys.foreach { k =>
      val (rows, ms) = Clock.timed(span(tracer, "cdc.lookup")(UpsertSink.readSnapshotKeys(spark, store, Seq(k)).collect()))
      if (record) lookupMs += ms
      var got = rows.map(r => (r.getAs[Long]("key"), (r.getAs[String]("grp"), r.getAs[Long]("amount"), r.getAs[String]("note")))).toSeq
      if (inject.contains("bad_lookup") && !injected && got.nonEmpty) {
        injected = true
        got = got.map { case (kk, (g, a, n)) => (kk, (g, a + 1, n)) }
      }
      val want = model.get(k).map(k -> _).toSeq
      Check.that(got == want, s"lookup($k) returned $got, model has $want")
    }
  }

  private def checkView(spark: SparkSession): Unit = {
    val got = MatView.readView(spark, view).collect()
      .map(r => r.getAs[String]("grp") -> (r.getAs[Long]("cnt"), r.getAs[Long]("amount"))).toMap
    val want = model.values.groupMapReduce(_._1)(v => (1L, v._2)) { case ((a, b), (c, d)) => (a + c, b + d) }
    Check.that(got == want, s"materialized view differs from the model in " +
      s"${(want.keySet ++ got.keySet).count(g => got.get(g) != want.get(g))} groups")
  }

  private def timeTravel(spark: SparkSession, tracer: Option[Tracer]): Double = {
    val at = math.max(readableFrom, version - 2)
    // model at `at`: undo every later commit, newest first
    val later = undo.toSeq.filter(_._1 > at).sortBy(-_._1)
    val past = mutable.HashMap.empty[Long, Option[(String, Long, String)]]
    later.foreach { case (_, changes) => changes.foreach { case (k, prior) => past(k) = prior } }
    val touched = past.keys.toSeq
    val sample = touched.take(200) ++ (0 until 50).map(_ => (rng.nextDouble() * nextKey).toLong)
    val pastSize = model.size + past.count { case (k, prior) =>
      prior.isDefined } - past.keys.count(model.contains)
    val ((n, rows), ms) = Clock.timed(span(tracer, "cdc.time_travel") {
      val snap = UpsertSink.readSnapshotAt(spark, store, at)
      (snap.count(), snap.where(col("key").isin(sample.distinct: _*)).collect())
    })
    Check.that(n == pastSize, s"readSnapshotAt($at) has $n rows, model had $pastSize")
    val got = rows.map(r => r.getAs[Long]("key") -> (r.getAs[String]("grp"), r.getAs[Long]("amount"), r.getAs[String]("note"))).toMap
    sample.distinct.foreach { k =>
      val want = past.getOrElse(k, model.get(k))
      Check.that(got.get(k) == want, s"readSnapshotAt($at) key $k = ${got.get(k)}, model had $want")
    }
    ms
  }

  private def compact(spark: SparkSession, tracer: Option[Tracer]): Double = {
    val before = Proc.files(new File(store))
    val (stats, ms) = Clock.timed(span(tracer, "cdc.compact") {
      val s = UpsertSink.compactSnapshot(spark, store)
      UpsertSink.vacuum(store)
      s
    })
    compactBytes += stats.bytes
    storeBytesWritten += newBytes(before)
    readableFrom = version
    undo.clear()
    spaceAmp = Proc.treeBytes(new File(store)).toDouble / model.iterator.map { case (k, v) => liveJson(k, v) }.sum
    ms
  }

  // ------------------------------------------------------------ loop

  def run(spark: SparkSession, seconds: Double, tracer: Option[Tracer],
          inject: Option[String]): Loop = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val lat = mutable.ArrayBuffer.empty[Double]
    // every derived metric covers this window only
    userBytes = 0L; storeBytesWritten = 0L; compactBytes = 0L
    commitStats.clear(); lookupMs.clear(); compactMs.clear(); travelMs.clear()
    var commits = 0
    while (commits < 2 || System.nanoTime() < deadline) {
      lat += commitCycle(spark, tracer, inject, record = true)
      commits += 1
      if (commits % TravelEvery == 0) travelMs += timeTravel(spark, tracer)
      if (commits % CompactEvery == 0) compactMs += compact(spark, tracer)
    }
    val ls = lookupMs.toSeq
    val ops = commits.toLong * (1 + LookupsPerCommit)
    // throughput divides by the time spent in the store's calls, not in the
    // model checks between them
    val busyS = (lat.sum + ls.sum + travelMs.sum + compactMs.sum) / 1000.0
    Loop(lat.toSeq, commits.toDouble * BatchSize, busyS, ops, 0, Seq(
      ("commit_p50_ms", Stats.median(lat.toSeq), "ms"), ("commit_p90_ms", Stats.quantile(lat.toSeq, 0.9), "ms"),
      ("lookup_p50_ms", Stats.median(ls), "ms"), ("lookup_p95_ms", Stats.quantile(ls, 0.95), "ms"),
      ("time_travel_p50_ms", if (travelMs.isEmpty) Double.NaN else Stats.median(travelMs.toSeq), "ms"),
      ("write_amp", storeBytesWritten.toDouble / math.max(1L, userBytes), "ratio"),
      ("space_amp", spaceAmp, "ratio"),
      ("apply_p50_ms", Stats.median(commitStats.map(_.applyMs).toSeq), "ms"),
      ("matview_p50_ms", Stats.median(commitStats.map(_.viewMs).toSeq), "ms"),
      ("ops", ops.toDouble, "count"),
      ("failed_frac", 0.0, "ratio")))
  }

  override def finish(spark: SparkSession): Unit = {
    val snap = UpsertSink.readSnapshot(spark, store).collect()
    val got = snap.map(r => r.getAs[Long]("key") -> (r.getAs[String]("grp"), r.getAs[Long]("amount"), r.getAs[String]("note")))
    Check.that(got.length == model.size, s"final snapshot has ${got.length} rows, model ${model.size}")
    Check.that(got.toMap == model, "final snapshot differs from the model")
    checkView(spark)
  }

  // ------------------------------------------------------------ layer probes

  def probe(spark: SparkSession, tracer: Tracer, out: LayerMetrics): Unit = {
    if (compactMs.isEmpty) compactMs += compact(spark, Some(tracer))
    val n = math.max(1, commitStats.size).toDouble
    val applyMs = commitStats.map(_.applyMs).toSeq
    out.put("cdc.apply_ms", Stats.median(applyMs), "ms"); out.sample("cdc.apply_ms", applyMs)
    val a = tracer.jobStats("cdc.apply")
    out.put("cdc.apply_jobs", a.jobs / n, "count")
    out.put("cdc.apply_tasks", a.tasks / n, "count")
    out.put("cdc.apply_shuffle_bytes", a.shuffleWrite / n, "B")
    out.put("cdc.buckets_rewritten", Stats.mean(commitStats.map(_.bucketsRewritten.toDouble).toSeq), "count")
    out.put("cdc.bytes_written", Stats.mean(commitStats.map(_.bytesWritten.toDouble).toSeq), "B")
    out.put("cdc.compact_ms", Stats.median(compactMs.toSeq), "ms"); out.sample("cdc.compact_ms", compactMs.toSeq)
    out.put("cdc.compact_bytes_rewritten", compactBytes.toDouble / compactMs.size, "B")
    val viewMs = commitStats.map(_.viewMs).toSeq
    out.put("cdc.matview_ms", Stats.median(viewMs), "ms"); out.sample("cdc.matview_ms", viewMs)
    out.put("cdc.matview_jobs", tracer.jobStats("cdc.matview").jobs / n, "count")
    val nl = math.max(1, lookupMs.size).toDouble
    out.put("cdc.lookup_ms", Stats.median(lookupMs.toSeq), "ms"); out.sample("cdc.lookup_ms", lookupMs.toSeq)
    val l = tracer.jobStats("cdc.lookup")
    out.put("cdc.lookup_bytes_read", l.inputBytes / nl, "B")
    out.put("cdc.lookup_jobs", l.jobs / nl, "count")
  }
}

object CdcMixed {
  final case class CommitStats(ms: Double, applyMs: Double, viewMs: Double,
                               bytesWritten: Long, bucketsRewritten: Int)

  val InitialRows = 10000
  val BatchSize = 2000
  val Groups = 50
  val Buckets = 8
  val ViewBuckets = 4
  val LookupsPerCommit = 4
  val TravelEvery = 3
  val CompactEvery = 2
  val Payload = Seq("grp", "amount", "note")
  val ChangeSchema: StructType = StructType(Seq(
    StructField("key", LongType, nullable = false), StructField("seq", LongType, nullable = false),
    StructField("op", StringType, nullable = false), StructField("grp", StringType),
    StructField("amount", LongType), StructField("note", StringType)))
}
