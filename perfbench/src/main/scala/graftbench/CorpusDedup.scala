package graftbench

import graft.operators.{Dedup, Graphs}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import scala.collection.mutable

/** `corpus_dedup`: the batch corpus pipeline with one client. A pass runs
  * `Dedup.minhashPairs` → `Dedup.clusters` (default arguments) over a
  * seeded corpus with planted near-duplicate clusters, then
  * `Graphs.pageRank` and `Graphs.labelPropagation` over the documents'
  * power-law link graph. Every pass is checked in plain Scala: exact
  * shingle Jaccard for each reported pair, recall of the planted
  * duplicates, clusters equal to the connected components of the pairs
  * (and identical across passes), and reference PageRank and label
  * propagation. */
final class CorpusDedup(seed: Long) extends Workload {
  import CorpusDedup._

  val name = "corpus_dedup"
  // passes keep getting faster for several passes after set-up's warm pass
  override val warmSeconds = 8.0
  private var docs: Array[String] = _
  private var edges: Array[(Long, Long)] = _
  private var planted: Array[(Long, Long)] = _ // near-dup pairs at or above the threshold
  private var docsPath: File = _
  private var edgesPath: File = _
  private var docsDf: DataFrame = _
  private var edgesDf: DataFrame = _
  private var prRef: Map[String, Double] = _
  private var lpRef: Map[String, String] = _
  private var clusterHash: Option[Long] = None

  // ------------------------------------------------------------ generation

  def generate(seed0: Long, work: File, full: Boolean): Unit = {
    val n = if (full) FullDocs else FullDocs / 8
    val rng = new java.util.SplittableRandom(seed0 * 104729L + 3L)
    val vocab = Array.tabulate(Vocab)(i => word(i, rng))
    val zipf = new Zipf(Vocab, 1.05)
    // 15-35 words per document
    def fresh(): Array[String] = Array.fill(15 + rng.nextInt(21))(vocab(zipf.sample(rng)))
    val texts = new Array[Array[String]](n)
    var next = 0
    val clusterMembers = mutable.ArrayBuffer.empty[Array[Int]]
    // planted clusters first, each a base text and its edited copies; the
    // sizes are the Zipf quantiles, so every seed plants the same shape
    clusterSizes(n).foreach { size =>
      val base = fresh()
      val members = Array.tabulate(math.max(size, 1)) { j =>
        val t = if (j == 0) base else edit(base, 0.05 + rng.nextDouble() * 0.10, vocab, zipf, rng)
        texts(next) = t; next += 1
        next - 1
      }
      clusterMembers += members
    }
    while (next < n) { texts(next) = fresh(); next += 1 }
    // ids are a seeded permutation so clusters are not contiguous id ranges
    val ids = shuffled(n, rng).map(_.toLong + 1000L)
    docs = texts.map(_.mkString(" "))
    val idOf = ids
    planted = clusterMembers.toArray.flatMap { ms =>
      val sh = ms.map(i => shingles(docs(i)))
      for (a <- ms.indices; b <- a + 1 until ms.length if jaccard(sh(a), sh(b)) >= Threshold)
        yield (math.min(idOf(ms(a)), idOf(ms(b))), math.max(idOf(ms(a)), idOf(ms(b))))
    }
    // power-law link graph: preferential targets, Zipf out-degrees
    val degZipf = new Zipf(20, 1.5)
    val target = new Zipf(n, 0.9)
    val es = mutable.LinkedHashSet.empty[(Long, Long)]
    var i = 0
    while (i < n) {
      val d = 1 + degZipf.sample(rng)
      var j = 0
      while (j < d) {
        val t = target.sample(rng)
        if (t != i) es += ((ids(i), ids(t)))
        j += 1
      }
      i += 1
    }
    edges = es.toArray
    docsPath = new File(work, "docs"); edgesPath = new File(work, "edges")
    val parts = Session.cores
    val rows = ids.indices.map(k => s"""{"id":${ids(k)},"text":${Json.str(docs(k))}}""")
    rows.grouped((rows.size + parts - 1) / parts).zipWithIndex.foreach { case (c, p) =>
      Proc.write(new File(docsPath, f"part$p%02d.json"), c.mkString("", "\n", "\n"))
    }
    edges.grouped((edges.length + parts - 1) / parts).zipWithIndex.foreach { case (c, p) =>
      Proc.write(new File(edgesPath, f"part$p%02d.csv"), c.map { case (s, d) => s"$s,$d" }.mkString("", "\n", "\n"))
    }
    docIds = ids
    prRef = pageRankRef(edges, PageRankIterations, 0.85)
    lpRef = labelPropRef(edges, LabelRounds)
  }

  private var docIds: Array[Long] = _

  private def readDocs(spark: SparkSession, dir: File): DataFrame =
    spark.read.schema("id BIGINT, text STRING").json(dir.getAbsolutePath)

  // ------------------------------------------------------------ set-up

  def setup(spark: SparkSession): Unit = {
    docsDf = readDocs(spark, docsPath)
    edgesDf = spark.read.schema("src BIGINT, dst BIGINT").csv(edgesPath.getAbsolutePath)
    // warm pass: one full pass, unchecked; passes keep getting faster for
    // several rounds as the JIT catches up, and a slice did not cover it
    val pairs = Dedup.minhashPairs(docsDf, "id", "text")
    pairs.collect()
    Dedup.clusters(pairs).collect()
    Graphs.pageRank(edgesDf, "src", "dst", iterations = PageRankIterations).collect()
    Graphs.labelPropagation(edgesDf, "src", "dst", LabelRounds).collect()
    Dedup.releaseResults(blocking = true); Dedup.releaseCaches(blocking = true)
  }

  def teardown(): Unit = ()

  // ------------------------------------------------------------ loop

  private def span[T](tracer: Option[Tracer], name: String)(f: => T): T =
    tracer.map(_.span(name)(f)).getOrElse(f)

  private def pass(tracer: Option[Tracer], inject: Boolean): PassStats = {
    val pairs = Dedup.minhashPairs(docsDf, "id", "text")
    val (pr0, minhashMs) = Clock.timed(span(tracer, "dedup.minhash")(pairs.collect()))
    val candidates = PlanWalk.filterKeep(pairs.queryExecution.executedPlan, "jaccard")
      .map(_._2).getOrElse(-1L)
    var pairRows = pr0.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    if (inject) pairRows = pairRows :+ spuriousPair(pairRows)
    val (cl, clustersMs) = Clock.timed(span(tracer, "dedup.clusters")(Dedup.clusters(pairs).collect()))
    val (pr, prMs) = Clock.timed(span(tracer, "graphs.pagerank")(
      Graphs.pageRank(edgesDf, "src", "dst", iterations = PageRankIterations).collect()))
    val (lp, lpMs) = Clock.timed(span(tracer, "graphs.label_prop")(
      Graphs.labelPropagation(edgesDf, "src", "dst", LabelRounds).collect()))
    checkPairs(pairRows)
    checkClusters(pairRows, cl.map(r => (r.getAs[Any]("id").toString.toLong, r.getAs[Any]("cluster").toString.toLong)))
    checkPageRank(pr.map(r => r.getString(0) -> r.getDouble(1)).toMap)
    checkLabels(lp.map(r => r.getString(0) -> r.getString(1)).toMap)
    Dedup.releaseResults(blocking = true); Dedup.releaseCaches(blocking = true)
    PassStats(pairRows.length, minhashMs, clustersMs, prMs, lpMs, candidates)
  }

  private var lastPasses: Seq[PassStats] = Nil

  def run(spark: SparkSession, seconds: Double, tracer: Option[Tracer],
          inject: Option[String]): Loop = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val lat = mutable.ArrayBuffer.empty[Double]
    val passes = mutable.ArrayBuffer.empty[PassStats]
    var injectPending = inject.contains("spurious_pair")
    // at least two passes, so the cross-pass cluster hash is compared
    while (passes.size < 2 || System.nanoTime() < deadline) {
      val p = pass(tracer, injectPending)
      injectPending = false
      System.err.println(f"perfbench: pass ${passes.size + 1}: minhash ${p.minhashMs}%.0f ms, " +
        f"clusters ${p.clustersMs}%.0f ms, pageRank ${p.prMs}%.0f ms, labelPropagation ${p.lpMs}%.0f ms")
      passes += p; lat += p.minhashMs + p.clustersMs + p.prMs + p.lpMs
    }
    lastPasses = passes.toSeq
    val docsPerS = docs.length * lat.size / (lat.sum / 1000.0)
    Loop(lat.toSeq, docs.length.toDouble * lat.size, lat.sum / 1000.0, lat.size, 0, Seq(
      ("docs_per_s", docsPerS, "1/s"),
      ("ops", lat.size.toDouble, "count"),
      ("pass_p50_ms", Stats.median(lat.toSeq), "ms"),
      ("minhash_p50_ms", Stats.median(passes.map(_.minhashMs).toSeq), "ms"),
      ("clusters_p50_ms", Stats.median(passes.map(_.clustersMs).toSeq), "ms"),
      ("pagerank_p50_ms", Stats.median(passes.map(_.prMs).toSeq), "ms"),
      ("label_prop_p50_ms", Stats.median(passes.map(_.lpMs).toSeq), "ms"),
      ("pairs", passes.head.pairs.toDouble, "count"),
      ("failed_frac", 0.0, "ratio")))
  }

  // ------------------------------------------------------------ checkers

  private lazy val shingleCache: Map[Long, Array[Long]] =
    docIds.indices.map(i => docIds(i) -> shingles(docs(i))).toMap

  private def checkPairs(pairs: Array[(Long, Long, Double)]): Unit = {
    val seen = mutable.HashSet.empty[(Long, Long)]
    pairs.foreach { case (a, b, j) =>
      Check.that(a < b, s"dedup pair ($a, $b) not canonical")
      Check.that(seen.add((a, b)), s"dedup pair ($a, $b) reported twice")
      val exact = jaccard(shingleCache(a), shingleCache(b))
      Check.that(exact >= Threshold, s"dedup pair ($a, $b) has Jaccard $exact < $Threshold")
      Check.that(math.abs(exact - j) < 1e-9, s"dedup pair ($a, $b) reports Jaccard $j, exact $exact")
    }
    val found = planted.count(seen.contains)
    val recall = if (planted.isEmpty) 1.0 else found.toDouble / planted.length
    Check.that(recall >= MinRecall, f"dedup recall of planted near-duplicates $recall%.4f < $MinRecall")
  }

  /** Clusters must be the connected components of the reported pairs,
    * labelled by their minimum id, and identical on every pass. */
  private def checkClusters(pairs: Array[(Long, Long, Double)], got: Array[(Long, Long)]): Unit = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val want = parent.keys.map(k => k -> find(k)).toMap
    val gotMap = got.toMap
    Check.that(got.length == gotMap.size, "Dedup.clusters returned an id twice")
    Check.that(gotMap == want, s"Dedup.clusters: ${gotMap.size} ids, components of the pairs have ${want.size}" +
      (want.find { case (k, v) => !gotMap.get(k).contains(v) }.map(d => s"; first differing id $d").getOrElse("")))
    val h = got.sorted.foldLeft(1125899906842597L) { case (acc, (a, b)) => (acc * 31 + a) * 31 + b }
    clusterHash match {
      case None => clusterHash = Some(h)
      case Some(prev) => Check.that(prev == h, "cluster assignment changed between passes")
    }
  }

  private def checkPageRank(got: Map[String, Double]): Unit = {
    Check.that(got.size == prRef.size, s"pageRank returned ${got.size} nodes, expected ${prRef.size}")
    prRef.foreach { case (n, r) =>
      val g = got.getOrElse(n, throw new WrongAnswer(s"pageRank lost node $n"))
      Check.that(math.abs(g - r) <= 1e-9 * math.max(1.0, math.abs(r)) + 1e-15,
        s"pageRank($n) = $g, reference $r")
    }
  }

  private def checkLabels(got: Map[String, String]): Unit = {
    Check.that(got == lpRef, s"labelPropagation differs from the reference on " +
      s"${lpRef.count { case (k, v) => !got.get(k).contains(v) }} of ${lpRef.size} nodes")
  }

  /** A pair the program did not report, for the checker self-test. */
  private def spuriousPair(pairs: Array[(Long, Long, Double)]): (Long, Long, Double) = {
    val have = pairs.map(p => (p._1, p._2)).toSet
    val cand = for (a <- docIds.iterator; b <- docIds.iterator.take(50) if a < b && !have((a, b))) yield (a, b, 0.9)
    cand.next()
  }

  // ------------------------------------------------------------ layer probes

  def probe(spark: SparkSession, tracer: Tracer, out: LayerMetrics): Unit = {
    val ps = lastPasses
    val mh = ps.map(_.minhashMs / 1000.0)
    out.put("dedup.minhash_s", Stats.median(mh), "s"); out.sample("dedup.minhash_s", mh)
    val cand = ps.map(_.candidates).filter(_ >= 0)
    val c = if (cand.isEmpty) ps.head.pairs.toDouble else Stats.median(cand.map(_.toDouble))
    out.put("dedup.pairs_candidate", c, "count")
    out.put("dedup.refine_keep_ratio", if (c > 0) ps.head.pairs / c else 1.0, "ratio")
    val dj = tracer.jobStats("dedup.minhash", "dedup.clusters")
    out.put("dedup.shuffle_bytes", dj.shuffleWrite.toDouble / ps.size, "B")
    val cs = ps.map(_.clustersMs / 1000.0)
    out.put("dedup.clusters_s", Stats.median(cs), "s"); out.sample("dedup.clusters_s", cs)
    out.put("dedup.jobs", dj.jobs.toDouble / ps.size, "count")
    val prs = ps.map(_.prMs / 1000.0); val lps = ps.map(_.lpMs / 1000.0)
    out.put("graphs.pagerank_s", Stats.median(prs), "s"); out.sample("graphs.pagerank_s", prs)
    out.put("graphs.label_prop_s", Stats.median(lps), "s"); out.sample("graphs.label_prop_s", lps)
    val gj = tracer.jobStats("graphs.pagerank", "graphs.label_prop")
    out.put("graphs.jobs", gj.jobs.toDouble / ps.size, "count")
    out.put("graphs.shuffle_bytes", gj.shuffleWrite.toDouble / ps.size, "B")
  }
}

object CorpusDedup {
  final case class PassStats(pairs: Int, minhashMs: Double, clustersMs: Double, prMs: Double,
                             lpMs: Double, candidates: Long)

  val FullDocs = 3000
  val Vocab = 5000
  val Threshold = 0.7
  val ShingleK = 5
  val MinRecall = 0.98
  val PageRankIterations = 3
  val LabelRounds = 3

  private val syll = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "qu", "be", "do", "fi", "gu", "ha")

  private def word(i: Int, rng: java.util.SplittableRandom): String = {
    val n = 1 + rng.nextInt(3)
    (0 to n).map(_ => syll(rng.nextInt(syll.length))).mkString + (i % 7).toString.filter(_ => i % 5 == 0)
  }

  private def edit(base: Array[String], rate: Double, vocab: Array[String], zipf: Zipf,
                   rng: java.util.SplittableRandom): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    base.foreach { w =>
      if (rng.nextDouble() < rate) rng.nextInt(3) match {
        case 0 => out += vocab(zipf.sample(rng)) // replace
        case 1 => ()                              // delete
        case _ => out += w; out += vocab(zipf.sample(rng)) // insert
      } else out += w
    }
    out.toArray
  }

  /** Cluster sizes 2..50 at the quantiles of a Zipf(1.2) law, covering
    * about a fifth of `n` documents. */
  def clusterSizes(n: Int): Seq[Int] = {
    val w = (2 to 50).map(k => math.pow(k - 1, -1.2))
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    val mean = (2 to 50).zip(w).map { case (k, x) => k * x }.sum / w.sum
    val clusters = math.max(1, (n * 0.2 / mean).round.toInt)
    (0 until clusters).map(j => 2 + cdf.indexWhere(_ >= (j + 0.5) / clusters))
  }

  private def shuffled(n: Int, rng: java.util.SplittableRandom): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }

  /** Distinct lowercase character k-shingles, as sorted 64-bit FNV-1a
    * hashes (a hash independent of graft's own shingle hash). */
  def shingles(text: String): Array[Long] = {
    val s = text.toLowerCase(java.util.Locale.ROOT)
    val n = math.max(1, s.length - ShingleK + 1)
    val hs = Array.tabulate(n) { i =>
      var h = 0xcbf29ce484222325L
      var j = i
      while (j < math.min(s.length, i + ShingleK)) { h = (h ^ s.charAt(j)) * 0x100000001b3L; j += 1 }
      h
    }
    java.util.Arrays.sort(hs)
    hs.distinct
  }

  def jaccard(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1 else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }

  /** Power iteration as documented on `Graphs.pageRank`: N = distinct
    * endpoints, unit weights summed over parallel edges, shares divided
    * first, dangling mass not redistributed. */
  def pageRankRef(edges: Array[(Long, Long)], iterations: Int, d: Double): Map[String, Double] = {
    val w = mutable.LinkedHashMap.empty[(String, String), Double]
    edges.foreach { case (s, t) => val k = (s.toString, t.toString); w(k) = w.getOrElse(k, 0.0) + 1.0 }
    val nodes = (w.keys.map(_._1) ++ w.keys.map(_._2)).toSet
    val n = nodes.size
    val outW = w.groupMapReduce(_._1._1)(_._2)(_ + _)
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iterations) {
      val acc = mutable.HashMap.empty[String, Double]
      w.foreach { case ((s, t), ww) => acc(t) = acc.getOrElse(t, 0.0) + r(s) * (ww / outW(s)) }
      r = nodes.map(v => v -> ((1.0 - d) / n + d * acc.getOrElse(v, 0.0))).toMap
    }
    r
  }

  /** Synchronous label propagation as documented on
    * `Graphs.labelPropagation`: undirected distinct neighbours, most
    * frequent neighbour label, ties to the smallest label. */
  def labelPropRef(edges: Array[(Long, Long)], rounds: Int): Map[String, String] = {
    val adj = mutable.HashMap.empty[String, mutable.Set[String]]
    edges.foreach { case (s0, t0) =>
      val (s, t) = (s0.toString, t0.toString)
      adj.getOrElseUpdate(t, mutable.Set.empty) += s
      adj.getOrElseUpdate(s, mutable.Set.empty) += t
    }
    var label = adj.keys.map(k => k -> k).toMap
    for (_ <- 1 to rounds) {
      label = adj.map { case (v, ns) =>
        val counts = ns.toSeq.groupMapReduce(label)(_ => 1)(_ + _)
        v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }.toMap
    }
    label
  }
}
