package graft.operators

import graft.{JobLog, SparkTestBase}
import org.apache.spark.sql.functions._

class GraphsSpec extends SparkTestBase {
  import spark.implicits._

  /** Local reference implementation of the same fixed-point recurrence. */
  private def referenceRanks(edges: Seq[(String, String, Double)],
                             iters: Int, d: Double): Map[String, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size
    val outW = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (u, _, w) => r(u) * w / outW(u) }.sum).toMap
      r = nodes.map(v => v -> ((1 - d) / n + d * in.getOrElse(v, 0.0))).toMap
    }
    r
  }

  private def run(edges: Seq[(String, String, Double)], iters: Int = 3) =
    Graphs.pageRank(edges.toDF("s", "t", "w").repartition(5), "s", "t",
      Some("w"), iterations = iters)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("pageRank matches the reference recurrence on a hand-built graph") {
    val edges = Seq(
      ("a", "b", 1.0), ("a", "c", 3.0), // a splits 1/4 : 3/4
      ("b", "c", 1.0),
      ("c", "a", 1.0),
      ("d", "c", 2.0))                  // d dangles on the IN side only
    val got = run(edges)
    val want = referenceRanks(edges, 3, 0.85)
    assert(got.keySet === want.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-12, k) }
    // authority ordering: c collects from everyone
    assert(got("c") > got("a") && got("a") > got("b") && got("b") > got("d"))
  }

  test("pageRank on a larger random graph equals the reference, any partitioning") {
    val rnd = new scala.util.Random(3)
    val edges = (1 to 2000).map(_ =>
      (s"n${rnd.nextInt(120)}", s"n${rnd.nextInt(120)}", 1.0 + rnd.nextInt(5)))
      .distinct
    val got = run(edges, iters = 4)
    val want = referenceRanks(edges, 4, 0.85)
    assert(got.size === want.size)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-9, k) }
    Dedup.releaseCaches()
  }

  test("pageRank drops invalid edges and handles empties and validation") {
    val edges = Seq(
      (Some("a"), Some("b"), Some(1.0)),
      (None, Some("b"), Some(1.0)),          // null src
      (Some("a"), None, Some(1.0)),          // null dst
      (Some("a"), Some("c"), Some(-2.0)),    // non-positive weight
      (Some("a"), Some("c"), None))          // null weight
      .toDF("s", "t", "w")
    val got = Graphs.pageRank(edges, "s", "t", Some("w"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet === Set("a", "b"))
    val empty = Seq.empty[(String, String, Double)].toDF("s", "t", "w")
    assert(Graphs.pageRank(empty, "s", "t", Some("w")).count() === 0L)
    intercept[IllegalArgumentException] {
      Graphs.pageRank(edges, "s", "t", None, iterations = 0)
    }
    intercept[IllegalArgumentException] {
      Graphs.pageRank(edges, "s", "t", None, damping = 1.0)
    }
    Dedup.releaseCaches()
  }

  test("unweighted pageRank treats every out-edge equally") {
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("s", "t")
    val got = Graphs.pageRank(edges, "s", "t", None, iterations = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = referenceRanks(Seq(("a", "b", 1.0), ("a", "c", 1.0),
      ("b", "c", 1.0)), 2, 0.85)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-12, k) }
    Dedup.releaseCaches()
  }

  test("triangleCount: known graphs, dirty-input canonicalization, brute-force parity") {
    import spark.implicits._
    def count(edges: Seq[(String, String)]): Long =
      Graphs.triangleCount(edges.toDF("a", "b"), "a", "b").head().getLong(0)
    // one triangle; square has none; K4 has four
    assert(count(Seq(("a", "b"), ("b", "c"), ("c", "a"))) === 1L)
    assert(count(Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))) === 0L)
    val k4 = for { x <- Seq("a", "b", "c", "d"); y <- Seq("a", "b", "c", "d") if x < y } yield (x, y)
    assert(count(k4) === 4L)
    // self-loops, duplicate and reversed edges collapse before counting
    assert(count(Seq(("a", "a"), ("a", "b"), ("b", "a"), ("a", "b"),
      ("b", "c"), ("c", "a"))) === 1L)
    assert(count(Seq.empty) === 0L)
    // brute-force parity on a random graph across partitionings
    val rnd = new scala.util.Random(31)
    val edges = (1 to 2000).map(_ => (s"n${rnd.nextInt(60)}", s"n${rnd.nextInt(60)}"))
    val canon = edges.filter(e => e._1 != e._2)
      .map(e => if (e._1 < e._2) e else e.swap).distinct
    val adj = canon.toSet
    val nodesSorted = canon.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val brute = (for {
      i <- nodesSorted.indices; j <- (i + 1) until nodesSorted.size
      if adj((nodesSorted(i), nodesSorted(j)))
      k <- (j + 1) until nodesSorted.size
      if adj((nodesSorted(j), nodesSorted(k))) && adj((nodesSorted(i), nodesSorted(k)))
    } yield 1).size.toLong
    for (parts <- Seq(1, 7)) {
      assert(Graphs.triangleCount(edges.toDF("a", "b").repartition(parts), "a", "b")
        .head().getLong(0) === brute, s"parts=$parts")
    }
    Dedup.releaseCaches()
  }

  // ------------------------------------------------------------------- bfs

  private def runBfs(edges: Seq[(String, String)], sources: Seq[String],
                     maxHops: Int, undirected: Boolean = false): Map[String, Int] =
    Graphs.bfs(edges.toDF("s", "t").repartition(5), "s", "t",
        sources.toDF("node"), "node", maxHops, undirected)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap

  /** Local BFS reference: min hops from any source, capped. */
  private def referenceBfs(edges: Seq[(String, String)], sources: Seq[String],
                           maxHops: Int, undirected: Boolean): Map[String, Int] = {
    val adj = (if (undirected) edges ++ edges.map(_.swap) else edges)
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var dist = sources.map(_ -> 0).toMap
    var frontier = sources.toSet
    for (d <- 1 to maxHops if frontier.nonEmpty) {
      val next = frontier.flatMap(n => adj.getOrElse(n, Nil)) -- dist.keySet
      dist = dist ++ next.map(_ -> d)
      frontier = next
    }
    dist
  }

  test("bfs: hop distances on a hand-built digraph, cap and direction") {
    // a -> b -> c -> d,  e isolated-from-sources, b -> a back edge
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("b", "a"), ("e", "d"))
    assert(runBfs(edges, Seq("a"), 4) ===
      Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3))
    // cap stops the walk: d (and anything past it) is absent at 2 hops
    assert(runBfs(edges, Seq("a"), 2) === Map("a" -> 0, "b" -> 1, "c" -> 2))
    // undirected: e becomes reachable THROUGH d
    assert(runBfs(edges, Seq("a"), 4, undirected = true) ===
      Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3, "e" -> 4))
    // multi-source takes the nearest seed; a source with no edges stays at 0
    assert(runBfs(edges, Seq("c", "zzz"), 4) ===
      Map("c" -> 0, "zzz" -> 0, "d" -> 1))
  }

  test("bfs: maxHops 0 returns exactly the seed set; empty seeds empty out") {
    val edges = Seq(("a", "b"))
    assert(runBfs(edges, Seq("a"), 0) === Map("a" -> 0))
    assert(runBfs(edges, Nil, 3) === Map.empty[String, Int])
    intercept[IllegalArgumentException] { runBfs(edges, Seq("a"), -1) }
  }

  // --------------------------------------------------- labelPropagation

  /** Local synchronous LPA with the same (count desc, label asc) rule. */
  private def referenceLpa(edges: Seq[(String, String)], rounds: Int,
                           undirected: Boolean): Map[String, String] = {
    val dir = (if (undirected) edges ++ edges.map(_.swap) else edges).distinct
    val nodes = (dir.map(_._1) ++ dir.map(_._2)).distinct
    val in = dir.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    var lab = nodes.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      lab = nodes.map { v =>
        val nb = in.getOrElse(v, Nil).map(lab)
        if (nb.isEmpty) v -> lab(v)
        else {
          val counts = nb.groupBy(identity).view.mapValues(_.size.toLong).toMap
          v -> counts.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
        }
      }.toMap
    }
    lab
  }

  private def runLpa(edges: Seq[(String, String)], rounds: Int,
                     undirected: Boolean = true): Map[String, String] =
    Graphs.labelPropagation(edges.toDF("s", "t").repartition(5), "s", "t",
        rounds, undirected)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("labelPropagation: two planted communities resolve to their min ids") {
    // clique {a1,a2,a3} and clique {b1,b2,b3} joined by one weak bridge
    val cl = Seq(("a1", "a2"), ("a1", "a3"), ("a2", "a3"),
      ("b1", "b2"), ("b1", "b3"), ("b2", "b3"), ("a3", "b1"))
    val got = runLpa(cl, rounds = 4)
    assert(got === referenceLpa(cl, 4, undirected = true))
    // the two tight triangles agree internally on a label each
    assert(Set(got("a1"), got("a2")).size == 1)
    assert(Set(got("b2"), got("b3")).size == 1)
  }

  test("labelPropagation equals the local reference on a random graph") {
    val rnd = new scala.util.Random(7)
    val edges = (1 to 2500).map(_ =>
      (s"n${rnd.nextInt(200)}", s"n${rnd.nextInt(200)}")).distinct
      .filter(e => e._1 != e._2)
    for (rounds <- Seq(1, 2, 3)) {
      assert(runLpa(edges, rounds) ===
        referenceLpa(edges, rounds, undirected = true), s"rounds=$rounds")
    }
    // directed variant: labels flow along edge direction only
    assert(runLpa(edges, 2, undirected = false) ===
      referenceLpa(edges, 2, undirected = false))
    intercept[IllegalArgumentException] { runLpa(edges, 0) }
    Dedup.releaseCaches()
  }

  // --------------------------------------------------------- shortestPaths

  /** Local Bellman-Ford with the same bounded-round semantics. */
  private def referenceSssp(edges: Seq[(String, String, Double)],
                            sources: Seq[String], maxIter: Int,
                            undirected: Boolean): Map[String, Double] = {
    val dir0 = if (undirected) edges ++ edges.map(e => (e._2, e._1, e._3)) else edges
    val dir = dir0.groupBy(e => (e._1, e._2)).view
      .mapValues(_.map(_._3).min).toSeq.map { case ((s, d), w) => (s, d, w) }
    var dist = sources.map(_ -> 0.0).toMap
    var frontier = sources.toSet
    var it = 0
    while (it < maxIter && frontier.nonEmpty) {
      it += 1
      val cand = dir.filter(e => frontier.contains(e._1))
        .groupBy(_._2).view.mapValues(es =>
          es.map(e => dist(e._1) + e._3).min).toMap
      val improved = cand.filter { case (n, d) => dist.get(n).forall(d < _) }
      dist = dist ++ improved
      frontier = improved.keySet
    }
    dist
  }

  private def runSssp(edges: Seq[(String, String, Double)], sources: Seq[String],
                      maxIter: Int, undirected: Boolean = false): Map[String, Double] =
    Graphs.shortestPaths(edges.toDF("s", "t", "w").repartition(5), "s", "t", "w",
        sources.toDF("node"), "node", maxIter, undirected)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("shortestPaths: weighted relaxation beats the greedy hop path") {
    // a->c direct costs 10; a->b->c costs 3 — weight metric must pick 3
    // even though BFS reaches c in 1 hop
    val edges = Seq(("a", "c", 10.0), ("a", "b", 1.0), ("b", "c", 2.0),
      ("c", "d", 1.0))
    assert(runSssp(edges, Seq("a"), 10) ===
      Map("a" -> 0.0, "b" -> 1.0, "c" -> 3.0, "d" -> 4.0))
    // the bounded variant: 1 round only sees direct edges
    assert(runSssp(edges, Seq("a"), 1) ===
      Map("a" -> 0.0, "b" -> 1.0, "c" -> 10.0))
    // multi-source: nearest seed wins; isolated seed stays at 0
    assert(runSssp(edges, Seq("b", "zz"), 10) ===
      Map("b" -> 0.0, "zz" -> 0.0, "c" -> 2.0, "d" -> 3.0))
    // undirected: d reaches back to a through c<-b<-a reversed
    assert(runSssp(edges, Seq("d"), 10, undirected = true)("a") === 4.0)
    intercept[Exception] { runSssp(Seq(("a", "b", -1.0)), Seq("a"), 3) }
    intercept[IllegalArgumentException] { runSssp(edges, Seq("a"), -1) }
  }

  test("shortestPaths equals the local Bellman-Ford on a random weighted graph") {
    val rnd = new scala.util.Random(23)
    val edges = (1 to 2500).map(_ => (s"n${rnd.nextInt(250)}",
      s"n${rnd.nextInt(250)}", 1.0 + rnd.nextInt(9))).distinct
    val sources = Seq("n0", "n13")
    for (iters <- Seq(2, 6, 30)) { // 30 ≫ diameter: the early exit path
      assert(runSssp(edges, sources, iters) ===
        referenceSssp(edges, sources, iters, undirected = false), s"iters=$iters")
    }
    assert(runSssp(edges, sources, 30, undirected = true) ===
      referenceSssp(edges, sources, 30, undirected = true))
    Dedup.releaseCaches()
  }

  test("bfs on a random graph equals the local reference, any partitioning") {
    val rnd = new scala.util.Random(11)
    val edges = (1 to 3000).map(_ =>
      (s"n${rnd.nextInt(300)}", s"n${rnd.nextInt(300)}")).distinct
    val sources = Seq("n0", "n7", "n42")
    for (hops <- Seq(1, 3, 7)) {
      assert(runBfs(edges, sources, hops) ===
        referenceBfs(edges, sources, hops, undirected = false), s"hops=$hops")
    }
    assert(runBfs(edges, sources, 5, undirected = true) ===
      referenceBfs(edges, sources, 5, undirected = true))
    Dedup.releaseCaches()
  }

  test("bfs is unit-weight shortestPaths: same reach, int distances") {
    val rnd = new scala.util.Random(5)
    val edges = (1 to 1500).map(_ =>
      (s"n${rnd.nextInt(200)}", s"n${rnd.nextInt(200)}")).distinct
    val unit = edges.map { case (s, t) => (s, t, 1.0) }
    val sources = Seq("n0", "n9")
    for (hops <- Seq(0, 2, 9); undirected <- Seq(false, true)) {
      val sp = runSssp(unit, sources, hops, undirected).view.mapValues(_.toInt).toMap
      assert(runBfs(edges, sources, hops, undirected) === sp,
        s"hops=$hops undirected=$undirected")
    }
    val out = Graphs.bfs(edges.toDF("s", "t"), "s", "t", sources.toDF("node"), "node", 2)
    import org.apache.spark.sql.types.{IntegerType, StringType}
    assert(out.schema.map(f => (f.name, f.dataType, f.nullable)) ===
      Seq(("node", StringType, false), ("dist", IntegerType, false)))
    Dedup.releaseCaches()
  }

  test("checkpointEvery: >20-round loops checkpoint periodically with " +
      "identical results; a missing checkpoint dir fails loudly") {
    val sc = spark.sparkContext
    val prior = sc.getCheckpointDir
    if (prior.isEmpty) // the contract check must fire BEFORE any Spark job
      intercept[IllegalArgumentException] {
        Graphs.bfs(Seq(("a", "b")).toDF("s", "t"), "s", "t",
          Seq("a").toDF("node"), "node", 3, checkpointEvery = 2)
      }
    intercept[IllegalArgumentException] { // negative is a caller bug
      Graphs.pageRank(Seq(("a", "b")).toDF("s", "t"), "s", "t",
        checkpointEvery = -1)
    }
    sc.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
    locally {
      // a 30-link chain forces 30 genuine rounds (frontier of size 1)
      val chain = (0 until 30).map(i => ("n%02d".format(i), "n%02d".format(i + 1)))
      val ckBfs = Graphs.bfs(chain.toDF("s", "t"), "s", "t",
          Seq("n00").toDF("node"), "node", maxHops = 30, checkpointEvery = 5)
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(ckBfs === runBfs(chain, Seq("n00"), 30) && ckBfs("n30") == 30)

      val wchain = chain.map { case (a, b) => (a, b, 1.0) }
      val ckSssp = Graphs.shortestPaths(wchain.toDF("s", "t", "w"), "s", "t",
          "w", Seq("n00").toDF("node"), "node", maxIter = 30, checkpointEvery = 7)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(ckSssp === runSssp(wchain, Seq("n00"), 30))

      val ckLpa = Graphs.labelPropagation(chain.toDF("s", "t"), "s", "t",
          rounds = 22, undirected = true, checkpointEvery = 4)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(ckLpa === referenceLpa(chain, 22, undirected = true))

      val ranksCk = Graphs.pageRank(chain.toDF("s", "t"), "s", "t",
          iterations = 25, checkpointEvery = 6)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val ranksRef = referenceRanks(wchain, 25, 0.85)
      assert(ranksCk.keySet === ranksRef.keySet)
      ranksCk.foreach { case (n, r) =>
        assert(math.abs(r - ranksRef(n)) < 1e-12, n) }
      Dedup.releaseCaches()
    }
    // the dir stays set for the rest of the session — harmless, since
    // only checkpointEvery > 0 ever checkpoints
  }

  test("labelPropagation tiebreak is UTF-8 byte order, not UTF-16 code units") {
    // U+1F600 (a surrogate pair) sorts ABOVE U+FF01 in UTF-8/code-point
    // order, but Java's String < puts the 0xD83D lead surrogate BELOW
    // 0xFF01 — the exact divergence utf8Less exists to fix
    val smiley = new String(Character.toChars(0x1F600))
    val fw = "！" // FULLWIDTH EXCLAMATION, BMP above surrogates
    assert(Graphs.utf8Less(fw, smiley) && !(fw < smiley),
      "test fixture must sit in the divergence window")
    // node x has two neighbors named fw and smiley: a 1-vs-1 count tie.
    // Round 1 must hand x the UTF-8-smaller label (fw).
    val edges = Seq((fw, "x"), (smiley, "x")).toDF("src", "dst")
    val got = Graphs.labelPropagation(edges, "src", "dst", rounds = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("x") == fw, s"tie went to ${got("x")}")
    Dedup.releaseCaches()
  }

  test("parallel edges merge in the pack builder: sum / min / dedup") {
    // r15 moved duplicate-(src, dst) merging from the build reduceByKey
    // into the pack builder — pin each operator's merge semantics on
    // inputs with REAL parallel edges (the random pageRank test dedups
    // its edge list, so it never exercised this)
    // pageRank: parallel weights SUM — (a→b, 1.0) + (a→b, 2.0) ≡ 3.0
    val pr = run(Seq(("a", "b", 1.0), ("a", "b", 2.0), ("b", "a", 1.0)))
    val prWant = referenceRanks(Seq(("a", "b", 3.0), ("b", "a", 1.0)), 3, 0.85)
    pr.foreach { case (k, v) => assert(math.abs(v - prWant(k)) < 1e-12, k) }
    // shortestPaths: parallel weights take the MINIMUM
    val spEdges = Seq(("a", "b", 5.0), ("a", "b", 2.0), ("b", "c", 7.0),
      ("b", "c", 1.0)).toDF("s", "t", "w")
    val sp = Graphs.shortestPaths(spEdges, "s", "t", "w",
        Seq("a").toDF("node"), "node", maxIter = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(sp === Map("a" -> 0.0, "b" -> 2.0, "c" -> 3.0))
    // bfs: duplicated (and undirected-doubled) edges dedup — distances
    // unchanged however often an edge repeats
    val bEdges = Seq(("a", "b"), ("a", "b"), ("b", "a"), ("b", "c"))
      .toDF("s", "t")
    val bf = Graphs.bfs(bEdges, "s", "t", Seq("a").toDF("node"), "node",
        maxHops = 3, undirected = true)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(bf === Map("a" -> 0, "b" -> 1, "c" -> 2))
    Dedup.releaseCaches()
  }

  // ------------------------------------------------------ loop shape

  /** The loops' fixed shape on small graphs: the jobs each call submits
    * (with their descriptions, in order) and the shuffle bytes they
    * write. A refactor of the loops that adds a materialization, a
    * shuffle or a wider message fails here. */
  test("each graph loop runs its pinned jobs and shuffle bytes") {
    val sc = spark.sparkContext
    val graph = Seq(("a", "b", 1.0), ("a", "c", 3.0), ("b", "c", 1.0),
      ("c", "a", 1.0), ("d", "c", 2.0), ("c", "e", 1.0), ("e", "a", 2.0))
    val chain = (0 until 5).map(i => (s"c$i", s"c${i + 1}", 1.0 + i % 2))
    val sources = Seq("c0").toDF("node")
    val caller = "the caller's own job"
    def shape(f: => Array[org.apache.spark.sql.Row]): (Seq[String], Long) = {
      val (rows, log) = JobLog.during(sc)(f)
      assert(rows.nonEmpty)
      // the loop hands the caller's description back
      assert(sc.getLocalProperty("spark.job.description") == caller)
      (log.descriptions, log.shuffleWriteBytes)
    }
    sc.setJobDescription(caller)
    try {
      val pr = shape(Graphs.pageRank(graph.toDF("s", "t", "w"), "s", "t", Some("w"),
        iterations = 3).collect())
      val lpa = shape(Graphs.labelPropagation(graph.map(e => (e._1, e._2)).toDF("s", "t"),
        "s", "t", rounds = 2).collect())
      val bf = shape(Graphs.bfs(chain.map(e => (e._1, e._2)).toDF("s", "t"), "s", "t",
        sources, "node", maxHops = 10).collect())
      val sp = shape(Graphs.shortestPaths(chain.toDF("s", "t", "w"), "s", "t", "w",
        sources, "node", maxIter = 10).collect())
      // each starts with the adjacency's SQL exchange (AQE runs it when the
      // build takes the plan's RDD) and ends with the caller's action;
      // pageRank counts its nodes, and that action runs its lazy rounds;
      // labelPropagation runs one job per round; bfs and shortestPaths
      // one per round, 5 that reach a new node and a 6th that reaches none
      def rounds(op: String, n: Int) = (1 to n).map(k => s"graphs.$op: round $k")
      def adjacency(op: String) = Seq(s"graphs.$op: adjacency")
      assert(pr._1 == adjacency("pageRank") ++ Seq("graphs.pageRank: nodes", caller), pr)
      assert(lpa._1 == adjacency("labelPropagation") ++ rounds("labelPropagation", 2) :+ caller,
        lpa)
      assert(bf._1 == adjacency("bfs") ++ rounds("bfs", 6) :+ caller, bf)
      assert(sp._1 == adjacency("shortestPaths") ++ rounds("shortestPaths", 6) :+ caller, sp)
      assert((pr._2, lpa._2, bf._2, sp._2) == ((1400L, 2295L, 710L, 735L)))
    } finally sc.setJobDescription(null)
    Dedup.releaseCaches()
  }

  test("a loop that fails mid-call leaves no cache releaseCaches cannot reach") {
    val sc = spark.sparkContext
    Dedup.releaseCaches(blocking = true)
    val baseline = sc.getPersistentRDDs.keySet
    // the weight check runs executor-side, in round 1's job
    val bad = Seq(("a", "b", 1.0), ("b", "c", -1.0)).toDF("s", "t", "w")
    val e = intercept[org.apache.spark.SparkException] {
      Graphs.shortestPaths(bad, "s", "t", "w", Seq("a").toDF("node"), "node", maxIter = 3)
    }
    assert(e.getMessage.contains("shortestPaths requires positive weights"), e.getMessage)
    Dedup.releaseCaches(blocking = true)
    assert(sc.getPersistentRDDs.keySet == baseline)
  }

  test("SqlHashPartitioner routes every string where repartition(n, col) sends it") {
    // the graph loops zip SQL-exchanged adjacency against RDD state routed
    // by this partitioner; if a Spark upgrade changes HashPartitioning's
    // formula, this fails instead of the loops silently misrouting state
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val nonAscii = Gen.oneOf("é", "ß", "Ω", "ж", "中", "文", "😀", "𝄞", "\u0000", "ﬀ")
    val str = Gen.frequency(
      1 -> Gen.const(""),
      4 -> Gen.asciiStr,
      4 -> Gen.listOf(Gen.oneOf(Gen.alphaNumChar.map(_.toString), nonAscii)).map(_.mkString))
    var seed = Seed(31337L)
    val strings = (0 until 300).flatMap { _ =>
      val s = str.apply(Gen.Parameters.default, seed); seed = seed.next; s
    }.distinct
    assert(strings.contains("") && strings.exists(_.exists(_ > '\u007f')) &&
      strings.exists(s => s.nonEmpty && s.forall(_ < '\u0080')))
    val df = strings.toDF("s")
    for (n <- Seq(1, 3, 4, 32)) {
      val part = new Graphs.SqlHashPartitioner(n)
      val routed = df.repartition(n, col("s"))
        .select(col("s"), spark_partition_id().as("p")).collect()
      assert(routed.length == strings.size)
      val wrong = routed.filter(r => part.getPartition(r.getString(0)) != r.getInt(1))
      assert(wrong.isEmpty, s"n=$n: ${wrong.take(5).map(r =>
        s"'${r.getString(0)}' -> spark ${r.getInt(1)}, partitioner ${part.getPartition(r.getString(0))}")
        .mkString("; ")}")
    }
  }

  test("buildAdj's routing guard fails loudly on a node in the wrong partition") {
    val part = new Graphs.SqlHashPartitioner(4)
    val node = "node-7"
    val home = part.getPartition(node)
    Graphs.checkRouted(part, node, home) // the partition it belongs to passes
    val wrong = (home + 1) % 4
    val e = intercept[IllegalStateException](Graphs.checkRouted(part, node, wrong))
    assert(e.getMessage ==
      s"buildAdj: node $node arrived in partition $wrong, SqlHashPartitioner routes it to $home")
  }
}
