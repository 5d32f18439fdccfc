package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Distributed graph analytics over edge DataFrames.
  *
  * The pipeline need behind this: crawl prioritization and document
  * weighting use link-graph authority (PageRank / harmonic-centrality
  * style signals over the domain graph) as a quality prior. The graph
  * is just an edge table. [[triangleCount]] stays a declarative
  * join+aggregate pipeline (Catalyst plans the hash joins, AQE splits
  * skew); the ITERATIVE operators — [[pageRank]], [[bfs]],
  * [[shortestPaths]], [[labelPropagation]] — deliberately run as RDD
  * loops over ONE fixed hash partitioning instead: a DataFrame loop
  * pays a per-round plan compile and re-shuffles |E| every round,
  * while the fixed partitioner shuffles the edge table once and keeps
  * every per-round join/merge narrow (measured 7.2 → ~2.5 s on the
  * pageRank gate when this file made that switch).
  */
object Graphs {

  /** Routes a `(String, String)` key by its FIRST component's partition
    * under `base` — how [[labelPropagation]] co-locates per-node
    * `(node, label)` counts with that node's state partition, making the
    * per-round zipPartitions merge narrow by construction.
    * Value-equal instances compare equal, so partitioner-aware RDD ops
    * recognize two identically-routed datasets as co-partitioned. */
  private final class ByFirstOf(val base: org.apache.spark.Partitioner)
    extends org.apache.spark.Partitioner {
    override def numPartitions: Int = base.numPartitions
    override def getPartition(key: Any): Int =
      base.getPartition(key.asInstanceOf[(String, String)]._1)
    override def equals(o: Any): Boolean = o match {
      case b: ByFirstOf => b.base == base
      case _ => false
    }
    override def hashCode: Int = 31 + base.hashCode
  }

  /** SQL-compatible node partitioner (round 15): routes a node STRING
    * to the partition Spark SQL's `repartition(n, col)` sends rows
    * whose repartition column holds that string —
    * `pmod(murmur3(utf8 bytes, seed 42), n)`, the exact
    * `HashPartitioning.partitionIdExpression`. This is what lets the
    * adjacency arrive PRE-ROUTED from one UnsafeRow SQL exchange
    * ([[buildAdj]]) while the |V|-sized state RDDs reduce onto the SAME
    * layout: the old build shuffle — ((String, String), w) tuples
    * through the Java serializer, measured as the single heaviest step
    * of every graph gate — is gone entirely, and the per-round
    * zipPartitions merges stay narrow by construction. */
  private[operators] final class SqlHashPartitioner(val n: Int)
      extends org.apache.spark.Partitioner {
    override def numPartitions: Int = n
    override def getPartition(key: Any): Int = {
      val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
        .hash(org.apache.spark.unsafe.types.UTF8String
            .fromString(key.asInstanceOf[String]), StringType, 42L).toInt
      val m = h % n
      if (m < 0) m + n else m
    }
    override def equals(o: Any): Boolean = o match {
      case p: SqlHashPartitioner => p.n == n
      case _ => false
    }
    override def hashCode: Int = n
  }

  /** Builds the dict-packed, src-routed adjacency with NO RDD shuffle:
    * the (optionally direction-doubled, via one `explode` — never a
    * self-union, which would run the upstream edge derivation twice)
    * edge frame repartitions by `src` as a single UnsafeRow SQL
    * exchange, and each partition packs straight off the InternalRows —
    * duplicate `(src, dst)` pairs merge in the pack builder (`merge`:
    * keep-first for the reachability loops, min/sum for the weighted
    * ones), so the old DISTINCT-then-shuffle and the Java-serialized
    * ((String, String), w) reduceByKey are both gone. Partition i holds
    * exactly the srcs [[SqlHashPartitioner]] routes to i (the explicit
    * partition count pins the layout — AQE never coalesces
    * REPARTITION_BY_NUM exchanges; [[checkRouted]] fails the build
    * otherwise), so the state loops zip against it narrowly. `checkW`
    * validates weights executor-side, where the data is. */
  private def buildAdj(e: DataFrame, undirected: Boolean, weighted: Boolean,
                       merge: (Double, Double) => Double, n: Int,
                       checkW: Double => Unit = null)
      : org.apache.spark.rdd.RDD[PackedEdges] = {
    val base = if (weighted) Seq("src", "dst", "w") else Seq("src", "dst")
    val doubled =
      if (!undirected) e.select(base.map(col): _*)
      else {
        def s(a: String, b: String) = struct(
          (col(a).as("src") +: col(b).as("dst") +:
            (if (weighted) Seq(col("w")) else Nil)): _*)
        e.select(explode(array(s("src", "dst"), s("dst", "src"))).as("e"))
          .select(base.map(c => col(s"e.$c").as(c)): _*)
      }
    val part = new SqlHashPartitioner(n)
    doubled.repartition(n, col("src")).queryExecution.toRdd
      .mapPartitionsWithIndex { (i, it) =>
        val b = new PackBuilder(weighted, mergeDup = merge, newSrc = checkRouted(part, _, i))
        it.foreach { r =>
          val w = if (weighted) r.getDouble(2) else 0.0
          if (checkW ne null) checkW(w)
          b.add(r.getUTF8String(0).toString, r.getUTF8String(1).toString, w)
        }
        b.result()
      }
  }

  /** The runtime half of the layout contract above: raises when a src
    * node arrives in adjacency partition `i` although `part` routes it to
    * another partition. The state loops zip partition i against it
    * narrowly, so a misrouted node would silently lose its state instead
    * of failing. [[PackBuilder]] calls it once per distinct src per
    * build, never per iteration. */
  private[operators] def checkRouted(part: SqlHashPartitioner, node: String, i: Int): Unit = {
    val j = part.getPartition(node)
    if (j != i) throw new IllegalStateException(
      s"buildAdj: node $node arrived in partition $i, SqlHashPartitioner routes it to $j")
  }

  /** Dictionary-packed adjacency partition — what the |E|-sized
    * MEMORY_AND_DISK caches actually hold. Edge `i` runs
    * `dict(src(i)) → dict(dst(i))` (weight `w(i)` when weighted), in
    * EXACTLY the order the packing iterator produced, so every
    * per-round scan replays the same edge order and floating-point
    * contribution sums stay bit-identical to the unpacked pair form
    * (oracle-parity contract). Compared to caching
    * `((String, String), Double)` rows — two FRESH String objects plus
    * two Tuple2s and a boxed Double per edge — the packed form stores
    * each node string ONCE per partition and the rest as primitive
    * int/double arrays: object count drops from ~5·|E| to O(unique
    * nodes), and string bytes by roughly the average degree. On a
    * web-scale graph that is the difference between a GC-stable state
    * cache and heap churn every round. Per-round lookups also resolve
    * per DICT ENTRY once (an array read per edge) instead of a hash
    * probe per edge. */
  private[operators] final class PackedEdges(
      val dict: Array[String], val src: Array[Int], val dst: Array[Int],
      val w: Array[Double]) extends Serializable {
    def size: Int = src.length
  }

  /** `mergeDup`: duplicate `(src, dst)` pairs collapse into their first
    * occurrence's slot, weights merged by the function — the pack is
    * where the edge multiset dedups now that the input arrives as a raw
    * (possibly doubled) row stream instead of a reduceByKey output. */
  private final class PackBuilder(weighted: Boolean,
                                  mergeDup: (Double, Double) => Double,
                                  newSrc: String => Unit) {
    private val index = new java.util.HashMap[String, Integer]()
    private val dict = scala.collection.mutable.ArrayBuffer.empty[String]
    // dict ids already handed to `newSrc`
    private val srcSeen = new java.util.BitSet()
    // (srcId << 32 | dstId) -> edge slot, for the duplicate merge
    private val seen = new java.util.HashMap[java.lang.Long, Integer]()
    private var srcA = new Array[Int](64)
    private var dstA = new Array[Int](64)
    // unweighted packs never touch the weight array — no transient
    // 8 bytes/edge of growth for data result() would throw away
    private var wA = if (weighted) new Array[Double](64) else Array.emptyDoubleArray
    private var n = 0
    private def id(s: String): Int = {
      val i = index.get(s)
      if (i ne null) i.intValue()
      else { val j = dict.length; index.put(s, j); dict += s; j }
    }
    def add(s: String, d: String, weight: Double): Unit = {
      val si = id(s); val di = id(d)
      if (!srcSeen.get(si)) { srcSeen.set(si); newSrc(s) }
      val k = java.lang.Long.valueOf((si.toLong << 32) | (di & 0xffffffffL))
      val at = seen.get(k)
      if (at ne null) {
        if (weighted) wA(at.intValue()) = mergeDup(wA(at.intValue()), weight)
        return
      }
      if (n == srcA.length) {
        srcA = java.util.Arrays.copyOf(srcA, n * 2)
        dstA = java.util.Arrays.copyOf(dstA, n * 2)
        if (weighted) wA = java.util.Arrays.copyOf(wA, n * 2)
      }
      seen.put(k, n)
      srcA(n) = si; dstA(n) = di
      if (weighted) wA(n) = weight
      n += 1
    }
    def result(): Iterator[PackedEdges] =
      if (n == 0) Iterator.empty
      else Iterator(new PackedEdges(dict.toArray,
        java.util.Arrays.copyOf(srcA, n), java.util.Arrays.copyOf(dstA, n),
        if (weighted) java.util.Arrays.copyOf(wA, n) else Array.emptyDoubleArray))
  }

  /** UTF-8 byte order (= code-point order) for label comparisons: Java's
    * `<` on String compares UTF-16 CODE UNITS, which ranks
    * supplementary-plane characters (surrogate pairs, 0xD800-prefixed)
    * BELOW U+E000..U+FFFF — while DuckDB (and Spark SQL's own
    * UTF8String) compare UTF-8 bytes. The oracle-parity contract
    * ("reruns and the declarative replay agree node by node") needs the
    * engine to order labels the way the replaying engines do. */
  private[operators] def utf8Less(a: String, b: String): Boolean = {
    val la = a.length; val lb = b.length
    val n = math.min(la, lb)
    var i = 0
    while (i < n) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(i)
      if (ca != cb) return ca < cb
      i += Character.charCount(ca)
    }
    la < lb
  }

  /** Weighted PageRank by `iterations` rounds of power iteration:
    *
    *   r₀(v)    = 1/N
    *   rₖ₊₁(v) = (1-d)/N + d · Σ over in-edges (u,v) of rₖ(u)·w(u,v)/W(u)
    *
    * where `W(u)` is u's total out-weight and N the node count (distinct
    * endpoints). Dangling-node mass is NOT redistributed — the classic
    * simplification; ranks still order nodes by weighted in-link
    * authority, which is what a quality prior needs, and the formula
    * stays a pure deterministic function of the edge multiset, so an
    * external engine can replay it (the DuckDB oracle unrolls the same
    * iterations). Returns `(node, rank)`.
    *
    * Scale shape: the adjacency src-routes through one SQL exchange
    * ([[buildAdj]]; parallel `(src, dst)` weights SUM in the pack
    * builder), and per-src out-weights `W` are partition-local sums over
    * it. Each iteration is a narrow `zipPartitions` contribution scan
    * (ranks partition i covers every src of adjacency partition i by
    * construction — a per-partition hash map replaces the pair join) +
    * a map-side-combined `reduceByKey` of contributions onto the node
    * partitioner — the round's ONLY shuffle — + a second narrow
    * `zipPartitions` merging contributions onto the node list
    * (no-inbound nodes get the base rank). Ranks are |V| rows, edges |E|
    * rows; nothing driver-side, no collect, iteration count is a small
    * constant; rounds chain lazily (one job at the first downstream
    * action) unless `checkpointEvery` cuts the chain. Null or
    * non-positive weights and null endpoints are dropped.
    *
    * @param checkpointEvery if > 0, reliably checkpoint (and
    *   materialize) the rank state every that-many rounds, bounding
    *   lineage/task-closure growth for large `iterations`; requires
    *   `sparkContext.setCheckpointDir`. 0 (default) = never — right for
    *   the small fixed iteration counts a quality prior uses.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               weightCol: Option[String] = None, iterations: Int = 3,
               damping: Double = 0.85, checkpointEvery: Int = 0): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0.0 && damping < 1.0, s"damping must be in (0,1), got $damping")
    requireCheckpointDir(edges, checkpointEvery, "pageRank")
    val w = weightCol.map(col(_).cast("double")).getOrElse(lit(1.0))
    val e = edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"), w.as("w"))
      // the NaN check is load-bearing: NaN > 0.0 is TRUE under Spark's
      // total ordering, and one NaN weight would poison every rank
      // reachable from its source through the share sums
      .where(col("src").isNotNull && col("dst").isNotNull &&
        !isnan(col("w")) && col("w") > 0.0)

    // The power iteration runs as an RDD loop over ONE fixed hash
    // partitioning (round 9). Per-src total out-weights ride as a
    // co-partitioned |V|-sized RDD instead of being folded into per-edge
    // shares. Each round is a narrow 3-way zipPartitions contribution
    // scan (ranks + out-weights + edges; per-partition hash maps replace
    // the pair join) + ONE map-side-combined reduceByKey of
    // contributions (≤ |V| rows per partition — the round's only
    // shuffle) + a narrow node-list merge. The equivalent DataFrame loop
    // paid a per-iteration plan compile + two shuffling joins (7.2 →
    // ~2.5 s at sf0.1 when this file switched). At 100 TB the fixed
    // partitioner is exactly what keeps |E| from re-shuffling every
    // round. Closures are fixed named functions — no per-round codegen.
    // FP parity with the declarative oracle: the share divides FIRST
    // (r · (w/W), the oracle's own expression shape), so ranks stay
    // bit-identical.
    val spark = edges.sparkSession
    val nParts = spark.sessionState.conf.numShufflePartitions
    val part = new SqlHashPartitioner(nParts)
    // NO RDD build shuffle (round 15): the edge frame src-routes through
    // ONE UnsafeRow SQL exchange and packs per partition (parallel
    // (src, dst) weights SUM in the pack builder — see buildAdj); the
    // old ((String, String), Double) reduceByKey moved the same bytes
    // through the Java serializer and was the heaviest step of the gate.
    // The cache holds the DICT-PACKED partition form (primitive arrays +
    // one String per unique node — see PackedEdges); per-round FP sums
    // replay bit-identically across actions because the pack order is
    // fixed once built (and the result frame below persists anyway).
    val adj = buildAdj(e, undirected = false, weighted = true, _ + _, nParts)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // per-src total out-weight: every edge of a src lives in ONE
    // adjacency partition by construction, so the sums are purely LOCAL
    // (partition-aligned with the ranks by the same construction) — no
    // shuffle; same summation order as the packed edge scan
    val outW = adj
      .mapPartitions(_.flatMap { p =>
        val sums = new Array[Double](p.dict.length)
        val has = new Array[Boolean](p.dict.length)
        var i = 0
        while (i < p.size) { sums(p.src(i)) += p.w(i); has(p.src(i)) = true; i += 1 }
        Iterator.range(0, p.dict.length).filter(has)
          .map(j => (p.dict(j), sums(j)))
      })
      .persist(StorageLevel.MEMORY_AND_DISK)
    // node set FROM the cached adjacency (it keeps every valid edge, so
    // src ∪ dst here equals the input's) — the upstream edge-building
    // DAG runs exactly ONCE; each partition's dict IS its unique node
    // set, so the distinct-shuffle ships O(unique) rows, not 2|E|
    val nodesRdd = adj
      .mapPartitions(_.flatMap(_.dict.iterator.map(nd => (nd, ()))))
      .reduceByKey(part, (a, _) => a)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodesRdd.count() // one job; N is needed as a literal below
    if (n == 0L) {
      adj.unpersist(blocking = false)
      outW.unpersist(blocking = false)
      nodesRdd.unpersist(blocking = false)
      return e.select(col("src").as("node"), lit(0.0).as("rank")).limit(0)
    }

    val base = (1.0 - damping) / n
    var ranksRdd: org.apache.spark.rdd.RDD[(String, Double)] =
      nodesRdd.mapValues(_ => 1.0 / n) // mapValues preserves the partitioner
    var round = 0
    for (_ <- 1 to iterations) {
      round += 1
      // narrow contribution scan: ranks (and out-weights) partition i
      // hold exactly the nodes whose out-edges live in adjacency
      // partition i
      val contrib = ranksRdd.zipPartitions(outW, adj) { (rit, wit, eit) =>
          // boxed: a rank-less src (impossible by construction, but the
          // contract is "absent → no contribution", not an unbox NPE)
          val rk = new java.util.HashMap[String, java.lang.Double]()
          rit.foreach { case (nd, r) => rk.put(nd, r) }
          val ow = new java.util.HashMap[String, java.lang.Double]()
          wit.foreach { case (s, w) => ow.put(s, w) }
          eit.flatMap { p =>
            // resolve rank/out-weight per DICT ENTRY once; the edge loop
            // then reads primitive arrays — no hash probe per edge
            val nd = p.dict.length
            val rkA = new Array[Double](nd)
            val owA = new Array[Double](nd)
            val has = new Array[Boolean](nd)
            val hasW = new Array[Boolean](nd)
            var j = 0
            while (j < nd) {
              val r = rk.get(p.dict(j))
              if (r ne null) { has(j) = true; rkA(j) = r.doubleValue }
              val w0 = ow.get(p.dict(j))
              if (w0 ne null) { hasW(j) = true; owA(j) = w0.doubleValue }
              j += 1
            }
            Iterator.range(0, p.size).flatMap { i =>
              val s = p.src(i)
              if (has(s)) {
                // a ranked SRC missing its out-weight means the
                // outW/adjacency partitioner alignment broke — fail
                // LOUDLY (the pre-pack form NPE'd here); a silent 0.0
                // would emit Infinity shares into every rank sum. A
                // sink node (rank, no out-edges) never reaches this
                // branch — it appears in dict only as a dst.
                if (!hasW(s)) throw new IllegalStateException(
                  s"pageRank: node '${p.dict(s)}' has a rank but no " +
                    "out-weight in its co-partition — partitioner " +
                    "alignment violated")
                // share divides FIRST — the oracle's expression shape
                Iterator((p.dict(p.dst(i)), rkA(s) * (p.w(i) / owA(s))))
              } else Iterator.empty
            }
          }
        }
        .reduceByKey(part, _ + _) // the round's ONLY shuffle; map-side combined
      // narrow merge onto the node list: no-inbound nodes get base rank
      ranksRdd = nodesRdd.zipPartitions(contrib, preservesPartitioning = true) {
        (nit, cit) =>
          val in = new java.util.HashMap[String, java.lang.Double]()
          cit.foreach { case (nd, c) => in.put(nd, c) }
          nit.map { case (nd, _) =>
            val c = in.get(nd)
            (nd, base + damping * (if (c ne null) c.doubleValue else 0.0))
          }
      }
      if (checkpointEvery > 0 && round % checkpointEvery == 0 &&
          round < iterations)
        ranksRdd = checkpointState(ranksRdd)
    }
    val schema = StructType(Seq(
      StructField("node", StringType, nullable = false),
      StructField("rank", DoubleType, nullable = false)))
    val ranks = spark.createDataFrame(
      ranksRdd.map { case (node, r) => org.apache.spark.sql.Row(node, r) }, schema)
    // LAZY result, but persisted: the first action fills the cache and
    // every later action reuses it, so multi-action callers neither
    // re-run the iteration DAG nor observe ulp-different ranks from a
    // re-executed float sum. The only eager work above is nodesRdd.count()
    // (N is a literal). All caches join the shared registry —
    // Bench/long sessions drain it between uses via Dedup.releaseCaches()
    Dedup.track(adj)
    Dedup.track(outW)
    Dedup.track(nodesRdd)
    Dedup.track(ranks.persist(StorageLevel.MEMORY_AND_DISK))
  }

  /** Validates the `checkpointEvery` contract shared by the iterative
    * loops: non-negative, and a reliable checkpoint dir must be set
    * when periodic checkpointing is requested (a missing dir would
    * otherwise fail mid-loop with Spark's own stack trace). */
  private def requireCheckpointDir(df: DataFrame, every: Int, op: String): Unit = {
    require(every >= 0, s"checkpointEvery must be >= 0, got $every")
    if (every > 0) require(
      df.sparkSession.sparkContext.getCheckpointDir.isDefined,
      s"$op(checkpointEvery=$every) requires sparkContext.setCheckpointDir " +
        "(reliable checkpoints bound lineage by writing state to the " +
        "checkpoint filesystem)")
  }

  /** Reliably checkpoints a loop-state RDD: persist (so the checkpoint
    * write reads the cache, not a recompute), mark, materialize — the
    * one action runs the rounds since the last cut AND writes the
    * checkpoint files, after which the RDD's lineage is the checkpoint
    * read. The cache joins the shared registry for later draining. */
  private def checkpointState[T](rdd: org.apache.spark.rdd.RDD[T])
    : org.apache.spark.rdd.RDD[T] = {
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    rdd.checkpoint()
    rdd.count()
    Dedup.track(rdd)
    rdd
  }

  /** Exact triangle count by degree-ordered wedge enumeration — the
    * other standard link-graph statistic (clustering/cohesion signals
    * for domain-graph quality priors, community spam detection).
    *
    * The input digraph canonicalizes to SIMPLE UNDIRECTED edges
    * (self-loops dropped, duplicates and reverse duplicates collapse to
    * one `(min, max)` row), then each edge orients from the endpoint
    * that is SMALLER under the total order (degree, node) to the
    * larger. In that orientation every triangle contains exactly one
    * vertex with out-degree 2 inside it, so counting oriented wedges
    * `s→x, s→y (x < y)` that close with an edge `{x, y}` counts each
    * triangle exactly once — and the per-node wedge fan-out is bounded
    * by the ORIENTED out-degree, which the degree ordering caps at
    * O(√E): total work O(E^1.5) (the Schank–Wagner bound) instead of
    * Σ deg² — the difference between feasible and hopeless on a power-
    * law web graph where one hub would otherwise generate deg²ᴴᵘᵇ
    * wedges. Everything is joins + partial-agg groupBys: Catalyst
    * plans hash joins, AQE splits residual skew, nothing collects.
    *
    * Returns one row `(n_triangles)`. Deterministic integer result →
    * DuckDB oracle = the literal 3-way self-join. */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e0 = edges
      .select(col(srcCol).cast("string").as("a"), col(dstCol).cast("string").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK) // reused: degrees, wedges, closure
    // |V|-sized, PERSISTED: deg feeds two joins below whose differing
    // column aliases defeat ReuseExchange — without the cache the
    // explode+aggregate subtree (an |E|-scan plus a shuffle) executed
    // THREE times in the final plan (twice under `oriented`, once more
    // under the broadcast copy of `oriented` in the wedge self-join;
    // plan-audited in plans/r14/q_triangles_before.txt)
    val deg = e0.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // |E|-sized, PERSISTED: `oriented` is both sides of the wedge
    // self-join — uncached, the two join subtrees (plus their deg
    // joins) each recomputed it
    val oriented = e0
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t")))
        .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val wedges = oriented.select(col("s"), col("t").as("x"))
      .join(oriented.select(col("s"), col("t").as("y")), "s")
      .where(col("x") < col("y")) // each out-neighbor pair once
    // x < y already matches the canonical (min, max) edge form
    val closed = wedges.join(e0,
      wedges("x") === e0("u") && wedges("y") === e0("v"), "left_semi")
    Dedup.track(e0)
    Dedup.track(deg)
    Dedup.track(oriented)
    closed.agg(count(lit(1)).as("n_triangles"))
  }

  /** Multi-source BFS: hop distance from the nearest of `sources` to
    * every node reachable within `maxHops` edges. Returns `(node, dist)`
    * — sources at 0, unreachable nodes absent. `undirected` unions the
    * reversed edges first. The reachability/provenance primitive
    * (crawl-frontier depth, contamination blast radius from a seed set,
    * link-distance features).
    *
    * BFS is [[shortestPaths]] with unit edge cost: it runs the same
    * [[relax]] loop, stepping `d + 1` over an unweighted adjacency
    * (parallel and undirected-doubled edges dedup in the pack builder),
    * and casts `dist` to int at the end. Every frontier node of round
    * `k` holds `k - 1`, so each message is `k` and a settled node never
    * improves: a node enters at its FIRST (= minimal) hop count and
    * never again, and rounds shrink as the frontier saturates.
    * `checkpointEvery = k` cuts the lineage with a reliable checkpoint
    * every k hops (requires `sparkContext.setCheckpointDir`) for the
    * |V|-1 worst case. Oracle-reproducible: DuckDB replays it as a
    * `WITH RECURSIVE` walk capped at `maxHops` + `min(dist)`.
    */
  def bfs(edges: DataFrame, srcCol: String, dstCol: String,
          sources: DataFrame, nodeCol: String, maxHops: Int,
          undirected: Boolean = false, checkpointEvery: Int = 0): DataFrame = {
    require(maxHops >= 0, s"maxHops must be non-negative, got $maxHops")
    requireCheckpointDir(edges, checkpointEvery, "bfs")
    val fwd = edges
      .select(col(srcCol).cast("string").as("src"), col(dstCol).cast("string").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val nParts = edges.sparkSession.sessionState.conf.numShufflePartitions
    // parallel edges add nothing to reachability: keep-first
    val adj = buildAdj(fwd, undirected, weighted = false, (a, _) => a, nParts)
    relax(adj, nParts, sources, nodeCol, maxHops, checkpointEvery,
      (d, _, _) => d + 1, IntegerType)
  }

  /** Multi-source weighted shortest paths (Bellman-Ford relaxation):
    * minimum path WEIGHT from the nearest of `sources` to every node
    * reachable within `maxIter` edges. Positive weights required (the
    * classic precondition; a non-positive weight fails LOUDLY — the
    * check rides the executor-side adjacency scan, where the data is,
    * so it surfaces as a SparkException wrapping the
    * IllegalArgumentException rather than a driver-side throw — a
    * driver pre-scan would cost a full extra pass over |E|). Returns
    * `(node, dist)` — sources at 0.0, unreachable nodes absent.
    *
    * Runs the [[relax]] loop, stepping `d + w`; parallel edges collapse
    * to their MINIMUM weight (the only one a shortest path can use) in
    * the pack builder. maxIter bounds worst-case chains (|V|-1 is the
    * exact bound; real link graphs settle in tens of rounds — lineage
    * and task-closure size grow linearly with rounds, so set
    * `checkpointEvery` — a reliable checkpoint every k rounds, needs
    * `sparkContext.setCheckpointDir` — for the worst case).
    *
    * Oracle-reproducible (round 12): DuckDB replays the hop-capped
    * weighted walk as a recursive CTE deduping `(node, dist, hops)`
    * TRIPLES + `min(dist)` — tractable as long as the per-node
    * reachable distance set is small (the q_shortest_paths gate plants
    * a layered DAG with small integer weights to guarantee that; a
    * dense arbitrary-weight graph would make the replay combinatorial,
    * which bounds the ORACLE, not this operator). Exact-FP safe when
    * every dist is a sum of small integers carried as doubles.
    */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
                    weightCol: String, sources: DataFrame, nodeCol: String,
                    maxIter: Int, undirected: Boolean = false,
                    checkpointEvery: Int = 0): DataFrame = {
    require(maxIter >= 0, s"maxIter must be non-negative, got $maxIter")
    requireCheckpointDir(edges, checkpointEvery, "shortestPaths")
    val fwd = edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"),
        col(weightCol).cast("double").as("w"))
      .where(col("src").isNotNull && col("dst").isNotNull && col("w").isNotNull)
    val nParts = edges.sparkSession.sessionState.conf.numShufflePartitions
    val adj = buildAdj(fwd, undirected, weighted = true,
        math.min(_: Double, _: Double), nParts,
        checkW = w => require(w > 0.0 && !w.isNaN,
          s"shortestPaths requires positive weights, got $w"))
    relax(adj, nParts, sources, nodeCol, maxIter, checkpointEvery,
      (d, p, i) => d + p.w(i), DoubleType)
  }

  /** The frontier loop behind [[bfs]] and [[shortestPaths]]: each round
    * relaxes every edge out of the CHANGED set only — a node re-enters
    * the frontier only when its distance improves, so rounds shrink as
    * distances settle. `step(d, p, i)` is the distance edge `i` of
    * packed partition `p` offers when its src sits at `d`.
    *
    * One state map per round, `(node, (dist, improved))`; the frontier
    * is the improved-flag filter view over the cached state, never a
    * second copy. A round is a narrow `zipPartitions` relaxation (state
    * partition i covers every src of adjacency partition i — both
    * routed by [[SqlHashPartitioner]] — so a per-partition hash map
    * replaces the pair join), a min-combining `reduceByKey` — the
    * round's only shuffle, ≤ |V| rows — and a narrow merge: ONE
    * persisted RDD and ONE driver job per round (the improved count
    * doubles as materialization and the early-exit check). Stops after
    * `maxRounds` rounds or the first round that improves nothing.
    * Returns `(node, dist)` with `dist` of `distType` (int or double),
    * persisted and tracked. */
  private def relax(adj0: org.apache.spark.rdd.RDD[PackedEdges], nParts: Int,
                    sources: DataFrame, nodeCol: String, maxRounds: Int,
                    checkpointEvery: Int, step: (Double, PackedEdges, Int) => Double,
                    distType: DataType): DataFrame = {
    val spark = sources.sparkSession
    val part = new SqlHashPartitioner(nParts)
    val adj = adj0.persist(StorageLevel.MEMORY_AND_DISK)
    var state: org.apache.spark.rdd.RDD[(String, (Double, Boolean))] = sources
      .select(col(nodeCol).cast("string"))
      .where(col(nodeCol).isNotNull)
      .rdd.map(r => (r.getString(0), 0.0))
      .reduceByKey(part, (a, _) => a)
      .mapValues(d => (d, true)) // preserves the partitioner
      .persist(StorageLevel.MEMORY_AND_DISK)
    var round = 0
    var done = maxRounds == 0
    while (!done) {
      round += 1
      val relaxed = state.zipPartitions(adj) { (sit, eit) =>
          // boxed values: a missing key must surface as null, not unbox
          val f = new java.util.HashMap[String, java.lang.Double]()
          sit.foreach { case (n, (dv, isNew)) => if (isNew) f.put(n, dv) }
          eit.flatMap { p =>
            // frontier distance per DICT ENTRY once, array reads per edge
            val nd = p.dict.length
            val dvA = new Array[Double](nd)
            val inF = new Array[Boolean](nd)
            var j = 0
            while (j < nd) {
              val dv = f.get(p.dict(j))
              if (dv ne null) { inF(j) = true; dvA(j) = dv.doubleValue }
              j += 1
            }
            Iterator.range(0, p.size).flatMap { i =>
              val s = p.src(i)
              if (inF(s)) Iterator((p.dict(p.dst(i)), step(dvA(s), p, i)))
              else Iterator.empty
            }
          }
        }
        .reduceByKey(part, math.min(_: Double, _: Double)) // map-side combined
      // narrow merge: candidates against settled distances, improved
      // flag carried for the next frontier and the stop check.
      // zipPartitions + one hash map of the candidates replaces the
      // cogroup (no Option/Iterable boxing per node)
      val upd = state.zipPartitions(relaxed, preservesPartitioning = true) {
          (sit, rit) =>
            val r = new java.util.HashMap[String, java.lang.Double]()
            rit.foreach { case (n, c) => r.put(n, c) }
            sit.map { case (n, (o, _)) =>
              val c = r.remove(n)
              if ((c ne null) && c.doubleValue < o) (n, (c.doubleValue, true))
              else (n, (o, false))
            } ++ {
              // lhs exhausted first (++ rhs is by-name): what remains in
              // r reached previously-unseen nodes
              import scala.jdk.CollectionConverters._
              r.entrySet().iterator().asScala
                .map(e => (e.getKey, (e.getValue.doubleValue(), true)))
            }
        }
        .persist(StorageLevel.MEMORY_AND_DISK)
      // a periodic reliable checkpoint marks BEFORE the round's job, so
      // the one action below also writes the cut (from the fresh cache)
      if (checkpointEvery > 0 && round % checkpointEvery == 0) upd.checkpoint()
      // the round's ONE job: materializes upd AND answers the stop check
      val improved = upd.filter(_._2._2).count()
      state.unpersist(blocking = false)
      state = upd
      done = improved == 0L || round == maxRounds
    }
    adj.unpersist(blocking = false)
    val schema = StructType(Seq(
      StructField("node", StringType, nullable = false),
      StructField("dist", distType, nullable = false)))
    val asInt = distType == IntegerType
    val out = spark.createDataFrame(state.map { case (n, (d, _)) =>
      org.apache.spark.sql.Row(n, if (asInt) d.toInt else d)
    }, schema)
    Dedup.track(state)
    Dedup.track(out.persist(StorageLevel.MEMORY_AND_DISK))
  }

  /** Synchronous label propagation (community detection): every node
    * starts labeled with its own id; each round it takes the MOST
    * FREQUENT label among its neighbors, count ties broken by the
    * SMALLEST label in UTF-8 byte order — the order external replaying
    * engines and Spark SQL itself compare strings in, NOT Java's UTF-16
    * code-unit order (they differ for supplementary-plane ids; see
    * [[utf8Less]]) — and an isolated node keeps its label. A fixed
    * round count plus the deterministic tiebreak makes the result a
    * pure function of the edge multiset — reruns, repartitions, and a
    * declarative replay (the DuckDB oracle unrolls the same rounds as
    * grouped counts + row_number) all agree, unlike the
    * randomized-order LPA variants. Returns `(node, label)`.
    *
    * Scale shape — the [[pageRank]]/[[bfs]] loop skeleton, ONE shuffle
    * per round:
    *   - build: the adjacency src-routes and dedups through one SQL
    *     exchange ([[buildAdj]]); the node set derives from its
    *     per-partition dicts with one `reduceByKey` onto the node
    *     partitioner.
    *   - round: labels partition i holds exactly the nodes whose edges
    *     live in adjacency partition i, so the neighbor-label expansion
    *     is a narrow `zipPartitions` hash join; the `((node, label), 1)`
    *     counts then `reduceByKey` map-side-combined (primitive longs,
    *     no serialized containers) onto a NODE-routed partitioner —
    *     the round's only shuffle — and the per-node argmax (max under
    *     the total order count-desc/label-asc) plus the merge with the
    *     previous labels are a second narrow `zipPartitions`.
    * Labels are |V| rows; per-partition state (the label hash map, the
    * argmax map) is |V|/P entries; each round's superseded label RDD
    * unpersists as soon as its successor materializes; nothing
    * driver-side.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int, undirected: Boolean = true,
                       checkpointEvery: Int = 0): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    requireCheckpointDir(edges, checkpointEvery, "labelPropagation")
    val spark = edges.sparkSession
    val fwd = edges
      .select(col(srcCol).cast("string").as("src"), col(dstCol).cast("string").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)

    val nParts = spark.sessionState.conf.numShufflePartitions
    val part = new SqlHashPartitioner(nParts)
    // counts route by the NODE component, so all per-node state of
    // partition i co-locates with labels partition i
    val byFirst = new ByFirstOf(part)
    // adjacency src-routed by ONE UnsafeRow SQL exchange, deduped in the
    // pack builder, undirected doubling as an explode inside the same
    // plan (a self-union would run the upstream edge derivation twice).
    // No RDD shuffle at build (round 15).
    val adj = buildAdj(fwd, undirected, weighted = false, (a, _) => a, nParts)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // each partition's dict IS its unique node set — the distinct
    // shuffle ships O(unique) rows, not 2|E|
    val nodes = adj.mapPartitions(_.flatMap(_.dict.iterator.map(nd => (nd, ()))))
      .reduceByKey(part, (a, _) => a)
      .persist(StorageLevel.MEMORY_AND_DISK)

    var labels: org.apache.spark.rdd.RDD[(String, String)] =
      nodes.mapPartitions(
        it => it.map { case (n, _) => (n, n) }, preservesPartitioning = true)
    for (r <- 1 to rounds) {
      // narrow hash join: labels partition i covers every src of adj
      // partition i (both routed by part(first)), so the neighbor-label
      // expansion needs no shuffle
      val expanded = labels.zipPartitions(adj) { (lit, eit) =>
        val lab = new java.util.HashMap[String, String]()
        lit.foreach { case (n, l) => lab.put(n, l) }
        eit.flatMap { p =>
          // label per DICT ENTRY once, array reads per edge
          val labA = new Array[String](p.dict.length)
          var j = 0
          while (j < p.dict.length) { labA(j) = lab.get(p.dict(j)); j += 1 }
          Iterator.range(0, p.size)
            .map(i => ((p.dict(p.dst(i)), labA(p.src(i))), 1L))
        }
      }
      // the round's ONE shuffle: (node, label) counts combine map-side
      // as primitive longs and land node-routed
      val counts = expanded.reduceByKey(byFirst, _ + _)
      // narrow by construction: partition i of `counts` holds exactly
      // the nodes `part` sends to partition i of `labels`
      val next = labels.zipPartitions(counts, preservesPartitioning = true) {
        (lit, cit) =>
          val best = new java.util.HashMap[String, (String, Long)]()
          cit.foreach { case ((n, lab), c) =>
            val cur = best.get(n)
            // tiebreak in UTF-8 byte order, the order DuckDB's replay and
            // Spark SQL's own string comparison use (see utf8Less)
            if (cur == null || c > cur._2 ||
                (c == cur._2 && utf8Less(lab, cur._1)))
              best.put(n, (lab, c))
          }
          lit.map { case (n, own) =>
            val b = best.get(n)
            (n, if (b == null) own else b._1)
          }
      }.persist(StorageLevel.MEMORY_AND_DISK)
      // a periodic reliable checkpoint marks BEFORE the round's job, so
      // the one action below also writes the cut (from the fresh cache)
      if (checkpointEvery > 0 && r % checkpointEvery == 0) next.checkpoint()
      next.count() // materialize before the parent retires
      labels.unpersist(blocking = false) // eager: round 0 is a no-op
      labels = next
    }
    adj.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    val schema = StructType(Seq(
      StructField("node", StringType, nullable = false),
      StructField("label", StringType, nullable = false)))
    val out = spark.createDataFrame(
      labels.map { case (n, l) => org.apache.spark.sql.Row(n, l) }, schema)
    Dedup.track(labels)
    Dedup.track(out.persist(StorageLevel.MEMORY_AND_DISK))
  }
}
