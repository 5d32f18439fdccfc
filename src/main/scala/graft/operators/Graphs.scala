package graft.operators

import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, GenericInternalRow, MicrosToTimestamp}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType, StructField,
  StructType, TimestampType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

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
  *
  * All four, and [[Dedup.clusters]]' distributed path ([[components]]),
  * are vertex programs (Pregel: init, message, combine, update, halt) on
  * ONE loop: a packed adjacency ([[buildAdj]]), its node set
  * ([[nodeSet]]), the message step ([[messages]]), the block shuffle
  * ([[exchange]]), the round driver ([[iterate]]) and the result frame
  * ([[resultFrame]]). Each operator supplies only its initial state, its
  * message and combiner, its update and its halt check. Every node
  * routes to the partition Spark SQL's own hash partitioning gives its
  * key ([[homeOf]]). The round driver persists each round's state when
  * the operator checks a halt condition, and cuts the lineage with a
  * reliable checkpoint every `checkpointEvery` rounds (every round for
  * clusters with `reliableCheckpoint`); an operator that stops at its
  * round cap unconverged says so (clusters raises).
  *
  * State and messages move as one block per partition, not one object
  * per node or message (Pregel's combiners, GraphX's array-backed vertex
  * partitions): a node partition's state is one [[Block]] — its node
  * keys and a primitive state array — and each map task combines its
  * messages in a primitive table and ships one [[Msgs]] block per target
  * partition through a plain [[exchange]], with no per-record aggregator
  * or size tracking.
  */
object Graphs {

  /** The node partition of a key among `n`: the partition Spark SQL's
    * `repartition(n, col)` sends a row whose column holds that string,
    * by Spark's own `HashPartitioning.partitionIdExpression`, evaluated
    * interpreted (no generated class). This is what lets the adjacency
    * arrive PRE-ROUTED from one UnsafeRow SQL exchange ([[buildAdj]])
    * while the |V|-sized state blocks land on the SAME layout, so the
    * per-round zipPartitions merges stay narrow. A misroute would need a
    * different partition count, which zipPartitions rejects. Callers
    * route each distinct key once; the function reuses one row, so each
    * task makes its own. */
  private[operators] def homeOf(n: Int): String => Int = {
    val at = HashPartitioning(Seq(BoundReference(0, StringType, nullable = false)), n)
      .partitionIdExpression
    val row = new GenericInternalRow(1)
    s => { row.update(0, UTF8String.fromString(s)); at.eval(row).asInstanceOf[Int] }
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
    * exactly the srcs [[homeOf]] routes to i (the explicit partition
    * count pins the layout — AQE never coalesces REPARTITION_BY_NUM
    * exchanges), so the state loops zip against it narrowly. `checkW`
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
    doubled.repartition(n, col("src")).queryExecution.toRdd
      .mapPartitions { it =>
        val b = new PackBuilder(weighted, merge, homeOf(n))
        it.foreach { r =>
          val w = if (weighted) r.getDouble(2) else 0.0
          if (checkW ne null) checkW(w)
          b.add(r.getUTF8String(0).toString, r.getUTF8String(1).toString, w)
        }
        b.result()
      }
  }

  /** Dictionary-packed adjacency partition — what the |E|-sized
    * MEMORY_AND_DISK caches actually hold. Edge `i` runs
    * `dict(src(i)) → dict(dst(i))` (weight `w(i)` when weighted), in
    * EXACTLY the order the packing iterator produced, so every
    * per-round scan replays the same edge order and floating-point
    * contribution sums stay bit-identical to the unpacked pair form
    * (oracle-parity contract). Each node string is stored ONCE per
    * partition and the rest as primitive int/double arrays: object count
    * is O(unique nodes), not ~5·|E| as for cached
    * `((String, String), Double)` rows. `home(j)` is the node partition
    * of `dict(j)`, hashed once per build so that the message step routes
    * by an array read. */
  private[operators] final class PackedEdges(
      val dict: Array[String], val src: Array[Int], val dst: Array[Int],
      val w: Array[Double], val home: Array[Int]) extends Serializable {
    def size: Int = src.length
  }

  /** Packs one adjacency partition, each dict entry routed by `home`.
    * `mergeDup`: duplicate `(src, dst)` pairs collapse into their first
    * occurrence's slot,
    * weights merged by the function — the pack is where the edge multiset
    * dedups, since the input arrives as a raw (possibly doubled) row
    * stream. Dict and edge index are primitive open-addressing tables
    * ([[StringIds]], [[LongSlots]]): no boxed key per edge. */
  private[operators] final class PackBuilder(weighted: Boolean,
                                             mergeDup: (Double, Double) => Double,
                                             home: String => Int) {
    private val dict = new StringIds
    // (srcId << 32 | dstId) -> edge slot, for the duplicate merge
    private val edges = new LongSlots
    // unweighted packs never touch the weight array — no transient
    // 8 bytes/edge of growth for data result() would throw away
    private var wA = if (weighted) new Array[Double](64) else Array.emptyDoubleArray
    def add(s: String, d: String, weight: Double): Unit = {
      val si = dict.add(s); val di = dict.add(d)
      val n = edges.size
      val at = edges.slot(si.toLong << 32 | (di & 0xffffffffL))
      if (weighted) {
        if (at < n) wA(at) = mergeDup(wA(at), weight)
        else {
          if (at == wA.length) wA = java.util.Arrays.copyOf(wA, at * 2)
          wA(at) = weight
        }
      }
    }
    def result(): Iterator[PackedEdges] =
      if (edges.size == 0) Iterator.empty
      else {
        val n = edges.size
        val keys = dict.toArray
        Iterator(new PackedEdges(keys,
          Array.tabulate(n)(e => (edges.key(e) >>> 32).toInt),
          Array.tabulate(n)(e => edges.key(e).toInt),
          if (weighted) java.util.Arrays.copyOf(wA, n) else Array.emptyDoubleArray,
          keys.map(home)))
      }
  }

  /** Spreads a hash over a power-of-two table (Fibonacci hashing). */
  private def spread(h: Long): Int = {
    val x = h * 0x9E3779B97F4A7C15L
    (x ^ (x >>> 29)).toInt
  }

  /** Insertion-ordered ids for distinct strings over one primitive
    * open-addressing table: id `k` is the `k`-th distinct string added,
    * `key(k)`. A node partition's key set (its ids index the state
    * arrays), the pack builder's dict and the combiners' label tags. Not
    * changed once a block holds it. */
  private[operators] final class StringIds extends Serializable {
    private var keys = new Array[String](8)
    private var table = new Array[Int](16) // id + 1 at the key's probe slot; 0 = free
    private var n = 0
    def size: Int = n
    def key(k: Int): String = keys(k)
    def toArray: Array[String] = java.util.Arrays.copyOf(keys, n)
    /** The id of `s`, or -1 when absent. */
    def id(s: String): Int = table(find(s)) - 1
    /** The id of `s`, added as id `size` when absent. */
    def add(s: String): Int = {
      val at = find(s)
      if (table(at) != 0) table(at) - 1
      else {
        if (n == keys.length) keys = java.util.Arrays.copyOf(keys, n * 2)
        keys(n) = s; table(at) = n + 1; n += 1
        if (2 * n > table.length) {
          table = new Array[Int](table.length * 2)
          var k = 0
          while (k < n) { table(find(keys(k))) = k + 1; k += 1 }
        }
        n - 1
      }
    }
    /** These ids, then `more`'s not yet among them. */
    def ++(more: StringIds): StringIds = {
      val out = new StringIds
      var k = 0
      while (k < n) { out.add(keys(k)); k += 1 }
      k = 0
      while (k < more.size) { out.add(more.key(k)); k += 1 }
      out
    }
    private def find(s: String): Int = {
      val mask = table.length - 1
      var at = spread(s.hashCode) & mask
      while (table(at) != 0 && keys(table(at) - 1) != s) at = (at + 1) & mask
      at
    }
  }

  /** Insertion-ordered slots for distinct longs over one primitive
    * open-addressing table: slot `s` holds the `s`-th distinct key,
    * `key(s)`. The pack builder's `(src, dst)` edge index and the
    * combiners' `(node, tag)` index. */
  private[operators] final class LongSlots {
    private var keys = new Array[Long](8)
    private var table = new Array[Int](16) // slot + 1 at the key's probe slot; 0 = free
    private var n = 0
    def size: Int = n
    def key(s: Int): Long = keys(s)
    /** The slot of `k`, added as slot `size` when absent. */
    def slot(k: Long): Int = {
      val at = find(k)
      if (table(at) != 0) table(at) - 1
      else {
        if (n == keys.length) keys = java.util.Arrays.copyOf(keys, n * 2)
        keys(n) = k; table(at) = n + 1; n += 1
        if (2 * n > table.length) {
          table = new Array[Int](table.length * 2)
          var s = 0
          while (s < n) { table(find(keys(s))) = s + 1; s += 1 }
        }
        n - 1
      }
    }
    private def find(k: Long): Int = {
      val mask = table.length - 1
      var at = spread(k) & mask
      while (table(at) != 0 && keys(table(at) - 1) != k) at = (at + 1) & mask
      at
    }
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
    * builder), and the cached adjacency holds each edge's share
    * `w(u,v)/W(u)` in place of its weight ([[outShares]]). Each
    * iteration is one round of the shared vertex-program loop
    * ([[iterate]]): the message step ([[messages]]) sends
    * `rank(src) · share` along every edge, sums them per target node in
    * the map task, and ships one primitive block per target partition —
    * the round's ONLY shuffle, ≤ P² records — and a narrow
    * `zipPartitions` folds the blocks into the next rank array of each
    * node block (no-inbound nodes get the base rank). Ranks are one
    * `Array[Double]` per node partition, edges |E| packed rows; nothing
    * driver-side, no collect, iteration count is a small constant;
    * rounds chain lazily (one job at the first downstream action) unless
    * `checkpointEvery` cuts the chain. Null or non-positive weights and
    * null endpoints are dropped.
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
    // partitioning (round 9): the equivalent DataFrame loop paid a
    // per-iteration plan compile + two shuffling joins (7.2 → ~2.5 s at
    // sf0.1 when this file switched). At 100 TB the fixed partitioner is
    // exactly what keeps |E| from re-shuffling every round. Closures are
    // fixed named functions — no per-round codegen.
    val spark = edges.sparkSession
    val nParts = spark.sessionState.conf.numShufflePartitions
    // The cache holds the DICT-PACKED partition form (primitive arrays +
    // one String per unique node — see PackedEdges) with the out-weights
    // folded in as shares; per-round FP sums replay bit-identically
    // across actions because the pack order is fixed once built (and the
    // final ranks persist anyway).
    val adj = Dedup.track(
      phase(edges, "pageRank", "adjacency")(
        buildAdj(e, undirected = false, weighted = true, _ + _, nParts))
      .map(outShares).persist(StorageLevel.MEMORY_AND_DISK))
    // node set FROM the cached adjacency — the upstream edge-building
    // DAG runs exactly ONCE
    val nodes = Dedup.track(nodeSet(adj, nParts).persist(StorageLevel.MEMORY_AND_DISK))
    // one job; N is needed as a literal below
    val n = phase(edges, "pageRank", "nodes")(nodes.map(_.size.toLong).fold(0L)(_ + _))
    if (n == 0L) {
      adj.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
      return e.select(col("src").as("node"), lit(0.0).as("rank")).limit(0)
    }

    val base = (1.0 - damping) / n
    val init = nodes.map(ids => new Block(ids, Array.fill(ids.size)(1.0 / n), null))
    val ranks = iterate("graphs.pageRank", init, iterations, checkpointEvery)(roundJob = None) { rk =>
      val in = messages(rk, adj, nParts, _ + _)(tag = null)((r, k, p, i) => r(k) * p.w(i))
      // narrow merge onto the node set: no-inbound nodes get base rank.
      // It zips the cached nodes, not the previous ranks, so the lazy
      // chain computes each round's ranks exactly once.
      nodes.zipPartitions(in) { (nit, mit) =>
        val ids = nit.next()
        val (c, _) = inbox(ids, mit.next(), _ + _)
        val sum = new Array[Double](ids.size)
        var s = 0
        while (s < c.size) { sum(c.node(s)) = c.value(s); s += 1 }
        Iterator(new Block(ids, Array.tabulate(ids.size)(k => base + damping * sum(k)), null))
      }
    }
    // LAZY result over persisted ranks: the first action fills the cache
    // and every later action reuses it, so multi-action callers neither
    // re-run the iteration DAG nor observe ulp-different ranks from a
    // re-executed float sum. The only eager work above is the node count
    // (N is a literal).
    resultFrame(spark, ranks, "rank", DoubleType)((r, k) => r(k))
  }

  /** Folds each src's total out-weight `W` into its edges: weight `w(i)`
    * becomes the share `w(i) / W(src(i))`. Every edge of a src sits in
    * ONE adjacency partition by construction, so `W` is a purely LOCAL
    * sum — no shuffle, and no separate out-weight state to keep aligned
    * with the ranks. `W` sums left to right in pack order and the share
    * divides FIRST (the oracle's own expression shape, r · (w/W)), so
    * ranks stay bit-identical. */
  private def outShares(p: PackedEdges): PackedEdges = {
    val total = new Array[Double](p.dict.length)
    var i = 0
    while (i < p.size) { total(p.src(i)) += p.w(i); i += 1 }
    new PackedEdges(p.dict, p.src, p.dst,
      Array.tabulate(p.size)(j => p.w(j) / total(p.src(j))), p.home)
  }

  /** One node partition's vertex state — the one object its cache holds:
    * the keys the node partitioner routes there (`ids`) and one
    * primitive value per key (`values` holds id `k`'s at index `k`).
    * `frontier`, when set, holds the ids that send this round; null
    * means every id sends. */
  private[operators] final class Block[A](val ids: StringIds, val values: A,
                                          val frontier: java.util.BitSet) extends Serializable

  /** Map task `from`'s messages for one node partition, combined: node
    * `keys(k)` receives `values(k)`, tagged `tags(k)` (labelPropagation's
    * label; null for untagged messages and for key sets). */
  private[operators] final class Msgs(val from: Int, val keys: Array[String],
                                      val tags: Array[String], val values: Array[Double])
    extends Serializable

  /** The message edge `i` of packed partition `p` carries when its src
    * holds state id `k` of `values`. */
  private trait Send[A] extends Serializable {
    def apply(values: A, k: Int, p: PackedEdges, i: Int): Double
  }

  /** Messages combined per `(node, tag)` as they arrive: the combiner of
    * both sides of the block shuffle. A pair's first message is its
    * value and each later one folds in with `combine`, left to right, so
    * a sum keeps the order the messages arrived in. Slot `s` is the
    * `s`-th distinct pair. */
  private final class Combiner(combine: (Double, Double) => Double) {
    private val pairs = new LongSlots
    val tags = new StringIds
    private var vals = new Array[Double](8)
    def size: Int = pairs.size
    def node(s: Int): Int = (pairs.key(s) >>> 32).toInt
    def tag(s: Int): String = tags.key(pairs.key(s).toInt)
    def value(s: Int): Double = vals(s)
    def add(node: Int, tag: Int, v: Double): Unit = {
      val n = pairs.size
      val s = pairs.slot(node.toLong << 32 | (tag & 0xffffffffL))
      if (s < n) vals(s) = combine(vals(s), v)
      else {
        if (s == vals.length) vals = java.util.Arrays.copyOf(vals, s * 2)
        vals(s) = v
      }
    }
  }

  /** Splits one map task's `size` messages into one [[Msgs]] per node
    * partition that receives any, keyed by that partition: message `s`
    * goes to node `key(s)` in partition `home(s)`. A null `tag` or
    * `value` leaves that array out. */
  private def split(from: Int, n: Int, size: Int)(home: Int => Int, key: Int => String,
                                                  tag: Int => String, value: Int => Double)
      : Iterator[(Int, Msgs)] = {
    val count = new Array[Int](n)
    var s = 0
    while (s < size) { count(home(s)) += 1; s += 1 }
    val keys = count.map(new Array[String](_))
    val tags = if (tag == null) null else count.map(new Array[String](_))
    val values = if (value == null) null else count.map(new Array[Double](_))
    java.util.Arrays.fill(count, 0)
    s = 0
    while (s < size) {
      val t = home(s); val k = count(t)
      keys(t)(k) = key(s)
      if (tags != null) tags(t)(k) = tag(s)
      if (values != null) values(t)(k) = value(s)
      count(t) = k + 1
      s += 1
    }
    Iterator.range(0, n).filter(count(_) > 0).map(t => (t, new Msgs(from, keys(t),
      if (tags == null) null else tags(t), if (values == null) null else values(t))))
  }

  /** The block shuffle under every vertex-program step: each map task
    * sends at most one [[Msgs]] per node partition, so a round moves ≤ P²
    * records. No aggregator and no map-side combine (the blocks arrive
    * combined), so at ≤ 200 partitions Spark takes its bypass writer and
    * a plain reader; nothing sizes or sorts per message. Node partition
    * `t` gets its blocks in map-task order, whatever order they were
    * fetched in. */
  private def exchange(blocks: RDD[(Int, Msgs)], n: Int): RDD[Array[Msgs]] =
    new ShuffledRDD[Int, Msgs, Msgs](blocks, new HashPartitioner(n))
      .mapPartitions(it => Iterator(it.map(_._2).toArray.sortBy(_.from)))

  /** Routes strings to the node partition [[homeOf]] sends
    * each to, where each is kept once: one [[StringIds]] per partition.
    * A map task hands in its strings with their partitions. The node set
    * of an adjacency (its dicts: each partition's dict IS its unique
    * node set, so the shuffle ships O(unique) keys, not 2|E|) and
    * [[relax]]'s source set. */
  private def keySet(keys: RDD[(Array[String], Array[Int])], n: Int): RDD[StringIds] =
    exchange(keys.mapPartitionsWithIndex { (j, it) =>
      it.flatMap { case (ks, home) => split(j, n, ks.length)(home(_), ks(_), null, null) }
    }, n).map { blocks =>
      val ids = new StringIds
      blocks.foreach(_.keys.foreach(ids.add))
      ids
    }

  /** The node set of a packed adjacency: it keeps every valid edge, so
    * src ∪ dst here equals the input's. */
  private def nodeSet(adj: RDD[PackedEdges], n: Int): RDD[StringIds] =
    keySet(adj.map(p => (p.dict, p.home)), n)

  /** The message step of every vertex program. State partition i zips
    * with adjacency partition i: both are routed by the node partitioner
    * ([[homeOf]]), so the zip is narrow. Each src resolves
    * its state id once per DICT ENTRY into an array, so the edge loop
    * reads the array instead of probing per edge. Every out-edge `i` of
    * a sending src with state id `k` sends `send(values, k, p, i)`,
    * tagged `tag(values, k)` when `tag` is set; a src without state, or
    * outside the frontier, sends nothing. The map task combines the
    * messages per (target, tag) in a primitive [[Combiner]] and ships
    * one block per target partition through [[exchange]], the round's
    * ONE shuffle. */
  private def messages[A](state: RDD[Block[A]], adj: RDD[PackedEdges], n: Int,
                          combine: (Double, Double) => Double)(
      tag: (A, Int) => String)(send: Send[A]): RDD[Array[Msgs]] =
    exchange(state.zipPartitions(adj) { (sit, eit) =>
      val b = sit.next()
      eit.flatMap { p =>
        val c = new Combiner(combine)
        // the state id of each dict entry that sends, else -1
        val at = Array.tabulate(p.dict.length) { j =>
          val k = b.ids.id(p.dict(j))
          if (k >= 0 && (b.frontier == null || b.frontier.get(k))) k else -1
        }
        val tagOf = if (tag == null) null else at.map(k => if (k < 0) -1 else c.tags.add(tag(b.values, k)))
        var i = 0
        while (i < p.size) {
          val k = at(p.src(i))
          if (k >= 0) c.add(p.dst(i), if (tagOf == null) 0 else tagOf(p.src(i)), send(b.values, k, p, i))
          i += 1
        }
        split(TaskContext.getPartitionId(), n, c.size)(
          s => p.home(c.node(s)), s => p.dict(c.node(s)), if (tag == null) null else c.tag, c.value)
      }
    }, n)

  /** One node partition's message blocks combined in map-task order, so
    * a sum's order never depends on fetch order — keyed by `ids`: node `k`
    * of the result is `ids.key(k)`, and a key outside `ids` ([[relax]]'s
    * newly reached nodes) is node `ids.size + f`, `f` its id in the
    * returned fresh set. */
  private def inbox(ids: StringIds, blocks: Array[Msgs],
                    combine: (Double, Double) => Double): (Combiner, StringIds) = {
    val c = new Combiner(combine)
    val fresh = new StringIds
    blocks.foreach { b =>
      var k = 0
      while (k < b.keys.length) {
        val j = ids.id(b.keys(k))
        c.add(if (j >= 0) j else ids.size + fresh.add(b.keys(k)),
          if (b.tags == null) 0 else c.tags.add(b.tags(k)), b.values(k))
        k += 1
      }
    }
    (c, fresh)
  }

  /** The round driver of every vertex program: round k's state is
    * `step(state)`, the program's [[messages]] step plus its update.
    *
    * With a `roundJob`, each round persists its new state, runs that job
    * on it — the job materializes the state and answers the halt check
    * (true stops the loop) — and then releases the previous state: ONE
    * job per round. Without one, the rounds chain lazily into the
    * caller's first action; no round state is persisted, since that
    * action computes each one once. `checkpointEvery = k` cuts the
    * lineage with a reliable checkpoint every k rounds, but only before
    * a round that follows (`round < maxRounds`): a cut persists the
    * state, marks it BEFORE the round's job, so that job also writes the
    * cut (from the fresh cache), and materializes it. Every persist
    * joins [[Dedup.track]] when it is made, so a loop that fails mid-call
    * leaves nothing [[Dedup.releaseCaches]] cannot reach. The round's
    * jobs are described `<job>: <label(k)>` (`graphs.<op>: round <k>`
    * for the graph operators), and the caller's description is back when
    * the driver returns. Stops after `maxRounds` rounds. */
  private def iterate[B](job: String, init: RDD[B], maxRounds: Int, checkpointEvery: Int,
                         label: Int => String = k => s"round $k")(
      roundJob: Option[RDD[B] => Boolean])(step: RDD[B] => RDD[B]): RDD[B] =
    Dedup.describing(init.sparkContext, job) { describe =>
      var state = init
      var round = 0
      var halted = false
      while (!halted && round < maxRounds) {
        round += 1
        val next = step(state)
        val cut = checkpointEvery > 0 && round % checkpointEvery == 0 && round < maxRounds
        if (roundJob.isDefined || cut) {
          Dedup.track(next.persist(StorageLevel.MEMORY_AND_DISK))
          if (cut) next.checkpoint()
          describe(label(round))
          halted = roundJob.fold { next.count(); false }(_(next))
          state.unpersist(blocking = false) // a no-op on an unpersisted state
        }
        state = next
      }
      state
    }

  /** Runs `job` with the jobs it submits described `graphs.<op>:
    * <what>` — the phases outside the rounds: the adjacency build (AQE
    * runs its SQL exchange when [[buildAdj]] takes the plan's RDD) and
    * pageRank's node count. */
  private def phase[T](edges: DataFrame, op: String, what: String)(job: => T): T =
    Dedup.describing(edges.sparkSession.sparkContext, s"graphs.$op") { describe =>
      describe(what)
      job
    }

  /** The `(node, <valueCol>)` frame of a loop's final state blocks, LAZY
    * but backed by ONE cache: the state's own, made here unless a round
    * already persisted it. The first action fills it and later actions
    * map the cached blocks to rows again; no second copy of the rows is
    * cached beside it. Joins the shared registry — Bench/long sessions
    * drain it between uses via Dedup.releaseCaches(). */
  private def resultFrame[A](spark: SparkSession, state: RDD[Block[A]],
                             valueCol: String, valueType: DataType)(
      value: (A, Int) => Any): DataFrame = {
    if (state.getStorageLevel == StorageLevel.NONE)
      Dedup.track(state.persist(StorageLevel.MEMORY_AND_DISK))
    val schema = StructType(Seq(
      StructField("node", StringType, nullable = false),
      StructField(valueCol, valueType, nullable = false)))
    spark.createDataFrame(state.flatMap(b =>
      Iterator.tabulate(b.ids.size)(k => Row(b.ids.key(k), value(b.values, k)))), schema)
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
    val adj = phase(edges, "bfs", "adjacency")(
      buildAdj(fwd, undirected, weighted = false, (a, _) => a, nParts))
    relax("bfs", adj, nParts, sources, nodeCol, maxHops, checkpointEvery,
      (d, k, _, _) => d(k) + 1, IntegerType)
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
    val adj = phase(edges, "shortestPaths", "adjacency")(
      buildAdj(fwd, undirected, weighted = true,
        math.min(_: Double, _: Double), nParts,
        checkW = w => require(w > 0.0 && !w.isNaN,
          s"shortestPaths requires positive weights, got $w")))
    relax("shortestPaths", adj, nParts, sources, nodeCol, maxIter, checkpointEvery,
      (d, k, p, i) => d(k) + p.w(i), DoubleType)
  }

  /** The frontier program behind [[bfs]] and [[shortestPaths]] (`op`
    * names it in the job descriptions): each round relaxes every edge out
    * of the CHANGED set only — a node re-enters the frontier only when
    * its distance improves, so rounds shrink as distances settle.
    * `step(dist, k, p, i)` is the distance edge `i` of packed partition
    * `p` offers when its src sits at `dist(k)`.
    *
    * One state block per node partition and round: the reached nodes,
    * their distances (doubles, exact for bfs' hop counts) and the
    * frontier, the ids the round improved. A round of [[iterate]] is the
    * [[messages]] step from the frontier, min-combined — the round's only
    * shuffle, ≤ P² blocks — and a narrow merge that appends newly
    * reached nodes: ONE persisted RDD and ONE driver job per round (the
    * empty-frontier check doubles as materialization and the early
    * exit). Stops after `maxRounds` rounds or the first round that
    * improves nothing. Returns `(node, dist)` with `dist` of `distType`
    * (int or double), backed by the final round's cache. */
  private def relax(op: String, adj0: RDD[PackedEdges], nParts: Int,
                    sources: DataFrame, nodeCol: String, maxRounds: Int,
                    checkpointEvery: Int, step: Send[Array[Double]],
                    distType: DataType): DataFrame = {
    val adj = Dedup.track(adj0.persist(StorageLevel.MEMORY_AND_DISK))
    val seeds = sources.select(col(nodeCol).cast("string"))
      .where(col(nodeCol).isNotNull)
      .rdd.mapPartitions { it =>
        val ids = new StringIds
        it.foreach(r => ids.add(r.getString(0)))
        val ks = ids.toArray
        Iterator((ks, ks.map(homeOf(nParts))))
      }
    val init = Dedup.track(keySet(seeds, nParts).map { ids =>
      val all = new java.util.BitSet
      all.set(0, ids.size)
      new Block(ids, new Array[Double](ids.size), all)
    }.persist(StorageLevel.MEMORY_AND_DISK))
    val dist = iterate(s"graphs.$op", init, maxRounds, checkpointEvery)(
        roundJob = Some(_.map(_.frontier.isEmpty).fold(true)(_ && _))) { state =>
      val relaxed = messages(state, adj, nParts, math.min(_: Double, _: Double))(tag = null)(step)
      // narrow merge: candidates against settled distances; the ids a
      // candidate improves (or first reaches) are the next frontier
      state.zipPartitions(relaxed) { (sit, mit) =>
        val b = sit.next()
        val (c, fresh) = inbox(b.ids, mit.next(), math.min(_: Double, _: Double))
        val ids = if (fresh.size == 0) b.ids else b.ids ++ fresh
        val d = java.util.Arrays.copyOf(b.values, ids.size)
        val improved = new java.util.BitSet
        var s = 0
        while (s < c.size) {
          val k = c.node(s)
          if (k >= b.ids.size || c.value(s) < d(k)) { d(k) = c.value(s); improved.set(k) }
          s += 1
        }
        Iterator(new Block(ids, d, improved))
      }
    }
    adj.unpersist(blocking = false)
    val asInt = distType == IntegerType
    resultFrame(sources.sparkSession, dist, "dist", distType)((d, k) =>
      if (asInt) d(k).toInt else d(k))
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
    * Scale shape — a vertex program on the same loop as [[pageRank]]
    * and [[bfs]] ([[iterate]]), ONE shuffle per round:
    *   - build: the adjacency src-routes and dedups through one SQL
    *     exchange ([[buildAdj]]); the node set derives from its
    *     per-partition dicts in one block shuffle ([[nodeSet]]).
    *   - round: the [[messages]] step sends one count along each edge,
    *     tagged with the src's label; the map task sums them per
    *     (target, label) and ships one block per target partition — the
    *     round's only shuffle, ≤ P² records — and a narrow
    *     `zipPartitions` sums each node partition's blocks and takes the
    *     per-node argmax (max under the total order
    *     count-desc/label-asc) into the next label array.
    * Labels are one array per node partition; the per-partition
    * combiners hold |V|/P nodes' (label, count) pairs; each round's
    * superseded label blocks unpersist as soon as their successors
    * materialize, and the last round's cache backs the result; nothing
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
    // adjacency src-routed by ONE UnsafeRow SQL exchange, deduped in the
    // pack builder, undirected doubling as an explode inside the same
    // plan (a self-union would run the upstream edge derivation twice).
    // No RDD shuffle at build (round 15).
    val adj = Dedup.track(
      phase(edges, "labelPropagation", "adjacency")(
        buildAdj(fwd, undirected, weighted = false, (a, _) => a, nParts))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val nodes = Dedup.track(nodeSet(adj, nParts).persist(StorageLevel.MEMORY_AND_DISK))
    val init = nodes.map(ids => new Block(ids, ids.toArray, null))
    // the round's job only materializes the labels, so that the previous
    // ones can go: a fixed round count never halts early
    val labels = iterate("graphs.labelPropagation", init, rounds, checkpointEvery)(
        roundJob = Some { next => next.count(); false }) { labels =>
      val counts = messages(labels, adj, nParts, _ + _)(_(_))((_, _, _, _) => 1.0)
      labels.zipPartitions(counts) { (lit, mit) =>
        val b = lit.next()
        val (c, _) = inbox(b.ids, mit.next(), _ + _)
        // each node's best (label, count) slot; the tiebreak is UTF-8
        // byte order, the order DuckDB's replay and Spark SQL's own
        // string comparison use (see utf8Less)
        val best = Array.fill(b.ids.size)(-1)
        var s = 0
        while (s < c.size) {
          val k = c.node(s); val o = best(k)
          if (o < 0 || c.value(s) > c.value(o) ||
              (c.value(s) == c.value(o) && utf8Less(c.tag(s), c.tag(o))))
            best(k) = s
          s += 1
        }
        Iterator(new Block(b.ids,
          Array.tabulate(b.ids.size)(k => if (best(k) < 0) b.values(k) else c.tag(best(k))), null))
      }
    }
    adj.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    resultFrame(spark, labels, "label", StringType)(_(_))
  }

  /** Connected components by min-label propagation with pointer jumping
    * (Shiloach–Vishkin shortcutting): the distributed path of
    * [[Dedup.clusters]], a vertex program on the same loop. `ids` holds
    * `(id_a, id_b)` of one atomic type, and each id becomes a node key:
    * a string injective under the ids' value equality — the id cast to
    * a string, or a timestamp's epoch microseconds, since a timestamp's
    * string form repeats across a DST fall-back. Labels compare by Spark
    * SQL's ordering of the ids they stand for ([[idOf]]), so a
    * component converges to its `min(id)` whatever the id type.
    *
    * The adjacency is the undirected [[buildAdj]] (self-pairs keep an
    * isolated id). A round is three block shuffles, ≤ P² records each:
    * the frontier sends its labels along its edges and each node keeps
    * the least label it hears ([[messages]], [[inbox]]); then each node
    * partition asks the home of every label it holds for that label's
    * own label, and the answers come back in a second block shuffle
    * (pointer jumping). The frontier is the set of nodes a round
    * changed: a node that kept its label has told its neighbors already.
    * The loop halts after a round that changes nothing, and raises if
    * `maxRounds` rounds pass without one — unconverged labels are no
    * answer. `reliable` cuts the lineage with a reliable checkpoint
    * every round. Jobs are described through `describe`: `distributed,
    * 0 rounds: adjacency` (the SQL exchange), `distributed, 0 rounds`
    * (the adjacency and initial labels materialized, after which
    * `releaseInput` runs), then `distributed, <r> rounds` for round r. */
  private[operators] def components(ids: DataFrame, maxRounds: Int, reliable: Boolean,
                                    releaseInput: () => Unit,
                                    describe: String => Unit): DataFrame = {
    val spark = ids.sparkSession
    val idType = ids.schema("id_a").dataType
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    val nParts = spark.sessionState.conf.numShufflePartitions
    def key(c: Column) = coalesce(
      (if (idType == TimestampType) unix_micros(c) else c).cast(StringType),
      raise_error(lit("clusters: id_a/id_b must not be null")))
    describe("distributed, 0 rounds: adjacency")
    val adj = Dedup.track(buildAdj(ids.select(key(col("id_a")).as("src"), key(col("id_b")).as("dst")),
      undirected = true, weighted = false, (a, _) => a, nParts).persist(StorageLevel.MEMORY_AND_DISK))
    val init = Dedup.track(nodeSet(adj, nParts)
      .map(keys => new Block(keys, keys.toArray, null)).persist(StorageLevel.MEMORY_AND_DISK))
    describe("distributed, 0 rounds")
    init.count()
    releaseInput()

    var converged = false
    val labels = iterate("dedup.clusters", init, maxRounds, if (reliable) 1 else 0,
        r => s"distributed, $r rounds")(roundJob = Some { next =>
      converged = next.map(_.frontier.isEmpty).fold(true)(_ && _)
      converged
    }) { state =>
      val heard = messages(state, adj, nParts, (a, _) => a)(_(_))((_, _, _, _) => 0.0)
      // each node's least label: its own or one it heard
      val lowered = state.zipPartitions(heard) { (sit, mit) =>
        val b = sit.next()
        val id = idOf(idType, zone)
        val ord = TypeUtils.getInterpretedOrdering(idType)
        val (c, _) = inbox(b.ids, mit.next(), (a, _) => a)
        val least = b.values.clone()
        var s = 0
        while (s < c.size) {
          val k = c.node(s)
          if (ord.lt(id(c.tag(s)), id(least(k)))) least(k) = c.tag(s)
          s += 1
        }
        Iterator(new Block(b.ids, least, null))
      }
      // pointer jumping: each partition asks the homes of the labels it
      // holds (its nodes' own keys aside) for their labels ...
      val asks = exchange(lowered.mapPartitionsWithIndex { (j, it) =>
        val b = it.next()
        val asked = new StringIds
        var k = 0
        while (k < b.ids.size) { if (b.values(k) != b.ids.key(k)) asked.add(b.values(k)); k += 1 }
        val ls = asked.toArray
        val home = homeOf(nParts)
        split(j, nParts, ls.length)(s => home(ls(s)), ls(_), null, null)
      }, nParts)
      // ... each home answers from its own lowered labels ...
      val answers = exchange(lowered.zipPartitions(asks) { (bit, ait) =>
        val b = bit.next()
        val t = TaskContext.getPartitionId()
        ait.next().iterator.map(m =>
          (m.from, new Msgs(t, m.keys, m.keys.map(l => b.values(b.ids.id(l))), null)))
      }, nParts)
      // ... and each node takes its label's label; the frontier is the
      // nodes whose label moved this round
      state.zipPartitions(lowered, answers) { (sit, lit, ait) =>
        val old = sit.next().values
        val b = lit.next()
        val jump = new java.util.HashMap[String, String]
        ait.next().foreach(m => m.keys.indices.foreach(i => jump.put(m.keys(i), m.tags(i))))
        val next = b.values.map(l => jump.getOrDefault(l, l))
        val moved = new java.util.BitSet
        next.indices.foreach(k => if (next(k) != old(k)) moved.set(k))
        Iterator(new Block(b.ids, next, moved))
      }
    }
    adj.unpersist(blocking = false)
    if (!converged) {
      labels.unpersist(blocking = false)
      throw new IllegalStateException(
        s"clusters: labels still changed after maxIterations = $maxRounds rounds")
    }
    spark.createDataFrame(labels.mapPartitions { it =>
      val id = idOf(idType, zone)
      val toScala = CatalystTypeConverters.createToScalaConverter(idType)
      it.flatMap(b => Iterator.tabulate(b.ids.size)(k =>
        Row(toScala(id(b.ids.key(k))), toScala(id(b.values(k))))))
    }, Dedup.clusterSchema(idType))
  }

  /** The internal id value a [[components]] node key stands for — the
    * inverse of its key: Spark's own cast back from the string, or the
    * timestamp of the epoch microseconds. Interpreted, with one reused
    * row, so each task makes its own. */
  private def idOf(idType: DataType, zone: String): String => Any = {
    val ref = BoundReference(0, StringType, nullable = false)
    val back =
      if (idType == TimestampType) MicrosToTimestamp(Cast(ref, LongType))
      else Cast(ref, idType, Some(zone))
    val row = new GenericInternalRow(1)
    s => { row.update(0, UTF8String.fromString(s)); back.eval(row) }
  }
}
