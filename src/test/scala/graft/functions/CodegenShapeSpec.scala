package graft.functions

import graft.SparkTestBase
import graft.operators.{Dedup, Graphs, SpatialJoin}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

import java.nio.file.Files
import scala.util.Random

/** One compiled class per query shape: a query that differs from an
  * earlier one only in its constants (radius, point, cell size, the data it
  * reads) must run without compiling any code. Each path runs once on
  * input set A to warm it, then on input set B with other constants; the
  * second run must leave Spark's compile counter where it was, and both
  * runs must equal a brute force computed on the driver. */
class CodegenShapeSpec extends SparkTestBase {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private lazy val dir = Files.createTempDirectory("graft-codegen-shape").toString

  override def afterAll(): Unit =
    try {
      val paths = Files.walk(java.nio.file.Paths.get(dir))
      try paths.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally paths.close()
    } finally super.afterAll()

  /** Points in [-20, 20)², boxes of side ≤ 2 around them, and right-hand
    * points in three tight clusters (so knnJoin needs several rounds). */
  private case class Inputs(pts: Seq[(Long, Array[Byte])], boxes: Seq[(Long, Array[Byte])],
                            clustered: Seq[(Long, Array[Byte])])

  private def inputs(seed: Long): Inputs = {
    val rnd = new Random(seed)
    def coord() = rnd.nextDouble() * 40 - 20
    val pts = (0L until 300L).map(i => (i, GeoOps.stPoint(coord(), coord())))
    val boxes = (0L until 60L).map { i =>
      val (x, y) = (coord(), coord())
      (i, GeoOps.stMakeEnvelope(x, y, x + rnd.nextDouble() * 2, y + rnd.nextDouble() * 2))
    }
    val centers = Seq.fill(3)((coord(), coord()))
    val clustered = (0L until 200L).map { i =>
      val (cx, cy) = centers((i % 3).toInt)
      (i, GeoOps.stPoint(cx + rnd.nextGaussian() * 0.3, cy + rnd.nextGaussian() * 0.3))
    }
    Inputs(pts, boxes, clustered)
  }

  private lazy val sets: Map[String, Inputs] = Map("a" -> inputs(11L), "b" -> inputs(29L))

  /** `(id, g)` parquet files per input set and part, so no plan carries
    * the data; all are written before any measured run. */
  private lazy val written: Map[(String, String), String] =
    (for ((set, in) <- sets.toSeq;
          (part, rows) <- Seq("pts" -> in.pts, "boxes" -> in.boxes, "clustered" -> in.clustered))
    yield {
      val path = s"$dir/$set-$part"
      spark.createDataFrame(rows).toDF("id", "g").write.parquet(path)
      (set, part) -> path
    }).toMap

  private def frame(set: String, part: String): DataFrame = spark.read.parquet(written((set, part)))

  /** Runs `run` on set "a", then on set "b": the second run compiles
    * nothing and each run's result equals its brute force. */
  private def pinned[T](run: String => (T, T)): Unit = {
    written
    val (gotA, wantA) = run("a")
    assert(gotA == wantA, "set a")
    val before = compiles
    val (gotB, wantB) = run("b")
    val compiled = compiles - before
    assert(gotB == wantB, "set b")
    assert(compiled == 0, s"$compiled classes compiled for a query that differs only in constants")
  }

  private def fmt(d: Double): String = f"$d%.3f"

  test("SQL ST_DWithin join (grid rewrite): no compile when radius and data change") {
    pinned { set =>
      val r = if (set == "a") 0.75 else 1.375
      frame(set, "pts").createOrReplaceTempView("shape_pts")
      frame(set, "boxes").createOrReplaceTempView("shape_boxes")
      val df = spark.sql(
        s"SELECT p.id AS pid, q.id AS qid FROM shape_pts p JOIN shape_boxes q " +
          s"ON ST_DWithin(p.g, q.g, ${fmt(r)})")
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("gridrefcell"), plan)
      val got = df.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      val in = sets(set)
      val want = (for ((p, pg) <- in.pts; (q, qg) <- in.boxes
                       if GeoOps.stDWithin(pg, qg, r)) yield (p, q)).toSet
      assert(want.nonEmpty)
      (got, want)
    }
  }

  test("WHERE ST_DWithin(geometry, ST_Point(x, y), r): no compile when point and radius change") {
    pinned { set =>
      val (x, y, r) = if (set == "a") (1.25, -3.5, 6.125) else (-7.625, 4.75, 9.5)
      frame(set, "pts").createOrReplaceTempView("shape_pts")
      val got = spark.sql(
          s"SELECT id FROM shape_pts WHERE ST_DWithin(g, ST_Point(${fmt(x)}, ${fmt(y)}), ${fmt(r)})")
        .collect().map(_.getLong(0)).toSet
      val q = GeoOps.stPoint(x, y)
      val want = sets(set).pts.collect { case (i, g) if GeoOps.stDWithin(g, q, r) => i }.toSet
      assert(want.nonEmpty)
      (got, want)
    }
  }

  test("SpatialJoin.distanceJoin: no compile when radius and data change") {
    pinned { set =>
      val r = if (set == "a") 0.5 else 1.125
      val got = SpatialJoin.distanceJoin(
          frame(set, "pts").select(col("id").as("pid"), col("g")), "g",
          frame(set, "boxes").select(col("id").as("qid"), col("g").as("h")), "h", r)
        .select("pid", "qid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      val in = sets(set)
      val want = (for ((p, pg) <- in.pts; (q, qg) <- in.boxes
                       if GeoOps.stDWithin(pg, qg, r)) yield (p, q)).toSet
      assert(want.nonEmpty)
      (got, want)
    }
  }

  test("SpatialJoin.knnJoin over several rounds: no compile when data and radii change") {
    val k = 3
    pinned { set =>
      val res = SpatialJoin.knnJoin(
        frame(set, "pts").select(col("id").as("lid"), col("g")), "g", "lid",
        frame(set, "clustered").select(col("id").as("rid"), col("g").as("h")), "h", "rid", k)
      // each round contributes one checkpointed `done` frame to the result
      val rounds = res.queryExecution.analyzed.collectLeaves().count(_.isInstanceOf[LogicalRDD])
      assert(rounds >= 2, s"set $set resolved in $rounds round(s); the spec needs >= 2")
      val got = res.select("lid", "rid", "knn_rank").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
      Dedup.releaseResults()
      val in = sets(set)
      val want = in.pts.flatMap { case (l, lg) =>
        in.clustered.map { case (r, rg) => (GeoOps.stDistance(lg, rg), r) }
          .sorted(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)).take(k)
          .zipWithIndex.map { case ((_, r), i) => (l, r, i + 1) }
      }.toSet
      (got, want)
    }
  }

  /** A random digraph on 60 nodes per input set, as `(src, dst)` BIGINT
    * parquet — the schema of the corpus link graph — written before any
    * measured run. */
  private lazy val edgeSets: Map[String, Seq[(Long, Long)]] = Map("a" -> 5L, "b" -> 17L).map {
    case (set, seed) =>
      val rnd = new Random(seed)
      set -> Seq.fill(400)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .distinct.filter(e => e._1 != e._2)
  }

  private lazy val edgeFiles: Map[String, String] = edgeSets.map { case (set, es) =>
    val path = s"$dir/$set-edges"
    spark.createDataFrame(es).toDF("src", "dst").write.parquet(path)
    set -> path
  }

  test("Graphs.pageRank and labelPropagation: no compile on a second edge frame") {
    edgeFiles
    def nine(d: Double): Double = math.rint(d * 1e9) / 1e9
    pinned { set =>
      val e = spark.read.parquet(edgeFiles(set))
      val ranks = Graphs.pageRank(e, "src", "dst", iterations = 3).collect()
        .map(r => r.getString(0) -> nine(r.getDouble(1))).toMap
      val labels = Graphs.labelPropagation(e, "src", "dst", rounds = 2).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      Dedup.releaseCaches()
      // the recurrences of Graphs' scaladoc, in plain Scala
      val es = edgeSets(set).map { case (s, d) => (s.toString, d.toString) }
      val nodes = es.flatMap(x => Seq(x._1, x._2)).distinct
      val n = nodes.size
      val out = es.groupBy(_._1).view.mapValues(_.size).toMap
      var r = nodes.map(_ -> 1.0 / n).toMap
      for (_ <- 1 to 3) {
        val in = es.groupBy(_._2).view.mapValues(_.map(x => r(x._1) / out(x._1)).sum).toMap
        r = nodes.map(v => v -> (0.15 / n + 0.85 * in.getOrElse(v, 0.0))).toMap
      }
      val nb = (es ++ es.map(_.swap)).distinct.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
      var lab = nodes.map(v => v -> v).toMap
      for (_ <- 1 to 2) lab = nodes.map { v =>
        v -> nb.get(v).fold(lab(v))(_.map(lab).groupBy(identity).toSeq
          .map { case (l, ls) => (-ls.size, l) }.min._2)
      }.toMap
      ((ranks, labels), (r.view.mapValues(nine).toMap, lab))
    }
  }

  /** A corpus per input set in the shape of the `corpus_dedup` benchmark:
    * 150 texts of 15 to 35 words over a 400-word vocabulary, an edited copy
    * of each of the first 30 and a second one of the first 10 (so some
    * clusters have three members), as `(id, text)` parquet written before
    * any measured run. */
  private lazy val corpora: Map[String, Seq[(Long, String)]] = Map("a" -> 3L, "b" -> 41L).map {
    case (set, seed) =>
      val rnd = new Random(seed)
      val vocab = IndexedSeq.fill(400)(
        Iterator.continually(('a' + rnd.nextInt(26)).toChar).take(2 + rnd.nextInt(7)).mkString)
      def edit(w: IndexedSeq[String]) = w.updated(rnd.nextInt(w.size), vocab(rnd.nextInt(vocab.size)))
      val texts = IndexedSeq.fill(150)(IndexedSeq.fill(15 + rnd.nextInt(21))(vocab(rnd.nextInt(vocab.size))))
      val docs = texts ++ texts.take(30).map(edit) ++ texts.take(10).map(edit)
      set -> docs.zipWithIndex.map { case (w, i) => (1000L + 7L * i, w.mkString(" ")) }
  }

  private lazy val corpusFiles: Map[String, String] = corpora.map { case (set, docs) =>
    val path = s"$dir/$set-docs"
    spark.createDataFrame(docs).toDF("id", "text").write.parquet(path)
    set -> path
  }

  test("Dedup.minhashPairs then clusters: no compile on a second corpus") {
    corpusFiles
    def nine(d: Double): Double = math.rint(d * 1e9) / 1e9
    pinned { set =>
      val pairs = Dedup.minhashPairs(spark.read.parquet(corpusFiles(set)), "id", "text")
      val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1)) -> nine(r.getDouble(2))).toMap
      val labels = Dedup.clusters(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      Dedup.releaseResults(); Dedup.releaseCaches()
      // exact all-pairs Jaccard >= 0.7 over the lowercased 5-char shingles
      // (a text shorter than 5 is one shingle), and the min-id components
      val sh = corpora(set).map { case (id, t) =>
        val s = t.toLowerCase(java.util.Locale.ROOT)
        id -> (if (s.length >= 5) s.sliding(5).toSet else Set(s))
      }
      val want = (for ((a, sa) <- sh; (b, sb) <- sh if a < b;
                       j = (sa & sb).size.toDouble / (sa | sb).size if j >= 0.7)
        yield (a, b) -> nine(j)).toMap
      assert(want.size >= 30, want.size)
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else find(p) }
      for ((a, b) <- want.keys) {
        val (ra, rb) = (find(a), find(b))
        parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      ((got, labels), (want, parent.keys.map(x => x -> find(x)).toMap))
    }
  }
}
