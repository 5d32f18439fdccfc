package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Optimization-round measurement aid: times named sub-phases of the
  * expensive gates so the optimization work targets the real cost
  * (guide §1 — measure first). Each probe times a single forced
  * computation (noop-equivalent toRdd.foreach), printed as
  * `probe,<name>,<sec>`. Not part of the driver contract. */
object ProbeTimes {
  def force(df: DataFrame): Unit = df.queryExecution.toRdd.foreach(_ => ())
  def time[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"probe,$name,${(System.nanoTime() - t0) / 1e9}%.3f")
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val which = args.headOption.getOrElse(".*")
    val spark = LocalSession("graft-probe-times")
    graft.SparkEntry.init(spark, sfDir)
    spark.sql("SELECT count(*) FROM lineitem").collect()

    def run(name: String)(f: => Unit): Unit =
      if (name.matches(which)) {
        f
        graft.operators.Dedup.releaseCaches(blocking = true)
        graft.operators.Dedup.releaseResults(blocking = true)
      }

    run("graph_edges") {
      // the shared prefix of pagerank / bfs / label_prop
      val weighted = spark.sql(
        """SELECT concat('c', CAST(o_custkey AS STRING)) AS src,
          |       concat('s', CAST(l_suppkey AS STRING)) AS dst,
          |       sum(l_quantity) AS w
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY 1, 2""".stripMargin)
      time("graph_edges_weighted_1st")(force(weighted))
      time("graph_edges_weighted_2nd")(force(weighted))
      val distinct = spark.sql(
        """SELECT DISTINCT concat('c', CAST(o_custkey AS STRING)) AS src,
          |       concat('s', CAST(l_suppkey AS STRING)) AS dst
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin)
      time("graph_edges_distinct")(force(distinct))
      println("weighted plan:")
      println(weighted.queryExecution.executedPlan.toString.take(3000))
    }

    run("pagerank_phases") {
      val edges = spark.sql(
        """SELECT concat('c', CAST(o_custkey AS STRING)) AS src,
          |       concat('s', CAST(l_suppkey AS STRING)) AS dst,
          |       sum(l_quantity) AS w
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY 1, 2""".stripMargin)
      val df = time("pagerank_build")(
        graft.operators.Graphs.pageRank(edges, "src", "dst", Some("w"), iterations = 3))
      time("pagerank_force")(force(
        df.select(col("node"), round(col("rank") * 1000, 6).as("rank_k"))))
    }

    run("bfs_phases") {
      val edges = spark.sql(
        """SELECT DISTINCT concat('c', CAST(o_custkey AS STRING)) AS src,
          |       concat('s', CAST(l_suppkey AS STRING)) AS dst
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin)
      val sources = spark.sql(
        """SELECT DISTINCT concat('c', CAST(c_custkey AS STRING)) AS node
          |FROM customer WHERE c_custkey % 1000 = 0""".stripMargin)
      val df = time("bfs_build")(
        graft.operators.Graphs.bfs(edges, "src", "dst", sources, "node",
          maxHops = 4, undirected = true))
      time("bfs_force")(force(df))
    }

    run("semdedup_phases") {
      val aug = spark.sql(
        """SELECT vec_id, embedding FROM embeddings
          |UNION ALL
          |SELECT vec_id + 100000 AS vec_id,
          |       transform(embedding, (x, i) ->
          |         IF(i = 0, CAST(CAST(x AS DOUBLE) + 0.05 AS FLOAT), x)) AS embedding
          |FROM embeddings""".stripMargin)
      val df = time("semdedup_assign")(
        graft.operators.SemDedup.assign(aug, "vec_id", "embedding", tau = 0.95,
          k = 64, trainSampleSize = 10000))
      time("semdedup_force")(force(
        df.where(!col("kept")).select(col("id").as("vec_id"), col("cluster"))))
    }

    run("triangles_phases") {
      val edges = spark.table("events").select(
        pmod(col("user_id"), lit(300)).as("a"),
        pmod(col("user_id") * 7 + col("event_id"), lit(300)).as("b"))
      time("triangles_edges_scan")(force(edges))
      val df = time("triangles_build")(
        graft.operators.Graphs.triangleCount(edges, "a", "b"))
      time("triangles_force")(force(df))
      time("triangles_force_again")(force(
        graft.operators.Graphs.triangleCount(edges, "a", "b")))
    }

    spark.stop()
  }
}
