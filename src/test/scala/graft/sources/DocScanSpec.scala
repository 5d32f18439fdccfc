package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The document scan graft-xml and graft-geojson share: the same features
  * stored as GML XML and as GeoJSON NDJSON answer every pushdown with the
  * same rows and the same scan metrics, and an unsatisfiable bbox reads
  * nothing in any mode. */
class DocScanSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  // a per-run tag keeps these documents' cache keys apart from other suites'
  private val tag = java.util.UUID.randomUUID().toString.take(8)

  private def tempDir(prefix: String): File = {
    val d = Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d
  }

  /** Feature `n` of file `f`: fid, cat, val and a point. */
  private def feature(f: Int, i: Int): (String, String, String, Int, Int) = {
    val n = f * 12 + i
    (s"$tag-${"%02d".format(n)}", s"c${n % 4}", s"v${"%02d".format((n * 7) % 17)}", n % 6, n / 6)
  }

  private lazy val xmlDir: String = {
    val d = tempDir("graft-docscan-xml")
    (0 until 3).foreach { f =>
      Files.writeString(new File(d, s"part$f.xml").toPath, (0 until 12).map { i =>
        val (fid, cat, v, x, y) = feature(f, i)
        s"<feature><fid>$fid</fid><cat>$cat</cat><val>$v</val><gml:Point>" +
          s"<gml:coordinates>$x,$y</gml:coordinates></gml:Point></feature>"
      }.mkString("""<features xmlns:gml="http://www.opengis.net/gml">""", "\n", "</features>"))
    }
    d.getAbsolutePath
  }

  private lazy val geoDir: String = {
    val d = tempDir("graft-docscan-geojson")
    (0 until 3).foreach { f =>
      Files.writeString(new File(d, s"part$f.geojson").toPath, (0 until 12).map { i =>
        val (fid, cat, v, x, y) = feature(f, i)
        s"""{"type":"Feature","properties":{"fid":"$fid","cat":"$cat","val":"$v"},""" +
          s""""geometry":{"type":"Point","coordinates":[$x,$y]}}"""
      }.mkString("\n"))
    }
    d.getAbsolutePath
  }

  private def xmlFrame: DataFrame = spark.read.format("graft-xml")
    .option("recordTag", "feature").option("columns", "fid,cat,val").load(xmlDir)

  private def geoFrame: DataFrame = spark.read.format("graft-geojson")
    .option("multiLine", "false").option("columns", "fid,cat,val").load(geoDir)

  private def scans(df: DataFrame): Seq[BatchScanExec] =
    collect(df.queryExecution.executedPlan: SparkPlan) { case b: BatchScanExec => b }

  /** Rows, summed (decoded, cached) scan metrics and the scan descriptions
    * without the format's name and its wire preview. */
  private def run(df: DataFrame): (Seq[String], Long, Long, Seq[String]) = {
    val rows = df.collect().toSeq.map(_.toSeq.map {
      case wkb: Array[Byte] => java.util.HexFormat.of().formatHex(wkb)
      case v                => String.valueOf(v)
    }.mkString("|")).sorted
    val bs = scans(df)
    assert(bs.nonEmpty, df.queryExecution.executedPlan)
    def sum(name: String) = bs.map(_.metrics(name).value).sum
    val pushdown = bs.map(_.scan.description()
      .replaceFirst("^graft-(xml|geojson) ", "")
      .replaceAll(", (XQueryPredicates|MongoSelector): .*$", ""))
    (rows, sum(DocumentsDecodedMetric.Name), sum(DocumentsCachedMetric.Name), pushdown)
  }

  private def writeDim(rows: Seq[(String, String)]): String = {
    import spark.implicits._
    val path = tempDir("graft-docscan-dim").getAbsolutePath
    rows.toDF("cat", "tag").write.mode("overwrite").parquet(path)
    path
  }

  test("GML XML and GeoJSON NDJSON give the same rows and metrics for every pushdown") {
    val dim = writeDim(Seq("c1" -> "x", "c2" -> "y", "c3" -> "x"))
    val queries: Seq[(String, String, DataFrame => DataFrame)] = Seq(
      ("pushed filters", "In(cat, [c1,c2])",
        _.where(col("cat").isin("c1", "c2") && col("val") >= "v05").select("fid", "cat", "geometry")),
      ("limit", "PushedLimit: 7", _.select("fid").limit(7)),
      ("topN", "PushedTopN:", _.orderBy(col("val").desc, col("fid")).limit(5).select("fid", "val")),
      ("group by", "PushedAggregation: [COUNT(*), COUNT(val), MIN(fid), MAX(val)]",
        _.groupBy("cat").agg(count(lit(1)), count("val"), min("fid"), max("val"))),
      ("runtime filter", "RuntimeFilters: [dynamicpruning",
        _.join(spark.read.parquet(dim).where(col("tag") === "x"), Seq("cat")).select("fid", "cat")),
      ("bbox", "bbox: [",
        _.where("ST_Within(geometry, ST_MakeEnvelope(0.5, 0.5, 3.5, 2.5))").select("fid")))
    queries.foreach { case (name, marker, q) =>
      DecodedDocs.shared.clear()
      for (pass <- Seq("cold", "warm")) {
        val Seq(xml, geo) = Seq(xmlFrame, geoFrame).map { frame =>
          val df = q(frame)
          assert(df.queryExecution.executedPlan.toString.contains(marker),
            s"$name: ${df.queryExecution.executedPlan}")
          run(df)
        }
        assert(xml._1.nonEmpty, s"$name $pass")
        assert(xml == geo, s"$name $pass:\n  xml $xml\n  geo $geo")
      }
    }
  }

  test("an unsatisfiable bbox reads nothing: no document, no server request, COUNT(*) is 0") {
    val disjoint = "ST_Within(geometry, ST_MakeEnvelope(0, 0, 1, 1)) AND " +
      "ST_Within(geometry, ST_MakeEnvelope(5, 5, 6, 6))"
    def check(what: String, frame: => DataFrame, requests: () => Int): Unit = {
      val before = requests()
      val df = frame.where(disjoint).select("fid", "geometry")
      assert(df.queryExecution.executedPlan.toString.contains("bbox: [empty]"),
        s"$what: ${df.queryExecution.executedPlan}")
      val (rows, decoded, cached, _) = run(df)
      assert(rows.isEmpty && decoded == 0 && cached == 0, s"$what: $rows $decoded/$cached")
      assert(requests() == before, s"$what: ${requests() - before} requests")
    }
    // the sentinel given as the option: a pushed global COUNT(*) still
    // emits its zero row, a grouped one emits none
    def counted(frame: DataFrame, what: String, requests: () => Int): Unit = {
      val before = requests()
      val n = frame.select(count(lit(1)))
      assert(n.queryExecution.executedPlan.toString.contains("PushedAggregation: [COUNT(*)]"),
        s"$what: ${n.queryExecution.executedPlan}")
      assert(n.collect().toSeq == Seq(Row(0L)), what)
      assert(frame.groupBy("cat").count().collect().isEmpty, what)
      assert(requests() == before, s"$what: ${requests() - before} requests")
    }
    val noServer = () => 0
    DecodedDocs.shared.clear()
    check("local xml", xmlFrame, noServer)
    check("local geojson", geoFrame, noServer)
    counted(spark.read.format("graft-xml").option("recordTag", "feature")
      .option("columns", "fid,cat").option("bbox", "empty").load(xmlDir), "local xml", noServer)
    counted(spark.read.format("graft-geojson").option("multiLine", "false")
      .option("columns", "fid,cat").option("bbox", "empty").load(geoDir), "local geojson", noServer)

    val docs = (0 until 60).map { i =>
      s"""{"_id":"d$i","type":"Feature","properties":{"fid":"$tag-$i","cat":"c${i % 3}"},""" +
        s""""geometry":{"type":"Point","coordinates":[$i,0]}}"""
    }
    val posted = new java.util.concurrent.atomic.AtomicInteger(0)
    val couch = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    couch.createContext("/db/_find", ex => {
      val req = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      posted.incrementAndGet()
      val skip = """"skip": (\d+)""".r.findFirstMatchIn(req).map(_.group(1).toInt).getOrElse(0)
      val resp = s"""{"docs":[${docs.slice(skip, skip + 25).mkString(",")}]}""".getBytes("UTF-8")
      ex.sendResponseHeaders(200, resp.length)
      ex.getResponseBody.write(resp)
      ex.close()
    })
    couch.start()
    val mongo = new graft.sources.mongo.FakeMongod.Server(docs)
    try {
      val couchUrl = s"http://127.0.0.1:${couch.getAddress.getPort}/db"
      val mongoUrl = s"mongodb://127.0.0.1:${mongo.port}/db/pts"
      def server(url: String, bbox: Option[String]) = {
        val r = spark.read.format("graft-geojson").option("serverPushdown", "true")
          .option("columns", "fid,cat")
        bbox.fold(r)(b => r.option("bbox", b)).load(url)
      }
      val couchRequests = () => posted.get()
      val mongoRequests = () => mongo.received.size()
      check("couch", server(couchUrl, None), couchRequests)
      check("mongo", server(mongoUrl, None), mongoRequests)
      counted(server(couchUrl, Some("empty")), "couch", couchRequests)
      counted(server(mongoUrl, Some("empty")), "mongo", mongoRequests)
      // the same scans without the sentinel do reach the servers
      assert(server(couchUrl, None).count() == 60 && posted.get() > 0)
      assert(server(mongoUrl, None).count() == 60 && mongo.received.size() > 0)
    } finally {
      couch.stop(0)
      mongo.stop()
    }
  }
}
