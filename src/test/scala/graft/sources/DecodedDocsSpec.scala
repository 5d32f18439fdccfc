package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col

import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The decoded-record cache behind the graft-xml / graft-geojson file
  * scans: results never depend on whether a document came from the cache,
  * a rewrite is never served stale, server pushdown is never cached, and
  * the cache stays within its bound. */
class DecodedDocsSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  // a per-run tag keeps these documents' content (and so their cache keys)
  // apart from every other suite's
  private val tag = java.util.UUID.randomUUID().toString.take(8)

  private def tempDir(prefix: String): File = {
    val d = Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d
  }

  private def write(f: File, text: String): Unit = Files.writeString(f.toPath, text)

  /** Three files of 12 features each: fid, cat, and a point geometry. */
  private lazy val xmlDir: String = {
    val d = tempDir("graft-decoded-xml")
    (0 until 3).foreach { f =>
      write(new File(d, s"part$f.xml"), (0 until 12).map { i =>
        val n = f * 12 + i
        s"<feature><fid>$tag-$n</fid><cat>c${n % 4}</cat><gml:Point><gml:coordinates>" +
          s"${n % 6},${n / 6}</gml:coordinates></gml:Point></feature>"
      }.mkString("""<features xmlns:gml="http://www.opengis.net/gml">""", "\n", "</features>"))
    }
    d.getAbsolutePath
  }

  private lazy val geoDir: String = {
    val d = tempDir("graft-decoded-geojson")
    (0 until 3).foreach { f =>
      write(new File(d, s"part$f.geojson"), (0 until 12).map { i =>
        val n = f * 12 + i
        s"""{"type":"Feature","properties":{"fid":"$tag-$n","cat":"c${n % 4}"},""" +
          s""""geometry":{"type":"Point","coordinates":[${n % 6},${n / 6}]}}"""
      }.mkString("\n"))
    }
    d.getAbsolutePath
  }

  private def xmlFrame(path: String): DataFrame = spark.read.format("graft-xml")
    .option("recordTag", "feature").option("columns", "fid,cat").load(path)

  private def geoFrame(path: String): DataFrame = spark.read.format("graft-geojson")
    .option("multiLine", "false").option("columns", "fid,cat").load(path)

  /** Rows of a fresh query plus the summed (decoded, cached) scan metrics. */
  private def run(df: DataFrame): (Seq[Row], Long, Long) = {
    val rows = df.collect().toSeq
    val scans = collect(df.queryExecution.executedPlan: SparkPlan) { case b: BatchScanExec => b }
    assert(scans.nonEmpty, df.queryExecution.executedPlan)
    def sum(name: String) = scans.map(_.metrics(name).value).sum
    (rows, sum(DocumentsDecodedMetric.Name), sum(DocumentsCachedMetric.Name))
  }

  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.map {
    case wkb: Array[Byte] => java.util.HexFormat.of().formatHex(wkb)
    case v                => String.valueOf(v)
  }.mkString("|")).sorted

  test("warm and cold scans agree on filters, bbox, LIMIT, TopN and aggregates") {
    for ((format, frame, path) <- Seq(("xml", xmlFrame _, xmlDir), ("geojson", geoFrame _, geoDir))) {
      val queries: Seq[(String, DataFrame => DataFrame)] = Seq(
        "string filter" -> (_.where(col("cat") === "c1").select("fid", "geometry")),
        "bbox" -> (_.where("ST_Within(geometry, ST_MakeEnvelope(0.5, 0.5, 3.5, 2.5))").select("fid")),
        "limit" -> (_.select("fid").limit(5)),
        "topN" -> (_.orderBy(col("fid").desc).limit(4).select("fid", "cat")),
        "group by" -> (_.groupBy("cat").count()))
      queries.foreach { case (name, q) =>
        DecodedDocs.shared.clear()
        val (cold, coldDecoded, coldCached) = run(q(frame(path)))
        val (warm, warmDecoded, warmCached) = run(q(frame(path)))
        val what = s"$format $name"
        assert(cold.nonEmpty, what)
        assert(sorted(warm) == sorted(cold), what)
        assert(coldDecoded > 0 && coldCached == 0, s"$what cold: $coldDecoded/$coldCached")
        assert(warmDecoded == 0 && warmCached > 0, s"$what warm: $warmDecoded/$warmCached")
      }
    }
    // the bbox query really pruned at the scan
    DecodedDocs.shared.clear()
    val bbox = xmlFrame(xmlDir).where("ST_Within(geometry, ST_MakeEnvelope(0.5, 0.5, 3.5, 2.5))")
    assert(bbox.queryExecution.executedPlan.toString.contains("bbox: ["))
    assert(bbox.count() == 6) // x in 1..3, y in 1..2
  }

  test("a repeated query over unchanged files decodes no document") {
    val sql = (v: String) => s"SELECT cat, count(*) AS n FROM $v WHERE cat <> 'c0' GROUP BY cat"
    xmlFrame(xmlDir).createOrReplaceTempView("decoded_xml")
    geoFrame(geoDir).createOrReplaceTempView("decoded_geo")
    for (v <- Seq("decoded_xml", "decoded_geo")) {
      val (first, _, _) = run(spark.sql(sql(v)))
      val (again, decoded, cached) = run(spark.sql(sql(v)))
      assert(sorted(again) == sorted(first))
      assert(decoded == 0 && cached == 3, s"$v: decoded $decoded, cached $cached")
    }
  }

  test("a file rewritten in place with equal length and mtime returns the new rows") {
    val d = tempDir("graft-decoded-rewrite")
    val xml = new File(d, "doc.xml")
    val geo = new File(d, "doc.geojson")
    def xmlDoc(v: String) = s"<col><feature><fid>$tag</fid><cat>$v</cat></feature></col>"
    def geoDoc(v: String) = s"""{"type":"Feature","properties":{"fid":"$tag","cat":"$v"},"geometry":null}"""
    write(xml, xmlDoc("old")); write(geo, geoDoc("old"))
    def cats(df: DataFrame) = df.select("cat").collect().map(_.getString(0)).toSeq
    assert(cats(xmlFrame(xml.getPath)) == Seq("old"))
    assert(cats(geoFrame(geo.getPath)) == Seq("old"))
    val (xmlTime, geoTime) = (xml.lastModified(), geo.lastModified())
    write(xml, xmlDoc("new")); write(geo, geoDoc("new"))
    assert(xml.setLastModified(xmlTime) && geo.setLastModified(geoTime))
    assert(xml.length() == xmlDoc("old").length && xml.lastModified() == xmlTime)
    assert(cats(xmlFrame(xml.getPath)) == Seq("new"))
    assert(cats(geoFrame(geo.getPath)) == Seq("new"))
  }

  test("the decode variant is part of the key: recordTag and multiLine") {
    val d = tempDir("graft-decoded-variant")
    val f = new File(d, "doc.xml")
    write(f, s"<col><a><b>$tag</b></a><a><b>2</b></a></col>")
    val byRoot = spark.read.format("graft-xml").load(f.getPath)
    val byTag = spark.read.format("graft-xml").option("recordTag", "b").load(f.getPath)
    assert(byRoot.columns.toSet == Set("b", "geometry") && byRoot.count() == 2)
    assert(byTag.count() == 2 && !byTag.columns.contains("b"))
    // the same bytes read whole-file must still refuse trailing documents
    val g = new File(d, "lines.geojson")
    write(g, s"""{"type":"Feature","properties":{"x":"$tag"}}""" + "\n" +
      """{"type":"Feature","properties":{"x":"2"}}""")
    assert(geoFrame(g.getPath).count() == 2)
    val e = intercept[Exception](spark.read.format("graft-geojson")
      .option("columns", "x").load(g.getPath).count())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("trailing JSON")), e)
  }

  test("a Mongo server-pushdown scan makes its wire round trips on every query") {
    val docs = (0 until 30).map { i =>
      s"""{"_id":"d$i","type":"Feature","properties":{"fid":"$tag-$i","cat":"c${i % 3}"},""" +
        s""""geometry":{"type":"Point","coordinates":[$i,1]}}"""
    }
    val srv = new graft.sources.mongo.FakeMongod.Server(docs)
    try {
      val df = () => spark.read.format("graft-geojson").option("serverPushdown", "true")
        .option("columns", "fid,cat").load(s"mongodb://127.0.0.1:${srv.port}/db/pts")
        .where(col("cat") === "c1")
      def finds = srv.received.asScala.count(_.contains("\"find\""))
      val before = finds
      val (first, d1, c1) = run(df())
      val afterFirst = finds
      val (second, d2, c2) = run(df())
      assert(first.size == 10 && sorted(second) == sorted(first))
      assert(afterFirst > before && finds - afterFirst == afterFirst - before,
        s"find commands: $before -> $afterFirst -> $finds")
      assert(Seq(d1, c1, d2, c2).forall(_ == 0))
    } finally srv.stop()
  }

  test("entries past the bound are evicted, least recently used first") {
    val d = tempDir("graft-decoded-lru")
    val docs = Seq("a", "b", "c").map { n =>
      val f = new File(d, s"$n.xml")
      write(f, (0 until 20).map(i => s"<r><k>$n$i-$tag</k></r>").mkString("<col>", "", "</col>"))
      f
    }
    val files = docs.map(_.toURI.toString)
    val format = XmlDoc(None)
    // the documents are equal in shape, so each weighs about this much
    val weight = org.apache.spark.util.SizeEstimator.estimate(
      format.decode(files.head, Files.readAllBytes(docs.head.toPath)))
    def hit(cache: DecodedDocs, f: String) = DocFiles.records(f, format, 5000, cache)._2

    // room for two documents
    val lru = new DecodedDocs(weight * 5 / 2)
    assert(!hit(lru, files(0)) && !hit(lru, files(1)))
    assert(hit(lru, files(0)))             // a is now the most recent
    assert(!hit(lru, files(2)))            // c evicts b, the least recent
    assert(hit(lru, files(0)) && hit(lru, files(2)))
    assert(!hit(lru, files(1)))            // b is back, evicting a
    assert(!hit(lru, files(0)))

    // an entry heavier than the whole bound is not kept
    val tiny = new DecodedDocs(weight / 2)
    assert(!hit(tiny, files(0)) && !hit(tiny, files(0)))
  }
}
