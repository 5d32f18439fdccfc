package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Runtime (DPP-style) filter pushdown into the document scans
  * (`SupportsRuntimeFiltering`): a join against a selectively-filtered
  * dimension hands each scan the dimension's join-key VALUES at
  * execution time — they prune documents at parse time locally and ride
  * the server-side selector (XQuery / Mango) in pushdown mode, the
  * document-store analog of dynamic partition pruning. */
class RuntimeFilterSpec extends SparkTestBase {

  import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
  import scala.jdk.CollectionConverters._

  /** A parquet-backed dimension with a selective filter — a LocalRelation
    * constant-folds before the DPP rule sees a Filter node, so the dim
    * must come from a real source for pruning to be considered. */
  private def writeDim(rows: Seq[(String, String)]): String = {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-rf-dim").toString
    rows.toDF("kind", "tag").write.mode("overwrite").parquet(path)
    path
  }

  test("local graft-xml: the dimension's key values prune at the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rf-xml").toFile
    (0 until 3).foreach { i =>
      val recs = (0 until 40).map(j =>
        s"<feature><name>n${i}_$j</name><kind>k${(i * 40 + j) % 10}</kind></feature>").mkString
      java.nio.file.Files.write(new java.io.File(dir, s"d$i.xml").toPath,
        s"<col>$recs</col>".getBytes("UTF-8"))
    }
    val dim = spark.read.parquet(writeDim(Seq("k3" -> "x", "k7" -> "y")))
      .where(col("tag") === "x")
    val fact = spark.read.format("graft-xml").option("recordTag", "feature")
      .option("columns", "name,kind").load(dir.getAbsolutePath)
    val j = fact.join(dim, Seq("kind"))
    val rows = j.collect()
    assert(rows.length == 12 && rows.forall(_.getString(0) == "k3"))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"), plan)
    assert(plan.contains("RuntimeFilters: [dynamicpruning"), plan)
  }

  test("server graft-xml: the runtime IN travels inside the XQuery selector") {
    val posted = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val recs = (0 until 12).map(j => s"<rec><name>n$j</name><kind>k${j % 4}</kind></rec>")
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/rest", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body =
          if (ex.getRequestMethod == "POST") {
            posted.add(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
            // predicates ignored (superset) — the re-apply keeps exactness
            s"<rest-results>${recs.mkString}</rest-results>"
          } else
            """<rest:database xmlns:rest="http://basex.org/rest">
              |<rest:resource>a.xml</rest:resource></rest:database>""".stripMargin
        val b = body.getBytes("UTF-8")
        ex.sendResponseHeaders(200, b.length)
        ex.getResponseBody.write(b)
        ex.close()
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/rest/db"
      val dim = spark.read.parquet(writeDim(Seq("k1" -> "x", "k2" -> "y")))
        .where(col("tag") === "x")
      val fact = spark.read.format("graft-xml").option("recordTag", "rec")
        .option("columns", "name,kind").option("serverPushdown", "true").load(base)
      val j = fact.join(dim, Seq("kind"))
      val rows = j.collect()
      assert(rows.length == 3 && rows.forall(_.getString(0) == "k1"),
        rows.map(_.toString).mkString(","))
      assert(j.queryExecution.executedPlan.toString.contains("dynamicpruningexpression"))
      // the scan's POST carried the dimension's key values as the
      // XQuery IN — the server-side prune a real BaseX would evaluate
      val wire = posted.asScala.last
      assert(wire.contains("*:kind = ('k1')"), wire)
    } finally server.stop(0)
  }

  test("server graft-geojson: the runtime IN travels inside the Mango selector") {
    val posted = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val docs = (0 until 8).map(i =>
      s"""{"type":"Feature","properties":{"name":"p$i","kind":"k${i % 4}"},"geometry":{"type":"Point","coordinates":[$i,0]}}""")
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/db/_find", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val req = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        posted.add(req)
        val skip = """"skip": (\d+)""".r.findFirstMatchIn(req).map(_.group(1).toInt).getOrElse(0)
        val resp = s"""{"docs":[${docs.slice(skip, skip + 25).mkString(",")}]}""".getBytes("UTF-8")
        ex.sendResponseHeaders(200, resp.length)
        ex.getResponseBody.write(resp)
        ex.close()
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/db"
      val dim = spark.read.parquet(writeDim(Seq("k2" -> "x", "k3" -> "y")))
        .where(col("tag") === "x")
      val fact = spark.read.format("graft-geojson")
        .option("columns", "name,kind").option("serverPushdown", "true").load(base)
      val j = fact.join(dim, Seq("kind"))
      val rows = j.collect()
      assert(rows.length == 2 && rows.forall(_.getString(0) == "k2"),
        rows.map(_.toString).mkString(","))
      val wire = posted.asScala.last
      assert(wire.contains(""""properties.kind""""), wire)
      assert(wire.contains(""""k2""""), wire)
    } finally server.stop(0)
  }

  test("aggregated scans refuse runtime filters") {
    val scan = DocScan(new graft.sources.xml.XmlDataSource().wire(DocOptions.of()),
      DocScan.schemaFor(Seq("name", "kind")), Seq("f.xml"), Array.empty,
      agg = Some((Seq("kind"), Seq(AggPushdown.CountStarSpec))))
    assert(scan.filterAttributes().isEmpty)
    val plain = scan.copy(agg = None)
    assert(plain.filterAttributes().map(_.toString).toSet == Set("name", "kind"))
  }

  test("filter attributes are single-part even for dotted column names") {
    // Expressions.column would PARSE "addr.city" into a two-part path
    // that fails to resolve against the flat column — the refs must stay
    // single-part whatever characters the flattened name carries
    val scan = DocScan(new geojson.GeoJsonDataSource().wire(DocOptions.of()),
      DocScan.schemaFor(Seq("addr.city", "we`ird")), Seq("f.json"), Array.empty)
    val refs = scan.filterAttributes()
    assert(refs.map(_.fieldNames().toSeq).toSet ==
      Set(Seq("addr.city"), Seq("we`ird")))
  }

  test("an over-cap IN stays off the wire but still filters locally") {
    import org.apache.spark.sql.sources.{And, EqualTo, In, Not}
    val big = In("kind", Array.fill[Any](StringFilterEval.MaxWireInValues + 1)("v"))
    val small = In("kind", Array[Any]("a", "b"))
    assert(!StringFilterEval.wireSafe(big))
    assert(StringFilterEval.wireSafe(small))
    assert(!StringFilterEval.wireSafe(And(EqualTo("x", "1"), big)))
    assert(!StringFilterEval.wireSafe(Not(big)))
    // e2e: the huge IN must not appear in the posted selector, yet the
    // scan's local re-apply still prunes by it
    val posted = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val docs = (0 until 6).map(i =>
      s"""{"type":"Feature","properties":{"name":"p$i","kind":"k$i"},"geometry":{"type":"Point","coordinates":[$i,0]}}""")
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/db/_find", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val req = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        posted.add(req)
        val skip = """"skip": (\d+)""".r.findFirstMatchIn(req).map(_.group(1).toInt).getOrElse(0)
        val resp = s"""{"docs":[${docs.slice(skip, skip + 25).mkString(",")}]}""".getBytes("UTF-8")
        ex.sendResponseHeaders(200, resp.length)
        ex.getResponseBody.write(resp)
        ex.close()
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/db"
      val values = "k2" +: (0 until StringFilterEval.MaxWireInValues + 5).map(i => s"z$i")
      val rows = spark.read.format("graft-geojson")
        .option("columns", "name,kind").option("serverPushdown", "true").load(base)
        .where(col("kind").isin(values: _*))
        .collect()
      assert(rows.map(_.getString(0)).toSeq == Seq("p2"), rows.mkString(","))
      val wire = posted.asScala.last
      assert(!wire.contains("z17"), wire.take(300))
    } finally server.stop(0)
  }
}
