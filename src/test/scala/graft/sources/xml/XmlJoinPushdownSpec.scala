package graft.sources.xml

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Server-side JOIN execution — the reference's 2-collection join pushdown
  * (src/getdata.ts:110 dispatches 2-table non-FULL joins to ONE backend
  * query; extension/xml_extension.ts:614 constructJoinQuery), negotiated
  * through Spark's own DSv2 join pushdown
  * (`spark.sql.optimizer.datasourceV2JoinPushdown` +
  * SupportsPushDownJoin on the graft-xml scan builder).
  *
  * The fake REST server here answers every join query with the full
  * CARTESIAN pair set (`where` ignored) — an honest superset — so these
  * cases prove the local re-apply reduces whatever a server sends back to
  * exactly Spark's own join semantics. */
class XmlJoinPushdownSpec extends SparkTestBase {

  import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
  import scala.jdk.CollectionConverters._

  private val docs = Map(
    ("dba", "a.xml") -> Seq(
      """<feature><name>n1</name><kind>k1</kind><gml:Point xmlns:gml="http://www.opengis.net/gml"><gml:coordinates>3,4</gml:coordinates></gml:Point></feature>""",
      "<feature><name>n2</name><kind>k2</kind></feature>"),
    ("dbb", "b.xml") -> Seq(
      "<feature><ref>n1</ref><pop>10</pop></feature>",
      "<feature><ref>n3</ref><pop>30</pop></feature>"))

  /** BaseX-REST-style fake: GET lists/serves documents; POST answers the
    * selection (all records, predicates ignored) or — when the query
    * opens TWO documents — the join pair shape `element{'l'}{record
    * children}`/`<r>`, again with the `where` ignored (cartesian). */
  private def mkServer(posted: java.util.List[String]): HttpServer = {
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def respond(ex: HttpExchange, body: String): Unit = {
      val b = body.getBytes("UTF-8")
      ex.getResponseHeaders.add("Content-Type", "application/xml")
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    }
    def listing(db: String, res: String) =
      s"""<rest:database xmlns:rest="http://basex.org/rest" name="$db">
         |  <rest:resource type="xml">$res</rest:resource>
         |</rest:database>""".stripMargin
    server.createContext("/rest", new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        if (ex.getRequestMethod == "POST") {
          val q = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
          posted.add(q)
          val opened = """db:open\("([^"]+)","([^"]+)"\)""".r
            .findAllMatchIn(q).map(m => (m.group(1), m.group(2))).toSeq
          def inner(rec: String) =
            rec.replaceAll("^<feature>", "").replaceAll("</feature>$", "")
          val body = opened match {
            case Seq(one) => docs(one).mkString
            case Seq(l, r) =>
              (for (lr <- docs(l); rr <- docs(r))
                yield s"<result><l>${inner(lr)}</l><r>${inner(rr)}</r></result>").mkString
            case _ => ""
          }
          respond(ex, s"<rest-results>$body</rest-results>")
        } else {
          val path = ex.getRequestURI.getPath
          if (path.endsWith("dba")) respond(ex, listing("dba", "a.xml"))
          else if (path.endsWith("dbb")) respond(ex, listing("dbb", "b.xml"))
          else respond(ex, s"<col>${docs.collectFirst {
            case ((_, d), recs) if path.endsWith(d) => recs.mkString
          }.getOrElse("")}</col>")
        }
    })
    server
  }

  private def withServer(f: (String, java.util.List[String]) => Unit): Unit = {
    val posted = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val server = mkServer(posted)
    server.start()
    spark.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
    try f(s"http://127.0.0.1:${server.getAddress.getPort}", posted)
    finally {
      spark.conf.unset("spark.sql.optimizer.datasourceV2JoinPushdown")
      server.stop(0)
    }
  }

  private def rd(base: String, db: String, cols: String) =
    spark.read.format("graft-xml").option("recordTag", "feature")
      .option("serverPushdown", "true").option("columns", cols)
      .load(s"$base/rest/$db")

  test("INNER equi-join executes as one server query; re-apply restores exactness") {
    withServer { (base, posted) =>
      val a = rd(base, "dba", "name,kind")
      val b = rd(base, "dbb", "ref,pop")
      val j = a.join(b, a("name") === b("ref")).select("name", "kind", "pop")
        .where(col("kind") === "k1")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("server-join 1x1 docs, Type: inner, On: [name = ref]"), plan)
      // the server answered the full cartesian; the exact inner result
      // survives because the scan re-applies ON + per-side filters
      assert(j.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .toSeq == Seq(("n1", "k1", "10")))
      // wire parity: ONE query carries both collections, the per-side
      // predicates in the root filters, the ON in the FLWOR where
      // (right operand leading, the reference's order), and the pair
      // wrappers that flatten per side
      val sent = posted.asScala.filter(_.contains("dbb")).last
      assert(sent.contains(
        """for $l in db:open("dba","a.xml")//*:feature[exists(*:kind[not(*)][not(@group)]) and *:kind = 'k1' and exists(*:name[not(*)][not(@group)])], $r in db:open("dbb","b.xml")//*:feature[exists(*:ref[not(*)][not(@group)])]"""),
        sent)
      assert(sent.contains("where $r/*:ref = $l/*:name"), sent)
      // narrow sides PROJECT server-side (output + filter refs + ON keys)
      assert(sent.contains(
        "return element{'result'}{element{'l'}{$l/*:name,$l/*:kind},element{'r'}{$r/*:ref,$r/*:pop}}"),
        sent)
    }
  }

  test("geometry survives the joined wire format; unselected ON keys prune after") {
    withServer { (base, _) =>
      val a = rd(base, "dba", "name,kind")
      val b = rd(base, "dbb", "ref,pop")
      // geometry is a first-class joined output column (the pair wrappers
      // re-ship whole records, so the WKB rebuilds from the l side)
      val j = a.join(b, a("name") === b("ref"))
        .select(col("pop"), call_function("st_x", a("geometry")).as("x"))
      assert(j.queryExecution.executedPlan.toString.contains("server-join"),
        j.queryExecution.executedPlan.toString)
      assert(j.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
        Seq(("10", 3.0)))
    }
  }

  test("self-join with colliding column names aliases through") {
    withServer { (base, _) =>
      val a = rd(base, "dba", "name,kind")
      val b = rd(base, "dba", "name,kind")
      val j = a.join(b, a("name") === b("name"))
        .select(a("kind").as("ka"), b("kind").as("kb"))
      assert(j.queryExecution.executedPlan.toString.contains("server-join"),
        j.queryExecution.executedPlan.toString)
      assert(j.collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted ==
        Seq(("k1", "k1"), ("k2", "k2")))
    }
  }

  test("non-equi and cross-source joins fall back to Spark's local join") {
    withServer { (base, _) =>
      val a = rd(base, "dba", "name,kind")
      val b = rd(base, "dbb", "ref,pop")
      // inequality ON: pushDownJoin refuses, the local join still answers
      val ne = a.join(b, a("name") < b("ref"))
      assert(!ne.queryExecution.executedPlan.toString.contains("server-join"))
      assert(ne.count() == 2) // (n1,n3), (n2,n3)
    }
  }

  test("LEFT join pushes: live inner pairs + live left fetch, exact against a lying server") {
    withServer { (base, posted) =>
      val a = rd(base, "dba", "name,kind")
      val b = rd(base, "dbb", "ref,pop")
      val lj = a.join(b, a("name") === b("ref"), "left")
        .select("name", "kind", "pop")
      val plan = lj.queryExecution.executedPlan.toString
      assert(plan.contains("server-join") && plan.contains("Type: left"), plan)
      // the fake answers the join with the full CARTESIAN (a lying
      // server): the re-apply drops the bogus pairs AND the null
      // extension resurrects n2, because the left side's record set is
      // fetched live, not inferred from the server's pairing
      assert(lj.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .toSet == Set(("n1", "k1", "10"), ("n2", "k2", null)))
      // wire shape: the join FLWOR for the pairs plus ONE single-doc
      // selection for the left side's records
      val joins = posted.asScala.filter(q =>
        q.contains("\"a.xml\"") && q.contains("\"b.xml\""))
      val selections = posted.asScala.filter(q =>
        q.contains("\"a.xml\"") && !q.contains("\"b.xml\""))
      assert(joins.nonEmpty && selections.nonEmpty, posted.asScala.mkString("\n"))
      // parity with Spark's own local join semantics
      spark.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "false")
      val local = a.join(b, a("name") === b("ref"), "left")
        .select("name", "kind", "pop")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      spark.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
      assert(local == Set(("n1", "k1", "10"), ("n2", "k2", null)))
    }
  }

  test("RIGHT join pushes and null-extends the right side's unmatched records") {
    withServer { (base, _) =>
      val a = rd(base, "dba", "name,kind")
      val b = rd(base, "dbb", "ref,pop")
      val rj = a.join(b, a("name") === b("ref"), "right")
        .select("kind", "ref", "pop")
      val plan = rj.queryExecution.executedPlan.toString
      assert(plan.contains("server-join") && plan.contains("Type: right"), plan)
      assert(rj.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .toSet == Set(("k1", "n1", "10"), (null, "n3", "30")))
      // a per-side filter composes with the null extension: only k1
      // survives on the left, n3 still null-extends
      val fj = a.where(col("kind") === "k1")
        .join(b, a("name") === b("ref"), "right").select("kind", "pop")
      assert(fj.collect().map(r => (r.getString(0), r.getString(1)))
        .toSet == Set(("k1", "10"), (null, "30")))
    }
  }

  test("eXist dialect joins through the eXist REST protocol") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val posted = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def respond(ex: HttpExchange, body: String): Unit = {
      val b = body.getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    }
    def listing(db: String, res: String) =
      s"""<exist:result xmlns:exist="http://exist.sourceforge.net/NS/exist">
         |  <exist:collection name="/db/$db">
         |    <exist:resource name="$res" created="2026-01-01"/>
         |  </exist:collection>
         |</exist:result>""".stripMargin
    def inner(rec: String) =
      rec.replaceAll("^<feature>", "").replaceAll("</feature>$", "")
    Seq(("dba", "a.xml"), ("dbb", "b.xml")).foreach { case (db, res) =>
      server.createContext(s"/exist/rest/$db", new HttpHandler {
        override def handle(ex: HttpExchange): Unit =
          if (ex.getRequestMethod == "POST") {
            val q = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
            posted.add(q)
            // the join query POSTs to the LEFT collection URL; cartesian
            // pairs again (where ignored), one page
            val body = (for (lr <- docs(("dba", "a.xml")); rr <- docs(("dbb", "b.xml")))
              yield s"<result><l>${inner(lr)}</l><r>${inner(rr)}</r></result>").mkString
            respond(ex,
              "<exist:result xmlns:exist=\"http://exist.sourceforge.net/NS/exist\">" +
                body + "</exist:result>")
          } else respond(ex, listing(db, res))
      })
    }
    server.start()
    spark.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/exist/rest"
      def erd(db: String, cols: String) =
        spark.read.format("graft-xml").option("recordTag", "feature")
          .option("serverPushdown", "true").option("dialect", "existdb")
          .option("columns", cols).load(s"$base/$db")
      val a = erd("dba", "name,kind")
      val b = erd("dbb", "ref,pop")
      val j = a.join(b, a("name") === b("ref")).select("kind", "pop")
      assert(j.queryExecution.executedPlan.toString.contains("existdb-rest-join"),
        j.queryExecution.executedPlan.toString)
      assert(j.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
        Seq(("k1", "10")))
      val sent = posted.asScala.last
      // eXist protocol envelope with explicit paging, hierarchical
      // collection() access for BOTH sides, no BaseX result wrapper
      assert(sent.contains(
        "<query xmlns=\"http://exist.sourceforge.net/NS/exist\" start=\"1\" max=\"1000\">"),
        sent)
      assert(sent.contains("""collection("/db/dba/a.xml")//*:feature"""), sent)
      assert(sent.contains("""collection("/db/dbb/b.xml")//*:feature"""), sent)
      assert(sent.contains("where $r/*:ref = $l/*:name"), sent)
      assert(!sent.contains("rest-results"), sent)
    } finally {
      spark.conf.unset("spark.sql.optimizer.datasourceV2JoinPushdown")
      server.stop(0)
    }
  }

  test("a spatial predicate on one side refuses the push, falls back correctly") {
    withServer { (base, _) =>
      // SpatialFilterPushdown injects a derived bbox into the side's scan
      // options; the join gate refuses bbox sides (the widened spatial
      // prune and the join cap have unproven interplay) and Spark joins
      // locally over the two still-pushed-down single-table scans
      val a = rd(base, "dba", "name,kind")
      val b = rd(base, "dbb", "ref,pop")
      val j = a.join(b, a("name") === b("ref"))
        .where(call_function("st_intersects", a("geometry"),
          call_function("st_geomfromtext", lit("POLYGON((2 3,4 3,4 5,2 5,2 3))"))))
        .select("name", "pop")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("server-join"), plan)
      // dba record n1 carries Point(3 4) inside the box; n2 has no geometry
      assert(j.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
        Seq(("n1", "10")))
    }
  }

  test("a second join on top stays in Spark (2-collection pushdown, like the reference)") {
    withServer { (base, _) =>
      val a = rd(base, "dba", "name,kind")
      val b = rd(base, "dbb", "ref,pop")
      val c = rd(base, "dbb", "ref,pop")
      val j = a.join(b, a("name") === b("ref"))
        .join(c, b("pop") === c("pop"))
        .select(a("kind"), c("ref"))
      val plan = j.queryExecution.executedPlan.toString
      // exactly one pushed join in the plan; the third table joins locally
      assert("server-join".r.findAllIn(plan).size == 1, plan)
      assert(j.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
        Seq(("k1", "n1")))
    }
  }

  test("recordTag is read in any case of the key, on the local and the server-join path") {
    val keys = Seq("recordTag", "recordtag", "RECORDTAG")
    // local: the root's children would be meta and grp, not the features
    val doc = java.nio.file.Files.createTempFile("graft-recordtag", ".xml")
    doc.toFile.deleteOnExit()
    java.nio.file.Files.writeString(doc, "<root><meta><name>m</name></meta><grp>" +
      "<feature><name>a</name></feature><feature><name>b</name></feature></grp></root>")
    keys.foreach { k =>
      val rows = spark.read.format("graft-xml").option(k, "feature").load(doc.toString)
        .collect().map(_.toString).toSeq
      assert(rows == Seq("[a,null]", "[b,null]"), s"$k: $rows")
    }
    // server join: the same rows from the same join query
    val runs = keys.map { k =>
      var run: (Seq[String], Seq[String]) = null
      withServer { (base, posted) =>
        def side(db: String, cols: String) = spark.read.format("graft-xml")
          .option(k, "feature").option("serverPushdown", "true").option("columns", cols)
          .load(s"$base/rest/$db")
        val a = side("dba", "name,kind")
        val b = side("dbb", "ref,pop")
        val j = a.join(b, a("name") === b("ref")).select("name", "pop")
        assert(j.queryExecution.executedPlan.toString.contains("server-join 1x1 docs"), k)
        val rows = j.collect().map(_.toString).toSeq
        run = (rows, posted.asScala.filter(_.contains("dbb")).toSeq)
      }
      run
    }
    assert(runs.head._1 == Seq("[n1,10]"), runs.head)
    assert(runs.head._2.nonEmpty && runs.head._2.forall(_.contains("//*:feature")), runs.head)
    assert(runs.forall(_ == runs.head), runs.mkString("\n"))
  }
}
