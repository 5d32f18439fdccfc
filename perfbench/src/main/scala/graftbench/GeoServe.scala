package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.HttpServer
import graft.geo.{GeoJson, GeomSerde, GmlKml}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{call_function, col, explode, lit}
import org.locationtech.jts.geom.{Coordinate, Envelope, Geometry, GeometryFactory, Point, Polygon}

import java.io.File
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Locale
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}
import scala.jdk.CollectionConverters._

/** `geo_serve`: the paper's serving path under a closed loop. One client
  * per core keeps one `POST /query` outstanding against an in-process
  * [[graft.server.SqlHttpServer]]; requests are a seeded, equal-weight mix
  * of five PostGIS-SQL templates over generated document collections (GML
  * points and KML polygons in sharded XML files, GeoJSON features in
  * files, and a `mongodb://` collection behind [[OpMsgEndpoint]]). Every
  * response is checked against a brute-force JTS answer computed from the
  * generated features, independent of graft's SQL path. */
final class GeoServe(seed: Long) extends Workload {
  import GeoServe._

  val name = "geo_serve"
  private val gf = new GeometryFactory()
  private var data: Data = _
  private var dirs: (File, File, File) = _
  private var endpoint: OpMsgEndpoint = _
  private var server: HttpServer = _
  private val mapper = new ObjectMapper()
  private var clientSeq = 0L

  // ------------------------------------------------------------ generation

  def generate(seed0: Long, work: File, full: Boolean): Unit = {
    val k = if (full) 1 else 4
    val rng = new java.util.SplittableRandom(seed0 * 7919L + 11L)
    val centers = Array.fill(40)((5 + rng.nextDouble() * 90, 5 + rng.nextDouble() * 90,
      2 + rng.nextDouble() * 6))
    val catZipf = new Zipf(Cats, 0.8)
    def pts(prefix: String, n: Int): Array[Pt] = Array.tabulate(n) { i =>
      val (x, y) =
        if (rng.nextDouble() < 0.6) {
          val (cx, cy, sd) = centers(rng.nextInt(centers.length))
          (clamp(cx + rng.nextGaussian() * sd), clamp(cy + rng.nextGaussian() * sd))
        } else (rng.nextDouble() * 100, rng.nextDouble() * 100)
      val xs = fmt5(x); val ys = fmt5(y)
      val (px, py) = (xs.toDouble, ys.toDouble)
      val region = s"r${math.min(3, (px / 25).toInt) * 4 + math.min(3, (py / 25).toInt)}"
      Pt(f"$prefix$i%06d", s"c${catZipf.sample(rng)}", region, rng.nextInt(1000), xs, ys,
        gf.createPoint(new Coordinate(px, py)))
    }
    val gml = pts("g", 6000 / k)
    val geo = pts("j", 6000 / k)
    val mongo = pts("m", 3000 / k)
    val polys = Array.tabulate(150 / k) { i =>
      val cx = 2 + rng.nextDouble() * 96; val cy = 2 + rng.nextDouble() * 96
      val rad = 0.3 + rng.nextDouble() * 1.2
      val n = 5 + rng.nextInt(4)
      val ring = (0 until n).map { j =>
        val a = 2 * math.Pi * j / n + rng.nextDouble() * 0.3
        val r = rad * (0.7 + rng.nextDouble() * 0.3)
        (fmt5(cx + r * math.cos(a)), fmt5(cy + r * math.sin(a)))
      }
      val closed = ring :+ ring.head
      val geom = gf.createPolygon(closed.map { case (x, y) => new Coordinate(x.toDouble, y.toDouble) }.toArray)
      Poly(f"k$i%05d", closed, geom)
    }
    data = Data(gml, polys, geo, mongo)

    val gmlDir = new File(work, "gml"); val kmlDir = new File(work, "kml")
    val geoDir = new File(work, "geojson")
    gml.grouped(1000 / k).zipWithIndex.foreach { case (chunk, i) =>
      Proc.write(new File(gmlDir, f"part$i%03d.xml"), chunk.map(gmlRecord).mkString(
        """<features xmlns:gml="http://www.opengis.net/gml">""" + "\n", "\n", "\n</features>\n"))
    }
    polys.grouped(50 / k).zipWithIndex.foreach { case (chunk, i) =>
      Proc.write(new File(kmlDir, f"part$i%03d.kml"), chunk.map(kmlRecord).mkString(
        """<kml xmlns="http://www.opengis.net/kml/2.2"><Document>""" + "\n", "\n",
        "\n</Document></kml>\n"))
    }
    geo.grouped(1500 / k).zipWithIndex.foreach { case (chunk, i) =>
      Proc.write(new File(geoDir, f"part$i%03d.geojson"), chunk.map(featureJson(_, None))
        .mkString("", "\n", "\n"))
    }
    dirs = (gmlDir, kmlDir, geoDir)
  }

  // ------------------------------------------------------------ set-up

  def setup(spark: SparkSession): Unit = {
    endpoint = new OpMsgEndpoint(data.mongo.toSeq.map(p => featureJson(p, Some(p.fid))))
    val (gmlDir, kmlDir, geoDir) = dirs
    spark.read.format("graft-xml").option("recordTag", "feature")
      .option("columns", "fid,cat,region,val").load(gmlDir.getAbsolutePath)
      .createOrReplaceTempView("gml_pts")
    spark.read.format("graft-xml").option("recordTag", "Placemark")
      .option("columns", "name").load(kmlDir.getAbsolutePath)
      .createOrReplaceTempView("kml_polys")
    spark.read.format("graft-geojson").option("multiLine", "false")
      .option("columns", "fid,cat,region,val").load(geoDir.getAbsolutePath)
      .createOrReplaceTempView("geo_pts")
    spark.read.format("graft-geojson").option("serverPushdown", "true")
      .option("columns", "fid,cat,region,val")
      .load(s"mongodb://127.0.0.1:${endpoint.port}/bench/pts")
      .createOrReplaceTempView("mongo_pts")
    server = graft.server.SqlHttpServer.start(spark, port = 0, maxRows = MaxRows)
    // warm pass: every client sends each template once, concurrently
    val warm = (0 until Session.cores).map { c =>
      val t = new Thread(() => {
        val rng = new java.util.SplittableRandom(seed ^ (0x5eedL + c))
        Templates.indices.foreach { i =>
          val req = request((i + c) % Templates.length, rng)
          val (code, body) = post(req.sql)
          Check.that(code == 200, s"warm-up ${req.template} failed: HTTP $code $body")
              req.check(mapper.readTree(body), new AtomicBoolean(false))
        }
      }, s"geo-warm-$c")
      t
    }
    val failure = new AtomicReference[Throwable]()
    warm.foreach(_.setUncaughtExceptionHandler((_, e) => failure.compareAndSet(null, e)))
    warm.foreach(_.start()); warm.foreach(_.join())
    Option(failure.get).foreach(e => throw e)
  }

  def teardown(): Unit = {
    if (server != null) server.stop(0)
    if (endpoint != null) endpoint.close()
    server = null; endpoint = null
  }

  // ------------------------------------------------------------ requests

  private def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/query"

  private def post(sql: String): (Int, String) = {
    val c = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST"); c.setDoOutput(true)
    c.setConnectTimeout(10000); c.setReadTimeout(120000)
    val os = c.getOutputStream
    try os.write(sql.getBytes(UTF_8)) finally os.close()
    val code = c.getResponseCode
    val in = if (code == 200) c.getInputStream else c.getErrorStream
    val body = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
    (code, body)
  }


  private def request(t: Int, rng: java.util.SplittableRandom): Req = Templates(t) match {
    case "bbox_geojson" =>
      val (x0, y0, x1, y1) = envelope(rng)
      Req("bbox_geojson",
        s"SELECT fid, cat, val, ST_AsGeoJSON(geometry) AS st_asgeojson FROM geo_pts " +
          s"WHERE ST_Within(geometry, ST_MakeEnvelope($x0, $y0, $x1, $y1))",
        (r, drop) => checkBbox(r, drop, env(x0, y0, x1, y1)))
    case "dwithin_join" =>
      val (x0, y0, x1, y1) = envelope(rng)
      val rad = fmt3(0.1 + rng.nextDouble() * 0.5)
      Req("dwithin_join",
        s"SELECT k.name AS pid, count(*) AS n FROM gml_pts g JOIN kml_polys k " +
          s"ON ST_DWithin(g.geometry, k.geometry, $rad) " +
          s"WHERE ST_Within(g.geometry, ST_MakeEnvelope($x0, $y0, $x1, $y1)) GROUP BY k.name",
        (r, drop) => checkJoin(r, drop, env(x0, y0, x1, y1), rad.toDouble))
    case "knn_topn" =>
      val x = fmt3(rng.nextDouble() * 100); val y = fmt3(rng.nextDouble() * 100)
      Req("knn_topn",
        s"SELECT fid, ST_Distance(geometry, ST_Point($x, $y)) AS d FROM gml_pts " +
          s"ORDER BY d, fid LIMIT $K",
        (r, drop) => checkKnn(r, drop, gf.createPoint(new Coordinate(x.toDouble, y.toDouble))))
    case "attr_agg" =>
      val region = s"r${rng.nextInt(16)}"
      Req("attr_agg",
        s"SELECT cat, count(*) AS n, sum(CAST(val AS INT)) AS s FROM geo_pts " +
          s"WHERE region = '$region' GROUP BY cat",
        (r, drop) => checkAgg(r, drop, region))
    case "wire_filter" =>
      val cat = s"c${rng.nextInt(Cats)}"
      val f = areaFraction(rng)
      val rad = fmt3(100 * math.sqrt(f / math.Pi))
      val x = fmt3(rng.nextDouble() * 100); val y = fmt3(rng.nextDouble() * 100)
      Req("wire_filter",
        s"SELECT fid, val FROM mongo_pts WHERE cat = '$cat' AND " +
          s"ST_DWithin(geometry, ST_Point($x, $y), $rad)",
        (r, drop) => checkWire(r, drop, cat,
          gf.createPoint(new Coordinate(x.toDouble, y.toDouble)), rad.toDouble))
  }

  /** Envelope covering a log-uniform 0.1%..20% of the square. */
  private def envelope(rng: java.util.SplittableRandom): (String, String, String, String) = {
    val side = 100 * math.sqrt(areaFraction(rng))
    val x0 = rng.nextDouble() * (100 - side); val y0 = rng.nextDouble() * (100 - side)
    (fmt3(x0), fmt3(y0), fmt3(x0 + side), fmt3(y0 + side))
  }

  private def areaFraction(rng: java.util.SplittableRandom): Double =
    math.pow(10, math.log10(0.001) + rng.nextDouble() * (math.log10(0.2) - math.log10(0.001)))

  private def env(x0: String, y0: String, x1: String, y1: String): Geometry =
    gf.toGeometry(new Envelope(x0.toDouble, x1.toDouble, y0.toDouble, y1.toDouble))

  // ------------------------------------------------------------ checkers

  /** The response rows; with the drop fault armed, the first non-empty
    * response loses its first row before it is checked. */
  private def rowsOf(r: JsonNode, drop: AtomicBoolean): Seq[JsonNode] = {
    val rows = r.path("rows").elements().asScala.toSeq
    if (rows.nonEmpty && drop.compareAndSet(true, false)) rows.tail else rows
  }

  private def columns(r: JsonNode): Seq[String] =
    r.path("columns").elements().asScala.map(_.asText).toSeq

  private def checkBbox(r: JsonNode, drop: AtomicBoolean, e: Geometry): Unit = {
    val truth = data.geo.filter(_.geom.within(e)).map(p => p.fid -> p).toMap
    val rows = rowsOf(r, drop)
    Check.that(columns(r) == Seq("fid", "cat", "val", "st_asgeojson"), s"bbox_geojson columns ${columns(r)}")
    Check.that(rows.size == math.min(MaxRows, truth.size),
      s"bbox_geojson returned ${rows.size} rows, expected ${math.min(MaxRows, truth.size)}")
    val fids = rows.map(_.get(0).asText)
    Check.that(fids.distinct.size == fids.size, "bbox_geojson returned a feature twice")
    rows.foreach { row =>
      val p = truth.getOrElse(row.get(0).asText,
        throw new WrongAnswer(s"bbox_geojson returned ${row.get(0).asText} outside the envelope"))
      Check.that(row.get(1).asText == p.cat && row.get(2).asText == p.v.toString,
        s"bbox_geojson attributes of ${p.fid}")
    }
    val feats = r.path("geojson").path("features").elements().asScala.toSeq
    Check.that(feats.size == math.min(MaxRows, truth.size),
      s"bbox_geojson FeatureCollection has ${feats.size} features")
    feats.foreach { f =>
      val p = truth.getOrElse(f.path("properties").path("fid").asText,
        throw new WrongAnswer("bbox_geojson feature outside the envelope"))
      val c = f.path("geometry").path("coordinates")
      Check.that(c.get(0).asDouble == p.geom.getX && c.get(1).asDouble == p.geom.getY,
        s"bbox_geojson geometry of ${p.fid}")
    }
  }

  private def checkJoin(r: JsonNode, drop: AtomicBoolean, e: Geometry, rad: Double): Unit = {
    val inside = data.gml.filter(_.geom.within(e))
    val truth = data.kml.flatMap { k =>
      val n = inside.count(p => p.geom.isWithinDistance(k.geom, rad))
      if (n > 0) Some(k.name -> n.toLong) else None
    }.toMap
    val got = rowsOf(r, drop).map(row => row.get(0).asText -> row.get(1).asLong).toMap
    Check.that(got == truth, s"dwithin_join: ${got.size} groups, expected ${truth.size} " +
      s"(first differing: ${(truth.toSet diff got.toSet).headOption.orElse((got.toSet diff truth.toSet).headOption)})")
  }

  private def checkKnn(r: JsonNode, drop: AtomicBoolean, q: Point): Unit = {
    val truth = data.gml.map(p => (p.geom.distance(q), p.fid)).sorted.take(K)
    val got = rowsOf(r, drop).map(row => (row.get(1).asDouble, row.get(0).asText))
    Check.that(got == truth.toSeq, s"knn_topn: got ${got.take(3)}…, expected ${truth.take(3).toSeq}…")
  }

  private def checkAgg(r: JsonNode, drop: AtomicBoolean, region: String): Unit = {
    val truth = data.geo.filter(_.region == region).groupBy(_.cat)
      .map { case (c, ps) => c -> (ps.length.toLong, ps.map(_.v.toLong).sum) }
    val got = rowsOf(r, drop).map(row => row.get(0).asText -> (row.get(1).asLong, row.get(2).asLong)).toMap
    Check.that(got == truth, s"attr_agg($region): got $got, expected $truth")
  }

  private def checkWire(r: JsonNode, drop: AtomicBoolean, cat: String, q: Point, rad: Double): Unit = {
    val truth = data.mongo.filter(p => p.cat == cat && p.geom.isWithinDistance(q, rad))
      .map(p => p.fid -> p.v.toString).toMap
    val rows = rowsOf(r, drop)
    val got = rows.map(row => row.get(0).asText -> row.get(1).asText).toMap
    Check.that(got == truth && rows.size == truth.size,
      s"wire_filter: ${got.size} rows, expected ${truth.size}")
  }

  // ------------------------------------------------------------ loop

  def run(spark: SparkSession, seconds: Double, tracer: Option[Tracer],
          inject: Option[String]): Loop = {
    val clients = Session.cores
    val lat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val attempted = new AtomicLong(); val failed = new AtomicLong()
    val bytes = new AtomicLong()
    val wrong = new AtomicReference[Throwable]()
    val firstFailure = new AtomicReference[String]()
    val dropPending = new AtomicBoolean(inject.contains("drop_row"))
    val perTemplate = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.ConcurrentLinkedQueue[Double]]()
    val scanStats = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    tracer.foreach(_.onPlan { qe =>
      val p = qe.executedPlan
      val (kept, scanned) = PlanWalk.scanKeep(p)
      scanStats.add((PlanWalk.scanRows(p), kept, scanned))
    })
    val wire0 = (endpoint.roundTrips.get, endpoint.replyBytes.get)
    clientSeq += 1
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val t0 = System.nanoTime()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        val rng = new java.util.SplittableRandom(seed * 1000003L + clientSeq * 101L + c)
        // each client cycles through the templates from its own offset, so
        // the mix stays equal-weight in every window
        var i = c
        try while (System.nanoTime() < deadline && wrong.get() == null) {
          val req = request(i % Templates.length, rng)
          i += 1
          attempted.incrementAndGet()
          val s = System.nanoTime()
          val (code, body) = try post(req.sql) catch { case e: java.io.IOException => (-1, e.toString) }
          val ms = (System.nanoTime() - s) / 1e6
          if (code != 200) {
            failed.incrementAndGet()
            firstFailure.compareAndSet(null, s"${req.template}: HTTP $code $body")
          } else {
            lat.add(ms)
            bytes.addAndGet(body.length.toLong)
            perTemplate.computeIfAbsent(req.template, _ => new java.util.concurrent.ConcurrentLinkedQueue[Double]()).add(ms)
            req.check(mapper.readTree(body), dropPending)
          }
        } catch { case e: Throwable => wrong.compareAndSet(null, e) }
      }, s"geo-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    Option(firstFailure.get).foreach(f => System.err.println(s"geo_serve: first failure: $f"))
    Option(wrong.get).foreach(e => throw e)
    val ls = lat.asScala.toSeq
    val detail = Seq(
      ("query_p50_ms", Stats.median(ls), "ms"), ("query_p90_ms", Stats.quantile(ls, 0.9), "ms"),
      ("query_p95_ms", Stats.quantile(ls, 0.95), "ms"), ("query_qps", ls.size / wall, "1/s"),
      ("ops", ls.size.toDouble, "count"),
      ("failed_frac", failed.get.toDouble / math.max(1L, attempted.get), "ratio")) ++
      perTemplate.asScala.toSeq.sortBy(_._1).map { case (t, q) =>
        (s"$t.p50_ms", Stats.median(q.asScala.toSeq), "ms") }
    lastLoop = Some(LoopExtras(bytes.get.toDouble / math.max(1, ls.size), scanStats.asScala.toSeq,
      endpoint.roundTrips.get - wire0._1, endpoint.replyBytes.get - wire0._2,
      perTemplate.getOrDefault("wire_filter", new java.util.concurrent.ConcurrentLinkedQueue()).size))
    Loop(ls, ls.size.toDouble, wall, attempted.get, failed.get, detail)
  }

  private var lastLoop: Option[LoopExtras] = None

  // ------------------------------------------------------------ layer probes

  def probe(spark: SparkSession, tracer: Tracer, out: LayerMetrics): Unit = {
    val rng = new java.util.SplittableRandom(seed * 31L + 7L)
    val reqs = Templates.indices.flatMap(t => (0 until 3).map(_ => request(t, rng)))

    // server: HTTP round trip minus Graft.processQuery on the same SQL,
    // in alternating order so neither side always runs second
    val self = reqs.zipWithIndex.map { case (r, i) =>
      def direct() = Clock.timed(tracer.span("server.direct")(graft.Graft.processQuery(spark, r.sql, MaxRows)))._2
      def http() = {
        val ((code, body), ms) = Clock.timed(tracer.span("server.http")(post(r.sql)))
        Check.that(code == 200, s"probe ${r.template}: HTTP $code")
        r.check(mapper.readTree(body), new AtomicBoolean(false))
        ms
      }
      if (i % 2 == 0) { val d = direct(); http() - d } else { val h = http(); h - direct() }
    }
    out.put("server.self_ms", Stats.median(self), "ms"); out.sample("server.self_ms", self)
    val ex = lastLoop.get
    out.put("server.response_bytes", ex.meanBytes, "B")

    // plans: optimizer + physical planning, and exchanges per template
    val planMs = reqs.map(r => Clock.timed(tracer.span("plans.plan")(
      spark.sql(r.sql).queryExecution.executedPlan))._2)
    out.put("plans.plan_ms", Stats.median(planMs), "ms"); out.sample("plans.plan_ms", planMs)
    val exch = Templates.indices.map { t =>
      val df = spark.sql(reqs(t * 3).sql); df.collect()
      PlanWalk.exchanges(df.queryExecution.executedPlan).toDouble
    }
    out.put("plans.exchanges", Stats.mean(exch), "count")

    // sources: direct DSv2 reads with the pushed bbox
    val (gmlDir, _, geoDir) = dirs
    val scanMs = (0 until 6).map { i =>
      val (x0, y0, x1, y1) = envelope(rng)
      val bbox = s"$x0,$y0,$x1,$y1"
      val reader = if (i % 2 == 0)
        spark.read.format("graft-geojson").option("multiLine", "false").option("columns", "fid,cat,region,val")
          .option("bbox", bbox).load(geoDir.getAbsolutePath)
      else spark.read.format("graft-xml").option("recordTag", "feature").option("columns", "fid,cat,region,val")
          .option("bbox", bbox).load(gmlDir.getAbsolutePath)
      Clock.timed(tracer.span("sources.scan")(reader.count()))._2
    }
    out.put("sources.scan_ms", Stats.median(scanMs), "ms"); out.sample("sources.scan_ms", scanMs)
    val scans = ex.scans
    out.put("sources.rows_scanned", Stats.mean(scans.map(_._1.toDouble)), "count")
    val kept = scans.map(_._2).sum; val scanned = scans.map(_._3).sum
    out.put("sources.bbox_keep_ratio", if (scanned > 0) kept.toDouble / scanned else 1.0, "ratio")
    out.put("sources.wire_roundtrips", ex.wireTrips.toDouble / math.max(1, ex.wireRequests), "count")
    out.put("sources.wire_bytes", ex.wireBytes.toDouble / math.max(1, ex.wireRequests), "B")

    // geo: parsers and WKB codec per geometry
    val gmlSnips = data.gml.take(2000).map(p =>
      s"""<gml:Point xmlns:gml="http://www.opengis.net/gml"><gml:coordinates>${p.xs},${p.ys}</gml:coordinates></gml:Point>""")
    val jsonSnips = data.geo.take(2000).map(p => s"""{"type":"Point","coordinates":[${p.xs},${p.ys}]}""")
    val geoms: Array[Geometry] = data.gml.take(2000).map(_.geom) ++ data.kml.map(_.geom)
    def perGeomUs(span: String, n: Int)(f: => Unit): Double = {
      val runs = (0 until 5).map(_ => Clock.timed(tracer.span(span)(f))._2 * 1000.0 / n)
      Stats.median(runs)
    }
    out.put("geo.parse_gml_us", perGeomUs("geo.parse_gml", gmlSnips.length)(
      gmlSnips.foreach(s => Check.that(GmlKml.parseGml(s) != null, "gml parse"))), "us")
    out.put("geo.parse_geojson_us", perGeomUs("geo.parse_geojson", jsonSnips.length)(
      jsonSnips.foreach(s => Check.that(GeoJson.parse(s) != null, "geojson parse"))), "us")
    out.put("geo.wkb_roundtrip_us", perGeomUs("geo.wkb_roundtrip", geoms.length)(
      geoms.foreach(g => Check.that(GeomSerde.fromWkb(GeomSerde.toWkb(g)).equalsExact(g), "wkb round trip"))), "us")

    // functions: ST_* predicates over a cached WKB frame
    val pts = spark.read.format("graft-xml").option("recordTag", "feature").option("columns", "fid")
      .load(gmlDir.getAbsolutePath).cache()
    val polys = spark.read.format("graft-xml").option("recordTag", "Placemark").option("columns", "name")
      .load(dirs._2.getAbsolutePath).cache()
    pts.count(); polys.count()
    val stMs = (0 until 5).map { _ =>
      val x = rng.nextDouble() * 80; val y = rng.nextDouble() * 80
      val (n, ms) = Clock.timed(tracer.span("functions.st_eval")(pts.where(
        call_function("st_dwithin", col("geometry"), call_function("st_point", lit(x + 10), lit(y + 10)), lit(8.0)) ||
          call_function("st_within", col("geometry"), call_function("st_makeenvelope", lit(x), lit(y), lit(x + 20), lit(y + 20)))
      ).count()))
      val truth = data.gml.count(p => p.geom.isWithinDistance(gf.createPoint(new Coordinate(x + 10, y + 10)), 8.0) ||
        p.geom.within(gf.toGeometry(new Envelope(x, x + 20, y, y + 20))))
      Check.that(n == truth, s"functions probe counted $n, expected $truth")
      ms
    }
    out.put("functions.st_eval_ms", Stats.median(stMs), "ms"); out.sample("functions.st_eval_ms", stMs)

    // operators.SpatialJoin: direct distanceJoin
    val rad = 0.4
    val truthPairs = data.kml.map(k => data.gml.count(_.geom.isWithinDistance(k.geom, rad)).toLong).sum
    val (pg, kg) = (pts.withColumnRenamed("geometry", "pg"), polys.withColumnRenamed("geometry", "kg"))
    val joinMs = (0 until 3).map { _ =>
      val j = graft.operators.SpatialJoin.distanceJoin(pg, "pg", kg, "kg", rad)
      val (n, ms) = Clock.timed(tracer.span("spatialjoin.join")(j.count()))
      Check.that(n == truthPairs, s"distanceJoin returned $n pairs, expected $truthPairs")
      ms
    }
    out.put("spatialjoin.join_ms", Stats.median(joinMs), "ms"); out.sample("spatialjoin.join_ms", joinMs)
    // the refine runs inside the join condition, so its input is counted
    // here: pairs meeting in a grid cell, the same public cell functions
    // and cell size the operator uses
    val cell = graft.operators.SpatialJoin.autoCellSize(pg, "pg", kg, "kg", rad)
    val candidates = pg.withColumn("c", explode(call_function("grid_cells", col("pg"), lit(rad), lit(cell))))
      .join(kg.withColumn("c", explode(call_function("grid_cells", col("kg"), lit(0.0), lit(cell)))), "c")
      .count()
    out.put("spatialjoin.candidate_keep_ratio",
      if (candidates > 0) truthPairs.toDouble / candidates else 1.0, "ratio")
    pts.unpersist(); polys.unpersist()
  }
}

object GeoServe {
  /** One request: its SQL and the check of its response. */
  final case class Req(template: String, sql: String, check: (JsonNode, AtomicBoolean) => Unit)

  /** What a loop saw that the per-layer probe reports. */
  final case class LoopExtras(meanBytes: Double, scans: Seq[(Long, Long, Long)],
                              wireTrips: Long, wireBytes: Long, wireRequests: Int)

  val Templates: IndexedSeq[String] =
    IndexedSeq("bbox_geojson", "dwithin_join", "knn_topn", "attr_agg", "wire_filter")
  val MaxRows = 500
  val K = 10
  val Cats = 8

  final case class Pt(fid: String, cat: String, region: String, v: Int, xs: String, ys: String, geom: Point)
  final case class Poly(name: String, ring: Seq[(String, String)], geom: Polygon)
  final case class Data(gml: Array[Pt], kml: Array[Poly], geo: Array[Pt], mongo: Array[Pt])

  private def clamp(v: Double) = math.max(0.0, math.min(99.99999, v))
  def fmt5(v: Double): String = String.format(Locale.ROOT, "%.5f", Double.box(v))
  def fmt3(v: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(v))

  def gmlRecord(p: Pt): String =
    s"<feature><fid>${p.fid}</fid><cat>${p.cat}</cat><region>${p.region}</region><val>${p.v}</val>" +
      s"<gml:Point><gml:coordinates>${p.xs},${p.ys}</gml:coordinates></gml:Point></feature>"

  def kmlRecord(k: Poly): String =
    s"<Placemark><name>${k.name}</name><Polygon><outerBoundaryIs><LinearRing><coordinates>" +
      k.ring.map { case (x, y) => s"$x,$y" }.mkString(" ") +
      "</coordinates></LinearRing></outerBoundaryIs></Polygon></Placemark>"

  def featureJson(p: Pt, id: Option[String]): String =
    id.map(i => s"""{"_id":"$i",""").getOrElse("{") +
      s""""type":"Feature","properties":{"fid":"${p.fid}","cat":"${p.cat}","region":"${p.region}",""" +
      s""""val":"${p.v}"},"geometry":{"type":"Point","coordinates":[${p.xs},${p.ys}]}}"""
}
