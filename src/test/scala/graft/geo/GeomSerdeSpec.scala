package graft.geo

import org.scalatest.funsuite.AnyFunSuite

class GeomSerdeSpec extends AnyFunSuite {

  test("WKT/WKB roundtrip for all geometry types") {
    val wkts = Seq(
      "POINT (1 2)",
      "LINESTRING (0 0, 1 1, 2 0)",
      "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))",
      "MULTIPOINT ((1 1), (2 2))",
      "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
      "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5)))",
      "GEOMETRYCOLLECTION (POINT (1 1), LINESTRING (0 0, 2 2))")
    for (wkt <- wkts) {
      val g = GeomSerde.fromWkt(wkt)
      val back = GeomSerde.fromWkb(GeomSerde.toWkb(g))
      assert(back.equalsExact(g), s"roundtrip mismatch for $wkt")
      assert(GeomSerde.toWkt(back) == wkt)
    }
  }

  test("SRID survives WKB roundtrip (EWKB)") {
    val g = GeomSerde.point(3, 4)
    g.setSRID(4326)
    val back = GeomSerde.fromWkb(GeomSerde.toWkb(g))
    assert(back.getSRID == 4326)
  }

  test("GeoJSON roundtrip") {
    val json = """{"type":"Polygon","coordinates":[[[0.0,0.0],[4.0,0.0],[4.0,4.0],[0.0,4.0],[0.0,0.0]],[[1.0,1.0],[2.0,1.0],[2.0,2.0],[1.0,2.0],[1.0,1.0]]]}"""
    val g = GeoJson.parse(json)
    assert(g.getGeometryType == "Polygon")
    assert(GeoJson.write(g) == json)
  }

  test("GeoJSON Feature and FeatureCollection resolve to geometries") {
    val feature = """{"type":"Feature","properties":{"name":"x"},"geometry":{"type":"Point","coordinates":[5.0,6.0]}}"""
    val g = GeoJson.parse(feature)
    assert(g.getGeometryType == "Point")
    assert(g.getCoordinate.x == 5.0 && g.getCoordinate.y == 6.0)

    val fc = s"""{"type":"FeatureCollection","features":[$feature,$feature]}"""
    assert(GeoJson.parse(fc).getNumGeometries == 2)
  }

  test("GeoJSON multi geometries") {
    for (t <- Seq(
      """{"type":"MultiPoint","coordinates":[[1.0,2.0],[3.0,4.0]]}""",
      """{"type":"MultiLineString","coordinates":[[[0.0,0.0],[1.0,1.0]],[[2.0,2.0],[3.0,3.0]]]}""",
      """{"type":"MultiPolygon","coordinates":[[[[0.0,0.0],[1.0,0.0],[1.0,1.0],[0.0,0.0]]]]}""",
      """{"type":"GeometryCollection","geometries":[{"type":"Point","coordinates":[1.0,1.0]}]}""")) {
      assert(GeoJson.write(GeoJson.parse(t)) == t)
    }
  }

  test("GML2 coordinates encoding") {
    val gml = """<gml:Point xmlns:gml="http://www.opengis.net/gml"><gml:coordinates>1,2</gml:coordinates></gml:Point>"""
    val g = GmlKml.parseGml(gml)
    assert(g.getGeometryType == "Point" && g.getCoordinate.x == 1 && g.getCoordinate.y == 2)

    val poly =
      """<gml:Polygon xmlns:gml="http://www.opengis.net/gml">
        |  <gml:outerBoundaryIs><gml:LinearRing>
        |    <gml:coordinates>0,0 4,0 4,4 0,4 0,0</gml:coordinates>
        |  </gml:LinearRing></gml:outerBoundaryIs>
        |  <gml:innerBoundaryIs><gml:LinearRing>
        |    <gml:coordinates>1,1 2,1 2,2 1,2 1,1</gml:coordinates>
        |  </gml:LinearRing></gml:innerBoundaryIs>
        |</gml:Polygon>""".stripMargin
    val p = GmlKml.parseGml(poly)
    assert(p.getGeometryType == "Polygon")
    assert(p.getArea == 15.0) // 16 - 1 hole
  }

  test("GML3 pos/posList encoding") {
    val ls =
      """<gml:LineString xmlns:gml="http://www.opengis.net/gml">
        |  <gml:posList>0 0 1 1 2 0</gml:posList>
        |</gml:LineString>""".stripMargin
    assert(GmlKml.parseGml(ls).getNumPoints == 3)

    val pt = """<gml:Point xmlns:gml="http://www.opengis.net/gml"><gml:pos>7 8</gml:pos></gml:Point>"""
    assert(GmlKml.parseGml(pt).getCoordinate.y == 8)

    val poly3 =
      """<gml:Polygon xmlns:gml="http://www.opengis.net/gml">
        |  <gml:exterior><gml:LinearRing><gml:posList>0 0 4 0 4 4 0 4 0 0</gml:posList></gml:LinearRing></gml:exterior>
        |</gml:Polygon>""".stripMargin
    assert(GmlKml.parseGml(poly3).getArea == 16.0)
  }

  test("GML multi geometries") {
    val mp =
      """<gml:MultiPoint xmlns:gml="http://www.opengis.net/gml">
        |  <gml:pointMember><gml:Point><gml:coordinates>1,1</gml:coordinates></gml:Point></gml:pointMember>
        |  <gml:pointMember><gml:Point><gml:coordinates>2,2</gml:coordinates></gml:Point></gml:pointMember>
        |</gml:MultiPoint>""".stripMargin
    assert(GmlKml.parseGml(mp).getNumGeometries == 2)

    val mg =
      """<gml:MultiGeometry xmlns:gml="http://www.opengis.net/gml">
        |  <gml:geometryMember><gml:Point><gml:coordinates>1,1</gml:coordinates></gml:Point></gml:geometryMember>
        |  <gml:geometryMember><gml:LineString><gml:coordinates>0,0 1,1</gml:coordinates></gml:LineString></gml:geometryMember>
        |</gml:MultiGeometry>""".stripMargin
    assert(GmlKml.parseGml(mg).getNumGeometries == 2)
  }

  test("KML geometries") {
    val pt = """<Point><coordinates>100.0,10.0,0</coordinates></Point>"""
    val g = GmlKml.parseKml(pt)
    assert(g.getCoordinate.x == 100.0 && g.getCoordinate.y == 10.0)

    val poly =
      """<Polygon>
        |  <outerBoundaryIs><LinearRing><coordinates>0,0 4,0 4,4 0,4 0,0</coordinates></LinearRing></outerBoundaryIs>
        |  <innerBoundaryIs><LinearRing><coordinates>1,1 2,1 2,2 1,2 1,1</coordinates></LinearRing></innerBoundaryIs>
        |</Polygon>""".stripMargin
    assert(GmlKml.parseKml(poly).getArea == 15.0)

    val mg =
      """<MultiGeometry>
        |  <Point><coordinates>1,1</coordinates></Point>
        |  <LineString><coordinates>0,0 1,1 2,2</coordinates></LineString>
        |</MultiGeometry>""".stripMargin
    assert(GmlKml.parseKml(mg).getNumGeometries == 2)

    val placemark =
      """<Placemark><name>p</name><Point><coordinates>3,4</coordinates></Point></Placemark>"""
    assert(GmlKml.parseKml(placemark).getCoordinate.y == 4)
  }

  test("geometry markup with a DOCTYPE (XXE vector) is rejected, not resolved") {
    // a crafted column value must not be able to read local files or fetch
    // URLs from whichever node parses it
    val xxe =
      """<!DOCTYPE p [<!ENTITY e SYSTEM "file:///etc/hostname">]>
        |<gml:Point xmlns:gml="http://www.opengis.net/gml"><gml:coordinates>&e;</gml:coordinates></gml:Point>""".stripMargin
    intercept[Exception] { GmlKml.parseGml(xxe) }
    intercept[Exception] {
      GmlKml.parseKml("<!DOCTYPE k []><Point><coordinates>1,2</coordinates></Point>")
    }
  }

  test("document loader keeps DOCTYPE parseable but never resolves external entities") {
    val withDoctype =
      """<!DOCTYPE doc [<!ENTITY who "inline">]>
        |<doc><rec><name>&who;</name></rec></doc>""".stripMargin
    // internal entities still work (real corpora carry DTDs)…
    val doc = SecureXml.document.loadString(withDoctype)
    assert((doc \\ "name").text == "inline")
    // …but external SYSTEM entities resolve to nothing instead of file reads
    val external =
      """<!DOCTYPE doc [<!ENTITY leak SYSTEM "file:///etc/hostname">]>
        |<doc><rec><name>&leak;</name></rec></doc>""".stripMargin
    val ext = try Some(SecureXml.document.loadString(external)) catch {
      case _: Exception => None // rejecting outright is equally safe
    }
    ext.foreach(d => assert((d \\ "name").text.isEmpty, "external entity must not resolve"))
  }

  test("GML/KML parsed from an already-parsed DOM node equals the string path") {
    val gmlNs = """xmlns:gml="http://www.opengis.net/gml""""
    val gml = Seq(
      s"""<gml:Point $gmlNs><gml:coordinates>1,2</gml:coordinates></gml:Point>""",
      s"""<gml:Point $gmlNs><gml:pos>7 8</gml:pos></gml:Point>""",
      s"""<gml:LineString $gmlNs><gml:posList>0 0 1 1 2 0</gml:posList></gml:LineString>""",
      s"""<gml:LineString $gmlNs><gml:coordinates>0,0 1,1 2,0</gml:coordinates></gml:LineString>""",
      s"""<gml:Polygon $gmlNs>
         |  <gml:outerBoundaryIs><gml:LinearRing><gml:coordinates>0,0 4,0 4,4 0,4 0,0</gml:coordinates></gml:LinearRing></gml:outerBoundaryIs>
         |  <gml:innerBoundaryIs><gml:LinearRing><gml:coordinates>1,1 2,1 2,2 1,2 1,1</gml:coordinates></gml:LinearRing></gml:innerBoundaryIs>
         |</gml:Polygon>""".stripMargin,
      s"""<gml:Polygon $gmlNs>
         |  <gml:exterior><gml:LinearRing><gml:posList>0 0 10 0 10 10 0 10 0 0</gml:posList></gml:LinearRing></gml:exterior>
         |  <gml:interior><gml:LinearRing><gml:posList>1 1 2 1 2 2 1 2 1 1</gml:posList></gml:LinearRing></gml:interior>
         |  <gml:interior><gml:LinearRing><gml:posList>5 5 6 5 6 6 5 6 5 5</gml:posList></gml:LinearRing></gml:interior>
         |</gml:Polygon>""".stripMargin,
      s"""<gml:MultiPoint $gmlNs>
         |  <gml:pointMember><gml:Point><gml:coordinates>1,1</gml:coordinates></gml:Point></gml:pointMember>
         |  <gml:Point><gml:pos>2 2</gml:pos></gml:Point>
         |</gml:MultiPoint>""".stripMargin,
      s"""<gml:MultiLineString $gmlNs>
         |  <gml:lineStringMember><gml:LineString><gml:posList>0 0 1 1</gml:posList></gml:LineString></gml:lineStringMember>
         |  <gml:lineStringMember><gml:LineString><gml:posList>2 2 3 3</gml:posList></gml:LineString></gml:lineStringMember>
         |</gml:MultiLineString>""".stripMargin,
      s"""<gml:MultiPolygon $gmlNs>
         |  <gml:polygonMember><gml:Polygon><gml:exterior><gml:LinearRing><gml:posList>0 0 1 0 1 1 0 0</gml:posList></gml:LinearRing></gml:exterior></gml:Polygon></gml:polygonMember>
         |  <gml:polygonMember><gml:Polygon><gml:exterior><gml:LinearRing><gml:posList>5 5 6 5 6 6 5 5</gml:posList></gml:LinearRing></gml:exterior></gml:Polygon></gml:polygonMember>
         |</gml:MultiPolygon>""".stripMargin,
      s"""<gml:MultiGeometry $gmlNs>
         |  <gml:geometryMember><gml:Point><gml:coordinates>1,1</gml:coordinates></gml:Point></gml:geometryMember>
         |  <gml:geometryMember><gml:LineString><gml:coordinates>0,0 1,1</gml:coordinates></gml:LineString></gml:geometryMember>
         |</gml:MultiGeometry>""".stripMargin,
      s"""<gml:LineString $gmlNs><gml:posList srsDimension="3">0 0 5 1 1 6 2 0 7</gml:posList></gml:LineString>""",
      s"""<gml:Polygon $gmlNs><gml:exterior><gml:LinearRing><gml:posList srsDimension="3">0 0 1 4 0 2 4 4 3 0 0 1</gml:posList></gml:LinearRing></gml:exterior></gml:Polygon>""",
      s"""<gml:Point $gmlNs><gml:coordinates>1,2,3</gml:coordinates></gml:Point>""")
    val kml = Seq(
      "<Point><coordinates>100.0,10.0,0</coordinates></Point>",
      "<LineString><coordinates>0,0 1,1 2,2</coordinates></LineString>",
      """<Polygon>
        |  <outerBoundaryIs><LinearRing><coordinates>0,0 4,0 4,4 0,4 0,0</coordinates></LinearRing></outerBoundaryIs>
        |  <innerBoundaryIs><LinearRing><coordinates>1,1 2,1 2,2 1,2 1,1</coordinates></LinearRing></innerBoundaryIs>
        |</Polygon>""".stripMargin,
      """<MultiGeometry>
        |  <Point><coordinates>1,1</coordinates></Point>
        |  <Polygon><outerBoundaryIs><LinearRing><coordinates>0,0 1,0 1,1 0,0</coordinates></LinearRing></outerBoundaryIs></Polygon>
        |</MultiGeometry>""".stripMargin,
      "<Placemark><name>p</name><Point><coordinates>3,4,5</coordinates></Point></Placemark>",
      "<LineString><coordinates>0,0,1 1,1,2</coordinates></LineString>")
    // the node as the document scan sees it: a child of a record, inside a
    // document parsed by the document loader
    def asRecordChild(fragment: String): scala.xml.Node = {
      val doc = SecureXml.document.loadString(
        s"<doc $gmlNs><record><name>x</name>$fragment</record></doc>")
      (doc \\ "record").head.child.collect { case e: scala.xml.Elem => e }.last
    }
    val wkt = new org.locationtech.jts.io.WKTWriter(3)
    def same(a: org.locationtech.jts.geom.Geometry, b: org.locationtech.jts.geom.Geometry, what: String) = {
      assert(a.getGeometryType == b.getGeometryType, what)
      assert(a.equalsExact(b), what)
      assert(wkt.write(a) == wkt.write(b), what) // the Z ordinates too
    }
    gml.foreach(f => same(GmlKml.parseGmlNode(asRecordChild(f)), GmlKml.parseGml(f), f))
    kml.foreach(f => same(GmlKml.parseKmlNode(asRecordChild(f)), GmlKml.parseKml(f), f))
    // the 3-D fixtures really carry Z
    assert(GmlKml.parseGmlNode(asRecordChild(gml(10))).getCoordinates.map(_.getZ).toSeq == Seq(5.0, 6.0, 7.0))
  }
}
