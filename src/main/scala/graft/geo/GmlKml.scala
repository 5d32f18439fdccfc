package graft.geo

import org.locationtech.jts.geom._

import scala.xml.{Elem, Node}

/** GML (2 & 3) and KML geometry codecs.
  *
  * Covers the reference's XML geometry surface
  * (reference: extension/basex/basex_extension.ts:110-128 — GML types
  * MultiPoint, Point, LineString, LinearRing, Polygon, MultiLineString,
  * MultiPolygon, MultiGeometry; KML types Point, LineString, Polygon,
  * MultiGeometry). Namespace prefixes are ignored: matching is on local
  * names, as the reference's XPath `local-name()` checks do
  * (reference: extension/basex/basex_extension.ts:396).
  */
object GmlKml {

  // SecureXml.strict: geometry markup is untrusted data and never
  // legitimately carries a DOCTYPE — reject XXE vectors at the parser
  def parseGml(xml: String): Geometry = parseGmlNode(SecureXml.strict.loadString(xml))

  def parseKml(xml: String): Geometry = parseKmlNode(SecureXml.strict.loadString(xml))

  // ------------------------------------------------------------------ GML

  /** A GML geometry element that a [[SecureXml]] loader already parsed. */
  private[graft] def parseGmlNode(n: Node): Geometry = {
    val f = GeomSerde.factory
    n.label match {
      case "Point"      => f.createPoint(singleCoord(n))
      case "LineString" => f.createLineString(coords(n))
      case "LinearRing" => f.createLinearRing(coords(n))
      case "Polygon"    => gmlPolygon(n, f)
      case "MultiPoint" =>
        f.createMultiPoint(members(n, "pointMember", "Point").map(c => f.createPoint(singleCoord(c))).toArray)
      case "MultiLineString" =>
        f.createMultiLineString(members(n, "lineStringMember", "LineString").map(c => f.createLineString(coords(c))).toArray)
      case "MultiPolygon" =>
        f.createMultiPolygon(members(n, "polygonMember", "Polygon").map(c => gmlPolygon(c, f)).toArray)
      case "MultiGeometry" | "GeometryCollection" =>
        val parts = childElems(n)
          .flatMap(m => if (m.label == "geometryMember" || m.label == "geometryMembers") childElems(m) else Seq(m))
          .map(parseGmlNode)
        f.createGeometryCollection(parts.toArray)
      case other => throw new IllegalArgumentException(s"unsupported GML geometry: $other")
    }
  }

  private def gmlPolygon(n: Node, f: GeometryFactory): Polygon = {
    // GML2 outerBoundaryIs / innerBoundaryIs; GML3 exterior / interior
    def ring(container: Node): LinearRing =
      f.createLinearRing(coords(firstElem(container, "LinearRing")))
    val shell = childElems(n)
      .find(c => c.label == "outerBoundaryIs" || c.label == "exterior")
      .map(ring)
      .getOrElse(throw new IllegalArgumentException("GML Polygon without exterior ring"))
    val holes = childElems(n)
      .filter(c => c.label == "innerBoundaryIs" || c.label == "interior")
      .map(ring)
    f.createPolygon(shell, holes.toArray)
  }

  /** Members either wrapped (`<pointMember><Point>…`) or direct children. */
  private def members(n: Node, wrapper: String, inner: String): Seq[Node] =
    childElems(n).flatMap { c =>
      if (c.label == wrapper) childElems(c).filter(_.label == inner)
      else if (c.label == inner) Seq(c)
      else Seq.empty
    }

  /** Coordinate text of a GML node: `coordinates` (GML2 "x,y x,y"),
    * `pos` ("x y"), or `posList` ("x y x y"). */
  private def coords(n: Node): Array[Coordinate] = {
    val coordsEl = (n \ "coordinates").headOption
    val posList = (n \ "posList").headOption
    val posEls = n \ "pos"
    if (coordsEl.isDefined) parseCoordinates(coordsEl.get.text)
    else if (posList.isDefined) parsePosList(posList.get.text, dim(posList.get))
    else if (posEls.nonEmpty)
      posEls.map(p => toCoord(splitWs(p.text).map(_.toDouble))).toArray
    else throw new IllegalArgumentException(s"no coordinates in GML <${n.label}>")
  }

  private def singleCoord(n: Node): Coordinate = coords(n).head

  private def dim(n: Node): Int =
    n.attribute("srsDimension").map(_.text.trim.toInt).getOrElse(2)

  // ------------------------------------------------------------------ KML

  /** A KML geometry element that a [[SecureXml]] loader already parsed. */
  private[graft] def parseKmlNode(n: Node): Geometry = {
    val f = GeomSerde.factory
    n.label match {
      case "Point"      => f.createPoint(kmlCoords(n).head)
      case "LineString" => f.createLineString(kmlCoords(n))
      case "LinearRing" => f.createLinearRing(kmlCoords(n))
      case "Polygon" =>
        def ring(container: Node): LinearRing =
          f.createLinearRing(kmlCoords(firstElem(container, "LinearRing")))
        val shell = childElems(n).find(_.label == "outerBoundaryIs").map(ring)
          .getOrElse(throw new IllegalArgumentException("KML Polygon without outerBoundaryIs"))
        val holes = childElems(n).filter(_.label == "innerBoundaryIs").map(ring)
        f.createPolygon(shell, holes.toArray)
      case "MultiGeometry" =>
        f.createGeometryCollection(childElems(n).map(parseKmlNode).toArray)
      case "Placemark" =>
        childElems(n)
          .find(c => Set("Point", "LineString", "Polygon", "MultiGeometry")(c.label))
          .map(parseKmlNode)
          .getOrElse(throw new IllegalArgumentException("Placemark without geometry"))
      case other => throw new IllegalArgumentException(s"unsupported KML geometry: $other")
    }
  }

  private def kmlCoords(n: Node): Array[Coordinate] =
    parseCoordinates(firstElem(n, "coordinates").text)

  // --------------------------------------------------------------- writers

  /** GML 3 writer (pos/posList/exterior-interior encoding), matching the
    * element set the parser accepts. The root element carries the gml
    * namespace declaration so output round-trips through parseGml. */
  def writeGml(g: Geometry): String = {
    val sb = new StringBuilder
    writeGmlNode(g, sb)
    val s = sb.toString
    val i = s.indexOf('>')
    s.substring(0, i) + " xmlns:gml=\"http://www.opengis.net/gml\"" + s.substring(i)
  }

  private def fmt(d: Double): String =
    if (d == d.toLong.toDouble) d.toLong.toString else d.toString

  private def posList(cs: Array[Coordinate]): String =
    cs.map(c => s"${fmt(c.x)} ${fmt(c.y)}").mkString(" ")

  private def writeGmlNode(g: Geometry, sb: StringBuilder): Unit = g match {
    case p: Point =>
      sb ++= s"<gml:Point><gml:pos>${fmt(p.getX)} ${fmt(p.getY)}</gml:pos></gml:Point>"
    case l: LineString if l.isInstanceOf[LinearRing] =>
      sb ++= s"<gml:LinearRing><gml:posList>${posList(l.getCoordinates)}</gml:posList></gml:LinearRing>"
    case l: LineString =>
      sb ++= s"<gml:LineString><gml:posList>${posList(l.getCoordinates)}</gml:posList></gml:LineString>"
    case p: Polygon =>
      sb ++= "<gml:Polygon><gml:exterior><gml:LinearRing><gml:posList>"
      sb ++= posList(p.getExteriorRing.getCoordinates)
      sb ++= "</gml:posList></gml:LinearRing></gml:exterior>"
      (0 until p.getNumInteriorRing).foreach { i =>
        sb ++= "<gml:interior><gml:LinearRing><gml:posList>"
        sb ++= posList(p.getInteriorRingN(i).getCoordinates)
        sb ++= "</gml:posList></gml:LinearRing></gml:interior>"
      }
      sb ++= "</gml:Polygon>"
    case m: MultiPoint =>
      sb ++= "<gml:MultiPoint>"
      (0 until m.getNumGeometries).foreach { i =>
        sb ++= "<gml:pointMember>"; writeGmlNode(m.getGeometryN(i), sb); sb ++= "</gml:pointMember>"
      }
      sb ++= "</gml:MultiPoint>"
    case m: MultiLineString =>
      sb ++= "<gml:MultiLineString>"
      (0 until m.getNumGeometries).foreach { i =>
        sb ++= "<gml:lineStringMember>"; writeGmlNode(m.getGeometryN(i), sb); sb ++= "</gml:lineStringMember>"
      }
      sb ++= "</gml:MultiLineString>"
    case m: MultiPolygon =>
      sb ++= "<gml:MultiPolygon>"
      (0 until m.getNumGeometries).foreach { i =>
        sb ++= "<gml:polygonMember>"; writeGmlNode(m.getGeometryN(i), sb); sb ++= "</gml:polygonMember>"
      }
      sb ++= "</gml:MultiPolygon>"
    case gc: GeometryCollection =>
      sb ++= "<gml:MultiGeometry>"
      (0 until gc.getNumGeometries).foreach { i =>
        sb ++= "<gml:geometryMember>"; writeGmlNode(gc.getGeometryN(i), sb); sb ++= "</gml:geometryMember>"
      }
      sb ++= "</gml:MultiGeometry>"
    case other => throw new IllegalArgumentException(s"cannot write ${other.getGeometryType} as GML")
  }

  /** GML 2 writer: `gml:coordinates` ("x,y x,y") and
    * outerBoundaryIs/innerBoundaryIs — the encoding PostGIS emits for
    * `ST_AsGML(2, geom)` and the shape of the reference's GML2 corpora
    * (reference: test/testmanual/result/basex97_gml2.json queries run over
    * GML2 documents; extension/basex/basex_extension.ts:53 gml module
    * config). The parser accepts both GML2 and GML3, so either version
    * round-trips through parseGml. */
  def writeGml2(g: Geometry): String = {
    val sb = new StringBuilder
    writeGml2Node(g, sb)
    val s = sb.toString
    val i = s.indexOf('>')
    s.substring(0, i) + " xmlns:gml=\"http://www.opengis.net/gml\"" + s.substring(i)
  }

  private def coordTuples(cs: Array[Coordinate]): String =
    cs.map(c => s"${fmt(c.x)},${fmt(c.y)}").mkString(" ")

  private def writeGml2Node(g: Geometry, sb: StringBuilder): Unit = g match {
    case p: Point =>
      sb ++= s"<gml:Point><gml:coordinates>${fmt(p.getX)},${fmt(p.getY)}</gml:coordinates></gml:Point>"
    case l: LineString if l.isInstanceOf[LinearRing] =>
      sb ++= s"<gml:LinearRing><gml:coordinates>${coordTuples(l.getCoordinates)}</gml:coordinates></gml:LinearRing>"
    case l: LineString =>
      sb ++= s"<gml:LineString><gml:coordinates>${coordTuples(l.getCoordinates)}</gml:coordinates></gml:LineString>"
    case p: Polygon =>
      sb ++= "<gml:Polygon><gml:outerBoundaryIs><gml:LinearRing><gml:coordinates>"
      sb ++= coordTuples(p.getExteriorRing.getCoordinates)
      sb ++= "</gml:coordinates></gml:LinearRing></gml:outerBoundaryIs>"
      (0 until p.getNumInteriorRing).foreach { i =>
        sb ++= "<gml:innerBoundaryIs><gml:LinearRing><gml:coordinates>"
        sb ++= coordTuples(p.getInteriorRingN(i).getCoordinates)
        sb ++= "</gml:coordinates></gml:LinearRing></gml:innerBoundaryIs>"
      }
      sb ++= "</gml:Polygon>"
    case m: MultiPoint =>
      sb ++= "<gml:MultiPoint>"
      (0 until m.getNumGeometries).foreach { i =>
        sb ++= "<gml:pointMember>"; writeGml2Node(m.getGeometryN(i), sb); sb ++= "</gml:pointMember>"
      }
      sb ++= "</gml:MultiPoint>"
    case m: MultiLineString =>
      sb ++= "<gml:MultiLineString>"
      (0 until m.getNumGeometries).foreach { i =>
        sb ++= "<gml:lineStringMember>"; writeGml2Node(m.getGeometryN(i), sb); sb ++= "</gml:lineStringMember>"
      }
      sb ++= "</gml:MultiLineString>"
    case m: MultiPolygon =>
      sb ++= "<gml:MultiPolygon>"
      (0 until m.getNumGeometries).foreach { i =>
        sb ++= "<gml:polygonMember>"; writeGml2Node(m.getGeometryN(i), sb); sb ++= "</gml:polygonMember>"
      }
      sb ++= "</gml:MultiPolygon>"
    case gc: GeometryCollection =>
      sb ++= "<gml:MultiGeometry>"
      (0 until gc.getNumGeometries).foreach { i =>
        sb ++= "<gml:geometryMember>"; writeGml2Node(gc.getGeometryN(i), sb); sb ++= "</gml:geometryMember>"
      }
      sb ++= "</gml:MultiGeometry>"
    case other => throw new IllegalArgumentException(s"cannot write ${other.getGeometryType} as GML2")
  }

  /** KML writer (coordinates tuples, outer/innerBoundaryIs). */
  def writeKml(g: Geometry): String = {
    val sb = new StringBuilder
    writeKmlNode(g, sb)
    sb.toString
  }

  private def tuples(cs: Array[Coordinate]): String =
    cs.map(c => s"${fmt(c.x)},${fmt(c.y)}").mkString(" ")

  private def writeKmlNode(g: Geometry, sb: StringBuilder): Unit = g match {
    case p: Point =>
      sb ++= s"<Point><coordinates>${fmt(p.getX)},${fmt(p.getY)}</coordinates></Point>"
    case l: LineString if !l.isInstanceOf[LinearRing] =>
      sb ++= s"<LineString><coordinates>${tuples(l.getCoordinates)}</coordinates></LineString>"
    case r: LinearRing =>
      sb ++= s"<LinearRing><coordinates>${tuples(r.getCoordinates)}</coordinates></LinearRing>"
    case p: Polygon =>
      sb ++= "<Polygon><outerBoundaryIs><LinearRing><coordinates>"
      sb ++= tuples(p.getExteriorRing.getCoordinates)
      sb ++= "</coordinates></LinearRing></outerBoundaryIs>"
      (0 until p.getNumInteriorRing).foreach { i =>
        sb ++= "<innerBoundaryIs><LinearRing><coordinates>"
        sb ++= tuples(p.getInteriorRingN(i).getCoordinates)
        sb ++= "</coordinates></LinearRing></innerBoundaryIs>"
      }
      sb ++= "</Polygon>"
    case gc: GeometryCollection =>
      sb ++= "<MultiGeometry>"
      (0 until gc.getNumGeometries).foreach(i => writeKmlNode(gc.getGeometryN(i), sb))
      sb ++= "</MultiGeometry>"
    case other => throw new IllegalArgumentException(s"cannot write ${other.getGeometryType} as KML")
  }

  // -------------------------------------------------------------- helpers

  /** "x1,y1[,z1] x2,y2[,z2]" (GML2 / KML tuple encoding). */
  private def parseCoordinates(text: String): Array[Coordinate] =
    splitWs(text).map(t => toCoord(t.split(',').map(_.toDouble)))

  /** "x1 y1 x2 y2 …" flat list with the given dimension (GML3 posList). */
  private def parsePosList(text: String, d: Int): Array[Coordinate] = {
    val nums = splitWs(text).map(_.toDouble)
    require(nums.length % d == 0, s"posList length ${nums.length} not divisible by dim $d")
    nums.grouped(d).map(toCoord).toArray
  }

  private def toCoord(nums: Array[Double]): Coordinate = {
    val c = new Coordinate(nums(0), nums(1))
    if (nums.length > 2) c.setZ(nums(2))
    c
  }

  private def splitWs(s: String): Array[String] =
    s.trim.split("\\s+").filter(_.nonEmpty)

  private def childElems(n: Node): Seq[Node] = n.child.collect { case e: Elem => e }

  private def firstElem(n: Node, label: String): Node =
    (n \\ label).headOption.getOrElse(
      throw new IllegalArgumentException(s"missing <$label> under <${n.label}>"))
}
