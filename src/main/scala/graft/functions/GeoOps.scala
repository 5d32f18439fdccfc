package graft.functions

import graft.geo.{GeoJson, GeomSerde, GmlKml}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.{Geometry, GeometryFactory, Point}
import org.locationtech.jts.simplify.TopologyPreservingSimplifier

/** Static kernels for every ST_* function, operating directly on Catalyst
  * internal types (WKB `Array[Byte]`, `UTF8String`, primitives) so the same
  * method body serves both interpreted `nullSafeEval` and generated code
  * (`GeoKernel.callCode` emits a static call) — keeping geometry expressions
  * inside WholeStageCodegen.
  *
  * Function surface mirrors the reference's PostGIS-side + pushdown
  * functions (reference: extension/basex/basex_extension.ts:44-79,130-162;
  * extension/mongodb/mongo_extension.ts:41-57) plus the standard PostGIS
  * companions needed to round-trip its queries.
  */
object GeoOps {
  @inline private def read(b: Array[Byte]): Geometry = GeomSerde.fromWkb(b)
  @inline private def write(g: Geometry): Array[Byte] = GeomSerde.toWkb(g)
  @inline private def f: GeometryFactory = GeomSerde.factory

  // ------------------------------------------------------------ constructors
  def stPoint(x: Double, y: Double): Array[Byte] = write(GeomSerde.point(x, y))

  def stMakeEnvelope(xmin: Double, ymin: Double, xmax: Double, ymax: Double): Array[Byte] = {
    import org.locationtech.jts.geom.Coordinate
    val cs = Array(
      new Coordinate(xmin, ymin), new Coordinate(xmax, ymin),
      new Coordinate(xmax, ymax), new Coordinate(xmin, ymax),
      new Coordinate(xmin, ymin))
    write(f.createPolygon(cs))
  }

  def stGeomFromText(wkt: UTF8String): Array[Byte] = write(GeomSerde.fromWkt(wkt.toString))
  def stGeomFromWKB(b: Array[Byte]): Array[Byte] = write(read(b)) // validate + normalize
  def stGeomFromGeoJSON(s: UTF8String): Array[Byte] = write(GeoJson.parse(s.toString))
  def stGeomFromGML(s: UTF8String): Array[Byte] = write(GmlKml.parseGml(s.toString))
  def stGeomFromKML(s: UTF8String): Array[Byte] = write(GmlKml.parseKml(s.toString))

  // ------------------------------------------------------------------ output
  def stAsText(b: Array[Byte]): UTF8String = UTF8String.fromString(GeomSerde.toWkt(read(b)))
  def stAsGeoJSON(b: Array[Byte]): UTF8String = UTF8String.fromString(GeoJson.write(read(b)))
  def stAsBinary(b: Array[Byte]): Array[Byte] = b
  def stAsGML(b: Array[Byte]): UTF8String = UTF8String.fromString(GmlKml.writeGml(read(b)))
  /** PostGIS 2-arg form `ST_AsGML(version, geom)`: 2 → GML2
    * (gml:coordinates / outerBoundaryIs), 3 → GML3 (gml:pos/posList). */
  def stAsGMLVersion(version: Int, b: Array[Byte]): UTF8String = version match {
    case 2 => UTF8String.fromString(GmlKml.writeGml2(read(b)))
    case 3 => UTF8String.fromString(GmlKml.writeGml(read(b)))
    case v => throw new IllegalArgumentException(s"ST_AsGML version must be 2 or 3, got $v")
  }
  def stAsKML(b: Array[Byte]): UTF8String = UTF8String.fromString(GmlKml.writeKml(read(b)))

  // -------------------------------------------------------------- accessors
  def stX(b: Array[Byte]): Double = read(b) match {
    case p: Point => p.getX
    case g => throw new IllegalArgumentException(s"ST_X requires Point, got ${g.getGeometryType}")
  }
  def stY(b: Array[Byte]): Double = read(b) match {
    case p: Point => p.getY
    case g => throw new IllegalArgumentException(s"ST_Y requires Point, got ${g.getGeometryType}")
  }
  def stSrid(b: Array[Byte]): Int = read(b).getSRID
  def stSetSrid(b: Array[Byte], srid: Int): Array[Byte] = {
    val g = read(b); g.setSRID(srid); write(g)
  }

  /** Coordinate reprojection between supported EPSG codes (4326, 3857,
    * 3395, and the 120 WGS84 UTM zones — see [[graft.geo.Crs]]); the
    * reference delegates this to PostGIS (src/index.ts:44). Projected →
    * projected routes through lon/lat. The source SRID comes from the
    * geometry (set it via ST_SetSRID). */
  def stTransform(b: Array[Byte], targetSrid: Int): Array[Byte] = {
    import org.locationtech.jts.geom.CoordinateFilter
    val g = read(b)
    val src = g.getSRID
    if (src == targetSrid) return b
    val f = graft.geo.Crs.transform(src, targetSrid).getOrElse(
      throw new IllegalArgumentException(
        s"ST_Transform: unsupported $src -> $targetSrid (supported: 4326, " +
          "3857, 3395, UTM 32601-32660/32701-32760; set the source SRID " +
          "with ST_SetSRID)"))
    val filter: CoordinateFilter = c => {
      val (x, y) = f(c.x, c.y)
      c.x = x; c.y = y
    }
    val out = g.copy()
    out.apply(filter)
    out.geometryChanged()
    out.setSRID(targetSrid)
    write(out)
  }
  /** PostGIS-style type name, e.g. "ST_Point"
    * (reference predicate ST_GeometryType = '…', basex_extension.ts:146). */
  def stGeometryType(b: Array[Byte]): UTF8String =
    UTF8String.fromString("ST_" + read(b).getGeometryType)
  def stDimension(b: Array[Byte]): Int = read(b).getDimension
  def stNumPoints(b: Array[Byte]): Int = read(b).getNumPoints
  def stNumGeometries(b: Array[Byte]): Int = read(b).getNumGeometries
  def stGeometryN(b: Array[Byte], n: Int): Array[Byte] = write(read(b).getGeometryN(n - 1))

  // ---------------------------------------------- line/ring/point accessors
  private def asLine(b: Array[Byte], who: String): org.locationtech.jts.geom.LineString =
    read(b) match {
      case l: org.locationtech.jts.geom.LineString => l
      case g => throw new IllegalArgumentException(s"$who requires LineString, got ${g.getGeometryType}")
    }
  def stStartPoint(b: Array[Byte]): Array[Byte] = write(asLine(b, "ST_StartPoint").getStartPoint)
  def stEndPoint(b: Array[Byte]): Array[Byte] = write(asLine(b, "ST_EndPoint").getEndPoint)
  def stPointN(b: Array[Byte], n: Int): Array[Byte] = write(asLine(b, "ST_PointN").getPointN(n - 1))
  def stReverse(b: Array[Byte]): Array[Byte] = write(read(b).reverse())
  def stExteriorRing(b: Array[Byte]): Array[Byte] = read(b) match {
    case p: org.locationtech.jts.geom.Polygon => write(p.getExteriorRing)
    case g => throw new IllegalArgumentException(s"ST_ExteriorRing requires Polygon, got ${g.getGeometryType}")
  }
  def stNumInteriorRings(b: Array[Byte]): Int = read(b) match {
    case p: org.locationtech.jts.geom.Polygon => p.getNumInteriorRing
    case _ => 0
  }
  def stInteriorRingN(b: Array[Byte], n: Int): Array[Byte] = read(b) match {
    case p: org.locationtech.jts.geom.Polygon => write(p.getInteriorRingN(n - 1))
    case g => throw new IllegalArgumentException(s"ST_InteriorRingN requires Polygon, got ${g.getGeometryType}")
  }
  /** Point on `a` nearest to `b` (PostGIS ST_ClosestPoint). */
  def stClosestPoint(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val cs = org.locationtech.jts.operation.distance.DistanceOp.nearestPoints(read(a), read(b))
    write(f.createPoint(cs(0)))
  }
  /** Shortest connecting line a→b (PostGIS ST_ShortestLine). */
  def stShortestLine(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val cs = org.locationtech.jts.operation.distance.DistanceOp.nearestPoints(read(a), read(b))
    write(f.createLineString(cs))
  }
  /** North-based azimuth in radians from point a to point b (PostGIS
    * ST_Azimuth): 0 = north, π/2 = east. */
  def stAzimuth(a: Array[Byte], b: Array[Byte]): java.lang.Double = {
    val (pa, pb) = (read(a), read(b))
    (pa, pb) match {
      case (p1: Point, p2: Point) =>
        // PostGIS contract: NULL for coincident points (atan2(0,0)=0 would
        // make "due north" and "degenerate" indistinguishable)
        if (p1.getX == p2.getX && p1.getY == p2.getY) null
        else {
          val az = math.atan2(p2.getX - p1.getX, p2.getY - p1.getY)
          if (az < 0) az + 2 * math.Pi else az
        }
      case _ => throw new IllegalArgumentException("ST_Azimuth requires two Points")
    }
  }
  /** Point at `fraction` ∈ [0,1] along a line (PostGIS
    * ST_LineInterpolatePoint). */
  def stLineInterpolatePoint(b: Array[Byte], fraction: Double): Array[Byte] = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction $fraction outside [0,1]")
    val line = asLine(b, "ST_LineInterpolatePoint")
    val c = new org.locationtech.jts.linearref.LengthIndexedLine(line)
      .extractPoint(fraction * line.getLength)
    write(f.createPoint(c))
  }
  def stIsEmpty(b: Array[Byte]): Boolean = read(b).isEmpty
  def stIsValid(b: Array[Byte]): Boolean = read(b).isValid
  def stIsSimple(b: Array[Byte]): Boolean = read(b).isSimple

  // ---------------------------------------------------------------- measures
  def stArea(b: Array[Byte]): Double = read(b).getArea
  def stLength(b: Array[Byte]): Double = read(b).getLength
  def stDistance(a: Array[Byte], b: Array[Byte]): Double = read(a).distance(read(b))
  def stDWithin(a: Array[Byte], b: Array[Byte], d: Double): Boolean =
    read(a).isWithinDistance(read(b), d)

  // ---------------------------------------------------------------- geodesic
  // WGS84 defining constants; mean radius (2a+b)/3 matches PostGIS's sphere.
  private val WGS84_A = 6378137.0
  private val WGS84_F = 1.0 / 298.257223563
  private val WGS84_B = WGS84_A * (1.0 - WGS84_F)
  private val MeanRadiusM = (2.0 * WGS84_A + WGS84_B) / 3.0 // 6371008.7714150598

  /** Haversine great-circle distance in meters on the mean-radius sphere.
    * Coordinates are lon/lat degrees (EPSG:4326). Non-point geometries use
    * the planar-nearest coordinate pair — exact for points, the common case
    * (PostGIS ST_DistanceSphere; the reference runs it via its PostGIS
    * finalresult step, src/index.ts:44). */
  def stDistanceSphere(a: Array[Byte], b: Array[Byte]): Double = {
    val cs = org.locationtech.jts.operation.distance.DistanceOp.nearestPoints(read(a), read(b))
    haversineMeters(cs(0).x, cs(0).y, cs(1).x, cs(1).y)
  }

  private def haversineMeters(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val dLat = Math.toRadians(lat2 - lat1)
    val dLon = Math.toRadians(lon2 - lon1)
    val sLat = Math.sin(dLat / 2.0)
    val sLon = Math.sin(dLon / 2.0)
    val h = sLat * sLat +
      Math.cos(Math.toRadians(lat1)) * Math.cos(Math.toRadians(lat2)) * sLon * sLon
    2.0 * MeanRadiusM * Math.asin(Math.min(1.0, Math.sqrt(h)))
  }

  /** Vincenty inverse geodesic distance in meters on the WGS84 ellipsoid
    * (PostGIS ST_DistanceSpheroid with the default spheroid). Falls back to
    * the spherical answer for the nearly-antipodal pairs where Vincenty's
    * iteration is known not to converge (error there ≤ 0.5%). */
  def stDistanceSpheroid(a: Array[Byte], b: Array[Byte]): Double = {
    val cs = org.locationtech.jts.operation.distance.DistanceOp.nearestPoints(read(a), read(b))
    vincentyMeters(cs(0).x, cs(0).y, cs(1).x, cs(1).y)
  }

  private def vincentyMeters(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    if (lon1 == lon2 && lat1 == lat2) return 0.0
    val L = Math.toRadians(lon2 - lon1)
    val u1 = Math.atan((1.0 - WGS84_F) * Math.tan(Math.toRadians(lat1)))
    val u2 = Math.atan((1.0 - WGS84_F) * Math.tan(Math.toRadians(lat2)))
    val sinU1 = Math.sin(u1); val cosU1 = Math.cos(u1)
    val sinU2 = Math.sin(u2); val cosU2 = Math.cos(u2)
    var lambda = L
    var iter = 0
    var sinSigma = 0.0; var cosSigma = 0.0; var sigma = 0.0
    var cosSqAlpha = 0.0; var cos2SigmaM = 0.0
    var converged = false
    while (iter < 100 && !converged) {
      val sinL = Math.sin(lambda); val cosL = Math.cos(lambda)
      val t1 = cosU2 * sinL
      val t2 = cosU1 * sinU2 - sinU1 * cosU2 * cosL
      sinSigma = Math.sqrt(t1 * t1 + t2 * t2)
      if (sinSigma == 0.0) return 0.0 // coincident
      cosSigma = sinU1 * sinU2 + cosU1 * cosU2 * cosL
      sigma = Math.atan2(sinSigma, cosSigma)
      val sinAlpha = cosU1 * cosU2 * sinL / sinSigma
      cosSqAlpha = 1.0 - sinAlpha * sinAlpha
      cos2SigmaM = if (cosSqAlpha == 0.0) 0.0 // equatorial line
        else cosSigma - 2.0 * sinU1 * sinU2 / cosSqAlpha
      val c = WGS84_F / 16.0 * cosSqAlpha * (4.0 + WGS84_F * (4.0 - 3.0 * cosSqAlpha))
      val prev = lambda
      lambda = L + (1.0 - c) * WGS84_F * sinAlpha *
        (sigma + c * sinSigma * (cos2SigmaM + c * cosSigma * (-1.0 + 2.0 * cos2SigmaM * cos2SigmaM)))
      converged = Math.abs(lambda - prev) < 1e-12
      iter += 1
    }
    if (!converged) return haversineMeters(lon1, lat1, lon2, lat2)
    val uSq = cosSqAlpha * (WGS84_A * WGS84_A - WGS84_B * WGS84_B) / (WGS84_B * WGS84_B)
    val bigA = 1.0 + uSq / 16384.0 * (4096.0 + uSq * (-768.0 + uSq * (320.0 - 175.0 * uSq)))
    val bigB = uSq / 1024.0 * (256.0 + uSq * (-128.0 + uSq * (74.0 - 47.0 * uSq)))
    val deltaSigma = bigB * sinSigma * (cos2SigmaM + bigB / 4.0 *
      (cosSigma * (-1.0 + 2.0 * cos2SigmaM * cos2SigmaM) -
        bigB / 6.0 * cos2SigmaM * (-3.0 + 4.0 * sinSigma * sinSigma) *
          (-3.0 + 4.0 * cos2SigmaM * cos2SigmaM)))
    WGS84_B * bigA * (sigma - deltaSigma)
  }

  // -------------------------------------------------------------- predicates
  def stWithin(a: Array[Byte], b: Array[Byte]): Boolean = read(a).within(read(b))
  def stContains(a: Array[Byte], b: Array[Byte]): Boolean = read(a).contains(read(b))
  def stIntersects(a: Array[Byte], b: Array[Byte]): Boolean = read(a).intersects(read(b))
  def stDisjoint(a: Array[Byte], b: Array[Byte]): Boolean = read(a).disjoint(read(b))
  def stTouches(a: Array[Byte], b: Array[Byte]): Boolean = read(a).touches(read(b))
  def stOverlaps(a: Array[Byte], b: Array[Byte]): Boolean = read(a).overlaps(read(b))
  def stCrosses(a: Array[Byte], b: Array[Byte]): Boolean = read(a).crosses(read(b))
  def stEquals(a: Array[Byte], b: Array[Byte]): Boolean = read(a).equalsTopo(read(b))
  def stCovers(a: Array[Byte], b: Array[Byte]): Boolean = read(a).covers(read(b))
  def stCoveredBy(a: Array[Byte], b: Array[Byte]): Boolean = read(a).coveredBy(read(b))

  // ------------------------------------------------------------ geom → geom
  // --------------------------------------------------- envelope accessors
  def stXMin(b: Array[Byte]): Double = read(b).getEnvelopeInternal.getMinX
  def stXMax(b: Array[Byte]): Double = read(b).getEnvelopeInternal.getMaxX
  def stYMin(b: Array[Byte]): Double = read(b).getEnvelopeInternal.getMinY
  def stYMax(b: Array[Byte]): Double = read(b).getEnvelopeInternal.getMaxY

  // ------------------------------------------------------- grid partitioning
  // Building blocks for the distributed spatial join: geometries are mapped
  // to covering cells of a fixed grid; candidate pairs meet via an equi-join
  // on cell id (no cartesian product). Cell id packs (cellX, cellY) ints
  // into one long.
  /** Morton (Z-order) code of the cell containing (x, y): interleaves the
    * low 31 bits of cellX/cellY so spatially-near cells get near keys —
    * used for intra-partition layout (SpatialStorage zorder). */
  def mortonKey(x: Double, y: Double, cell: Double): Long = {
    @inline def spread(v0: Long): Long = {
      var v = v0 & 0x7fffffffL
      v = (v | (v << 16)) & 0x0000ffff0000ffffL
      v = (v | (v << 8)) & 0x00ff00ff00ff00ffL
      v = (v | (v << 4)) & 0x0f0f0f0f0f0f0f0fL
      v = (v | (v << 2)) & 0x3333333333333333L
      v = (v | (v << 1)) & 0x5555555555555555L
      v
    }
    // bias so negative cells keep key ordering
    val cx = Math.floor(x / cell).toLong + (1L << 30)
    val cy = Math.floor(y / cell).toLong + (1L << 30)
    spread(cx) | (spread(cy) << 1)
  }

  def gridCellId(x: Double, y: Double, cell: Double): Long = {
    val cx = Math.floor(x / cell).toInt
    val cy = Math.floor(y / cell).toInt
    (cx.toLong << 32) | (cy.toLong & 0xffffffffL)
  }

  /** Reference cell of a grid-join candidate pair `(a, b)`: the cell
    * holding the top-left corner of (a's envelope expanded by `expand`) ∩
    * b's envelope. A pair that meets in several common cells is kept only
    * in this one. Equal to `gridCellId(greatest(xmin(a) - expand, xmin(b)),
    * greatest(ymin(a) - expand, ymin(b)), cell)`, with Spark's `greatest`
    * ordering (first argument wins a tie such as -0.0 vs 0.0; NaN is
    * largest), but each WKB is decoded once. */
  def gridRefCell(a: Array[Byte], b: Array[Byte], expand: Double, cell: Double): Long = {
    val ea = read(a).getEnvelopeInternal
    val eb = read(b).getEnvelopeInternal
    @inline def greatest(x: Double, y: Double): Double =
      if (SQLOrderingUtil.compareDoubles(y, x) > 0) y else x
    gridCellId(greatest(ea.getMinX - expand, eb.getMinX),
      greatest(ea.getMinY - expand, eb.getMinY), cell)
  }

  /** Cells covering the geometry's envelope expanded by `expand`
    * (left side of a distance join expands by the radius; right side by 0). */
  /** Guard: a geometry/cell-size mismatch (huge envelope, tiny cell) would
    * explode one row into millions — fail fast with a tuning hint instead
    * of OOMing an executor. */
  private val MaxCellsPerGeometry = 65536

  def gridCells(b: Array[Byte], expand: Double, cell: Double): org.apache.spark.sql.catalyst.util.ArrayData = {
    val env = read(b).getEnvelopeInternal
    val x0 = Math.floor((env.getMinX - expand) / cell).toInt
    val x1 = Math.floor((env.getMaxX + expand) / cell).toInt
    val y0 = Math.floor((env.getMinY - expand) / cell).toInt
    val y1 = Math.floor((env.getMaxY + expand) / cell).toInt
    val nCells = (x1 - x0 + 1).toLong * (y1 - y0 + 1).toLong
    require(nCells <= MaxCellsPerGeometry,
      s"geometry envelope spans $nCells grid cells (> $MaxCellsPerGeometry); " +
        s"raise cellSize (now $cell) to at least the typical geometry extent")
    val out = new Array[Long]((x1 - x0 + 1).toLong.toInt * (y1 - y0 + 1))
    var i = 0
    var cx = x0
    while (cx <= x1) {
      var cy = y0
      while (cy <= y1) {
        out(i) = (cx.toLong << 32) | (cy.toLong & 0xffffffffL)
        i += 1
        cy += 1
      }
      cx += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** PostGIS ST_Project: the point `distanceM` meters from `b` (lon/lat)
    * along `azimuthRad` (radians clockwise from north) — spherical forward
    * problem on the same mean radius as [[stDistanceSphere]]. */
  def stProject(b: Array[Byte], distanceM: Double, azimuthRad: Double): Array[Byte] = {
    val c = read(b).getCoordinate
    val lat1 = math.toRadians(c.y)
    val lon1 = math.toRadians(c.x)
    val delta = distanceM / MeanRadiusM
    val lat2 = math.asin(math.sin(lat1) * math.cos(delta) +
      math.cos(lat1) * math.sin(delta) * math.cos(azimuthRad))
    val lon2 = lon1 + math.atan2(
      math.sin(azimuthRad) * math.sin(delta) * math.cos(lat1),
      math.cos(delta) - math.sin(lat1) * math.sin(lat2))
    // normalize into [-180, 180) like PostGIS (projecting east from
    // lon 179.9 must not emit lon > 180, which downstream SRID-bounds
    // checks — e.g. ST_GeoHash — reject); toDegrees(lon2) ∈ (-360, 360),
    // so one fmod after a positive shift suffices
    val lonDeg = (math.toDegrees(lon2) + 540.0) % 360.0 - 180.0
    stPoint(lonDeg, math.toDegrees(lat2))
  }

  // --------------------------------------------------------------- geohash

  private val GeohashBase32 = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** PostGIS ST_GeoHash: base-32 geohash of the geometry's envelope center
    * (lon/lat only). `maxChars <= 0` = auto precision — the longest hash
    * whose cell still contains the whole envelope (degenerate envelopes,
    * i.e. points, get the 20-char maximum). */
  def stGeoHash(b: Array[Byte], maxChars: Int): UTF8String = {
    val env = read(b).getEnvelopeInternal
    require(env.getMinX >= -180 && env.getMaxX <= 180 &&
      env.getMinY >= -90 && env.getMaxY <= 90,
      "ST_GeoHash requires lon/lat coordinates (SRID 4326 bounds)")
    val lon = (env.getMinX + env.getMaxX) / 2
    val lat = (env.getMinY + env.getMaxY) / 2
    val auto = maxChars <= 0
    val limit = if (auto) 20 else maxChars
    val sb = new java.lang.StringBuilder(limit)
    var lonLo = -180.0; var lonHi = 180.0
    var latLo = -90.0; var latHi = 90.0
    var evenBit = true
    var done = false
    while (!done && sb.length < limit) {
      var ch = 0
      var i = 0
      while (i < 5) {
        if (evenBit) {
          val mid = (lonLo + lonHi) / 2
          if (lon >= mid) { ch = ch * 2 + 1; lonLo = mid } else { ch = ch * 2; lonHi = mid }
        } else {
          val mid = (latLo + latHi) / 2
          if (lat >= mid) { ch = ch * 2 + 1; latLo = mid } else { ch = ch * 2; latHi = mid }
        }
        evenBit = !evenBit
        i += 1
      }
      // auto precision stops BEFORE the first cell that loses the envelope
      if (auto && !(env.getMinX >= lonLo && env.getMaxX <= lonHi &&
          env.getMinY >= latLo && env.getMaxY <= latHi)) done = true
      else sb.append(GeohashBase32.charAt(ch))
    }
    UTF8String.fromString(sb.toString)
  }

  /** PostGIS ST_PointFromGeoHash: center point of the geohash cell. */
  def stPointFromGeoHash(h: UTF8String): Array[Byte] = {
    val s = h.toString.toLowerCase
    var lonLo = -180.0; var lonHi = 180.0
    var latLo = -90.0; var latHi = 90.0
    var evenBit = true
    s.foreach { c =>
      val idx = GeohashBase32.indexOf(c)
      require(idx >= 0, s"invalid geohash character '$c'")
      var bit = 4
      while (bit >= 0) {
        val on = (idx >> bit & 1) == 1
        if (evenBit) {
          val mid = (lonLo + lonHi) / 2
          if (on) lonLo = mid else lonHi = mid
        } else {
          val mid = (latLo + latHi) / 2
          if (on) latLo = mid else latHi = mid
        }
        evenBit = !evenBit
        bit -= 1
      }
    }
    stPoint((lonLo + lonHi) / 2, (latLo + latHi) / 2)
  }

  // ------------------------------------------------------------ geom → geom
  def stCentroid(b: Array[Byte]): Array[Byte] = write(read(b).getCentroid)
  def stEnvelope(b: Array[Byte]): Array[Byte] = write(read(b).getEnvelope)
  def stBoundary(b: Array[Byte]): Array[Byte] = write(read(b).getBoundary)
  def stConvexHull(b: Array[Byte]): Array[Byte] = write(read(b).convexHull())
  def stBuffer(b: Array[Byte], d: Double): Array[Byte] = write(read(b).buffer(d))
  def stSimplify(b: Array[Byte], tol: Double): Array[Byte] =
    write(TopologyPreservingSimplifier.simplify(read(b), tol))
  def stUnion(a: Array[Byte], b: Array[Byte]): Array[Byte] = write(read(a).union(read(b)))
  def stIntersection(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    write(read(a).intersection(read(b)))
  def stDifference(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    write(read(a).difference(read(b)))
  def stSymDifference(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    write(read(a).symDifference(read(b)))
}
