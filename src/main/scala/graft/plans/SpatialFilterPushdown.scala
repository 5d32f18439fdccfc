package graft.plans

import graft.functions._
import graft.sources.{DocScan, DocTable}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.types.{BinaryType, DoubleType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.locationtech.jts.geom.Envelope

import scala.jdk.CollectionConverters._
import scala.util.Try

/** Optimizer rule: automatic spatial-predicate pushdown into the graft
  * document sources.
  *
  * A plain-SQL spatial selection over a `graft-xml` / `graft-geojson` scan —
  *
  * {{{ SELECT … FROM t WHERE ST_Within(geometry, ST_GeomFromText('POLYGON…')) }}}
  *
  * — is translated into the sources' envelope (`bbox`) prune, so
  * non-matching records are dropped at parse time, before a row is ever
  * built, with no manual `.option("bbox", …)`. This mirrors the reference
  * pushing `geo:within` / `geo:intersects` / `geo:distance` selections into
  * the backend XQuery / Mongo find itself (reference:
  * extension/xml_extension.ts:1313 constructXQuery,
  * extension/basex/basex_extension.ts:130 supportedSelectionFunctions).
  *
  * Soundness: every recognized predicate (Within/Contains/Intersects/
  * Covers/CoveredBy/Equals/Touches/Overlaps/Crosses both orientations;
  * DWithin / ST_Distance-comparison with radius r) implies the record's
  * envelope intersects the literal geometry's envelope (expanded by r for
  * the distance forms), so the bbox prune keeps a superset of matches; the
  * exact predicate remains in the plan as the residual Filter. Conjuncts
  * intersect envelopes; a provably-empty intersection writes the `"empty"`
  * bbox sentinel (scan emits nothing). Disabled via
  * `spark.graft.spatialPushdown.enabled=false`.
  *
  * Two shapes, because the rule runs at different optimizer points
  * depending on registration: with `spark.sql.extensions` it runs before
  * V2 scan planning and rewrites [[DataSourceV2Relation]] options; with
  * `Graft.register` (experimental.extraOptimizations, after scan
  * planning) it replaces the already-built [[DocScan]].
  */
case class SpatialFilterPushdown() extends Rule[LogicalPlan] {

  private val EnabledKey = "spark.graft.spatialPushdown.enabled"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString(EnabledKey, "true") != "true") return plan
    plan.transformUp {
      // pre-scan-planning shape (spark.sql.extensions path)
      case f @ Filter(cond, r: DataSourceV2Relation) if r.table.isInstanceOf[DocTable] =>
        geometryAttr(r.output).flatMap { g =>
          newSpec(cond, g, Option(r.options.get("bbox"))).map { spec =>
            val opts = new CaseInsensitiveStringMap(
              (r.options.asCaseSensitiveMap.asScala.toMap + ("bbox" -> spec)).asJava)
            f.copy(child = r.copy(options = opts))
          }
        }.getOrElse(f)

      // post-scan-planning shape (Graft.register / extraOptimizations path)
      case f @ Filter(cond, sr: DataSourceV2ScanRelation) if sr.scan.isInstanceOf[DocScan] =>
        val scan = sr.scan.asInstanceOf[DocScan]
        geometryAttr(sr.output).flatMap { g =>
          newSpec(cond, g, scan.bbox).map { spec =>
            f.copy(child = sr.copy(scan = scan.copy(bbox = Some(spec))))
          }
        }.getOrElse(f)
    }
  }

  private def geometryAttr(output: Seq[Attribute]): Option[Attribute] =
    output.find(a => a.name == "geometry" && a.dataType == BinaryType)

  /** The tightened bbox spec, or None when nothing new can be derived
    * (also the fixed-point guard: deriving the same spec returns None). */
  private def newSpec(cond: Expression, geom: Attribute, existing: Option[String]): Option[String] = {
    val envs = splitConjuncts(cond).flatMap(conjunctEnvelope(_, geom))
    if (envs.isEmpty) return None
    // A malformed user-supplied bbox option aborts the pushdown (plan left
    // unchanged) instead of failing planning here with an opaque parse
    // stack; the scan's own bboxPredicate require() reports it clearly.
    val existingEnv = existing.map(s => Try(parse(s)))
    if (existingEnv.exists(_.isFailure)) return None
    val spec = format(existingEnv.map(_.get).foldLeft(intersectAll(envs)) {
      case (a, b) => intersect(a, b)
    })
    if (existing.contains(spec)) None else Some(spec)
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other     => Seq(other)
  }

  // ---- envelope algebra (None = provably empty) ----

  private def intersectAll(envs: Seq[Envelope]): Option[Envelope] =
    envs.map(Option(_)).reduce(intersect)

  private def intersect(a: Option[Envelope], b: Option[Envelope]): Option[Envelope] =
    for (x <- a; y <- b; if x.intersects(y)) yield x.intersection(y)

  private def parse(spec: String): Option[Envelope] =
    if (spec == "empty") None
    else {
      val p = spec.split(",").map(_.trim.toDouble)
      require(p.length == 4, s"bbox must be 'x0,y0,x1,y1', got: $spec")
      Some(new Envelope(p(0), p(2), p(1), p(3)))
    }

  private def format(env: Option[Envelope]): String = env match {
    case Some(e) => s"${e.getMinX},${e.getMinY},${e.getMaxX},${e.getMaxY}"
    case None    => "empty"
  }

  // ---- predicate recognition ----

  /** Identity wrappers from the SQL registration's arg coercion: ToWkb on
    * geometry args, plus trivial casts not yet simplified on the first
    * fixed-point iteration. */
  private def strip(e: Expression): Expression = e match {
    case ToWkb(c)                                  => strip(c)
    case c: Cast if c.child.dataType == c.dataType => strip(c.child)
    case other                                     => other
  }

  /** The literal geometry's envelope, when `e` is (foldable to) WKB. */
  private def envelopeOf(e: Expression): Option[Envelope] = {
    val s = strip(e)
    if (s.foldable && s.dataType == BinaryType)
      Try(Option(s.eval()).map { v =>
        graft.geo.GeomSerde.fromWkb(v.asInstanceOf[Array[Byte]]).getEnvelopeInternal
      }).toOption.flatten
    else None
  }

  private def litDouble(e: Expression): Option[Double] = {
    val s = strip(e)
    if (s.foldable && s.dataType == DoubleType)
      Try(Option(s.eval()).map(_.asInstanceOf[Double])).toOption.flatten
    else None
  }

  /** For a conjunct constraining the scan's geometry column against a
    * literal geometry: the envelope every matching record must intersect. */
  private def conjunctEnvelope(c: Expression, geom: Attribute): Option[Envelope] = {
    def isGeom(e: Expression): Boolean = strip(e) match {
      case a: Attribute => a.exprId == geom.exprId
      case _            => false
    }
    // any non-disjoint relation between g and the literal implies the
    // envelopes intersect — both orientations prune identically
    def pair(a: Expression, b: Expression): Option[Envelope] =
      if (isGeom(a)) envelopeOf(b)
      else if (isGeom(b)) envelopeOf(a)
      else None
    def expanded(a: Expression, b: Expression, d: Expression): Option[Envelope] =
      for (env <- pair(a, b); r <- litDouble(d); if r >= 0) yield {
        val e = new Envelope(env); e.expandBy(r); e
      }
    c match {
      case StWithin(a, b)     => pair(a, b)
      case StContains(a, b)   => pair(a, b)
      case StIntersects(a, b) => pair(a, b)
      case StCovers(a, b)     => pair(a, b)
      case StCoveredBy(a, b)  => pair(a, b)
      case StEquals(a, b)     => pair(a, b)
      case StTouches(a, b)    => pair(a, b)
      case StOverlaps(a, b)   => pair(a, b)
      case StCrosses(a, b)    => pair(a, b)
      case StDWithin(a, b, d) => expanded(a, b, d)
      case LessThan(StDistance(a, b), d)            => expanded(a, b, d)
      case LessThanOrEqual(StDistance(a, b), d)     => expanded(a, b, d)
      case GreaterThan(d, StDistance(a, b))         => expanded(a, b, d)
      case GreaterThanOrEqual(d, StDistance(a, b))  => expanded(a, b, d)
      case _ => None
    }
  }
}
