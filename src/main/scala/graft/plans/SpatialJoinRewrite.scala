package graft.plans

import graft.functions._
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Optimizer rule: inner joins whose condition is a spatial predicate
  * (`ST_DWithin`, `ST_Intersects`, `ST_Within`, `ST_Contains`) would
  * otherwise plan as BroadcastNestedLoopJoin / CartesianProduct — O(n·m)
  * comparisons. This rule rewrites them into the grid-partitioned PBSM
  * join (same construction as [[graft.operators.SpatialJoin]], at the
  * logical-plan level):
  *
  *   left  → Generate(explode(gridCells(lg, radius, cell)))  as __cl
  *   right → Generate(explode(gridCells(rg, 0, cell)))       as __cr
  *   Join on __cl = __cr (hash-partitioned equi-join)
  *   Filter: grid_ref_cell(lg, rg, radius, cell) = __cl (reference-point
  *           dedup) ∧ exact predicate ∧ residual conjuncts
  *   Project back to the original join output.
  *
  * The radius and cell size are arguments of graft kernels only, never
  * of Spark arithmetic, so the generated code of the rewritten join is
  * the same for every radius (see [[graft.functions.GeoKernel]]).
  *
  * So `SELECT … FROM a JOIN b ON ST_DWithin(ag, bg, 5)` scales on a
  * cluster with zero query changes. Cell size: the DWithin radius, or
  * `spark.graft.spatialJoin.cellSize` (default 1.0) for the other
  * predicates.
  *
  * (The reference evaluates these pair predicates single-node in PostGIS
  * after pulling both sides — reference: src/getdata.ts:110,
  * basex_extension.ts:385.)
  */
case class SpatialJoinRewrite() extends Rule[LogicalPlan] {

  private val CellSizeKey = "spark.graft.spatialJoin.cellSize"

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), hint)
        if j.resolved && !hasEquiConjunct(cond, left, right) =>
      // only joins that would otherwise be cartesian/BNLJ: if any equality
      // conjunct already splits across the sides, Spark hash-joins it (this
      // also keeps the rule from re-firing on an already-rewritten grid
      // join, whose spatial refine sits alongside the cell equality)
      val conjuncts = splitConjuncts(cond)
      conjuncts.zipWithIndex.collectFirst {
        Function.unlift { case (c, i) =>
          matchSpatial(c, left, right).map { m =>
            val residual = conjuncts.patch(i, Nil, 1)
            rewrite(left, right, m, residual, j, hint)
          }
        }
      }.getOrElse(j)
  }

  private def hasEquiConjunct(cond: Expression, left: LogicalPlan, right: LogicalPlan): Boolean =
    splitConjuncts(cond).exists {
      case EqualTo(a, b) =>
        (a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet)) ||
          (b.references.subsetOf(left.outputSet) && a.references.subsetOf(right.outputSet))
      case _ => false
    }

  private case class SpatialCond(lg: Expression, rg: Expression,
                                 radius: Double, refine: Expression)

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other     => Seq(other)
  }

  private def defaultCell: Double =
    conf.getConfString(CellSizeKey, "1.0").toDouble

  /** Recognizes a spatial pair predicate whose sides split cleanly across
    * the join (either orientation). */
  private def matchSpatial(c: Expression, left: LogicalPlan, right: LogicalPlan): Option[SpatialCond] = {
    def sides(a: Expression, b: Expression): Option[(Expression, Expression)] =
      if (a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet)) Some((a, b))
      else if (b.references.subsetOf(left.outputSet) && a.references.subsetOf(right.outputSet)) Some((b, a))
      else None
    c match {
      case StDWithin(a, b, Literal(d: Double, DoubleType)) =>
        sides(a, b).map { case (lg, rg) => SpatialCond(lg, rg, d, c) }
      // the reference's own join predicate shape: ST_Distance(a, b) < r
      // (either comparison orientation; the exact comparison is the refine)
      case LessThan(StDistance(a, b), Literal(d: Double, DoubleType)) =>
        sides(a, b).map { case (lg, rg) => SpatialCond(lg, rg, d, c) }
      case LessThanOrEqual(StDistance(a, b), Literal(d: Double, DoubleType)) =>
        sides(a, b).map { case (lg, rg) => SpatialCond(lg, rg, d, c) }
      case GreaterThan(Literal(d: Double, DoubleType), StDistance(a, b)) =>
        sides(a, b).map { case (lg, rg) => SpatialCond(lg, rg, d, c) }
      case GreaterThanOrEqual(Literal(d: Double, DoubleType), StDistance(a, b)) =>
        sides(a, b).map { case (lg, rg) => SpatialCond(lg, rg, d, c) }
      case StIntersects(a, b) => sides(a, b).map { case (lg, rg) => SpatialCond(lg, rg, 0.0, c) }
      case StWithin(a, b)     => sides(a, b).map { case (lg, rg) => SpatialCond(lg, rg, 0.0, c) }
      case StContains(a, b)   => sides(a, b).map { case (lg, rg) => SpatialCond(lg, rg, 0.0, c) }
      case _ => None
    }
  }

  private def rewrite(left: LogicalPlan, right: LogicalPlan, m: SpatialCond,
                      residual: Seq[Expression], original: Join, hint: JoinHint): LogicalPlan = {
    val cell = if (m.radius > 0.0) m.radius else defaultCell
    val cellLit = Literal(cell)

    val cellL = AttributeReference("__graft_cell_l", LongType, nullable = false)()
    val cellR = AttributeReference("__graft_cell_r", LongType, nullable = false)()

    val genL = Generate(
      Explode(GridCells(m.lg, Literal(m.radius), cellLit)),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(cellL), child = left)
    val genR = Generate(
      Explode(GridCells(m.rg, Literal(0.0), cellLit)),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(cellR), child = right)

    val joined = Join(genL, genR, Inner, Some(EqualTo(cellL, cellR)), hint)

    // reference-point dedup: the pair is kept only in the cell containing
    // the top-left corner of (left env expanded by radius) ∩ right env —
    // one kernel that decodes each side once, with the radius and cell as
    // arguments (so they reach generated code as references, not text)
    val dedup = EqualTo(GridRefCell(m.lg, m.rg, Literal(m.radius), cellLit), cellL)

    val filtered = Filter((Seq(dedup, m.refine) ++ residual).reduce(And), joined)
    Project(original.output, filtered)
  }
}
