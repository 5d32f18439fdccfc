package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.debug.codegenString
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Constant arguments of the geo kernels reach generated code as
  * references: results must not change with it. `grid_ref_cell` must equal
  * the expression composition it replaced in the grid joins, and every geo
  * function whose numeric arguments are literals must return the same rows
  * with and without codegen. */
class GeoConstantArgsSpec extends SparkTestBase {

  private def sample[A](gen: Gen[A], seed: Long): A =
    gen.apply(Gen.Parameters.default, Seed(seed)).get

  /** Runs `f` with whole-stage codegen and expression codegen off. */
  private def interpreted[A](f: => A): A = {
    val keys = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // cell boundaries of every generated cell size, -0.0 and 0.0, and
  // arbitrary values on both sides of the origin
  private val cellGen: Gen[Double] = Gen.oneOf(Gen.oneOf(0.5, 1.0, 2.5, 0.3), Gen.choose(0.05, 10.0))
  private val coordGen: Gen[Double] = Gen.frequency(
    3 -> Gen.choose(-40, 40).map(_ * 0.5),
    1 -> Gen.oneOf(-0.0, 0.0),
    4 -> Gen.choose(-50.0, 50.0))
  private val geomGen: Gen[Array[Byte]] = for {
    x <- coordGen
    y <- coordGen
    w <- Gen.oneOf(Gen.const(0.0), Gen.choose(0, 8).map(_ * 0.5), Gen.choose(0.0, 6.0))
    h <- Gen.oneOf(Gen.const(0.0), Gen.choose(0, 8).map(_ * 0.5), Gen.choose(0.0, 6.0))
    kind <- Gen.choose(0, 2)
  } yield kind match {
    case 0 => GeoOps.stPoint(x, y)
    case 1 => GeoOps.stMakeEnvelope(x, y, x + w, y + h)
    case _ => GeoOps.stGeomFromText(org.apache.spark.unsafe.types.UTF8String.fromString(
      s"POLYGON (($x $y, ${x + w + 0.5} $y, $x ${y + h + 0.5}, $x $y))"))
  }
  private val radiusGen: Gen[Double] = Gen.frequency(
    3 -> Gen.const(0.0), 1 -> Gen.const(-0.0), 1 -> Gen.const(Double.NaN),
    3 -> Gen.choose(0, 8).map(_ * 0.25), 4 -> Gen.choose(0.0, 5.0))
  private val caseGen = for {
    a <- geomGen; b <- geomGen; r <- radiusGen; c <- cellGen
  } yield (a, b, r, c)

  test("grid_ref_cell equals grid_cell_id(greatest(st_xmin(a) - r, st_xmin(b)), ...) (property)") {
    val composed =
      "grid_cell_id(greatest(st_xmin(a) - r, st_xmin(b)), greatest(st_ymin(a) - r, st_ymin(b)), c)"
    for (seed <- 1L to 3L) {
      val cases = sample(Gen.listOfN(400, caseGen), seed)
      // repartitioned, so the projection is not folded into a local relation
      val df = spark.createDataFrame(cases.zipWithIndex.map { case ((a, b, r, c), i) => (i, a, b, r, c) })
        .toDF("id", "a", "b", "r", "c").repartition(3)
      def eval(): Map[Int, (Long, Long)] = df
        .selectExpr("id", "grid_ref_cell(a, b, r, c)", composed)
        .collect().map(x => x.getInt(0) -> (x.getLong(1), x.getLong(2))).toMap
      val generated = eval()
      val interp = interpreted(eval())
      cases.zipWithIndex.foreach { case ((a, b, r, c), i) =>
        val kernel = GeoOps.gridRefCell(a, b, r, c)
        val ctx = s"seed $seed case $i: r=$r cell=$c a=${GeoOps.stAsText(a)} b=${GeoOps.stAsText(b)}"
        assert(generated(i) == ((kernel, kernel)), ctx)
        assert(interp(i) == ((kernel, kernel)), ctx)
      }
    }
  }

  private lazy val pts: DataFrame = spark.range(0, 64).selectExpr("id",
    "CASE WHEN id = 5 THEN NULL ELSE " +
      "ST_Point(CAST(id % 8 AS DOUBLE) * 1.5 - 6.0, CAST(id DIV 8 AS DOUBLE) * 0.75 - 3.0) END AS g")

  private val literalQueries = Seq(
    "st_dwithin(g, ST_Point(0.5, -1.25), 2.75)",
    "hex(st_buffer(g, 0.4))",
    "st_astext(st_project(g, 12345.5, 0.75))",
    "st_geohash(g, 7)",
    "st_srid(st_setsrid(g, 3857))",
    "hex(st_setsrid(g, 4326))",
    "grid_cells(g, 0.3, 1.25)",
    "grid_cell_id(st_x(g), st_y(g), 0.6)")

  test("geo functions with literal arguments: same rows with codegen on and off") {
    // the rows of `e`, and whether its plan ran whole-stage codegen
    def run(e: String): (Seq[Row], Boolean) = {
      val df = pts.selectExpr("id", s"$e AS v")
      (df.collect().sortBy(_.getLong(0)).toSeq,
        df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]))
    }
    literalQueries.foreach { e =>
      val (on, onCodegen) = run(e)
      val (off, offCodegen) = interpreted(run(e))
      assert(onCodegen && !offCodegen, e)
      assert(on.length == 64 && on.count(_.isNullAt(1)) == 1, s"$e: $on")
      assert(on == off, e)
    }
  }

  test("a literal radius reaches generated code as a reference, not as source text") {
    val code = codegenString(pts.selectExpr("id", "st_dwithin(g, ST_Point(0.5, -1.25), 2.75) AS v")
      .queryExecution.executedPlan)
    assert(code.contains("geoArg") && !code.contains("2.75D"), code)
  }
}
