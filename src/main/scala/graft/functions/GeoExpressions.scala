package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

import java.lang.invoke.{MethodHandle, MethodHandles}

/** Native Catalyst expressions for the ST_* surface.
  *
  * Each expression delegates to a static kernel in [[GeoOps]]:
  *  - codegen emits a direct static call → the expression stays inside
  *    WholeStageCodegen (no UDF/serialization boundary);
  *  - interpreted eval goes through a cached MethodHandle.
  *
  * Constant arguments reach generated code as references, not as text.
  * Spark's `Literal` codegen splices a primitive value (`0.347D`) into
  * the Java source, and the compiled-class cache is keyed by that source,
  * so every request with a new radius, cell size or precision would
  * compile new classes (tens of ms each on the serving path). The shared
  * [[GeoKernel.genCode]] passes each such literal through
  * `ctx.addReferenceObj` instead: one class serves every value of a query
  * shape. Plans and interpreted eval are unchanged.
  *
  * All are null-intolerant (SQL semantics: null in → null out).
  */
private[functions] object GeoKernel {
  private val lookup = MethodHandles.publicLookup()
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, MethodHandle]()

  def check(name: String, expected: Seq[org.apache.spark.sql.types.DataType],
            children: Seq[Expression]): TypeCheckResult = {
    def ok(exp: DataType, actual: DataType): Boolean = actual match {
      case udt: UserDefinedType[_] => ok(exp, udt.sqlType) // UDT storage type
      case other                   => other.sql == exp.sql // ignore nullability
    }
    val mismatch = expected.zip(children).zipWithIndex.collectFirst {
      case ((exp, child), i) if !ok(exp, child.dataType) =>
        s"$name argument ${i + 1} expects ${exp.simpleString}, got ${child.dataType.simpleString}"
    }
    mismatch.map(TypeCheckResult.TypeCheckFailure).getOrElse(TypeCheckResult.TypeCheckSuccess)
  }

  /** spec = "Owner.method", e.g. "GeoOps.stArea" — Owner is a Scala object
    * in graft.functions; resolved once, cached. */
  def handle(spec: String): MethodHandle =
    cache.computeIfAbsent(spec, sp => {
      val Array(owner, m) = sp.split("\\.", 2)
      val clazz = Class.forName(s"graft.functions.$owner$$")
      val module = clazz.getField("MODULE$").get(null)
      val found = clazz.getMethods.filter(_.getName == m)
      require(found.length == 1, s"$sp: expected exactly one overload, found ${found.length}")
      lookup.unreflect(found.head).bindTo(module)
    })

  /** Null-safe codegen for a kernel call over all of `e`'s children, of
    * any arity: `body` gets each argument's Java value and assigns
    * `ev.value` (and may set `ev.isNull` when `e` is nullable). It nests
    * like Spark's per-arity `nullSafeCodeGen`, except that a non-null
    * literal of a primitive type is read from the class's references, so
    * the generated source does not depend on its value. */
  def genCode(ctx: CodegenContext, ev: ExprCode, e: Expression,
              body: Seq[String] => String): ExprCode = {
    val args = e.children.map(argCode(ctx, _))
    val result = body(args.map(_.value.toString))
    val javaType = CodeGenerator.javaType(e.dataType)
    val default = CodeGenerator.defaultValue(e.dataType)
    if (e.nullable) {
      val nullSafe = args.zip(e.children).foldRight(s"${ev.isNull} = false;\n$result") {
        case ((a, c), inner) => a.code.toString + ctx.nullSafeExec(c.nullable, a.isNull.toString)(inner)
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = $default;
        $nullSafe""")
    } else {
      ev.copy(code = code"""
        ${args.map(_.code.toString).mkString("\n")}
        $javaType ${ev.value} = $default;
        $result""", isNull = FalseLiteral)
    }
  }

  /** `genCode` of the static call `graft.functions.<method>(args…)`. */
  def callCode(ctx: CodegenContext, ev: ExprCode, e: Expression, method: String): ExprCode =
    genCode(ctx, ev, e, args => s"${ev.value} = graft.functions.$method(${args.mkString(", ")});")

  private def argCode(ctx: CodegenContext, child: Expression): ExprCode = child match {
    case Literal(v, dt) if v != null && CodeGenerator.isPrimitiveType(dt) =>
      val ref = ctx.addReferenceObj("geoArg", v, CodeGenerator.boxedType(dt))
      ExprCode.forNonNullValue(JavaCode.expression(s"$ref.${CodeGenerator.javaType(dt)}Value()", dt))
    case _ => child.genCode(ctx)
  }
}

abstract class GeoUnary(method: String, inType: DataType, outType: DataType)
    extends UnaryExpression with Serializable {
  override def dataType: DataType = outType
  override def checkInputDataTypes(): TypeCheckResult = GeoKernel.check(prettyName, Seq(inType), children)
  override def nullIntolerant: Boolean = true
  @transient private lazy val h = GeoKernel.handle(method)
  override def nullSafeEval(input: Any): Any = h.invokeWithArguments(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    GeoKernel.callCode(ctx, ev, this, method)
}

abstract class GeoBinary(method: String, inTypes: Seq[DataType], outType: DataType)
    extends BinaryExpression with Serializable {
  override def dataType: DataType = outType
  override def checkInputDataTypes(): TypeCheckResult = GeoKernel.check(prettyName, inTypes, children)
  override def nullIntolerant: Boolean = true
  @transient private lazy val h = GeoKernel.handle(method)
  override def nullSafeEval(a: Any, b: Any): Any = h.invokeWithArguments(a, b)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    GeoKernel.callCode(ctx, ev, this, method)
}

abstract class GeoTernary(method: String, inTypes: Seq[DataType], outType: DataType)
    extends TernaryExpression with Serializable {
  override def dataType: DataType = outType
  override def checkInputDataTypes(): TypeCheckResult = GeoKernel.check(prettyName, inTypes, children)
  override def nullIntolerant: Boolean = true
  @transient private lazy val h = GeoKernel.handle(method)
  override def nullSafeEval(a: Any, b: Any, c: Any): Any = h.invokeWithArguments(a, b, c)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    GeoKernel.callCode(ctx, ev, this, method)
}

abstract class GeoQuaternary(method: String, inTypes: Seq[DataType], outType: DataType)
    extends QuaternaryExpression with Serializable {
  override def dataType: DataType = outType
  override def checkInputDataTypes(): TypeCheckResult = GeoKernel.check(prettyName, inTypes, children)
  override def nullIntolerant: Boolean = true
  @transient private lazy val h = GeoKernel.handle(method)
  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    h.invokeWithArguments(a, b, c, d)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    GeoKernel.callCode(ctx, ev, this, method)
}

// ---------------------------------------------------------------- constructors
case class StPoint(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stPoint", Seq(DoubleType, DoubleType), BinaryType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class StMakeEnvelope(first: Expression, second: Expression, third: Expression, fourth: Expression)
    extends GeoQuaternary("GeoOps.stMakeEnvelope", Seq(DoubleType, DoubleType, DoubleType, DoubleType), BinaryType) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression, d: Expression) =
    copy(a, b, c, d)
}
case class StGeomFromText(child: Expression) extends GeoUnary("GeoOps.stGeomFromText", StringType, BinaryType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StGeomFromWKB(child: Expression) extends GeoUnary("GeoOps.stGeomFromWKB", BinaryType, BinaryType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StGeomFromGeoJSON(child: Expression) extends GeoUnary("GeoOps.stGeomFromGeoJSON", StringType, BinaryType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StGeomFromGML(child: Expression) extends GeoUnary("GeoOps.stGeomFromGML", StringType, BinaryType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StGeomFromKML(child: Expression) extends GeoUnary("GeoOps.stGeomFromKML", StringType, BinaryType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

// ---------------------------------------------------------------------- output
case class StAsText(child: Expression) extends GeoUnary("GeoOps.stAsText", BinaryType, StringType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StAsGeoJSON(child: Expression) extends GeoUnary("GeoOps.stAsGeoJSON", BinaryType, StringType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StAsBinary(child: Expression) extends GeoUnary("GeoOps.stAsBinary", BinaryType, BinaryType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StAsGML(child: Expression) extends GeoUnary("GeoOps.stAsGML", BinaryType, StringType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StAsGMLVersion(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stAsGMLVersion", Seq(IntegerType, BinaryType), StringType) {
  override def prettyName: String = "st_asgml"
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class StAsKML(child: Expression) extends GeoUnary("GeoOps.stAsKML", BinaryType, StringType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

// ------------------------------------------------------------------- accessors
case class StX(child: Expression) extends GeoUnary("GeoOps.stX", BinaryType, DoubleType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StY(child: Expression) extends GeoUnary("GeoOps.stY", BinaryType, DoubleType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StSrid(child: Expression) extends GeoUnary("GeoOps.stSrid", BinaryType, IntegerType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StSetSrid(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stSetSrid", Seq(BinaryType, IntegerType), BinaryType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class StTransform(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stTransform", Seq(BinaryType, IntegerType), BinaryType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class StGeometryType(child: Expression) extends GeoUnary("GeoOps.stGeometryType", BinaryType, StringType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StDimension(child: Expression) extends GeoUnary("GeoOps.stDimension", BinaryType, IntegerType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StNumPoints(child: Expression) extends GeoUnary("GeoOps.stNumPoints", BinaryType, IntegerType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StNumGeometries(child: Expression) extends GeoUnary("GeoOps.stNumGeometries", BinaryType, IntegerType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StGeometryN(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stGeometryN", Seq(BinaryType, IntegerType), BinaryType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class StStartPoint(child: Expression) extends GeoUnary("GeoOps.stStartPoint", BinaryType, BinaryType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StEndPoint(child: Expression) extends GeoUnary("GeoOps.stEndPoint", BinaryType, BinaryType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StPointN(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stPointN", Seq(BinaryType, IntegerType), BinaryType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class StReverse(child: Expression) extends GeoUnary("GeoOps.stReverse", BinaryType, BinaryType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StExteriorRing(child: Expression) extends GeoUnary("GeoOps.stExteriorRing", BinaryType, BinaryType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StNumInteriorRings(child: Expression) extends GeoUnary("GeoOps.stNumInteriorRings", BinaryType, IntegerType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StInteriorRingN(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stInteriorRingN", Seq(BinaryType, IntegerType), BinaryType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class StClosestPoint(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stClosestPoint", Seq(BinaryType, BinaryType), BinaryType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class StShortestLine(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stShortestLine", Seq(BinaryType, BinaryType), BinaryType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class StAzimuth(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stAzimuth", Seq(BinaryType, BinaryType), DoubleType) {
  // kernel returns boxed null for coincident points (PostGIS contract), so
  // the expression is nullable even over non-null inputs
  override def nullable: Boolean = true
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    GeoKernel.genCode(ctx, ev, this, args =>
      s"""java.lang.Double ${ev.value}_az = graft.functions.GeoOps.stAzimuth(${args.mkString(", ")});
         |if (${ev.value}_az == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}_az.doubleValue(); }
         |""".stripMargin)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class StLineInterpolatePoint(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stLineInterpolatePoint", Seq(BinaryType, DoubleType), BinaryType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class StIsEmpty(child: Expression) extends GeoUnary("GeoOps.stIsEmpty", BinaryType, BooleanType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StIsValid(child: Expression) extends GeoUnary("GeoOps.stIsValid", BinaryType, BooleanType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StIsSimple(child: Expression) extends GeoUnary("GeoOps.stIsSimple", BinaryType, BooleanType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

// -------------------------------------------------------------------- measures
case class StArea(child: Expression) extends GeoUnary("GeoOps.stArea", BinaryType, DoubleType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StLength(child: Expression) extends GeoUnary("GeoOps.stLength", BinaryType, DoubleType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StDistance(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stDistance", Seq(BinaryType, BinaryType), DoubleType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class StDistanceSphere(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stDistanceSphere", Seq(BinaryType, BinaryType), DoubleType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class StDistanceSpheroid(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stDistanceSpheroid", Seq(BinaryType, BinaryType), DoubleType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class StProject(first: Expression, second: Expression, third: Expression)
    extends GeoTernary("GeoOps.stProject", Seq(BinaryType, DoubleType, DoubleType), BinaryType) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
    copy(a, b, c)
}
case class StGeoHash(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stGeoHash", Seq(BinaryType, IntegerType), StringType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class StPointFromGeoHash(child: Expression)
    extends GeoUnary("GeoOps.stPointFromGeoHash", StringType, BinaryType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StDWithin(first: Expression, second: Expression, third: Expression)
    extends GeoTernary("GeoOps.stDWithin", Seq(BinaryType, BinaryType, DoubleType), BooleanType) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
    copy(a, b, c)
}

// ------------------------------------------------------------------ predicates
case class StWithin(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stWithin", Seq(BinaryType, BinaryType), BooleanType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class StContains(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stContains", Seq(BinaryType, BinaryType), BooleanType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class StIntersects(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stIntersects", Seq(BinaryType, BinaryType), BooleanType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class StDisjoint(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stDisjoint", Seq(BinaryType, BinaryType), BooleanType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class StTouches(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stTouches", Seq(BinaryType, BinaryType), BooleanType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class StOverlaps(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stOverlaps", Seq(BinaryType, BinaryType), BooleanType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class StCrosses(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stCrosses", Seq(BinaryType, BinaryType), BooleanType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class StEquals(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stEquals", Seq(BinaryType, BinaryType), BooleanType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class StCovers(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stCovers", Seq(BinaryType, BinaryType), BooleanType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class StCoveredBy(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stCoveredBy", Seq(BinaryType, BinaryType), BooleanType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

// ---------------------------------------------------------- envelope accessors
case class StXMin(child: Expression) extends GeoUnary("GeoOps.stXMin", BinaryType, DoubleType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StXMax(child: Expression) extends GeoUnary("GeoOps.stXMax", BinaryType, DoubleType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StYMin(child: Expression) extends GeoUnary("GeoOps.stYMin", BinaryType, DoubleType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StYMax(child: Expression) extends GeoUnary("GeoOps.stYMax", BinaryType, DoubleType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

// ------------------------------------------------------------ grid partitioning
case class GridCellId(first: Expression, second: Expression, third: Expression)
    extends GeoTernary("GeoOps.gridCellId", Seq(DoubleType, DoubleType, DoubleType), LongType) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
    copy(a, b, c)
}
case class MortonKey(first: Expression, second: Expression, third: Expression)
    extends GeoTernary("GeoOps.mortonKey", Seq(DoubleType, DoubleType, DoubleType), LongType) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
    copy(a, b, c)
}
/** The reference cell of a grid-join candidate pair: the cell holding the
  * top-left corner of (a's envelope expanded by `expand`) ∩ b's envelope.
  * See [[GeoOps.gridRefCell]]. */
case class GridRefCell(first: Expression, second: Expression, third: Expression, fourth: Expression)
    extends GeoQuaternary("GeoOps.gridRefCell", Seq(BinaryType, BinaryType, DoubleType, DoubleType), LongType) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression, d: Expression) =
    copy(a, b, c, d)
}
case class GridCells(first: Expression, second: Expression, third: Expression)
    extends GeoTernary("GeoOps.gridCells", Seq(BinaryType, DoubleType, DoubleType), ArrayType(LongType, containsNull = false)) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
    copy(a, b, c)
}

// ----------------------------------------------------------------- geom → geom
case class StCentroid(child: Expression) extends GeoUnary("GeoOps.stCentroid", BinaryType, BinaryType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StEnvelope(child: Expression) extends GeoUnary("GeoOps.stEnvelope", BinaryType, BinaryType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StBoundary(child: Expression) extends GeoUnary("GeoOps.stBoundary", BinaryType, BinaryType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StConvexHull(child: Expression) extends GeoUnary("GeoOps.stConvexHull", BinaryType, BinaryType) {
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class StBuffer(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stBuffer", Seq(BinaryType, DoubleType), BinaryType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class StSimplify(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stSimplify", Seq(BinaryType, DoubleType), BinaryType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class StUnion(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stUnion", Seq(BinaryType, BinaryType), BinaryType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class StIntersection(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stIntersection", Seq(BinaryType, BinaryType), BinaryType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class StDifference(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stDifference", Seq(BinaryType, BinaryType), BinaryType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class StSymDifference(left: Expression, right: Expression)
    extends GeoBinary("GeoOps.stSymDifference", Seq(BinaryType, BinaryType), BinaryType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

// ------------------------------------------------------------- UDT bridging

/** Zero-cost unwrap: a [[graft.types.GeometryUDT]]-typed column (or plain
  * WKB binary) to the engine's wire format. The UDT's storage IS the WKB
  * bytes, so both eval and codegen are the identity — this is the arg
  * coercion every ST_* function applies, which is what lets UDT columns
  * flow into the whole surface without a conversion. */
case class ToWkb(child: Expression) extends UnaryExpression with Serializable {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case udt: UserDefinedType[_] if udt.sqlType == BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"geometry argument expects WKB binary or geometry, got ${other.simpleString(10)}")
  }
  override def nullSafeEval(input: Any): Any = input
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => c)
  override protected def withNewChildInternal(c: Expression) = copy(c)
  override def prettyName: String = "to_wkb"
}

/** Zero-cost wrap: WKB binary to the [[graft.types.GeometryUDT]] type —
  * `show()` then prints WKT (JTS toString) and `Dataset[T]` with JTS
  * geometry fields round-trips. Storage unchanged. */
case class AsGeometry(child: Expression) extends UnaryExpression with Serializable {
  // the plain class, not the companion case object: encoder codegen
  // instantiates dataType.getClass, which needs a public no-arg ctor
  override def dataType: DataType = new graft.types.GeometryUDT
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case udt: UserDefinedType[_] if udt.sqlType == BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"as_geometry expects WKB binary, got ${other.simpleString(10)}")
  }
  override def nullSafeEval(input: Any): Any = input
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => c)
  override protected def withNewChildInternal(c: Expression) = copy(c)
  override def prettyName: String = "as_geometry"
}
