package graft

import graft.functions._
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType}

/** SQL-interface registration: makes every ST_* function callable from
  * `spark.sql("…")` — the same SQL-text surface the reference exposes
  * (reference: src/index.ts:349 processQuery takes raw SQL).
  *
  * Use either
  *   `spark.sql.extensions=graft.GraftExtensions` (cluster config), or
  *   `Graft.register(spark)` (programmatic, used by SparkEntry/tests).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.types.GraftUdt.register()
    Graft.functionDescriptions.foreach(ext.injectFunction)
    Graft.tableFunctionDescriptions.foreach(ext.injectTableFunction)
    ext.injectOptimizerRule(_ => graft.plans.SpatialJoinRewrite())
    // runs before V2 scan planning here → rewrites DataSourceV2Relation options
    ext.injectOptimizerRule(_ => graft.plans.SpatialFilterPushdown())
  }
}

object Graft {
  private def desc(name: String, builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = {
    val info = new ExpressionInfo("graft.functions.GeoOps", name)
    (FunctionIdentifier(name), info, builder)
  }

  /** Coerce args to the kernel's input types. Geometry args go through the
    * identity [[graft.functions.ToWkb]] (accepts WKB binary or the
    * GeometryUDT at zero cost); everything else through a trivial Cast
    * (removed by the optimizer's SimplifyCasts). */
  private def coerce(name: String, types: Seq[DataType], es: Seq[Expression]): Seq[Expression] = {
    require(es.length == types.length,
      s"$name expects ${types.length} arguments, got ${es.length}")
    es.zip(types).map {
      case (e, BinaryType) => graft.functions.ToWkb(e)
      case (e, dt)         => Cast(e, dt)
    }
  }

  private val G = BinaryType // geometry = WKB bytes
  private def u(name: String, f: Expression => Expression, t0: DataType = G) =
    desc(name, es => { val c = coerce(name, Seq(t0), es); f(c.head) })
  private def b(name: String, f: (Expression, Expression) => Expression,
                types: Seq[DataType] = Seq(G, G)) =
    desc(name, es => { val c = coerce(name, types, es); f(c(0), c(1)) })
  private def t(name: String, f: (Expression, Expression, Expression) => Expression,
                types: Seq[DataType]) =
    desc(name, es => { val c = coerce(name, types, es); f(c(0), c(1), c(2)) })
  private def q(name: String, f: (Expression, Expression, Expression, Expression) => Expression,
                types: Seq[DataType]) =
    desc(name, es => { val c = coerce(name, types, es); f(c(0), c(1), c(2), c(3)) })

  /** TABLE-VALUED functions — the SQL front door to whole-relation
    * primitives. `graft_snapshot('<path>'[, <version>])` is the
    * lakehouse `VERSION AS OF` read over an
    * [[graft.streaming.UpsertSink]] store: with one argument it reads
    * the CURRENT snapshot, with two it reads the state as of the
    * largest committed batch id ≤ `version`
    * ([[graft.streaming.UpsertSink.readSnapshotAt]] — ids above the
    * current clamp, reclaimed history fails with the vacuum message).
    * Both arguments must be literals: the path/version pick the FILES
    * the relation reads, so they are resolution-time inputs, not row
    * expressions. `graft_snapshot_versions('<path>')` lists the
    * committed, still-readable versions (one BIGINT `version` row per
    * id `readSnapshotAt` accepts) — the history half of the surface.
    *
    * {{{ SELECT * FROM graft_snapshot('/data/store', 41) }}}
    */
  private def tvfLiteral(fn: String, e: Expression, what: String): Any = {
    require(e.foldable, s"$fn: $what must be a literal")
    val v = e.eval()
    require(v != null, s"$fn: $what must not be NULL")
    v
  }

  val tableFunctionDescriptions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = Seq(
    {
      val info = new ExpressionInfo("graft.streaming.UpsertSink", "graft_snapshot")
      (FunctionIdentifier("graft_snapshot"), info,
        (es: Seq[Expression]) => {
          require(es.length == 1 || es.length == 2,
            s"graft_snapshot expects (path[, version]), got ${es.length} arguments")
          val path = tvfLiteral("graft_snapshot", es.head, "path").toString
          val spark = SparkSession.active
          val df =
            if (es.length == 1) graft.streaming.UpsertSink.readSnapshot(spark, path)
            else tvfLiteral("graft_snapshot", es(1), "version") match {
              case n: java.lang.Number =>
                graft.streaming.UpsertSink.readSnapshotAt(spark, path, n.longValue())
              case other => throw new IllegalArgumentException(
                s"graft_snapshot: version must be an integer literal, got $other")
            }
          df.queryExecution.logical
        })
    },
    {
      // bucket-PRUNED point lookup over the same store: the literal keys
      // hash through the sink's own routing, so the relation only reads
      // the buckets they land in — `SELECT * FROM
      // graft_snapshot_lookup('/path', 7, 42)`. Keys coerce to the
      // manifest's key type inside readSnapshotKeys.
      val info = new ExpressionInfo(
        "graft.streaming.UpsertSink", "graft_snapshot_lookup")
      (FunctionIdentifier("graft_snapshot_lookup"), info,
        (es: Seq[Expression]) => {
          require(es.length >= 2,
            s"graft_snapshot_lookup expects (path, key[, key…]), got " +
              s"${es.length} arguments")
          val path = tvfLiteral("graft_snapshot_lookup", es.head, "path").toString
          // literal eval yields Catalyst-internal values (UTF8String,
          // Decimal…) — convert to Scala so lit() re-wraps them cleanly
          val keys = es.tail.zipWithIndex.map { case (e, i) =>
            org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala(
              tvfLiteral("graft_snapshot_lookup", e, s"key ${i + 1}"), e.dataType)
          }
          graft.streaming.UpsertSink
            .readSnapshotKeys(SparkSession.active, path, keys)
            .queryExecution.logical
        })
    },
    {
      // the CHANGEFEED between two readable versions — `SELECT * FROM
      // graft_snapshot_changes('/path', 0, 3)`: one row per key whose
      // state differs, change ∈ insert/update/delete, post-image
      // payloads; reads only the buckets the intervening batches touched
      val info = new ExpressionInfo(
        "graft.streaming.UpsertSink", "graft_snapshot_changes")
      (FunctionIdentifier("graft_snapshot_changes"), info,
        (es: Seq[Expression]) => {
          require(es.length == 3,
            s"graft_snapshot_changes expects (path, fromVersion, " +
              s"toVersion), got ${es.length} arguments")
          val path = tvfLiteral("graft_snapshot_changes", es.head, "path").toString
          val Seq(from, to) = es.tail.zip(Seq("fromVersion", "toVersion"))
            .map { case (e, what) =>
              tvfLiteral("graft_snapshot_changes", e, what) match {
                case n: java.lang.Number => n.longValue()
                case other => throw new IllegalArgumentException(
                  s"graft_snapshot_changes: $what must be an integer " +
                    s"literal, got $other")
              }
            }
          graft.streaming.UpsertSink
            .readChanges(SparkSession.active, path, from, to)
            .queryExecution.logical
        })
    },
    {
      // the history side of the same front door: one BIGINT `version`
      // row per committed, still-readable snapshot (what readSnapshotAt
      // accepts) — `SELECT * FROM graft_snapshot_versions('/path')`
      val info = new ExpressionInfo(
        "graft.streaming.UpsertSink", "graft_snapshot_versions")
      (FunctionIdentifier("graft_snapshot_versions"), info,
        (es: Seq[Expression]) => {
          require(es.length == 1,
            s"graft_snapshot_versions expects (path), got ${es.length} arguments")
          val path = tvfLiteral("graft_snapshot_versions", es.head, "path").toString
          val spark = SparkSession.active
          val versions = graft.streaming.UpsertSink.snapshotVersions(path)
          spark.createDataset(versions)(org.apache.spark.sql.Encoders.scalaLong)
            .toDF("version").queryExecution.logical
        })
    },
    {
      // DESCRIBE HISTORY: one row per committed manifest (version,
      // kind apply|compact, buckets, delta_dirs, sort_by, bloom_key,
      // schema) — `SELECT * FROM graft_snapshot_history('/path')`
      val info = new ExpressionInfo(
        "graft.streaming.UpsertSink", "graft_snapshot_history")
      (FunctionIdentifier("graft_snapshot_history"), info,
        (es: Seq[Expression]) => {
          require(es.length == 1,
            s"graft_snapshot_history expects (path), got ${es.length} arguments")
          val path = tvfLiteral("graft_snapshot_history", es.head, "path").toString
          graft.streaming.UpsertSink
            .snapshotHistory(SparkSession.active, path)
            .queryExecution.logical
        })
    },
    {
      // a materialized VIEW store, flat: the snapshot minus MatView's
      // internal key/count columns — `SELECT * FROM graft_view('/v')`
      val info = new ExpressionInfo(
        "graft.streaming.MatView", "graft_view")
      (FunctionIdentifier("graft_view"), info,
        (es: Seq[Expression]) => {
          require(es.length == 1,
            s"graft_view expects (path), got ${es.length} arguments")
          val path = tvfLiteral("graft_view", es.head, "path").toString
          graft.streaming.MatView.readView(SparkSession.active, path)
            .queryExecution.logical
        })
    })

  /** The complete registered surface (PostGIS spelling, case-insensitive). */
  val functionDescriptions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    // constructors
    b("st_point", StPoint, Seq(DoubleType, DoubleType)),
    b("st_makepoint", StPoint, Seq(DoubleType, DoubleType)),
    q("st_makeenvelope", StMakeEnvelope, Seq(DoubleType, DoubleType, DoubleType, DoubleType)),
    u("st_geomfromtext", StGeomFromText, StringType),
    u("st_geometryfromtext", StGeomFromText, StringType),
    u("st_geomfromwkb", StGeomFromWKB),
    u("st_geomfromgeojson", StGeomFromGeoJSON, StringType),
    u("st_geomfromgml", StGeomFromGML, StringType),
    u("st_geomfromkml", StGeomFromKML, StringType),
    // output
    u("st_astext", StAsText),
    u("st_asgeojson", StAsGeoJSON),
    u("st_asbinary", StAsBinary),
    // 1-arg → GML3; PostGIS 2-arg form ST_AsGML(version, geom) → GML2/GML3
    desc("st_asgml", es => es match {
      case Seq(g)    => StAsGML(coerce("st_asgml", Seq(G), Seq(g)).head)
      case Seq(v, g) =>
        val c = coerce("st_asgml", Seq(IntegerType, G), Seq(v, g)); StAsGMLVersion(c(0), c(1))
      case other => throw new IllegalArgumentException(
        s"st_asgml expects 1 or 2 arguments, got ${other.length}")
    }),
    u("st_askml", StAsKML),
    // accessors
    u("st_x", StX),
    u("st_y", StY),
    u("st_srid", StSrid),
    b("st_setsrid", StSetSrid, Seq(G, IntegerType)),
    u("st_geometrytype", StGeometryType),
    u("st_dimension", StDimension),
    u("st_npoints", StNumPoints),
    u("st_numpoints", StNumPoints),
    u("st_numgeometries", StNumGeometries),
    b("st_geometryn", StGeometryN, Seq(G, IntegerType)),
    u("st_isempty", StIsEmpty),
    u("st_isvalid", StIsValid),
    u("st_issimple", StIsSimple),
    // envelope accessors + grid helpers (spatial-join building blocks)
    u("st_xmin", StXMin),
    u("st_xmax", StXMax),
    u("st_ymin", StYMin),
    u("st_ymax", StYMax),
    t("grid_cell_id", GridCellId, Seq(DoubleType, DoubleType, DoubleType)),
    t("grid_cells", GridCells, Seq(G, DoubleType, DoubleType)),
    q("grid_ref_cell", GridRefCell, Seq(G, G, DoubleType, DoubleType)),
    t("morton_key", MortonKey, Seq(DoubleType, DoubleType, DoubleType)),
    // measures
    u("st_area", StArea),
    u("st_length", StLength),
    b("st_distance", StDistance),
    b("st_distancesphere", StDistanceSphere),
    b("st_distance_sphere", StDistanceSphere),
    b("st_distancespheroid", StDistanceSpheroid),
    b("st_distance_spheroid", StDistanceSpheroid),
    t("st_project", StProject, Seq(G, DoubleType, DoubleType)),
    // ST_GeoHash(geom [, maxchars]) — 1-arg form = auto precision
    desc("st_geohash", es => {
      val padded = if (es.length == 1) es :+ Literal(0) else es
      val c = coerce("st_geohash", Seq(G, IntegerType), padded)
      StGeoHash(c(0), c(1))
    }),
    u("st_pointfromgeohash", StPointFromGeoHash, StringType),
    t("st_dwithin", StDWithin, Seq(G, G, DoubleType)),
    // predicates
    b("st_within", StWithin),
    b("st_contains", StContains),
    b("st_intersects", StIntersects),
    b("st_disjoint", StDisjoint),
    b("st_touches", StTouches),
    b("st_overlaps", StOverlaps),
    b("st_crosses", StCrosses),
    b("st_equals", StEquals),
    b("st_covers", StCovers),
    b("st_coveredby", StCoveredBy),
    // geometry processing
    b("st_transform", StTransform, Seq(G, IntegerType)),
    u("st_startpoint", StStartPoint),
    u("st_endpoint", StEndPoint),
    b("st_pointn", StPointN, Seq(G, IntegerType)),
    u("st_reverse", StReverse),
    u("st_exteriorring", StExteriorRing),
    u("st_numinteriorrings", StNumInteriorRings),
    b("st_interiorringn", StInteriorRingN, Seq(G, IntegerType)),
    b("st_closestpoint", StClosestPoint),
    b("st_shortestline", StShortestLine),
    b("st_azimuth", StAzimuth),
    b("st_lineinterpolatepoint", StLineInterpolatePoint, Seq(G, DoubleType)),
    u("st_centroid", StCentroid),
    u("st_envelope", StEnvelope),
    u("st_boundary", StBoundary),
    u("st_convexhull", StConvexHull),
    b("st_buffer", StBuffer, Seq(G, DoubleType)),
    b("st_simplify", StSimplify, Seq(G, DoubleType)),
    b("st_union", StUnion),
    b("st_intersection", StIntersection),
    b("st_difference", StDifference),
    b("st_symdifference", StSymDifference),
    // geometry aggregates
    u("st_union_agg", (e: Expression) => StUnionAgg(e).toAggregateExpression()),
    u("st_extent_agg", (e: Expression) => StExtentAgg(e).toAggregateExpression()),
    // UDT sugar: readable show() / Dataset[Geometry] boundaries (identity
    // over the WKB wire format in both directions)
    u("as_geometry", AsGeometry),
    u("to_wkb", ToWkb),
    // LLM-data-pipeline kernels (dedup / similarity / text analysis)
    t("minhash_signature", MinhashSignature, Seq(StringType, IntegerType, IntegerType)),
    t("jaccard_shingles", JaccardShingles, Seq(StringType, StringType, IntegerType)),
    b("sorted_shingles", SortedShingles, Seq(StringType, IntegerType)),
    b("jaccard_sorted", JaccardSorted, Seq(ArrayType(LongType), ArrayType(LongType))),
    b("sig_match_fraction", SigMatchFraction, Seq(ArrayType(LongType), ArrayType(LongType))),
    b("sig_prefix", SigPrefix, Seq(ArrayType(LongType, containsNull = false), IntegerType)),
    b("sig_match_fraction_int", SigMatchFractionInt, Seq(ArrayType(IntegerType, containsNull = false), ArrayType(IntegerType, containsNull = false))),
    b("minhash_band_hashes", MinhashBandHashes, Seq(ArrayType(LongType, containsNull = false), IntegerType)),
    u("simhash64", Simhash64, StringType),
    b("rolling_fingerprint", RollingFingerprint, Seq(StringType, IntegerType)),
    b("rolling_fingerprint_fast", RollingFingerprintFast, Seq(StringType, IntegerType)),
    b("word_window_hashes", WordWindowHashes, Seq(ArrayType(StringType), IntegerType)),
    // KMV/theta distinct-count sketch over 60-bit hashes (bounded,
    // mergeable, deterministic partial state — see SketchAggregates.scala)
    // asymmetric containment |a∩b|/|a| over sorted hash sets (the
    // ContainmentJoin refine — see TextOps.containmentSorted)
    b("containment_sorted", ContainmentSorted,
      Seq(ArrayType(LongType), ArrayType(LongType))),
    b("kmv_distinct", (h: Expression, k: Expression) =>
      KmvDistinctAgg(h, k).toAggregateExpression(), Seq(LongType, IntegerType)),
    // KMV state materialization + state rollup (the aggregate-once /
    // re-aggregate-anywhere pattern — see KmvStateLike)
    b("kmv_sketch", (h: Expression, k: Expression) =>
      KmvStateAgg(h, k).toAggregateExpression(), Seq(LongType, IntegerType)),
    b("kmv_merge", (s: Expression, k: Expression) =>
      KmvMergeAgg(s, k).toAggregateExpression(),
      Seq(org.apache.spark.sql.types.ArrayType(LongType, containsNull = false), IntegerType)),
    // HyperLogLog register sketch over 60-bit hashes (2^p-byte state,
    // element-wise-max merge — see SketchAggregates.scala)
    b("hll_sketch", (h: Expression, p: Expression) =>
      HllSketchAgg(h, p).toAggregateExpression(), Seq(LongType, IntegerType)),
    // Count-Min frequency sketch: fixed depth×width counter state,
    // element-wise merge (see SketchAggregates.scala)
    t("cms_sketch", (item: Expression, d: Expression, w: Expression) =>
      CmsAgg(item, d, w).toAggregateExpression(),
      Seq(StringType, IntegerType, IntegerType)),
    // bounded group-top-k (k-capped heap at every stage; the value child
    // keeps its own type, so no coerce — see TopKAggregate.scala)
    desc("topk_agg", es => TopKAgg(es(0), Cast(es(1), IntegerType),
      reverse = false).toAggregateExpression()),
    desc("bottomk_agg", es => TopKAgg(es(0), Cast(es(1), IntegerType),
      reverse = true).toAggregateExpression()),
    u("lang_id", LangId, StringType),
    u("lang_id_nb", LangIdNb, StringType),
    // PSL registered-domain of a bare host (bundled snapshot — see
    // PublicSuffix.scala; TextAnalysis.urlDomain layers URL parsing +
    // NULLIF on top). The optional second argument is a FOLDABLE string
    // of newline-separated PSL rules (a full publicsuffix.org file);
    // the matcher compiles once here at analysis time, never per row.
    desc("registered_domain", es => {
      require(es.length == 1 || es.length == 2,
        s"registered_domain expects (host[, rules_text]), got ${es.length} args")
      val host = coerce("registered_domain", Seq(StringType), es.take(1)).head
      if (es.length == 1) RegisteredDomain(host)
      else {
        val rules = es(1) match {
          case lit if lit.foldable && lit.dataType == StringType =>
            Option(lit.eval(null)).map(_.toString)
              .getOrElse(throw new IllegalArgumentException(
                "registered_domain: rules_text must not be NULL"))
          case other => throw new IllegalArgumentException(
            "registered_domain: rules_text must be a foldable string literal, " +
              s"got ${other.sql}")
        }
        RegisteredDomain(host, new PslMatcher(rules.split('\n').toSeq))
      }
    }),
    // Unicode normalization (NFC oracle-provable; NFKC spec-gated)
    u("nfc_normalize", NfcNormalize, StringType),
    u("nfkc_normalize", NfkcNormalize, StringType),
    u("dup_line_fraction", DupLineFraction, StringType),
    u("top_token_fraction", TopTokenFraction, StringType),
    b("cosine_similarity", CosineSimilarity, Seq(ArrayType(FloatType), ArrayType(FloatType))),
    b("hyperplane_bucket", HyperplaneBucket, Seq(ArrayType(FloatType), IntegerType)),
    t("hyperplane_buckets", HyperplaneBuckets, Seq(ArrayType(FloatType), IntegerType, IntegerType)),
    // deterministic-sampling primitive: hash_uniform(key, salt) = the
    // engine-portable uniform in [0,1) behind Corpus.sampleByHash /
    // assignSplit / mixture — composed from builtin codegen'd expressions
    // so SQL (and the HTTP endpoint) can sample reproducibly:
    //   WHERE hash_uniform(doc_id, 's1') < 0.25
    desc("hash_uniform", es => {
      require(es.length == 2, s"hash_uniform expects (key, salt), got ${es.length} args")
      import org.apache.spark.sql.catalyst.expressions.{Concat, Conv, Divide, Md5, Substring}
      val bytes = Cast(Concat(Seq(Cast(es(1), StringType), Cast(es(0), StringType))), BinaryType)
      val dec = Conv(Substring(Md5(bytes), Literal(1), Literal(8)), Literal(16), Literal(10))
      Divide(Cast(dec, DoubleType), Literal(4294967296.0))
    }),
  )

  /** Idempotent programmatic registration on a live session. */
  def register(spark: SparkSession): Unit = {
    graft.types.GraftUdt.register() // JTS classes ⇆ GeometryUDT encoders
    val registry = spark.sessionState.functionRegistry
    functionDescriptions.foreach { case (id, info, builder) =>
      registry.registerFunction(id, info, builder)
    }
    val tvfRegistry = spark.sessionState.tableFunctionRegistry
    tableFunctionDescriptions.foreach { case (id, info, builder) =>
      tvfRegistry.registerFunction(id, info, builder)
    }
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[graft.plans.SpatialJoinRewrite]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.SpatialJoinRewrite()
    // runs after V2 scan planning here → tightens the already-built scan
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[graft.plans.SpatialFilterPushdown]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.SpatialFilterPushdown()
  }

  /** Result of [[processQuery]]: the frame, its rows — collected ONCE,
    * capped at `maxRows` — plus, when the query projects `ST_AsGeoJSON`,
    * the same rows re-shaped as a GeoJSON FeatureCollection
    * (reference: src/index.ts:349 processQuery / :323 convertRestoGeoJSON).
    * Serving layers should read `rows`, not re-collect `df` (one Spark
    * job per request, not two). */
  case class QueryResult(df: org.apache.spark.sql.DataFrame,
                         rows: Array[org.apache.spark.sql.Row],
                         geoJson: Option[String])

  /** The reference's user-facing entry point: raw SQL in, result out, with
    * automatic FeatureCollection conversion when an `st_asgeojson` column is
    * present. Both the returned frame and the FeatureCollection are capped at
    * `maxRows` — the conversion collects to the driver, so an uncapped call
    * over a large result would materialize it whole. The reference's own
    * conversion runs on the already-reduced final result
    * (src/index.ts:323 convertRestoGeoJSON); `maxRows` is the same guarantee
    * made explicit. Pass `Int.MaxValue` only when the caller has already
    * bounded the result. */
  def processQuery(spark: SparkSession, sqlText: String,
                   maxRows: Int = 10000): QueryResult = {
    register(spark)
    val df = spark.sql(sqlText).limit(maxRows)
    val rows = df.collect() // the ONE driver materialization per request
    val geoCol = df.schema.fieldNames.find(_.equalsIgnoreCase("st_asgeojson"))
    val geo = geoCol.map(featureCollection(rows, df.schema, _))
    QueryResult(df, rows, geo)
  }

  /** The already-collected rows as a FeatureCollection, via the one
    * shared emitter ([[graft.sources.GeoJsonSource.toFeatureCollection]]).
    * The geometry column holds GeoJSON text (it was projected by
    * `ST_AsGeoJSON`); parse → write normalizes it and rejects
    * non-GeoJSON content the way the old `ST_GeomFromGeoJSON`
    * round-trip did. */
  private def featureCollection(rows: Array[org.apache.spark.sql.Row],
                                schema: org.apache.spark.sql.types.StructType,
                                geomCol: String): String =
    graft.sources.GeoJsonSource.toFeatureCollection(rows, schema, geomCol)(
      g => graft.geo.GeoJson.write(graft.geo.GeoJson.parse(g.toString)))
}
