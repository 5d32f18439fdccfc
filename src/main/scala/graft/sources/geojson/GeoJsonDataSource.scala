package graft.sources.geojson

import graft.sources._
import graft.sources.mongo.{CouchFind, MongoFindGen, MongoWire}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

/** DataSource V2 for GeoJSON document collections — the reference's
  * MongoDB/CouchDB data model as a first-class `spark.read.format` target
  * (reference: extension/json_extension.ts:100 `properties.*` → columns,
  * `geometry` → geometry value; extension/couchdb/couchdb_extension.ts:49):
  *
  * {{{
  *   spark.read.format("graft-geojson")
  *     .option("columns", "name,pop")        // optional: skip inference
  *     .option("multiLine", "false")         // one Feature per line (NDJSON)
  *     .load("/data/geojson")                // default: one doc per file
  * }}}
  *
  * A document may be a single Feature or a FeatureCollection (explodes to
  * one row per feature). `properties.*` become string columns, `geometry`
  * a WKB binary column. Column pruning and string-predicate pushdown
  * mirror graft-xml: accepted filters drop records before row construction.
  * One input partition per file; pass `columns` at 100 TB to skip the
  * sampling inference pass.
  */
class GeoJsonDataSource extends DocSource {
  override def shortName(): String = "graft-geojson"

  override private[graft] def wire(options: DocOptions): GeoJsonWire =
    GeoJsonWire(options.get("multiLine").forall(_.toBoolean), options.flag("serverPushdown"))

  /** Server mode samples the first unselected page per database (a
    * `_find` page on CouchDB, the find first batch on MongoDB). */
  override protected def sample(options: CaseInsensitiveStringMap): Iterator[DocFiles.Record] =
    if (!options.getBoolean("serverPushdown", false)) super.sample(options)
    else DocFiles.pathsOf(options).iterator.flatMap { db =>
      if (MongoWire.isMongoUrl(db)) MongoWire.sample(db, 25, DocFiles.HttpTimeoutMs)
      else CouchFind.page(db, "{}", Nil, 0, DocFiles.HttpTimeoutMs)._1
    }.flatMap(GeoJsonSource.flattenFeature)

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    // server mode: each path IS a database endpoint, not a listing
    new GeoJsonTable(this, schema, properties.asScala.toMap,
      () => if (opts.getBoolean("serverPushdown", false)) DocFiles.pathsOf(opts)
            else DocFiles.listFiles(DocFiles.pathsOf(opts)))
  }
}

object GeoJsonDataSource {
  /** The graft-geojson schema over property columns `cols`. */
  def schemaFor(cols: Seq[String]): StructType = DocScan.schemaFor(cols)
}

/** The graft-geojson half of the document scan: documents decode through
  * [[GeoJsonDoc]]; with `serverPushdown`, each path is a CouchDB database
  * (paginated `_find`, [[CouchFind]]) or a `mongodb://` collection (the
  * OP_MSG find/getMore cursor, [[MongoWire]]). */
private[graft] final case class GeoJsonWire(multiLine: Boolean, serverPushdown: Boolean)
  extends DocWire {
  override def name: String = "graft-geojson"
  override def format: DocFormat = GeoJsonDoc(multiLine)
  override def serves(file: String): Boolean =
    serverPushdown && (MongoWire.isMongoUrl(file) || file.startsWith("http"))

  /** The pushed predicates as the Mongo/CouchDB selector a live document
    * store would receive, surfaced in `explain`. In server mode the
    * preview shows the WIDENED selector, i.e. exactly the `_find` wire
    * text. Then where the query executes. */
  override def describe(scan: DocScan): String = {
    val fs = scan.pushed.toIndexedSeq
    val eff = if (serverPushdown) fs.map(CouchFind.widen) else fs
    val extras = if (serverPushdown) scan.bbox.flatMap(CouchFind.bboxSelector).toSeq else Nil
    val preview =
      if (eff.isEmpty && extras.isEmpty) ""
      else MongoFindGen.selector(eff, extras) match {
        case "{}" => ""
        case sel  => s", MongoSelector: $sel"
      }
    preview +
      (if (!serverPushdown) ""
       else if (scan.files.exists(MongoWire.isMongoUrl))
         if (scan.pushed.isEmpty && scan.bbox.isEmpty &&
             scan.agg.exists(_._2.forall {
               case AggPushdown.CountStarSpec => true
               case _: AggPushdown.CountSpec  => true
               case _                         => false
             })) ", ServerExec: mongodb-aggregate"
         else ", ServerExec: mongodb-find"
       else ", ServerExec: couchdb-find")
  }

  /** The feature documents the store sends: CouchDB via paginated `_find`,
    * MongoDB via the OP_MSG find/getMore cursor, each projected to
    * [[DocQuery.needed]]. With nothing to re-apply, a LIMIT caps the
    * cursor; it is a transfer hint, not a truncation — a zero-row document
    * (an empty FeatureCollection) makes the reader pull past it and paging
    * resumes full-size. A TopN never caps here: the flattened columns
    * compare as strings, but the stored JSON values may be numbers, which
    * BSON/Mango sort before strings and with `9 < 10`, so a server-side
    * sort + limit could under-deliver on conforming servers. */
  override def records(file: String, q: DocQuery): Iterator[DocFiles.Record] = {
    val hint = if (q.rechecks) None else q.limit
    val docs =
      if (MongoWire.isMongoUrl(file))
        // bare column names: MongoFindGen.projection prefixes `properties.`
        // itself (the reference's constructProjectionQuery contract)
        MongoWire.docs(file, selector(q), q.needed, q.timeoutMs, hint, featuresPassthrough = true)
      else CouchFind.docs(file, selector(q), couchFields(q.needed), q.timeoutMs, hint)
    new Decoded(docs, GeoJsonSource.flattenFeature)
  }

  /** The selector every server read ships: the widened pushed + runtime
    * filters (Mongo/Mango match type-sensitively; graft columns are
    * strings, so numeric-looking literals match either JSON typing) plus
    * the bbox as a coordinate-range clause for Point docs — always a
    * SUPERSET, and every piece re-applies locally. */
  private def selector(q: DocQuery): String = {
    val base = MongoFindGen.selector(
      // an over-cap IN (a huge runtime-filter value set) stays off the
      // wire — Mongo caps command documents at 16MB; the local re-apply
      // still evaluates it
      q.filters.filter(StringFilterEval.wireSafe).map(CouchFind.widen),
      q.bbox.flatMap(CouchFind.bboxSelector).toSeq)
    // FeatureCollection escape: a stored collection keeps its feature
    // properties INSIDE the `features` array, where a top-level
    // `properties.x` clause cannot see them — without this $or branch
    // the selector would DROP collection docs whose rows match (not a
    // superset; the local re-apply cannot resurrect an untransferred
    // doc). Collection docs transfer whole and prune locally per row.
    if (base == "{}") base
    else s"""{ "$$or" : [$base, {"features": {"$$exists": true}}]}"""
  }

  /** The needed columns as Mango `fields` document paths. The trailing
    * top-level `features` path is the FeatureCollection passthrough: an
    * inclusion projection of only geometry/properties.* would strip the
    * array and silently drop every collection row (the projection-side
    * twin of the selector's features-exists escape). Paths are unambiguous
    * here — a PROPERTY named "features" maps to properties.features. */
  private def couchFields(needed: Seq[String]): Seq[String] =
    if (needed.isEmpty) Nil
    else needed.map {
      case "geometry" => "geometry"
      case c          => s"properties.$c"
    } :+ "features"

  /** The pushed aggregation as count columns (None = COUNT(*)) when EVERY
    * spec is a count — the subset the Mongo `aggregate` pipeline ships
    * in-database. MIN/MAX stay local: Mongo's `$min`/`$max` string
    * rendering of doubles diverges from the flattened map's (the BaseX
    * path forces xs:string where the collations provably agree; no such
    * forcing exists for Mongo numerics). */
  private def countCols(specs: Seq[AggPushdown.Spec]): Option[Seq[Option[String]]] = {
    val counts = specs.map {
      case AggPushdown.CountStarSpec => Some(None)
      case AggPushdown.CountSpec(c)  => Some(Some(c))
      case _                         => None
    }
    if (counts.forall(_.isDefined)) Some(counts.flatten) else None
  }

  /** COUNT (+ GROUP BY) inside MongoDB through the `aggregate` pipeline.
    * In-database aggregation is EXACT only when nothing re-applies
    * afterwards: no bbox, counts only, and an exact `$match` body for the
    * pushed + runtime filters (see MongoFindGen.aggMatchExpr) — the
    * widened selector is a superset, fine under a re-apply but an
    * overcount inside `$group`. Over-cap IN lists also disqualify (the
    * 16MB command ceiling, as on the find path). Anything else falls back
    * to record transfer with the local partial aggregate. The pipeline's
    * per-group documents ({_id: {g0: …}, a0: n, …}) decode straight into
    * the AggPushdown.schemaFor row layout. */
  override def aggregate(file: String, q: DocQuery): Option[Iterator[InternalRow]] =
    for {
      (groups, specs) <- q.agg
      if MongoWire.isMongoUrl(file) && q.bbox.isEmpty
      counts <- countCols(specs)
      if q.filters.forall(StringFilterEval.wireSafe)
      matchExpr <- MongoFindGen.aggMatchExpr(q.filters)
    } yield {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val docs = MongoWire.aggregate(file,
        MongoFindGen.aggregationPipeline(groups, counts, Some(matchExpr).filter(_ != "true")),
        q.timeoutMs)
      new Decoded[String, InternalRow](docs, { json =>
        val root = mapper.readTree(json)
        val idNode = root.path("_id")
        Iterator.single(InternalRow.fromSeq(
          groups.indices.map { i =>
            val g = idNode.path(s"g$i")
            if (g.isMissingNode || g.isNull) null else UTF8String.fromString(g.asText())
          } ++ counts.indices.map(i => root.path(s"a$i").asLong(0L))))
      })
    }
}

private class GeoJsonTable(source: GeoJsonDataSource, schema: StructType,
                           properties: Map[String, String], listFiles: () => Seq[String])
  extends DocTable(schema, properties, listFiles)
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String =
    s"graft-geojson(${properties.getOrElse("path", properties.getOrElse("paths", "?"))})"
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)

  override protected def scanBuilder(options: DocOptions): DocScanBuilder =
    new DocScanBuilder(source.wire(options), schema, options, files)

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GeoJsonWriteBuilder(info)
}
