package graft.sources.geojson

import graft.sources.{AggPushdown, DocFiles, GeoJsonSource, StringFilterEval}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
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
class GeoJsonDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-geojson"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    Option(options.get("columns")) match {
      case Some(cols) =>
        GeoJsonDataSource.schemaFor(cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      case None =>
        val keys = scala.collection.mutable.SortedSet.empty[String]
        if (GeoJsonDataSource.serverMode(options)) {
          // server mode: sample = the first unselected page per database
          // (`_find` page on CouchDB, find first batch on MongoDB)
          DocFiles.pathsOf(options).foreach { db =>
            val sample =
              if (graft.sources.mongo.MongoWire.isMongoUrl(db))
                graft.sources.mongo.MongoWire.sample(db, 25, DocFiles.HttpTimeoutMs)
              else graft.sources.mongo.CouchFind
                .page(db, "{}", Nil, 0, DocFiles.HttpTimeoutMs)._1
            sample.foreach { json =>
              GeoJsonSource.flattenFeature(json).foreach { case (m, _) => keys ++= m.keys }
            }
          }
        } else {
          val multiLine = Option(options.get("multiLine")).forall(_.toBoolean)
          val sample = DocFiles.listFiles(DocFiles.pathsOf(options)).take(8) // bounded inference
          sample.foreach { f =>
            DocFiles.records(f, graft.sources.GeoJsonDoc(multiLine), DocFiles.HttpTimeoutMs)._1
              .foreach { case (m, _) => keys ++= m.keys }
          }
        }
        GeoJsonDataSource.schemaFor(keys.toSeq)
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    // LAZY listing: a write targets a path that may not exist yet, so the
    // expansion must not run at table resolution — the read path forces
    // it at scan build and still surfaces missing-path errors there.
    // Server mode: each path IS a database endpoint, not a listing.
    new GeoJsonTable(schema, properties.asScala.toMap,
      () => if (GeoJsonDataSource.serverMode(opts)) DocFiles.pathsOf(opts)
            else DocFiles.listFiles(DocFiles.pathsOf(opts)))
  }
}

object GeoJsonDataSource {
  def schemaFor(cols: Seq[String]): StructType = StructType(
    cols.map(StructField(_, StringType, nullable = true)) :+
      StructField("geometry", BinaryType, nullable = true))

  /** `serverPushdown=true`: paths are CouchDB database URLs and the scan
    * executes via `_find` ([[graft.sources.mongo.CouchFind]]). */
  private[geojson] def serverMode(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("serverPushdown")).exists(_.toBoolean)

  private[geojson] def serverMode(options: Map[String, String]): Boolean =
    options.get("serverPushdown").orElse(options.get("serverpushdown"))
      .exists(_.toBoolean)
}

private class GeoJsonTable(schema: StructType, properties: Map[String, String],
                           filesThunk: () => Seq[String]) extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with graft.sources.GraftSpatialTable {
  override def name(): String =
    s"graft-geojson(${properties.getOrElse("path", properties.getOrElse("paths", "?"))})"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)

  // listed ONCE per table, but lazily — a write target need not exist at
  // table resolution, and a re-queried reader must not re-list per scan
  private lazy val files: Seq[String] = filesThunk()

  // per-scan options win (SpatialFilterPushdown injects a derived `bbox`)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GeoJsonScanBuilder(schema, properties ++ options.asScala.toMap, files)

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GeoJsonWriteBuilder(info)
}

private class GeoJsonScanBuilder(schema: StructType, options: Map[String, String],
                                 files: Seq[String])
  extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {
  private var required: StructType = schema
  private var pushed: Array[Filter] = Array.empty
  private var agg: Option[(Seq[String], Seq[AggPushdown.Spec])] = None
  private var limit: Option[Int] = None
  private var topn: Option[(Seq[graft.sources.TopNPushdown.SortKey], Int)] = None

  /** Per-partition truncation after the local filter re-apply — exactly
    * LocalLimit's contract. Server mode needs no wire change: the `_find`
    * pages pull lazily, so consuming n rows stops the HTTP traffic at
    * ceil(n/25) pages by itself. */
  override def pushLimit(l: Int): Boolean = {
    if (agg.isDefined || topn.isDefined) false
    else { limit = Some(l); true }
  }

  /** A pushed ORDER BY + LIMIT ([[graft.sources.TopNPushdown]]): each
    * partition answers its own top-n via a bounded heap after the local
    * re-apply; PARTIAL pushdown, Spark merges globally. The document-store
    * wire deliberately does NOT cap here (unlike the XQuery path): the
    * flattened columns compare as strings, but the stored JSON values may
    * be numbers, and BSON/Mango sort orders numbers before strings and
    * `9 < 10` — so a server-side sort+limit could under-deliver on
    * perfectly conforming servers. Every matching document transfers
    * (exactly as without the TopN) and the heap reduces locally. */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
                        l: Int): Boolean = {
    if (agg.isDefined || limit.isDefined) false
    else graft.sources.TopNPushdown.translate(orders, schema) match {
      case Some(keys) => topn = Some((keys, l)); true
      case None       => false
    }
  }

  override def isPartiallyPushed(): Boolean = true

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, unsupported) = filters.partition(StringFilterEval.supports)
    pushed = supported
    unsupported
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** COUNT / COUNT(col) / MIN / MAX (+ GROUP BY) computed on the property
    * map per file — partial pushdown, Spark combines partition states
    * (reference pushes COUNT + GROUP BY into its backends:
    * src/getdata.ts:71-156). */
  override def pushAggregation(aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val t = AggPushdown.translate(aggregation)
    agg = t
    t.isDefined
  }

  override def build(): Scan = GeoJsonScan(required, options, files, pushed, agg, limit, topn)
}

private[graft] case class GeoJsonScan(required: StructType, options: Map[String, String],
                                      files: Seq[String], pushed: Array[Filter],
                                      agg: Option[(Seq[String], Seq[AggPushdown.Spec])] = None,
                                      limit: Option[Int] = None,
                                      topn: Option[(Seq[graft.sources.TopNPushdown.SortKey], Int)] = None)
  extends Scan with Batch with graft.sources.GraftSpatialScan
  with graft.sources.GraftDocStatistics with SupportsRuntimeFiltering {
  override def readSchema(): StructType =
    agg.map { case (g, s) => AggPushdown.schemaFor(g, s) }.getOrElse(required)
  override def toBatch: Batch = this

  /** Runtime (DPP-style) filters — see the graft-xml scan: accepted
    * values merge into the pushed set, prune documents locally, and ride
    * the Mango/Mongo selector in server mode (the `_find`/find wire then
    * transfers only the dimension-matched documents). Refused under a
    * pushed aggregation. */
  @volatile private var runtime: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (agg.isDefined) Array.empty
    else required.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.StringType =>
        // non-parsing single-part ref: dotted property keys are legal
        // flat column names here and must not parse as nested-field
        // paths (see ColumnRef)
        graft.sources.ColumnRef(f.name)
    }

  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    runtime = filters.filter(StringFilterEval.supports)

  override def description(): String =
    s"graft-geojson ${files.length} files, PushedFilters: [${pushed.mkString(", ")}]" +
      limit.map(l => s", PushedLimit: $l").getOrElse("") +
      topn.map { case (ks, n) => s", PushedTopN: [${ks.mkString(", ")}], N: $n" }.getOrElse("") +
      options.get("bbox").map(b => s", bbox: [$b]").getOrElse("") +
      agg.map { case (g, s) =>
        s", PushedAggregation: [${s.mkString(", ")}], PushedGroupBy: [${g.mkString(", ")}]"
      }.getOrElse("") + selectorPreview +
      (if (!GeoJsonDataSource.serverMode(options)) ""
       else if (files.exists(graft.sources.mongo.MongoWire.isMongoUrl))
         if (pushed.isEmpty && options.get("bbox").isEmpty &&
             agg.exists(_._2.forall {
               case graft.sources.AggPushdown.CountStarSpec   => true
               case _: graft.sources.AggPushdown.CountSpec    => true
               case _                                         => false
             })) ", ServerExec: mongodb-aggregate"
         else ", ServerExec: mongodb-find"
       else ", ServerExec: couchdb-find")

  /** The pushed predicates as the Mongo/CouchDB selector a live document
    * store would receive — surfaced in `explain` for observability (the
    * engine evaluates them at the scan here;
    * [[graft.sources.mongo.MongoFindGen]] covers the server-side
    * construction). In server mode the preview shows the WIDENED
    * selector, i.e. exactly the `_find` wire text. */
  private def selectorPreview: String = {
    val fs = pushed.toIndexedSeq
    val server = GeoJsonDataSource.serverMode(options)
    val eff = if (server) fs.map(graft.sources.mongo.CouchFind.widen) else fs
    val extras = if (server)
      options.get("bbox").flatMap(graft.sources.mongo.CouchFind.bboxSelector).toSeq
    else Nil
    if (eff.isEmpty && extras.isEmpty) ""
    else graft.sources.mongo.MongoFindGen.selector(eff, extras) match {
      case "{}" => ""
      case sel  => s", MongoSelector: $sel"
    }
  }

  override def bboxSpec: Option[String] = options.get("bbox")
  override def withBbox(spec: String): Scan = copy(options = options + ("bbox" -> spec))

  /** Partitions carry the runtime filters — BatchScanExec re-plans
    * partitions after runtime-filter resolution but keeps the
    * planning-time reader factory (see the graft-xml scan). */
  override def planInputPartitions(): Array[InputPartition] =
    files.map(f => GeoJsonInputPartition(f, runtime.toIndexedSeq): InputPartition).toArray

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    DocFiles.scanMetrics

  override def createReaderFactory(): PartitionReaderFactory =
    GeoJsonReaderFactory(readSchema(),
      options.get("multiline").orElse(options.get("multiLine")).forall(_.toBoolean),
      pushed, options.get("bbox"), agg,
      graft.sources.DocFiles.HttpTimeoutMs, // driver capture: executors don't see driver sys.props
      GeoJsonDataSource.serverMode(options), limit, topn)
}

/** `runtime` = DPP-style filters resolved AFTER planning
  * ([[GeoJsonScan.filter]]); the partition is the only post-resolution
  * channel to the executors. */
private case class GeoJsonInputPartition(file: String,
                                         runtime: Seq[Filter] = Nil) extends InputPartition

private case class GeoJsonReaderFactory(schema: StructType, multiLine: Boolean,
                                        filters: Array[Filter], bbox: Option[String],
                                        agg: Option[(Seq[String], Seq[AggPushdown.Spec])],
                                        httpTimeoutMs: Int,
                                        serverPushdown: Boolean = false,
                                        limit: Option[Int] = None,
                                        topn: Option[(Seq[graft.sources.TopNPushdown.SortKey], Int)] = None)
  extends PartitionReaderFactory {

  /** The pushed aggregation as count columns (None = COUNT(*)) when EVERY
    * spec is a count — the subset the Mongo `aggregate` pipeline ships
    * in-database. MIN/MAX stay local: Mongo's `$min`/`$max` string
    * rendering of doubles diverges from the flattened map's (the BaseX
    * path forces xs:string where the collations provably agree; no such
    * forcing exists for Mongo numerics). */
  private def serverAggCountCols: Option[Seq[Option[String]]] = agg.flatMap { case (_, specs) =>
    val counts: Seq[Option[Option[String]]] = specs.map {
      case graft.sources.AggPushdown.CountStarSpec => Some(None)
      case graft.sources.AggPushdown.CountSpec(c)  => Some(Some(c))
      case _                                       => None
    }
    if (counts.forall(_.isDefined)) Some(counts.flatten) else None
  }

  /** In-database aggregation is EXACT only when nothing re-applies
    * locally afterwards (the BaseX agg guard): no pushed filters (the
    * widened selector is a superset — fine under a re-apply, an
    * overcount inside `$group`), no bbox, counts only. Anything else
    * falls back to record transfer with the local partial aggregate. */
  /** Exact `$match` body for the pushed + runtime filters, or None when
    * they leave the provably-exact subset (see MongoFindGen.aggMatchExpr)
    * — nothing re-applies after a server-side `$group`, so "widen and
    * re-check" is not available here. Over-cap IN lists also disqualify
    * (the 16MB command ceiling, same as the find path's wire gate). */
  private def serverAggMatch(eff: Seq[Filter]): Option[String] =
    if (!eff.forall(StringFilterEval.wireSafe)) None
    else graft.sources.mongo.MongoFindGen.aggMatchExpr(eff)

  private def serverAggApplicable(file: String, eff: Seq[Filter]): Boolean =
    serverPushdown && graft.sources.mongo.MongoWire.isMongoUrl(file) &&
      bbox.isEmpty && serverAggCountCols.isDefined &&
      serverAggMatch(eff).isDefined

  /** Every column the reader still needs in server mode — the output
    * schema, the columns pushed + runtime filters reference (they
    * re-apply locally on the returned docs), and the geometry when a
    * bbox prune runs. An aggregate scan skips the projection: its source
    * columns live inside the agg spec, and the filter has already cut
    * the transferred rows. */
  private def neededColumns(eff: Seq[Filter]): Seq[String] =
    if (agg.isDefined) Nil
    else (schema.fieldNames.toSeq ++
      eff.flatMap(_.references.toSeq) ++
      topn.map(_._1.map(_.col)).getOrElse(Nil) ++ // sort keys compare locally
      (if (bbox.isDefined) Seq("geometry") else Nil)).distinct

  /** The needed columns as Mango `fields` document paths. */
  private def serverFields(eff: Seq[Filter]): Seq[String] =
    if (neededColumns(eff).isEmpty) Nil
    else neededColumns(eff).map {
      case "geometry" => "geometry"
      case c          => s"properties.$c"
    } :+ "features"
    // the trailing top-level `features` path is the FeatureCollection
    // passthrough: an inclusion projection of only geometry/properties.*
    // would strip the array and silently drop every collection row (the
    // projection-side twin of the selector's features-exists escape).
    // Paths are unambiguous here — a PROPERTY named "features" maps to
    // properties.features above, untouched.

  /** The selector every server-mode path ships: widened pushed + runtime
    * filters (Mongo/Mango match type-sensitively; graft columns are
    * strings, so numeric-looking literals match either JSON typing) plus
    * the bbox as a coordinate-range clause for Point docs — always a
    * SUPERSET, and every piece re-applies locally below. */
  private def serverSelector(eff: Seq[Filter]): String = {
    val base = graft.sources.mongo.MongoFindGen.selector(
      // an over-cap IN (a huge runtime-filter value set) stays off the
      // wire — Mongo caps command documents at 16MB; the local re-apply
      // still evaluates it
      eff.toIndexedSeq.filter(StringFilterEval.wireSafe)
        .map(graft.sources.mongo.CouchFind.widen),
      bbox.flatMap(graft.sources.mongo.CouchFind.bboxSelector).toSeq)
    // FeatureCollection escape: a stored collection keeps its feature
    // properties INSIDE the `features` array, where a top-level
    // `properties.x` clause cannot see them — without this $or branch
    // the selector would DROP collection docs whose rows match (not a
    // superset; the local re-apply cannot resurrect an untransferred
    // doc). Collection docs transfer whole and prune locally per row.
    if (base == "{}") base
    else s"""{ "$$or" : [$base, {"features": {"$$exists": true}}]}"""
  }

  // cursor cap only when NOTHING re-applies afterwards (the same gate as
  // the XML wire cap); it is a transfer hint, not a truncation — a
  // zero-row document (empty FeatureCollection) makes the reader pull
  // past it and paging resumes full-size
  private def transferHint(eff: Seq[Filter]): Option[Int] =
    if (eff.isEmpty && bbox.isEmpty) limit else None

  /** Whether `file` is a document-store endpoint the scan queries, rather
    * than a file read through [[DocFiles.records]]. */
  private def fromServer(file: String): Boolean =
    serverPushdown && (graft.sources.mongo.MongoWire.isMongoUrl(file) || file.startsWith("http"))

  /** Feature documents of one server-mode partition: the pushed predicates
    * run INSIDE the store — CouchDB via paginated `_find`, MongoDB via the
    * OP_MSG find/getMore cursor — but the caller still re-applies every
    * filter, so all modes agree even against a server that ignored the
    * selector. */
  private def serverDocuments(file: String, eff: Seq[Filter]): Iterator[String] =
    if (graft.sources.mongo.MongoWire.isMongoUrl(file))
      // bare column names: MongoFindGen.projection prefixes `properties.`
      // itself (the reference's constructProjectionQuery contract)
      graft.sources.mongo.MongoWire.docs(file, serverSelector(eff), neededColumns(eff),
        httpTimeoutMs, transferHint(eff), featuresPassthrough = true)
    else graft.sources.mongo.CouchFind.docs(file, serverSelector(eff),
      serverFields(eff), httpTimeoutMs, transferHint(eff))

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GeoJsonInputPartition]
    val file = p.file
    // pushed + runtime (DPP) filters — the latter ride the partition
    val eff: Seq[Filter] = filters.toIndexedSeq ++ p.runtime
    new PartitionReader[InternalRow] {
      private val geomIdx =
        if (schema.fieldNames.contains("geometry")) schema.fieldIndex("geometry") else -1
      private val bboxKeep = bbox.map(StringFilterEval.bboxPredicate)
      private val serverAggMode = serverAggApplicable(file, eff)
      private val scanCounts = new DocFiles.ScanCounts
      // the server's document stream (empty for a file), kept for close():
      // a pushed LIMIT (or any early stop) leaves the Mongo wire cursor
      // mid-page — its socket must not outlive the task
      private val source: Iterator[String] =
        if (serverAggMode)
          graft.sources.mongo.MongoWire.aggregate(file,
            graft.sources.mongo.MongoFindGen.aggregationPipeline(
              agg.get._1, serverAggCountCols.get,
              serverAggMatch(eff).filter(_ != "true")), httpTimeoutMs)
        else if (fromServer(file)) serverDocuments(file, eff)
        else Iterator.empty
      private val rows: Iterator[InternalRow] = if (serverAggMode) {
        // the pipeline's per-group partial documents ({_id: {g0: …},
        // a0: n, …}) ARE the scan output — decode straight into the
        // AggPushdown.schemaFor row layout
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val groups = agg.get._1
        val counts = serverAggCountCols.get
        val base = source.map { json =>
          val root = mapper.readTree(json)
          val idNode = root.path("_id")
          InternalRow.fromSeq(
            groups.indices.map { i =>
              val g = idNode.path(s"g$i")
              if (g.isMissingNode || g.isNull) null else UTF8String.fromString(g.asText())
            } ++ counts.indices.map(i => root.path(s"a$i").asLong(0L)))
        }
        if (groups.nonEmpty) base
        // global agg over an empty collection: $group emits nothing, but
        // the partial contract needs one zero row (the local analog at
        // AggPushdown.aggregate's "one row always")
        else if (base.hasNext) base
        else Iterator.single(InternalRow.fromSeq(counts.map(_ => 0L)))
      } else {
        val decoded: Iterator[DocFiles.Record] =
          if (fromServer(file)) source.flatMap(GeoJsonSource.flattenFeature)
          else scanCounts.records(file, graft.sources.GeoJsonDoc(multiLine), httpTimeoutMs).iterator
        // pushed + runtime filters run on the FULL property map (they may
        // reference columns pruned from the output schema) before any row
        // is built
        val matching = decoded.filter { case (m, g) =>
          bboxKeep.forall(_(g)) && eff.forall(StringFilterEval.passes(_, m))
        }
        // pushed LIMIT: per-partition truncation after the re-apply; the
        // lazy _find pages stop pulling once n rows are consumed. Pushed
        // TopN: the bounded per-partition heap (exclusive with limit)
        val records = topn match {
          case Some((keys, n)) =>
            graft.sources.TopNPushdown.topN(matching, keys, n)(
              r => graft.sources.TopNPushdown.keyVec(keys, r._1))
          case None => limit.map(matching.take).getOrElse(matching)
        }
        agg match {
          case Some((groups, specs)) =>
            AggPushdown.aggregate(records.map(_._1), groups, specs)
          case None => records.map { case (m, g) =>
            InternalRow.fromSeq(schema.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
              if (i == geomIdx) g.orNull
              else m.get(f.name).map(UTF8String.fromString).orNull
            })
          }
        }
      }
      private var current: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true } else false
      override def get(): InternalRow = current
      override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
        scanCounts.values
      override def close(): Unit = source match {
        case c: AutoCloseable => c.close()
        case _                => ()
      }
    }
  }
}
