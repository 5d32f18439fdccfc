package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableProvider}
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.util.Locale
import scala.jdk.CollectionConverters._

/** The options of one document scan. Keys match in any case, as Spark's
  * `CaseInsensitiveStringMap` matches them: the table keeps the user's
  * spelling, the scan's relation options arrive lower-cased, and both
  * must answer the same lookup. */
private[graft] final case class DocOptions(private val lowered: Map[String, String]) {
  def get(key: String): Option[String] = lowered.get(key.toLowerCase(Locale.ROOT))
  def flag(key: String): Boolean = get(key).exists(_.toBoolean)
}

private[graft] object DocOptions {
  /** The options of `maps`, later maps winning. */
  def of(maps: scala.collection.Map[String, String]*): DocOptions =
    DocOptions(maps.flatten.map { case (k, v) => k.toLowerCase(Locale.ROOT) -> v }.toMap)
}

/** The half of a document scan that differs by format: how one document
  * decodes, and how a document server is asked for records or partial
  * aggregates. Built on the driver from the scan's options and serialized
  * into every reader. */
private[graft] trait DocWire extends Serializable {
  /** The format name: the first word of the scan's `explain` line. */
  def name: String
  /** How a document read whole through [[DocFiles.records]] decodes. */
  def format: DocFormat
  /** Whether `file` is a server endpoint this wire queries, rather than a
    * document read whole. */
  def serves(file: String): Boolean
  /** The format's part of `description()`: its wire preview and where
    * the query executes. */
  def describe(scan: DocScan): String
  /** The records a server sends for `q`. They may be a superset of the
    * matches: the reader re-applies every filter and the bbox. An
    * `AutoCloseable` iterator is closed with the reader. */
  def records(file: String, q: DocQuery): Iterator[DocFiles.Record]
  /** The partial-aggregate rows a server computes for `q`, or None when it
    * cannot compute them exactly (nothing re-applies after them). An
    * `AutoCloseable` iterator is closed with the reader. */
  def aggregate(file: String, q: DocQuery): Option[Iterator[InternalRow]]
}

/** A graft-xml / graft-geojson source: schema from the `columns` option or
  * from the keys of a bounded sample of documents. */
abstract class DocSource extends TableProvider with DataSourceRegister {
  override def supportsExternalMetadata(): Boolean = true

  /** The scan's per-format half for `options`. */
  private[graft] def wire(options: DocOptions): DocWire

  /** The records schema inference reads: those of the first 8 documents. */
  protected def sample(options: CaseInsensitiveStringMap): Iterator[DocFiles.Record] = {
    val format = wire(DocOptions.of(options.asScala)).format
    DocFiles.listFiles(DocFiles.pathsOf(options)).take(8).iterator
      .flatMap(DocFiles.records(_, format, DocFiles.HttpTimeoutMs)._1)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DocScan.schemaFor(Option(options.get("columns")) match {
      case Some(cols) => cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case None =>
        val keys = scala.collection.mutable.SortedSet.empty[String]
        sample(options).foreach { case (m, _) => keys ++= m.keys }
        keys.toSeq
    })
}

/** A document collection as a DSv2 table. Its documents are listed once,
  * lazily: a write target need not exist when the table resolves, and a
  * re-queried table must not list again per scan. */
private[graft] abstract class DocTable(schema: StructType, properties: Map[String, String],
                                       listFiles: () => Seq[String])
  extends Table with SupportsRead {
  protected lazy val files: Seq[String] = listFiles()

  override def schema(): StructType = schema

  /** The scan builder over [[files]] for `options`. */
  protected def scanBuilder(options: DocOptions): DocScanBuilder

  // per-scan options win: SpatialFilterPushdown injects a derived `bbox`
  // into the relation options, which the table's copy must not clobber
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    scanBuilder(DocOptions.of(properties, options.asScala))
}

/** Pushdown negotiation of a document scan. Every accepted piece is
  * PARTIAL: the reader re-applies it per partition and Spark still
  * combines partitions. LIMIT, TopN and an aggregate exclude one another,
  * and a pushed join (graft-xml) excludes them all. */
private[graft] class DocScanBuilder(val wire: DocWire, val schema: StructType,
                                    val options: DocOptions, val files: Seq[String])
  extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {
  protected var required: StructType = schema
  private[graft] var pushed: Array[Filter] = Array.empty
  private[graft] var agg: Option[DocScan.Agg] = None
  private var limit: Option[Int] = None
  private var topn: Option[DocScan.TopN] = None

  /** Whether a join took the scan over: joined rows filter, limit and
    * aggregate in Spark. */
  protected def joined: Boolean = false

  /** A pushed LIMIT truncates each partition after the local re-apply,
    * which is exactly LocalLimit's per-partition contract (Spark's
    * GlobalLimit still combines partitions). A server cap on the query
    * itself is up to the wire (see [[DocQuery.rechecks]]). */
  override def pushLimit(l: Int): Boolean =
    if (joined || agg.isDefined || topn.isDefined) false
    else { limit = Some(l); true }

  /** A pushed ORDER BY + LIMIT ([[TopNPushdown]]): each partition answers
    * its own top-n through a bounded heap after the local re-apply, and
    * Spark's global sort merges partitions. */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
                        l: Int): Boolean =
    if (joined || agg.isDefined || limit.isDefined) false
    else TopNPushdown.translate(orders, schema) match {
      case Some(keys) => topn = Some((keys, l)); true
      case None       => false
    }

  override def isPartiallyPushed(): Boolean = true

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** COUNT / COUNT(col) / MIN / MAX (+ GROUP BY) over the flattened records
    * of each document, combined by Spark (the reference pushes COUNT +
    * GROUP BY into its backends: src/getdata.ts:71-156). */
  override def pushAggregation(aggregation: Aggregation): Boolean =
    if (joined) false
    else {
      agg = AggPushdown.translate(aggregation)
      agg.isDefined
    }

  /** Accepts the string-column predicates decidable on the flattened
    * record (the reference pushes the same selections into its backend
    * query: extension/xml_extension.ts:1313 constructXQuery). Accepted
    * filters drop records before a row is built, comparing strings in
    * UTF8String binary order, which is Spark's StringType ordering. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] =
    if (joined) filters
    else {
      val (supported, unsupported) = filters.partition(StringFilterEval.supports)
      pushed = supported
      unsupported
    }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    DocScan(wire, required, files, pushed, options.get("bbox"), agg, limit, topn)
}

/** The scan of a document collection, one input partition per document.
  * `bbox` is the envelope prune ("x0,y0,x1,y1", or "empty" when
  * [[graft.plans.SpatialFilterPushdown]] proved the spatial predicates
  * unsatisfiable); the rule replaces it on an already-built scan. */
private[graft] case class DocScan(wire: DocWire, required: StructType, files: Seq[String],
                                  pushed: Array[Filter], bbox: Option[String] = None,
                                  agg: Option[DocScan.Agg] = None, limit: Option[Int] = None,
                                  topn: Option[DocScan.TopN] = None)
  extends Scan with Batch with SupportsRuntimeFiltering with SupportsReportStatistics {
  override def readSchema(): StructType =
    agg.map { case (g, s) => AggPushdown.schemaFor(g, s) }.getOrElse(required)
  override def toBatch: Batch = this

  /** Runtime (DPP-style) filters: a join against a filtered dimension
    * hands this scan the dimension's key values at EXECUTION time, after
    * planning. Accepted values join the pushed filters: they drop records
    * at parse time, travel inside the server query in pushdown mode, and
    * so switch off every server cap ([[DocQuery.rechecks]]). Not offered
    * under a pushed aggregation, whose exactness is with the planning-time
    * filters. */
  @volatile private var runtime: Array[Filter] = Array.empty

  override def filterAttributes(): Array[NamedReference] =
    if (agg.isDefined) Array.empty
    else required.fields.collect {
      // a NON-PARSING single-part ref (see ColumnRef): a flattened column
      // with a dot (legal in XML element names and JSON keys) must not
      // resolve as a nested path and fail planning
      case f if f.dataType == StringType => ColumnRef(f.name)
    }

  override def filter(filters: Array[Filter]): Unit =
    runtime = filters.filter(StringFilterEval.supports)

  override def description(): String =
    s"${wire.name} ${files.length} files, PushedFilters: [${pushed.mkString(", ")}]" +
      limit.map(l => s", PushedLimit: $l").getOrElse("") +
      topn.map { case (ks, n) => s", PushedTopN: [${ks.mkString(", ")}], N: $n" }.getOrElse("") +
      bbox.map(b => s", bbox: [$b]").getOrElse("") +
      agg.map { case (g, s) =>
        s", PushedAggregation: [${s.mkString(", ")}], PushedGroupBy: [${g.mkString(", ")}]"
      }.getOrElse("") + wire.describe(this)

  /** Partitions carry the runtime filters: BatchScanExec builds the reader
    * factory at PLANNING time but plans the partitions again once the
    * runtime filters resolve, so the partition is the only channel that
    * reaches the executors after resolution. */
  override def planInputPartitions(): Array[InputPartition] =
    files.map(f => DocPartition(f, runtime.toIndexedSeq): InputPartition).toArray

  override def supportedCustomMetrics(): Array[CustomMetric] = DocFiles.scanMetrics

  override def createReaderFactory(): PartitionReaderFactory =
    DocReaderFactory(wire, DocQuery(readSchema(), pushed.toIndexedSeq, bbox, agg, limit, topn,
      DocFiles.HttpTimeoutMs)) // driver capture: executors don't see driver sys.props

  /** Raw document bytes as the size estimate. Without it a DSv2 relation
    * weighs `spark.sql.defaultSizeInBytes` (Long.MaxValue), so a join of a
    * small collection against a large fact table could never broadcast
    * statically. XML/JSON markup makes the raw bytes an upper bound on the
    * flattened rows, so a broadcast decided on it is safe. HTTP
    * collections answer "unknown": claiming a size never measured could
    * broadcast an unbounded network collection. */
  private lazy val bytes = DocFiles.bytesOf(files)
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong = bytes
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }
}

private[graft] object DocScan {
  /** Pushed (group-by columns, aggregates). */
  type Agg = (Seq[String], Seq[AggPushdown.Spec])
  /** Pushed (sort keys, n). */
  type TopN = (Seq[TopNPushdown.SortKey], Int)

  /** String columns `cols`, then the WKB `geometry`. */
  def schemaFor(cols: Seq[String]): StructType = StructType(
    cols.map(StructField(_, StringType, nullable = true)) :+
      StructField("geometry", BinaryType, nullable = true))
}

/** One document, and the runtime filters that resolved after planning. */
private case class DocPartition(file: String, runtime: Seq[Filter]) extends InputPartition

/** What a scan pushed, as one partition's reader applies it: the read
  * schema, the pushed and runtime filters, the bbox prune, and a LIMIT,
  * TopN or partial aggregate. `timeoutMs` is the driver's HTTP timeout. */
private[graft] final case class DocQuery(schema: StructType, filters: Seq[Filter],
                                         bbox: Option[String], agg: Option[DocScan.Agg],
                                         limit: Option[Int], topn: Option[DocScan.TopN],
                                         timeoutMs: Int) {

  /** Whether anything re-applies after the server answers. A server-side
    * cap (LIMIT, TopN, an in-database aggregate) is exact only when
    * nothing does: the server's first n could shrink under a re-applied
    * filter, an under-delivery no local step could repair. */
  def rechecks: Boolean = filters.nonEmpty || bbox.isDefined

  /** Columns the reader needs from each record: the output (under an
    * aggregate, its source columns), whatever the filters and sort keys
    * compare, and the geometry when a bbox prunes. A server projects its
    * records to these when it can. */
  def needed: Seq[String] = {
    val base = agg match {
      case Some((groups, specs)) => groups ++ specs.collect {
        case AggPushdown.CountSpec(c) => c
        case AggPushdown.MinSpec(c)   => c
        case AggPushdown.MaxSpec(c)   => c
      }
      case None => schema.fieldNames.toSeq
    }
    (base ++ filters.flatMap(_.references.toSeq) ++ topn.map(_._1.map(_.col)).getOrElse(Nil) ++
      (if (bbox.isDefined) Seq("geometry") else Nil)).distinct
  }

  /** One document's output rows from its records: the bbox and the filters
    * re-applied on the FULL record (they may name columns pruned from the
    * output), then the TopN heap or the LIMIT, then the partial aggregate
    * or the row build. A global aggregate emits its one row even from no
    * records. */
  def rows(records: Iterator[DocFiles.Record]): Iterator[InternalRow] = {
    val keep = bbox.map(StringFilterEval.bboxPredicate)
    val matching = records.filter { case (m, g) =>
      keep.forall(_(g)) && filters.forall(StringFilterEval.passes(_, m))
    }
    val kept = topn match {
      case Some((keys, n)) => TopNPushdown.topN(matching, keys, n)(r => TopNPushdown.keyVec(keys, r._1))
      case None            => limit.map(matching.take).getOrElse(matching)
    }
    agg match {
      case Some((groups, specs)) => AggPushdown.aggregate(kept.map(_._1), groups, specs)
      case None =>
        // may be pruned away (e.g. count(*) requires no columns)
        val geomIdx = schema.fieldNames.indexOf("geometry")
        kept.map { case (m, g) =>
          InternalRow.fromSeq(schema.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
            if (i == geomIdx) g.orNull
            else m.get(f.name).map(UTF8String.fromString).orNull
          })
        }
    }
  }
}

private case class DocReaderFactory(wire: DocWire, query: DocQuery) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[DocPartition]
    new DocReader(wire, p.file, query.copy(filters = query.filters ++ p.runtime))
  }
}

/** One document's rows. A server document goes to the wire, which either
  * aggregates in the database or sends records; any other document is
  * read whole through the decoded-record cache. An unsatisfiable bbox
  * reads nothing at all. */
private final class DocReader(wire: DocWire, file: String, q: DocQuery)
  extends PartitionReader[InternalRow] {
  private val counts = new DocFiles.ScanCounts
  private val unsatisfiable = q.bbox.contains("empty")
  private val server = !unsatisfiable && wire.serves(file)
  private val serverAgg: Option[Iterator[InternalRow]] =
    if (server) wire.aggregate(file, q) else None
  private val source: Iterator[DocFiles.Record] =
    if (unsatisfiable || serverAgg.isDefined) Iterator.empty
    else if (server) wire.records(file, q)
    else counts.records(file, wire.format, q.timeoutMs).iterator
  private val rows: Iterator[InternalRow] = serverAgg match {
    // a server aggregates no group over no records: the global row is local
    case Some(it) if it.hasNext || q.agg.exists(_._1.nonEmpty) => it
    case _ => q.rows(source)
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def currentMetricsValues(): Array[CustomTaskMetric] = counts.values
  // an early stop (a pushed LIMIT) leaves a server cursor mid-page: its
  // socket must not outlive the task
  override def close(): Unit = (source +: serverAgg.toSeq).foreach {
    case c: AutoCloseable => c.close()
    case _                => ()
  }
}

/** `raw` decoded by `f`, closing `raw` on close: lets a wire decode a
  * server cursor and still hand the reader something it can close. */
private[sources] final class Decoded[A, B](raw: Iterator[A], f: A => IterableOnce[B])
  extends scala.collection.AbstractIterator[B] with AutoCloseable {
  private val out = raw.flatMap(f)
  override def hasNext: Boolean = out.hasNext
  override def next(): B = out.next()
  override def close(): Unit = raw match {
    case c: AutoCloseable => c.close()
    case _                => ()
  }
}
