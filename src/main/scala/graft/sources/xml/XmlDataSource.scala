package graft.sources.xml

import graft.sources.{DocFiles, Xml}
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


/** DataSource V2 for XML document collections:
  *
  * {{{
  *   spark.read.format("graft-xml")
  *     .option("recordTag", "feature")       // optional
  *     .option("columns", "name,addr__zip")  // optional: skip inference
  *     .load("/data/xml")                    // one document per file
  * }}}
  *
  * Produces the reference's flattening (`parent__child`,
  * `_attribute__elem[__attr]`, `_undef__group`, `geometry` WKB — see
  * [[graft.sources.Xml.flattenRecord]]). One input partition per file;
  * schema inferred from a bounded sample of files unless `columns` is
  * given (always pass it at 100 TB).
  */
class XmlDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-xml"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    Option(options.get("columns")) match {
      case Some(cols) =>
        XmlDataSource.schemaFor(cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      case None =>
        val recordTag = Option(options.get("recordTag"))
        val sample = DocFiles.listFiles(DocFiles.pathsOf(options)).take(8) // bounded inference
        val keys = scala.collection.mutable.SortedSet.empty[String]
        sample.foreach { f =>
          DocFiles.records(f, graft.sources.XmlDoc(recordTag), DocFiles.HttpTimeoutMs)._1
            .foreach { case (m, _) => keys ++= m.keys }
        }
        XmlDataSource.schemaFor(keys.toSeq)
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new XmlTable(schema, properties.asScala.toMap,
      DocFiles.listFiles(DocFiles.pathsOf(new CaseInsensitiveStringMap(properties))))
}

object XmlDataSource {
  def schemaFor(cols: Seq[String]): StructType = StructType(
    cols.map(StructField(_, StringType, nullable = true)) :+
      StructField("geometry", BinaryType, nullable = true))

  def isKml(doc: scala.xml.Elem): Boolean =
    doc.label.equalsIgnoreCase("kml") ||
      (doc.namespace != null && doc.namespace.contains("kml"))

  /** KML heuristic for a bare record element (no document root in sight):
    * its own namespace, or — for a server-side projected record, which is
    * a namespace-less `result` wrapper — any child's. */
  private[sources] def kmlish(e: scala.xml.Elem): Boolean =
    (e.namespace != null && e.namespace.contains("kml")) ||
      e.child.exists(c => c.namespace != null && c.namespace.contains("kml"))
}

private class XmlTable(schema: StructType, properties: Map[String, String],
                       files: Seq[String]) extends Table with SupportsRead
    with graft.sources.GraftSpatialTable {
  override def name(): String = s"graft-xml(${files.length} files)"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  // per-scan options win: SpatialFilterPushdown injects a derived `bbox`
  // into the relation options, which must not be clobbered by the
  // table-creation copy of the user options
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new XmlScanBuilder(schema, properties ++ options.asScala.toMap, files)
}

private class XmlScanBuilder(val schema: StructType, val options: Map[String, String],
                             val files: Seq[String])
  extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates
    with SupportsPushDownJoin with SupportsPushDownLimit
    with SupportsPushDownTopN {
  private var required: StructType = schema
  private[xml] var pushed: Array[Filter] = Array.empty
  private[xml] var agg: Option[(Seq[String], Seq[graft.sources.AggPushdown.Spec])] = None
  private[xml] var join: Option[XmlJoinState] = None
  private var limit: Option[Int] = None
  private var topn: Option[(Seq[graft.sources.TopNPushdown.SortKey], Int)] = None

  /** A pushed LIMIT truncates each partition after the local filter
    * re-apply, which is exactly LocalLimit's per-partition contract in
    * both modes (Spark's GlobalLimit still combines partitions). Server
    * scans additionally cap the QUERY when nothing re-applies afterwards
    * — with pushed filters the server's first-n matches could shrink
    * under the local re-apply (widened predicates), an under-delivery
    * no local step could repair, so the wire cap stays off then. */
  override def pushLimit(l: Int): Boolean = {
    if (agg.isDefined || join.isDefined || topn.isDefined) false
    else { limit = Some(l); true }
  }

  /** A pushed ORDER BY + LIMIT ([[graft.sources.TopNPushdown]]): each
    * partition answers its own top-n via a bounded heap after the local
    * filter re-apply; PARTIAL pushdown, so Spark's global sort still
    * merges partitions. Server scans with nothing to re-apply
    * additionally ship the `order by` + `subsequence` cap in the XQuery
    * ([[graft.sources.xquery.BaseXRest.orderByClause]]). */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
                        l: Int): Boolean = {
    if (agg.isDefined || join.isDefined || limit.isDefined) false
    else graft.sources.TopNPushdown.translate(orders, schema) match {
      case Some(keys) => topn = Some((keys, l)); true
      case None       => false
    }
  }

  override def isPartiallyPushed(): Boolean = true

  private[xml] def serverPushdown: Boolean =
    options.get("serverPushdown").orElse(options.get("serverpushdown"))
      .exists(_.toBoolean) && files.nonEmpty && files.forall(_.startsWith("http"))

  /** The one REST root every file of this side lives under, when they all
    * parse as `<root>/<db>/<doc>` URLs — a pushed join sends one query per
    * document pair to one server. */
  private[xml] def restRoot: Option[String] = {
    val roots = files.map(f => graft.sources.xquery.BaseXRest.anatomy(f).map(_._1))
    if (files.nonEmpty && roots.forall(_.isDefined) && roots.flatten.distinct.length == 1)
      roots.head else None
  }

  private[xml] def dialectVersion: Option[graft.sources.xquery.XQueryGen.Version] =
    scala.util.Try(graft.sources.xquery.BaseXRest.versionOf(options.get("dialect"),
      options.get("basexVersion").orElse(options.get("basexversion")))).toOption

  /** INNER equi-joins of two server-pushdown collections on ONE server
    * evaluate inside the database — the reference's 2-collection join
    * pushdown (src/getdata.ts:110 canJoin dispatch;
    * extension/xml_extension.ts:614 constructJoinQuery), surfaced through
    * Spark's own DSv2 join-pushdown negotiation
    * (`spark.sql.optimizer.datasourceV2JoinPushdown`). Both sides must be
    * plain record scans (no aggregate, no bbox prune, not already joined)
    * of the same dialect under the same REST root. */
  override def isOtherSideCompatibleForJoin(other: SupportsPushDownJoin): Boolean =
    other match {
      case o: XmlScanBuilder =>
        serverPushdown && o.serverPushdown &&
          join.isEmpty && o.join.isEmpty && agg.isEmpty && o.agg.isEmpty &&
          options.get("bbox").isEmpty && o.options.get("bbox").isEmpty &&
          dialectVersion.isDefined && dialectVersion == o.dialectVersion &&
          restRoot.isDefined && restRoot == o.restRoot
      case _ => false
    }

  /** `=` leaves (optionally AND-composed) over single-part column
    * references — the shape the join query's FLWOR `where` carries. */
  private def eqPairs(p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[Seq[(String, String)]] = p match {
    case a: org.apache.spark.sql.connector.expressions.filter.And =>
      for (l <- eqPairs(a.left()); r <- eqPairs(a.right())) yield l ++ r
    case _ if p.name() == "=" =>
      p.children() match {
        case Array(l: org.apache.spark.sql.connector.expressions.NamedReference,
                   r: org.apache.spark.sql.connector.expressions.NamedReference)
            if l.fieldNames.length == 1 && r.fieldNames.length == 1 =>
          Some(Seq((l.fieldNames.head, r.fieldNames.head)))
        case _ => None
      }
    case _ => None
  }

  override def pushDownJoin(other: SupportsPushDownJoin,
      joinType: org.apache.spark.sql.connector.join.JoinType,
      leftSideRequiredColumnsWithAliases: Array[SupportsPushDownJoin.ColumnWithAlias],
      rightSideRequiredColumnsWithAliases: Array[SupportsPushDownJoin.ColumnWithAlias],
      condition: org.apache.spark.sql.connector.expressions.filter.Predicate): Boolean = {
    // INNER pairs come straight off the server query (re-applied locally).
    // LEFT/RIGHT execute as live INNER pairs + a live fetch of the OUTER
    // side's records, null-extending locally — see XmlJoinScan; the
    // reference instead trusts its server's outer-join answer
    // (xml_extension.ts:1052 constructOuterJoin), which the exactness
    // invariant here cannot (a wrongly-matched pair can be dropped but
    // the null-extended row it displaced could not be resurrected
    // without knowing the outer side's full record set — so we fetch it).
    val jt = joinType match {
      case org.apache.spark.sql.connector.join.JoinType.INNER_JOIN       => "inner"
      case org.apache.spark.sql.connector.join.JoinType.LEFT_OUTER_JOIN  => "left"
      case org.apache.spark.sql.connector.join.JoinType.RIGHT_OUTER_JOIN => "right"
      case _ => return false
    }
    if (!isOtherSideCompatibleForJoin(other)) return false
    val o = other.asInstanceOf[XmlScanBuilder]
    val leftCols = leftSideRequiredColumnsWithAliases.toSeq
      .map(c => (c.colName, Option(c.alias).getOrElse(c.colName)))
    val rightCols = rightSideRequiredColumnsWithAliases.toSeq
      .map(c => (c.colName, Option(c.alias).getOrElse(c.colName)))
    if (!leftCols.forall(c => schema.fieldNames.contains(c._1)) ||
        !rightCols.forall(c => o.schema.fieldNames.contains(c._1))) return false
    // resolve each condition reference: output (aliased) names first, the
    // side's original columns as fallback (ON keys need not be projected)
    val leftOut = leftCols.map { case (c, out) => out -> c }.toMap
    val rightOut = rightCols.map { case (c, out) => out -> c }.toMap
    def resolve(name: String): Option[Either[String, String]] =
      (leftOut.get(name), rightOut.get(name)) match {
        case (Some(c), None) => Some(Left(c))
        case (None, Some(c)) => Some(Right(c))
        case (None, None) =>
          (schema.fieldNames.contains(name), o.schema.fieldNames.contains(name)) match {
            case (true, false) => Some(Left(name))
            case (false, true) => Some(Right(name))
            case _             => None // absent or ambiguous
          }
        case _ => None // ambiguous across sides
      }
    // a key column must map to one document path the FLWOR can compare
    def joinable(c: String): Boolean =
      c != "geometry" && !c.startsWith("_undef__")
    val on = eqPairs(condition).map(_.map { case (a, b) =>
      (resolve(a), resolve(b)) match {
        case (Some(Left(lc)), Some(Right(rc))) if joinable(lc) && joinable(rc) =>
          Some((lc, rc))
        case (Some(Right(rc)), Some(Left(lc))) if joinable(lc) && joinable(rc) =>
          Some((lc, rc))
        case _ => None
      }
    })
    on match {
      case Some(pairs) if pairs.nonEmpty && pairs.forall(_.isDefined) =>
        def typeOf(side: StructType, c: String): DataType =
          side.fields(side.fieldIndex(c)).dataType
        val joined = StructType(
          leftCols.map { case (c, out) => StructField(out, typeOf(schema, c)) } ++
            rightCols.map { case (c, out) => StructField(out, typeOf(o.schema, c)) })
        join = Some(XmlJoinState(pairs.flatten, leftCols, rightCols,
          files, o.files, options.get("recordTag"), o.options.get("recordTag"),
          pushed.toIndexedSeq, o.pushed.toIndexedSeq, jt))
        required = joined
        true
      case _ => false
    }
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** COUNT / COUNT(col) / MIN / MAX (+ GROUP BY) computed on the flattened
    * map per file — partial pushdown, Spark combines partition states
    * (reference pushes COUNT + GROUP BY into BaseX: src/getdata.ts:71-156,
    * basex_extension.ts:16-30). */
  override def pushAggregation(aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (join.isDefined) return false // joined rows aggregate in Spark
    val t = graft.sources.AggPushdown.translate(aggregation)
    agg = t
    t.isDefined
  }

  /** Accept string-column predicates we can decide on the flattened record
    * map (the reference pushes the same selections into its backend XQuery
    * — extension/basex/basex_extension.ts:130 supportedSelectionFunctions,
    * extension/xml_extension.ts:1313 constructXQuery). Accepted filters are
    * FULLY handled at parse time: non-matching records are dropped before an
    * InternalRow is ever built, and string comparison uses UTF8String binary
    * order, i.e. exactly Spark's StringType ordering. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (join.isDefined) return filters // post-join predicates stay in Spark
    val (supported, unsupported) = filters.partition(graft.sources.StringFilterEval.supports)
    pushed = supported
    unsupported
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = join match {
    case Some(js) => XmlJoinScan(required, js, options)
    case None     => XmlScan(required, options, files, pushed, agg, limit, topn)
  }
}

/** A successfully negotiated server-side join: the ON equality pairs
  * (left column, right column), each side's required columns as
  * (column, output name), files, record tags, pushed per-side filters,
  * and the join type (`inner` / `left` / `right`). */
private[xml] case class XmlJoinState(
    on: Seq[(String, String)],
    leftCols: Seq[(String, String)], rightCols: Seq[(String, String)],
    leftFiles: Seq[String], rightFiles: Seq[String],
    leftRecordTag: Option[String], rightRecordTag: Option[String],
    leftFilters: Seq[Filter], rightFilters: Seq[Filter],
    joinType: String = "inner") {

  /** Columns one side genuinely needs from its records: its required
    * output, whatever its pushed filters re-check, and its ON keys — the
    * set the join query projects server-side when expressible. */
  def needed(left: Boolean): Seq[String] = {
    val (cols, filters, keys) =
      if (left) (leftCols, leftFilters, on.map(_._1))
      else (rightCols, rightFilters, on.map(_._2))
    (cols.map(_._1) ++ filters.flatMap(_.references.toSeq) ++ keys).distinct
  }
}

/** The scan for a pushed 2-collection join. INNER: one input partition
  * per (left document, right document) pair, each POSTing the join FLWOR
  * ([[graft.sources.xquery.BaseXRest.joinDocumentQuery]]) so only
  * matching record pairs cross the wire — and re-applying the ON
  * equality plus every pushed per-side filter on the flattened records,
  * so a server that widens (or ignores) the condition costs transfer,
  * never correctness. The reference runs the same construction as one
  * single-threaded session query (getdata.ts:110); here each document
  * pair is an independent Spark task.
  *
  * LEFT/RIGHT OUTER: one partition per OUTER-side document, which runs
  * the live INNER join against every opposite document PLUS one live
  * selection of its own records, then null-extends locally every record
  * with no surviving pair. This is EXACT even against a server that
  * wrongly matches pairs (the reference instead trusts its backend's
  * constructOuterJoin answer, xml_extension.ts:1052): a dropped bogus
  * pair re-surfaces as the null-extended row because the outer side's
  * record set is known, not inferred from the server's pairing. Wire
  * cost = inner pairs + the outer side's records — still strictly less
  * than the local fallback (both sides in full) whenever the join
  * selects at all. */
private[graft] case class XmlJoinScan(required: StructType, js: XmlJoinState,
                                      options: Map[String, String])
  extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-xml server-join ${js.leftFiles.length}x${js.rightFiles.length} docs, " +
      s"Type: ${js.joinType}, " +
      s"On: [${js.on.map { case (l, r) => s"$l = $r" }.mkString(", ")}], " +
      s"LeftFilters: [${js.leftFilters.mkString(", ")}], " +
      s"RightFilters: [${js.rightFilters.mkString(", ")}], ServerExec: " +
      (if (options.get("dialect").contains("existdb")) "existdb-rest-join"
       else "basex-rest-join")

  override def planInputPartitions(): Array[InputPartition] = js.joinType match {
    case "left" => // all opposite docs in one task: null-extension needs them
      js.leftFiles.map(lf => XmlJoinPartition(Seq(lf), js.rightFiles): InputPartition).toArray
    case "right" =>
      js.rightFiles.map(rf => XmlJoinPartition(js.leftFiles, Seq(rf)): InputPartition).toArray
    case _ =>
      (for (lf <- js.leftFiles; rf <- js.rightFiles)
        yield XmlJoinPartition(Seq(lf), Seq(rf)): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val dialect = options.get("dialect")
    val basexVersion = options.get("basexVersion").orElse(options.get("basexversion"))
    // validate the dialect choice at planning time, not inside a task
    graft.sources.xquery.BaseXRest.versionOf(dialect, basexVersion)
    XmlJoinReaderFactory(required, js,
      graft.sources.DocFiles.HttpTimeoutMs, // driver capture (no executor sys.props)
      dialect, basexVersion)
  }
}

private case class XmlJoinPartition(lefts: Seq[String], rights: Seq[String])
  extends InputPartition

private case class XmlJoinReaderFactory(schema: StructType, js: XmlJoinState,
                                        httpTimeoutMs: Int,
                                        dialect: Option[String],
                                        basexVersion: Option[String])
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[XmlJoinPartition]
    val version = graft.sources.xquery.BaseXRest.versionOf(dialect, basexVersion)
    new PartitionReader[InternalRow] {
      // output field → (comes from the left side, source column)
      private val colFor: Map[String, (Boolean, String)] =
        (js.leftCols.map { case (c, out) => out -> (true, c) } ++
          js.rightCols.map { case (c, out) => out -> (false, c) }).toMap

      private def row(lm: scala.collection.Map[String, String], lg: Option[Array[Byte]],
                      rm: scala.collection.Map[String, String], rg: Option[Array[Byte]]) =
        InternalRow.fromSeq(schema.fields.toIndexedSeq.map { f =>
          val (isLeft, col) = colFor(f.name)
          if (col == "geometry") (if (isLeft) lg else rg).orNull
          else (if (isLeft) lm else rm).get(col).map(UTF8String.fromString).orNull
        })

      // match identity for the outer side: the needed string values (ON
      // keys included); equal values ⇒ identical filter + join outcome,
      // so multiplicity is exact even across indistinguishable records.
      // Hoisted once — the per-pair bookkeeping below is the hot path.
      private val outerNeeded: Seq[String] =
        (if (js.joinType == "right") js.needed(left = false)
         else js.needed(left = true)).filterNot(_ == "geometry")
      private def outerKey(m: scala.collection.Map[String, String]) =
        outerNeeded.map(m.get)

      private val matchedOuter = scala.collection.mutable.HashSet.empty[Seq[Option[String]]]

      private val pairRows: Iterator[InternalRow] =
        (for (lf <- p.lefts.iterator; rf <- p.rights.iterator) yield (lf, rf)).flatMap {
          case (lf, rf) =>
            graft.sources.xquery.BaseXRest.fetchJoinRecords(lf, rf, version,
              js.leftRecordTag, js.leftFilters, js.rightRecordTag, js.rightFilters,
              js.on, httpTimeoutMs,
              Some(js.needed(left = true)), Some(js.needed(left = false)))
              .flatMap { case (le, re) =>
                val (lm, lg) = Xml.flattenRecord(le, XmlDataSource.kmlish(le))
                val (rm, rg) = Xml.flattenRecord(re, XmlDataSource.kmlish(re))
                // local re-apply of everything the server was asked to do:
                // the pushed per-side filters AND the ON equality on the
                // flattened values (element-level matching is a superset)
                val keep =
                  js.leftFilters.forall(graft.sources.StringFilterEval.passes(_, lm)) &&
                    js.rightFilters.forall(graft.sources.StringFilterEval.passes(_, rm)) &&
                    js.on.forall { case (lc, rc) =>
                      (lm.get(lc), rm.get(rc)) match {
                        case (Some(a), Some(b)) => a == b
                        case _                  => false
                      }
                    }
                if (!keep) None
                else {
                  js.joinType match {
                    case "left"  => matchedOuter += outerKey(lm)
                    case "right" => matchedOuter += outerKey(rm)
                    case _       => ()
                  }
                  Some(row(lm, lg, rm, rg))
                }
              }
        }

      /** Null-extended rows for the outer side — evaluated only AFTER the
        * pair stream drains (the lazy ++ below), when `matchedOuter` is
        * complete: a live selection of the outer document's own records
        * (filters re-applied locally, exactly like a plain scan), one
        * null-extended row per record whose key never matched. */
      private def nullRows: Iterator[InternalRow] = {
        val left = js.joinType == "left"
        val (files, tag, filters, needed) =
          if (left) (p.lefts, js.leftRecordTag, js.leftFilters, js.needed(left = true))
          else (p.rights, js.rightRecordTag, js.rightFilters, js.needed(left = false))
        files.iterator.flatMap { f =>
          graft.sources.xquery.BaseXRest.fetchRecords(f, version, tag, filters,
            bbox = None, timeoutMs = httpTimeoutMs, needed = Some(needed))
            .flatMap { rec =>
              val (m, g) = Xml.flattenRecord(rec, XmlDataSource.kmlish(rec))
              if (!filters.forall(graft.sources.StringFilterEval.passes(_, m))) None
              else if (matchedOuter.contains(outerKey(m))) None
              else if (left) Some(row(m, g, Map.empty, None))
              else Some(row(Map.empty, None, m, g))
            }
        }
      }

      private val rows: Iterator[InternalRow] =
        if (js.joinType == "inner") pairRows
        else pairRows ++ nullRows // ++ is by-name: nullRows builds after drain

      private var current: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

private[graft] case class XmlScan(required: StructType, options: Map[String, String],
                                  files: Seq[String], pushed: Array[Filter],
                                  agg: Option[(Seq[String], Seq[graft.sources.AggPushdown.Spec])] = None,
                                  limit: Option[Int] = None,
                                  topn: Option[(Seq[graft.sources.TopNPushdown.SortKey], Int)] = None)
  extends Scan with Batch with graft.sources.GraftSpatialScan
  with graft.sources.GraftDocStatistics with SupportsRuntimeFiltering {
  override def readSchema(): StructType =
    agg.map { case (g, s) => graft.sources.AggPushdown.schemaFor(g, s) }.getOrElse(required)
  override def toBatch: Batch = this

  /** Runtime (DPP-style) filters: a join against a filtered dimension
    * hands this scan the dimension's key values at EXECUTION time, after
    * planning — the engine-side analog of partition pruning for document
    * stores. Accepted values merge into the pushed-filter set, so they
    * drop records at parse time locally and travel inside the
    * server-side XQuery selector in pushdown mode (their presence also
    * switches the wire LIMIT/TopN cap off through the existing
    * nothing-re-applies gate). Not offered under a pushed aggregation:
    * the agg path's exactness contract is with the planning-time filter
    * set. */
  @volatile private var runtime: Array[Filter] = Array.empty

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (agg.isDefined) Array.empty
    else required.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.StringType =>
        // a NON-PARSING single-part ref (see ColumnRef): a flattened
        // column with a dot (legal in XML element names / JSON keys)
        // must not resolve as a nested path and fail planning
        graft.sources.ColumnRef(f.name)
    }

  override def filter(filters: Array[Filter]): Unit =
    runtime = filters.filter(graft.sources.StringFilterEval.supports)

  override def description(): String =
    s"graft-xml ${files.length} files, PushedFilters: [${pushed.mkString(", ")}]" +
      limit.map(l => s", PushedLimit: $l").getOrElse("") +
      topn.map { case (ks, n) => s", PushedTopN: [${ks.mkString(", ")}], N: $n" }.getOrElse("") +
      options.get("bbox").map(b => s", bbox: [$b]").getOrElse("") +
      agg.map { case (g, s) =>
        s", PushedAggregation: [${s.mkString(", ")}], PushedGroupBy: [${g.mkString(", ")}]"
      }.getOrElse("") + xqueryPreview +
      (if (options.get("serverPushdown").orElse(options.get("serverpushdown"))
             .exists(_.toBoolean))
        if (options.get("dialect").contains("existdb")) ", ServerExec: existdb-rest"
        else ", ServerExec: basex-rest"
      else "")

  /** The pushed predicates as the XQuery a live BaseX deployment would
    * receive — surfaced in `explain` for observability (the engine
    * evaluates them at the scan here; [[graft.sources.xquery.XQueryGen]]
    * covers the server-side construction). */
  private def xqueryPreview: String = {
    val preds = pushed.toSeq.flatMap(graft.sources.xquery.XQueryGen.fromSparkFilter)
    if (preds.isEmpty) ""
    else s", XQueryPredicates: [${preds.mkString(" and ")}]"
  }

  override def bboxSpec: Option[String] = options.get("bbox")
  override def withBbox(spec: String): Scan = copy(options = options + ("bbox" -> spec))

  /** Partitions carry the runtime filters: BatchScanExec builds the
    * reader factory at PLANNING time but re-invokes planInputPartitions
    * after the runtime filters resolve, so the partition object is the
    * only channel that reaches the executors post-resolution. */
  override def planInputPartitions(): Array[InputPartition] =
    files.map(f => XmlInputPartition(f, runtime.toIndexedSeq): InputPartition).toArray

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    DocFiles.scanMetrics

  override def createReaderFactory(): PartitionReaderFactory = {
    val dialect = options.get("dialect")
    val basexVersion = options.get("basexVersion").orElse(options.get("basexversion"))
    // validate the dialect choice at planning time, not inside a task
    graft.sources.xquery.BaseXRest.versionOf(dialect, basexVersion)
    XmlReaderFactory(readSchema(), options.get("recordTag"), pushed, options.get("bbox"), agg,
      graft.sources.DocFiles.HttpTimeoutMs, // driver capture: executors don't see driver sys.props
      options.get("serverPushdown").orElse(options.get("serverpushdown")).exists(_.toBoolean),
      dialect, basexVersion, limit, topn)
  }
}

/** `runtime` = DPP-style filters resolved AFTER planning
  * ([[XmlScan.filter]]) — the partition is the only post-resolution
  * channel to the executors, the reader factory predates them. */
private case class XmlInputPartition(file: String,
                                     runtime: Seq[Filter] = Nil) extends InputPartition

private case class XmlReaderFactory(schema: StructType, recordTag: Option[String],
                                    filters: Array[Filter], bbox: Option[String],
                                    agg: Option[(Seq[String], Seq[graft.sources.AggPushdown.Spec])],
                                    httpTimeoutMs: Int,
                                    serverPushdown: Boolean = false,
                                    dialect: Option[String] = None,
                                    basexVersion: Option[String] = None,
                                    limit: Option[Int] = None,
                                    topn: Option[(Seq[graft.sources.TopNPushdown.SortKey], Int)] = None)
  extends PartitionReaderFactory {

  /** Columns the reader genuinely needs from each record: the output
    * schema (or, under an aggregate, the aggregate's source columns),
    * whatever the pushed + runtime filters re-check, and the geometry
    * when a bbox prunes. Server mode projects the record to these when
    * expressible. */
  private def neededColumns(eff: Seq[Filter]): Seq[String] = {
    val base = agg match {
      case Some((groups, specs)) => groups ++ specs.collect {
        case graft.sources.AggPushdown.CountSpec(c) => c
        case graft.sources.AggPushdown.MinSpec(c)   => c
        case graft.sources.AggPushdown.MaxSpec(c)   => c
      }
      case None => schema.fieldNames.toSeq
    }
    (base ++ eff.flatMap(_.references.toSeq) ++
      topn.map(_._1.map(_.col)).getOrElse(Nil) ++ // sort keys re-compare locally
      (if (bbox.isDefined) Seq("geometry") else Nil)).distinct
  }

  /** Flattened records of one partition's document. Local mode takes the
    * whole document's records from [[DocFiles.records]] (decoded once per
    * content); server mode ([[graft.sources.xquery.BaseXRest]]) runs the
    * pushed predicates INSIDE the database and receives only matching
    * records (projected to [[neededColumns]] when expressible) — but the
    * caller still re-applies every filter, so the two modes agree even
    * against a server that ignored the query. `eff` = pushed + runtime
    * filters of this partition. */
  private def docRecords(file: String, eff: Seq[Filter],
                         scanCounts: DocFiles.ScanCounts): Iterator[DocFiles.Record] =
    if (serverPushdown && file.startsWith("http")) {
      if (bbox.contains("empty")) Iterator.empty // unsatisfiable prune: no query
      else graft.sources.xquery.BaseXRest.fetchRecords(file,
          graft.sources.xquery.BaseXRest.versionOf(dialect, basexVersion),
          // an over-cap IN (a huge runtime-filter value set) stays off the
          // wire; the local re-apply below still evaluates it
          recordTag, eff.toIndexedSeq.filter(graft.sources.StringFilterEval.wireSafe),
          bbox, httpTimeoutMs,
          Some(neededColumns(eff)),
          // wire cap only when NOTHING re-applies afterwards — the
          // server's first-n could otherwise shrink under the re-apply
          if (eff.isEmpty && bbox.isEmpty) limit else None,
          // the TopN cap shares the gate, plus: every key must map to one
          // simple element path the order-by clause can rebuild
          if (eff.isEmpty && bbox.isEmpty)
            topn.filter(_._1.forall(k => graft.sources.xquery.BaseXRest.simpleName(k.col)))
          else None)
        // kml-ness is per record here (no document root to inspect); a
        // projected record carries it only on the copied spatial children
        .map(r => Xml.flattenRecord(r, XmlDataSource.kmlish(r)))
    } else scanCounts.records(file, graft.sources.XmlDoc(recordTag), httpTimeoutMs).iterator

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[XmlInputPartition]
    val file = p.file
    // pushed + runtime (DPP) filters — the latter arrive via the
    // partition, resolved after the factory was built
    val eff: Seq[Filter] = filters.toIndexedSeq ++ p.runtime
    new PartitionReader[InternalRow] {
      // may be pruned away (e.g. count(*) requires no columns)
      private val geomIdx =
        if (schema.fieldNames.contains("geometry")) schema.fieldIndex("geometry") else -1
      private val bboxKeep = bbox.map(graft.sources.StringFilterEval.bboxPredicate)
      private val scanCounts = new DocFiles.ScanCounts
      private val rows: Iterator[InternalRow] = {
        // COUNT(+GROUP BY) can aggregate INSIDE the database when every
        // pushed piece is XQuery-expressible — only per-group partials
        // cross the wire then (the reference's COUNT pushdown into BaseX).
        // Runtime filters never coexist with agg (filterAttributes): eff
        // here is exactly the planning-time filter set.
        val serverAgg = agg.filter { case (groups, specs) =>
          serverPushdown && file.startsWith("http") && !bbox.contains("empty") &&
            // server agg forfeits the local re-apply, so every predicate
            // must ALSO fit the wire — an over-cap IN falls back to
            // record transfer + local partials
            eff.forall(graft.sources.StringFilterEval.wireSafe) &&
            graft.sources.xquery.BaseXRest.supportsServerAgg(
              graft.sources.xquery.BaseXRest.versionOf(dialect, basexVersion),
              eff.toIndexedSeq, bbox, groups, specs)
        }
        if (serverAgg.isDefined) {
          val (groups, specs) = serverAgg.get
          graft.sources.xquery.BaseXRest.fetchAggRows(file,
            graft.sources.xquery.BaseXRest.versionOf(dialect, basexVersion),
            recordTag, eff.toIndexedSeq, groups, specs, httpTimeoutMs).iterator
        } else {
          // pushed filters run on the FULL flattened map (they may reference
          // columns pruned from the output schema) before any row is built
          val matching = docRecords(file, eff, scanCounts).filter { case (m, g) =>
            bboxKeep.forall(_(g)) && eff.forall(graft.sources.StringFilterEval.passes(_, m))
          }
          // pushed LIMIT: per-partition truncation AFTER the re-apply —
          // LocalLimit's contract exactly (builder refuses limit+agg);
          // pushed TopN: the bounded per-partition heap (mutually
          // exclusive with limit by the builder)
          val records = topn match {
            case Some((keys, n)) =>
              graft.sources.TopNPushdown.topN(matching, keys, n)(
                r => graft.sources.TopNPushdown.keyVec(keys, r._1))
            case None => limit.map(matching.take).getOrElse(matching)
          }
          agg match {
            case Some((groups, specs)) =>
              graft.sources.AggPushdown.aggregate(records.map(_._1), groups, specs)
            case None => records.map { case (m, g) =>
              InternalRow.fromSeq(schema.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
                if (i == geomIdx) g.orNull
                else m.get(f.name).map(UTF8String.fromString).orNull
              })
            }
          }
        }
      }
      private var current: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true } else false
      override def get(): InternalRow = current
      override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
        scanCounts.values
      override def close(): Unit = ()
    }
  }
}
