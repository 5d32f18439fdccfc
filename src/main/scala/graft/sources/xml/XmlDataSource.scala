package graft.sources.xml

import graft.sources._
import graft.sources.xquery.{BaseXRest, XQueryGen}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.Filter
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
class XmlDataSource extends DocSource {
  override def shortName(): String = "graft-xml"

  override private[graft] def wire(options: DocOptions): XmlWire = XmlWire(
    options.get("recordTag"), options.flag("serverPushdown"),
    BaseXRest.versionOf(options.get("dialect"), options.get("basexVersion")))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new XmlTable(this, schema, properties.asScala.toMap,
      () => DocFiles.listFiles(DocFiles.pathsOf(new CaseInsensitiveStringMap(properties))))
}

/** The graft-xml half of the document scan: documents decode through
  * [[XmlDoc]]; with `serverPushdown`, `http(s)` documents are BaseX/eXist
  * REST resources ([[BaseXRest]]) that run the pushed predicates, caps
  * and aggregates inside the database. */
private[graft] final case class XmlWire(recordTag: Option[String], serverPushdown: Boolean,
                                        version: XQueryGen.Version) extends DocWire {
  override def name: String = "graft-xml"
  override def format: DocFormat = XmlDoc(recordTag)
  override def serves(file: String): Boolean = serverPushdown && file.startsWith("http")

  /** The pushed predicates as the XQuery a live BaseX deployment would
    * receive, surfaced in `explain`, and where the query executes. */
  override def describe(scan: DocScan): String = {
    val preds = scan.pushed.toSeq.flatMap(XQueryGen.fromSparkFilter)
    (if (preds.isEmpty) "" else s", XQueryPredicates: [${preds.mkString(" and ")}]") +
      (if (!serverPushdown) ""
       else if (version == XQueryGen.ExistDb601) ", ServerExec: existdb-rest"
       else ", ServerExec: basex-rest")
  }

  /** The matching records, projected to [[DocQuery.needed]] when
    * expressible. An over-cap IN (a huge runtime-filter value set) stays
    * off the wire; the LIMIT / TopN cap rides the query only when nothing
    * re-applies afterwards, and a TopN only when every key maps to one
    * simple element path the `order by` clause can rebuild. */
  override def records(file: String, q: DocQuery): Iterator[DocFiles.Record] =
    BaseXRest.fetchRecords(file, version, recordTag,
      q.filters.filter(StringFilterEval.wireSafe), q.bbox, q.timeoutMs, Some(q.needed),
      if (q.rechecks) None else q.limit,
      if (q.rechecks) None else q.topn.filter(_._1.forall(k => BaseXRest.simpleName(k.col))))
      // kml-ness is per record here (no document root to inspect); a
      // projected record carries it only on the copied spatial children
      .map(r => Xml.flattenRecord(r, Xml.kmlish(r)))

  /** COUNT / MIN / MAX (+ GROUP BY) inside the database when every pushed
    * piece is XQuery-expressible: only per-group partials cross the wire
    * (the reference's COUNT pushdown into BaseX). Nothing re-applies
    * afterwards, so every predicate must also fit the wire; an over-cap IN
    * falls back to record transfer and local partials. */
  override def aggregate(file: String, q: DocQuery): Option[Iterator[InternalRow]] =
    q.agg.filter { case (groups, specs) =>
      q.filters.forall(StringFilterEval.wireSafe) &&
        BaseXRest.supportsServerAgg(version, q.filters, q.bbox, groups, specs)
    }.map { case (groups, specs) =>
      BaseXRest.fetchAggRows(file, version, recordTag, q.filters, groups, specs, q.timeoutMs).iterator
    }
}

private class XmlTable(source: XmlDataSource, schema: StructType, properties: Map[String, String],
                       listFiles: () => Seq[String])
  extends DocTable(schema, properties, listFiles) {
  override def name(): String = s"graft-xml(${files.length} files)"
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override protected def scanBuilder(options: DocOptions): DocScanBuilder =
    new XmlScanBuilder(source.wire(options), schema, options, files)
}

/** The document scan builder plus graft-xml's join pushdown. */
private class XmlScanBuilder(override val wire: XmlWire, schema: StructType,
                             options: DocOptions, files: Seq[String])
  extends DocScanBuilder(wire, schema, options, files) with SupportsPushDownJoin {
  private[xml] var join: Option[XmlJoinState] = None

  override protected def joined: Boolean = join.isDefined

  /** The one REST root every file of this side lives under, when they all
    * parse as `<root>/<db>/<doc>` URLs — a pushed join sends one query per
    * document pair to one server. */
  private[xml] def restRoot: Option[String] = {
    val roots = files.map(f => BaseXRest.anatomy(f).map(_._1))
    if (files.nonEmpty && roots.forall(_.isDefined) && roots.flatten.distinct.length == 1)
      roots.head else None
  }

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
        Seq(this, o).forall(b => b.files.nonEmpty && b.files.forall(b.wire.serves) &&
          b.join.isEmpty && b.agg.isEmpty && b.options.get("bbox").isEmpty) &&
          wire.version == o.wire.version && restRoot.isDefined && restRoot == o.restRoot
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
        val joinedSchema = StructType(
          leftCols.map { case (c, out) => StructField(out, typeOf(schema, c)) } ++
            rightCols.map { case (c, out) => StructField(out, typeOf(o.schema, c)) })
        join = Some(XmlJoinState(pairs.flatten, leftCols, rightCols,
          files, o.files, wire.recordTag, o.wire.recordTag,
          pushed.toIndexedSeq, o.pushed.toIndexedSeq, jt))
        required = joinedSchema
        true
      case _ => false
    }
  }

  override def build(): Scan = join match {
    case Some(js) => XmlJoinScan(required, js, wire)
    case None     => super.build()
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
  * ([[BaseXRest.joinDocumentQuery]]) so only
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
private[graft] case class XmlJoinScan(required: StructType, js: XmlJoinState, wire: XmlWire)
  extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-xml server-join ${js.leftFiles.length}x${js.rightFiles.length} docs, " +
      s"Type: ${js.joinType}, " +
      s"On: [${js.on.map { case (l, r) => s"$l = $r" }.mkString(", ")}], " +
      s"LeftFilters: [${js.leftFilters.mkString(", ")}], " +
      s"RightFilters: [${js.rightFilters.mkString(", ")}], ServerExec: " +
      (if (wire.version == XQueryGen.ExistDb601) "existdb-rest-join" else "basex-rest-join")

  override def planInputPartitions(): Array[InputPartition] = js.joinType match {
    case "left" => // all opposite docs in one task: null-extension needs them
      js.leftFiles.map(lf => XmlJoinPartition(Seq(lf), js.rightFiles): InputPartition).toArray
    case "right" =>
      js.rightFiles.map(rf => XmlJoinPartition(js.leftFiles, Seq(rf)): InputPartition).toArray
    case _ =>
      (for (lf <- js.leftFiles; rf <- js.rightFiles)
        yield XmlJoinPartition(Seq(lf), Seq(rf)): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    XmlJoinReaderFactory(required, js, wire.version,
      DocFiles.HttpTimeoutMs) // driver capture (no executor sys.props)
}

private case class XmlJoinPartition(lefts: Seq[String], rights: Seq[String])
  extends InputPartition

private case class XmlJoinReaderFactory(schema: StructType, js: XmlJoinState,
                                        version: XQueryGen.Version, httpTimeoutMs: Int)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[XmlJoinPartition]
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
            BaseXRest.fetchJoinRecords(lf, rf, version,
              js.leftRecordTag, js.leftFilters, js.rightRecordTag, js.rightFilters,
              js.on, httpTimeoutMs,
              Some(js.needed(left = true)), Some(js.needed(left = false)))
              .flatMap { case (le, re) =>
                val (lm, lg) = Xml.flattenRecord(le, Xml.kmlish(le))
                val (rm, rg) = Xml.flattenRecord(re, Xml.kmlish(re))
                // local re-apply of everything the server was asked to do:
                // the pushed per-side filters AND the ON equality on the
                // flattened values (element-level matching is a superset)
                val keep =
                  js.leftFilters.forall(StringFilterEval.passes(_, lm)) &&
                    js.rightFilters.forall(StringFilterEval.passes(_, rm)) &&
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
          BaseXRest.fetchRecords(f, version, tag, filters,
            bbox = None, timeoutMs = httpTimeoutMs, needed = Some(needed))
            .flatMap { rec =>
              val (m, g) = Xml.flattenRecord(rec, Xml.kmlish(rec))
              if (!filters.forall(StringFilterEval.passes(_, m))) None
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
