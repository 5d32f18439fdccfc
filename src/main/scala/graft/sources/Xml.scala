package graft.sources

import graft.geo.{GeomSerde, GmlKml}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable.LinkedHashMap
import scala.xml.{Elem, Node}

/** Distributed XML document source with the reference's row-flattening
  * conventions (reference: extension/xml_extension.ts:500-660):
  *
  *   - record = child element of the document root (or `recordTag`);
  *   - simple child element           → column `<name>` (text value);
  *   - nested element                 → column `<parent>__<child>`;
  *   - attribute on the record        → column `_attribute__<name>`;
  *   - attribute on a child element   → column `_attribute__<elem>__<name>`;
  *   - recognized GML/KML geometry    → column `geometry` (WKB bytes)
  *     (types per reference basex_extension.ts:110-128).
  *
  * Parsing is fully distributed: one task per file/document, schema united
  * from per-record keys. At 100 TB, pass an explicit `columns` list to skip
  * the inference job (the two-pass default is for exploration).
  */
object Xml {

  private val SpatialTypes = Set(
    "Point", "LineString", "LinearRing", "Polygon",
    "MultiPoint", "MultiLineString", "MultiPolygon", "MultiGeometry")

  /** Flattens one record element to (column → string value) plus optional
    * geometry WKB. Geometry parses straight from the record's DOM nodes,
    * which a hardened [[graft.geo.SecureXml]] loader already produced. */
  def flattenRecord(rec: Node, kml: Boolean): (Map[String, String], Option[Array[Byte]]) = {
    val out = LinkedHashMap.empty[String, String]
    var geom: Option[Array[Byte]] = None

    rec.attributes.foreach { a => out(s"_attribute__${a.key}") = a.value.text }

    rec.child.collect { case e: Elem => e }.foreach { c =>
      if (SpatialTypes(c.label)) {
        val g = if (kml) GmlKml.parseKmlNode(c) else GmlKml.parseGmlNode(c)
        geom = Some(GeomSerde.toWkb(g))
      } else if (c.attribute("group").isDefined) {
        // un-named grouped member → `_undef__<group>` (reference:
        // extension/xml_extension.ts:119,653 `*[@group=…]` → `_undef__`)
        out(s"_undef__${c.attribute("group").get.text}") = c.text
      } else {
        c.attributes.foreach { a => out(s"_attribute__${c.label}__${a.key}") = a.value.text }
        val grandchildren = c.child.collect { case e: Elem => e }
        if (grandchildren.isEmpty) {
          out(c.label) = c.text
        } else {
          grandchildren.foreach { gc =>
            if (SpatialTypes(gc.label)) {
              val g = if (kml) GmlKml.parseKmlNode(gc) else GmlKml.parseGmlNode(gc)
              geom = Some(GeomSerde.toWkb(g))
            } else {
              out(s"${c.label}__${gc.label}") = gc.text
            }
          }
        }
      }
    }
    (out.toMap, geom)
  }

  /** Record elements of a parsed document: `recordTag` descendants, or all
    * children of the root when no tag is given. */
  def records(doc: Elem, recordTag: Option[String]): Seq[Node] = recordTag match {
    case Some(tag) => (doc \\ tag).toList
    case None      => doc.child.collect { case e: Elem => e }.toList
  }

  /** Reads a directory/glob of XML files (one document per file). */
  def read(spark: SparkSession, path: String,
           recordTag: Option[String] = None,
           columns: Option[Seq[String]] = None): DataFrame = {
    import spark.implicits._
    val docs = spark.read.option("wholetext", "true").textFile(path)
    fromDocuments(docs.toDF("xml"), "xml", recordTag, columns)
  }

  /** Flattens a DataFrame column of XML document strings (e.g. loaded from
    * parquet, Kafka, or one-doc-per-line files). */
  def fromDocuments(df: DataFrame, xmlCol: String,
                    recordTag: Option[String] = None,
                    columns: Option[Seq[String]] = None): DataFrame = {
    val format = XmlDoc(recordTag)
    DocFiles.fromDocuments(df, xmlCol, columns)(text =>
      format.records(graft.geo.SecureXml.document.loadString(text)))
  }

  /** Whether a document is KML (its root is `kml` or in a KML namespace),
    * which decides how its geometry elements parse. */
  def isKml(doc: Elem): Boolean =
    doc.label.equalsIgnoreCase("kml") ||
      (doc.namespace != null && doc.namespace.contains("kml"))

  /** KML heuristic for a bare record element (no document root in sight):
    * its own namespace, or — for a server-side projected record, which is
    * a namespace-less `result` wrapper — any child's. */
  private[sources] def kmlish(e: Elem): Boolean =
    (e.namespace != null && e.namespace.contains("kml")) ||
      e.child.exists(c => c.namespace != null && c.namespace.contains("kml"))
}
