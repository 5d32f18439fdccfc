package graft.sources

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
import graft.geo.{GeoJson, GeomSerde}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.collection.mutable.LinkedHashMap

/** GeoJSON Feature/FeatureCollection document source — the reference's
  * MongoDB/CouchDB data model (reference: extension/json_extension.ts:100
  * getFieldsData: `properties.*` → columns, `geometry` → geometry value).
  *
  * Each Feature flattens to `properties.*` string/number columns plus a
  * `geometry` WKB column. FeatureCollections explode to one row per
  * feature. Distributed: one task per document; schema united from keys
  * (or pass `columns` to skip inference — the 100 TB path).
  */
object GeoJsonSource {

  /** Flattens one Feature JSON object into (properties, geometry WKB). */
  def flattenFeature(json: String): Seq[(Map[String, String], Option[Array[Byte]])] = {
    val features = scala.collection.mutable.ArrayBuffer.empty[(Map[String, String], Option[Array[Byte]])]
    val p = new JsonFactory().createParser(json)
    try {
      require(p.nextToken() == JsonToken.START_OBJECT, "GeoJSON must be an object")
      parseObj(p, features)
    } finally p.close()
    features.toSeq
  }

  private def parseObj(p: JsonParser,
                       out: scala.collection.mutable.ArrayBuffer[(Map[String, String], Option[Array[Byte]])]): Unit = {
    var typ: String = null
    val props = LinkedHashMap.empty[String, String]
    var geom: Option[Array[Byte]] = None
    var isCollection = false

    while (p.nextToken() != JsonToken.END_OBJECT) {
      p.currentName() match {
        case "type" =>
          p.nextToken(); typ = p.getText
        case "features" =>
          isCollection = true
          p.nextToken() // START_ARRAY
          while (p.nextToken() != JsonToken.END_ARRAY) parseObj(p, out)
        case "properties" =>
          p.nextToken()
          if (p.currentToken() == JsonToken.START_OBJECT) {
            while (p.nextToken() != JsonToken.END_OBJECT) {
              val key = p.currentName()
              p.nextToken() match {
                case JsonToken.START_OBJECT | JsonToken.START_ARRAY => p.skipChildren()
                case JsonToken.VALUE_NULL => props(key) = null
                case _ => props(key) = p.getText
              }
            }
          }
        case "geometry" =>
          p.nextToken()
          if (p.currentToken() == JsonToken.START_OBJECT) {
            // re-serialize the subtree and parse with the geometry codec
            val sw = new java.io.StringWriter()
            val gen = new JsonFactory().createGenerator(sw)
            gen.copyCurrentStructure(p)
            gen.close()
            geom = Some(GeomSerde.toWkb(GeoJson.parse(sw.toString)))
          }
        case _ =>
          p.nextToken(); p.skipChildren()
      }
    }
    if (!isCollection) out += ((props.toMap, geom))
  }

  /** Reads files of GeoJSON documents (one Feature or FeatureCollection per
    * file, or one per line with `multiLine = false`). */
  def read(spark: SparkSession, path: String,
           multiLine: Boolean = true,
           columns: Option[Seq[String]] = None): DataFrame = {
    import spark.implicits._
    val raw =
      if (multiLine) spark.read.option("wholetext", "true").textFile(path)
      else spark.read.textFile(path)
    fromDocuments(raw.toDF("json"), "json", columns)
  }

  /** Flattens a DataFrame column holding GeoJSON document strings. */
  def fromDocuments(df: DataFrame, jsonCol: String,
                    columns: Option[Seq[String]] = None): DataFrame =
    DocFiles.fromDocuments(df, jsonCol, columns)(flattenFeature)

  /** Distributed GeoJSON export — the 100 TB-shaped inverse of
    * [[toFeatureCollection]] (which collects to the driver): one NDJSON
    * Feature per LINE, one file per partition, plus an underscore-prefixed
    * `_MANIFEST.json` (feature count + property columns — the
    * [[graft.operators.Corpus.writeShards]] manifest pattern; parquet and
    * the graft sources both skip `_` files). Entirely executor-side: the
    * feature line is built from codegen'd column expressions (`to_json`
    * for RFC-escaped properties, `st_asgeojson` for the geometry) and
    * written by Spark's text sink — no driver collect at any size. The
    * export reads straight back through
    * `spark.read.format("graft-geojson").option("multiLine","false")`.
    *
    * `mode` defaults to `ErrorIfExists`, like [[graft.operators.Corpus
    * .writeShards]]: pass `SaveMode.Overwrite` explicitly to replace. */
  def writeFeatures(df: DataFrame, geomCol: String, outDir: String,
                    saveMode: org.apache.spark.sql.SaveMode =
                      org.apache.spark.sql.SaveMode.ErrorIfExists): Unit = {
    import org.apache.spark.sql.functions._
    graft.Graft.register(df.sparkSession)
    val props = df.schema.fieldNames.filterNot(_ == geomCol).toSeq
    require(df.schema.fieldNames.contains(geomCol),
      s"geometry column '$geomCol' not in ${df.schema.fieldNames.mkString(", ")}")
    // to_json omits null properties; the reader's flattening answers null
    // for a missing key, so the round-trip preserves SQL NULL. Column
    // references are backtick-quoted: GeoJSON property keys may contain
    // dots (the reader keeps raw JSON keys as flat column names), which
    // a bare col() would parse as a nested-field path
    def ref(name: String) = col("`" + name.replace("`", "``") + "`")
    val propsJson =
      if (props.isEmpty) lit("{}") else to_json(struct(props.map(ref): _*))
    val line = concat(
      lit("""{"type":"Feature","properties":"""), propsJson,
      lit(""","geometry":"""),
      coalesce(call_function("st_asgeojson", ref(geomCol)), lit("null")),
      lit("}"))
    df.select(line.as("value")).write.mode(saveMode).text(outDir)
    // manifest from a readback count (scan of what was just written — no
    // extra pass over the source frame, no driver-held rows)
    val n = df.sparkSession.read.text(outDir).count()
    val dir = new org.apache.hadoop.fs.Path(outDir)
    writeManifest(dir.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration),
      dir, n, geomCol, props)
  }

  /** Inverse direction — the reference's result shape
    * (reference: src/index.ts:323 convertRestoGeoJSON): rows → GeoJSON
    * FeatureCollection string per partition-collected result. Intended for
    * result export of SMALL final frames (it collects to the driver). */
  def toFeatureCollection(df: DataFrame, geomCol: String): String =
    toFeatureCollection(df.collect(), df.schema, geomCol)(
      g => GeoJson.write(GeomSerde.fromWkb(g.asInstanceOf[Array[Byte]])))

  /** The same conversion over already-collected rows — the serving path
    * calls this with its single per-request collect, with a `geomJson`
    * that matches what the geometry column actually holds (WKB here,
    * `ST_AsGeoJSON` text in `Graft.processQuery`). One emitter for every
    * FeatureCollection the engine produces: property names and string
    * values are RFC 8259-escaped, NaN/Infinity (no JSON literal) emit as
    * null. */
  def toFeatureCollection(rows: Array[Row], schema: StructType,
                          geomCol: String)(geomJson: Any => String): String = {
    val geomIdx = schema.fieldIndex(geomCol)
    val others = schema.fields.zipWithIndex.filter(_._2 != geomIdx)
    val sb = new StringBuilder("""{"type":"FeatureCollection","features":[""")
    rows.zipWithIndex.foreach { case (row, i) =>
      if (i > 0) sb.append(',')
      sb.append("""{"type":"Feature","properties":{""")
      others.zipWithIndex.foreach { case ((f, fi), oi) =>
        if (oi > 0) sb.append(',')
        sb.append(graft.JsonText.str(f.name)).append(':').append(jsonScalar(row.get(fi)))
      }
      sb.append("},\"geometry\":")
      row.get(geomIdx) match {
        case null => sb.append("null")
        case g => sb.append(geomJson(g))
      }
      sb.append('}')
    }
    sb.append("]}")
    sb.toString
  }

  /** One property value as JSON — the ONE rendering rule every feature
    * emitter shares (FeatureCollection export above, the DSv2 writer):
    * null and non-representable floats (NaN/Infinity have no JSON
    * literal) emit null, numbers/booleans emit bare (decimals in plain
    * notation), everything else quotes + RFC 8259-escapes. */
  private[sources] def jsonScalar(v: Any): String = v match {
    case null => "null"
    case d: java.lang.Double if d.isNaN || d.isInfinite => "null"
    case fl: java.lang.Float if fl.isNaN || fl.isInfinite => "null"
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.underlying.toPlainString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case s => graft.JsonText.str(s.toString)
  }

  /** The `_MANIFEST.json` both export paths write — ONE format
    * (feature count, geometry column, property names), underscore-
    * prefixed so readers skip it. */
  private[sources] def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, nFeatures: Long,
      geomCol: String, props: Seq[String]): Unit = {
    val json = s"""{"n_features": $nFeatures, "geometry_col": ${graft.JsonText.str(geomCol)},""" +
      s""" "properties": [${props.map(graft.JsonText.str).mkString(", ")}]}"""
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "_MANIFEST.json"), true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }
}
