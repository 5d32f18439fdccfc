package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Shared path handling for the graft-xml / graft-geojson DSv2 sources. */
private[sources] object DocFiles {

  /** Expands directories and glob patterns to concrete data files.
    * Glob-first (`globStatus` also resolves literal paths), so
    * `.load("/data/&#42;.xml")` works and a literal missing path still
    * fails with a clear error. Hidden/metadata files (`_SUCCESS`,
    * `.crc`) are skipped so directories written by Spark itself read
    * cleanly. `http(s)://` paths are network collections — see
    * [[listHttpCollection]]; the per-document readers are URL-streams
    * already, so executors fetch their own documents (no driver fan-in). */
  def listFiles(paths: Seq[String]): Seq[String] = {
    val conf = org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration
    paths.flatMap { p =>
      if (p.startsWith("http://") || p.startsWith("https://")) listHttpCollection(p)
      else {
        val path = new Path(p)
        val fs = path.getFileSystem(conf)
        val matched = fs.globStatus(path) match {
          case null => throw new java.io.FileNotFoundException(s"Path does not exist: $p")
          case arr  => arr.toSeq
        }
        val stats = matched.flatMap { s =>
          if (s.isDirectory) fs.listStatus(s.getPath).toSeq else Seq(s)
        }
        stats.filter(s => s.isFile &&
            !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
          .map(_.getPath.toString)
      }
    }
  }

  /** Total on-disk bytes of the listed documents, or empty when any of
    * them is a network URL (no measurable size) or the filesystem cannot
    * answer — the caller falls back to Spark's conservative default.
    * Statistics are best-effort by contract, so ANY failure (including
    * the RuntimeExceptions some Hadoop connectors wrap auth/config
    * errors in) degrades to "unknown" rather than failing planning.
    * One listStatus per parent directory, not one RPC per file — a
    * 10k-document collection costs a handful of driver round-trips. */
  def bytesOf(files: Seq[String]): java.util.OptionalLong =
    if (files.exists(f => f.startsWith("http://") || f.startsWith("https://")))
      java.util.OptionalLong.empty()
    else try {
      val conf = org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration
      var total = 0L
      files.map(new Path(_)).groupBy(_.getParent).foreach { case (parent, ps) =>
        val fs = parent.getFileSystem(conf)
        if (ps.size <= 2) total += ps.map(fs.getFileStatus(_).getLen).sum
        else {
          // one listing amortizes the whole sibling group; per-file
          // status only when the group is too small to pay for it
          val wanted = ps.map(_.getName).toSet
          total += fs.listStatus(parent)
            .filter(s => wanted(s.getPath.getName)).map(_.getLen).sum
        }
      }
      java.util.OptionalLong.of(total)
    } catch { case scala.util.control.NonFatal(_) => java.util.OptionalLong.empty() }

  private val DocExtensions =
    Seq(".xml", ".kml", ".gml", ".geojson", ".json", ".ndjson")

  /** Resolves an HTTP collection URL to document URLs, the way the
    * reference drives a running BaseX's REST surface (GET `/rest/<db>`
    * answers an XML listing of `<rest:resource>` entries; GET
    * `/rest/<db>/<doc>` answers the document — reference
    * extension/basex/basex_extension.ts). A URL already naming a document
    * (by extension) is returned as-is without a round-trip; a URL whose
    * response is not a resource listing is treated as a single document. */
  private[sources] def listHttpCollection(url: String): Seq[String] = {
    val lower = url.toLowerCase
    if (DocExtensions.exists(lower.endsWith)) return Seq(url)
    val body =
      try {
        val conn = new java.net.URI(url).toURL.openConnection()
        // a hung endpoint must fail, not block driver-side planning forever
        conn.setConnectTimeout(HttpTimeoutMs)
        conn.setReadTimeout(HttpTimeoutMs)
        val in = conn.getInputStream
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      } catch {
        case e: Exception =>
          throw new java.io.FileNotFoundException(s"HTTP collection $url: $e")
      }
    // SecureXml.strict: the listing body is untrusted network content.
    // BaseX names resources in element text (<rest:resource>a.xml</…>),
    // eXist in a name attribute (<exist:resource name="a.xml"/>).
    val resources =
      try (graft.geo.SecureXml.strict.loadString(body) \\ "resource")
        .flatMap { r =>
          Some(r.text.trim).filter(_.nonEmpty)
            .orElse(r.attribute("name").map(_.text.trim).filter(_.nonEmpty))
        }
      catch { case _: Exception => Seq.empty }
    if (resources.nonEmpty) {
      val base = if (url.endsWith("/")) url else url + "/"
      resources.map(base + _)
    } else Seq(url) // the endpoint served a document, not a listing
  }

  /** Connect/read timeout for HTTP collection traffic (listing and
    * per-document fetches), overridable via the `graft.http.timeout.ms`
    * JVM property. Resolved where EVALUATED: driver-side for planning
    * (listing, schema inference), and at reader-factory CONSTRUCTION for
    * scans — the factories capture the value on the driver and serialize
    * it to executors, so a driver-set property governs executor fetches
    * too (executor JVMs don't inherit driver sys.props). */
  private[sources] def HttpTimeoutMs: Int =
    sys.props.get("graft.http.timeout.ms").flatMap(_.toIntOption).getOrElse(60000)

  /** Opens a document URL with timeouts set — shared by the DSv2 readers so
    * an executor task on a stalled server fails instead of hanging.
    * Executor-side callers must pass the driver-captured timeout. */
  private[sources] def openDocStream(url: String,
                                     timeoutMs: Int = HttpTimeoutMs): java.io.InputStream = {
    val conn = new java.net.URI(url).toURL.openConnection()
    conn.setConnectTimeout(timeoutMs)
    conn.setReadTimeout(timeoutMs)
    conn.getInputStream
  }

  /** POSTs a request body and returns the response text — the transport for
    * server-side query execution (BaseX `rest:query`, CouchDB `_find`).
    * Timeouts as in [[openDocStream]]; an HTTP error status raises with the
    * response head so a rejected query fails the task with the server's
    * diagnostic instead of a parse error downstream. */
  private[sources] def post(url: String, body: String, contentType: String,
                            timeoutMs: Int): String = {
    val conn = new java.net.URI(url).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(timeoutMs)
    conn.setReadTimeout(timeoutMs)
    conn.setRequestMethod("POST")
    conn.setRequestProperty("Content-Type", contentType)
    conn.setDoOutput(true)
    val out = conn.getOutputStream
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val code = conn.getResponseCode
    val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val text =
      if (in == null) ""
      else try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    if (code >= 400)
      throw new java.io.IOException(s"POST $url: HTTP $code ${text.take(500)}")
    text
  }

  /** One flattened record: column → string value, plus the geometry WKB. */
  type Record = (Map[String, String], Option[Array[Byte]])

  /** The decoded records of one document, and whether they came from
    * `cache`. Every whole-document decode of the file scans and of schema
    * inference goes through here. The bytes are read on every call; the
    * decode runs only when `(format, SHA-256 of the bytes)` is not cached,
    * so a rewritten file is never served stale, whatever its mtime or
    * length. Pushed filters, bbox, LIMIT, TopN and partial aggregates stay
    * per query, on the returned records. */
  def records(file: String, format: DocFormat, timeoutMs: Int,
              cache: DecodedDocs = DecodedDocs.shared): (IndexedSeq[Record], Boolean) = {
    val in = openDocStream(file, timeoutMs)
    val bytes = try in.readAllBytes() finally in.close()
    cache.getOrDecode(format, bytes)(format.decode(file, bytes))
  }

  /** The two scan metrics of the graft-xml / graft-geojson file scans. */
  def scanMetrics: Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new DocumentsDecodedMetric, new DocumentsCachedMetric)

  /** One reader's counts behind [[scanMetrics]]. */
  final class ScanCounts {
    private var decoded = 0L
    private var cached = 0L

    def records(file: String, format: DocFormat, timeoutMs: Int): IndexedSeq[Record] = {
      val (recs, hit) = DocFiles.records(file, format, timeoutMs)
      if (hit) cached += 1 else decoded += 1
      recs
    }

    def values: Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
      Array(taskMetric(DocumentsDecodedMetric.Name, decoded),
        taskMetric(DocumentsCachedMetric.Name, cached))

    private def taskMetric(n: String, v: Long) =
      new org.apache.spark.sql.connector.metric.CustomTaskMetric {
        override def name(): String = n
        override def value(): Long = v
      }
  }

  /** Flattens a DataFrame column of document strings, `decode` giving the
    * records of each: one row per record, with string columns (inferred
    * from the records' keys by one more job, unless `columns` is given)
    * and then the WKB `geometry`. */
  def fromDocuments(df: DataFrame, col: String, columns: Option[Seq[String]])(
      decode: String => IterableOnce[Record]): DataFrame = {
    val idx = df.schema.fieldIndex(col)
    val flattened = df.mapPartitions(_.flatMap(row => decode(row.getString(idx))))(
      Encoders.tuple(Encoders.kryo[Map[String, String]], Encoders.kryo[Option[Array[Byte]]]))
    // explicit columns skip the inference pass (the 100 TB path)
    val cols = columns.getOrElse(
      flattened.flatMap(_._1.keys)(Encoders.STRING).distinct().collect().sorted.toSeq)
    flattened.map { case (m, g) => Row.fromSeq(cols.map(m.get(_).orNull) :+ g.orNull) }(
      Encoders.row(DocScan.schemaFor(cols)))
  }

  /** Spark encodes `.load(p1, p2, …)` as a JSON array under "paths". */
  def pathsOf(options: CaseInsensitiveStringMap): Seq[String] = {
    val multi = Option(options.get("paths")).map { js =>
      js.stripPrefix("[").stripSuffix("]").split(",")
        .map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
    }
    multi.getOrElse(Option(options.get("path")).toSeq)
  }
}

/** How one document's bytes decode to flattened records. The value is half
  * of the [[DecodedDocs]] key, so every field that changes the decode
  * (the record tag, the line mode) belongs in it. */
private[sources] sealed trait DocFormat {
  def decode(file: String, bytes: Array[Byte]): IndexedSeq[DocFiles.Record]
}

/** An XML document: the `recordTag` descendants, or the root's children,
  * flattened by [[Xml.flattenRecord]]. */
private[sources] final case class XmlDoc(recordTag: Option[String]) extends DocFormat {
  override def decode(file: String, bytes: Array[Byte]): IndexedSeq[DocFiles.Record] =
    // XXE-hardened loader: document text is data
    records(graft.geo.SecureXml.document.load(new java.io.ByteArrayInputStream(bytes)))

  /** The flattened records of a parsed document. */
  def records(doc: scala.xml.Elem): IndexedSeq[DocFiles.Record] = {
    val kml = Xml.isKml(doc)
    Xml.records(doc, recordTag).iterator.map(Xml.flattenRecord(_, kml)).toIndexedSeq
  }
}

/** A GeoJSON document: one Feature or FeatureCollection per file, or one
  * per non-blank line (`multiLine = false`, NDJSON). */
private[sources] final case class GeoJsonDoc(multiLine: Boolean) extends DocFormat {
  override def decode(file: String, bytes: Array[Byte]): IndexedSeq[DocFiles.Record] = {
    val text = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    if (multiLine) {
      // a whole-file document is ONE JSON value; flattenFeature parses the
      // first object and would silently IGNORE anything after it — so an
      // NDJSON export read back without multiLine=false must error loudly
      // instead of returning one row per file
      val p = new com.fasterxml.jackson.core.JsonFactory().createParser(text)
      try {
        p.nextToken()
        p.skipChildren()
        if (p.nextToken() != null)
          throw new IllegalArgumentException(
            s"$file: trailing JSON after the first document — NDJSON input " +
              """needs .option("multiLine", "false")""")
      } finally p.close()
      GeoJsonSource.flattenFeature(text).toIndexedSeq
    } else text.linesIterator.map(_.trim).filter(_.nonEmpty)
      .flatMap(GeoJsonSource.flattenFeature).toIndexedSeq
  }
}

/** Decoded documents, least recently used first out, keyed by (format,
  * SHA-256 of the bytes). Weighed by the estimated size of the decoded
  * records; an entry heavier than the whole bound is not kept. Decodes run
  * outside the lock, so concurrent tasks never wait on one another's
  * parse. Production uses the one [[DecodedDocs.shared]] instance. */
private[sources] final class DecodedDocs(maxBytes: Long) {
  private final class Entry(val records: IndexedSeq[DocFiles.Record], val bytes: Long)

  // access order: iteration starts at the least recently used entry
  private val lru = new java.util.LinkedHashMap[(DocFormat, String), Entry](16, 0.75f, true)
  private var total = 0L

  def getOrDecode(format: DocFormat, content: Array[Byte])(
      decode: => IndexedSeq[DocFiles.Record]): (IndexedSeq[DocFiles.Record], Boolean) = {
    val key = (format, java.util.HexFormat.of().formatHex(
      java.security.MessageDigest.getInstance("SHA-256").digest(content)))
    val hit = synchronized(lru.get(key))
    if (hit != null) (hit.records, true)
    else {
      val recs = decode
      val weight = org.apache.spark.util.SizeEstimator.estimate(recs)
      if (weight <= maxBytes) synchronized {
        Option(lru.put(key, new Entry(recs, weight))).foreach(old => total -= old.bytes)
        total += weight
        val it = lru.values.iterator
        while (total > maxBytes) { total -= it.next().bytes; it.remove() }
      }
      (recs, false)
    }
  }

  def clear(): Unit = synchronized { lru.clear(); total = 0L }
}

private[sources] object DecodedDocs {
  /** The JVM-wide cache, bounded by a tenth of the maximum heap. */
  val shared = new DecodedDocs(Runtime.getRuntime.maxMemory / 10)
}

/** Scan metric: documents a graft-xml / graft-geojson file scan decoded. */
class DocumentsDecodedMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = DocumentsDecodedMetric.Name
  override def description(): String = "documents decoded"
}

object DocumentsDecodedMetric { val Name = "documentsDecoded" }

/** Scan metric: documents a file scan took from [[DecodedDocs]]. */
class DocumentsCachedMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = DocumentsCachedMetric.Name
  override def description(): String = "documents served from cache"
}

object DocumentsCachedMetric { val Name = "documentsFromCache" }
