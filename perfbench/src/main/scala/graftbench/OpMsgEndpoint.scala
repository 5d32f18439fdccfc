package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{NullNode, ObjectNode}
import graft.sources.mongo.Bson

import java.io.{DataInputStream, DataOutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/** A MongoDB wire-protocol (OP_MSG) endpoint serving one in-memory
  * collection of GeoJSON feature documents on loopback, so the
  * `mongodb://` path of the graft-geojson source runs end to end without
  * a database server.
  *
  * `find` evaluates the selector's equality leaves (`field: v`, `$eq`,
  * `$in`) and its `$and`/`$or`/`$exists` structure exactly; every other
  * operator (the bbox range clause, negations) counts as matched, so the
  * reply is a superset of the true matches and the scan's local re-check
  * keeps the query result exact. Replies honour the inclusion projection
  * (`_id: 0`, `field: 1`, computed `$ifNull` paths) and page through
  * `getMore` in the client's batch size. Round trips and reply bytes are
  * counted for the trace. */
final class OpMsgEndpoint(docsJson: Seq[String]) extends AutoCloseable {
  private val mapper = new ObjectMapper()
  private val docs: IndexedSeq[JsonNode] = docsJson.map(mapper.readTree).toIndexedSeq
  private val cursors = new ConcurrentHashMap[Long, Iterator[JsonNode]]()
  private val nextCursor = new AtomicLong(1L)
  private val open = new AtomicInteger(0)
  val roundTrips = new AtomicLong(0)
  val replyBytes = new AtomicLong(0)

  private val server = new ServerSocket(0, 64, InetAddress.getLoopbackAddress)
  def port: Int = server.getLocalPort

  private val acceptor = new Thread(() => {
    try while (!server.isClosed) {
      val sock = server.accept()
      val t = new Thread(() => serve(sock), "opmsg-conn")
      t.setDaemon(true)
      t.start()
    } catch { case _: java.io.IOException => () }
  }, "opmsg-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  override def close(): Unit = {
    server.close()
    acceptor.join(5000)
    // connection threads end when their clients close the socket
    val deadline = System.nanoTime() + 5000000000L
    while (open.get() > 0 && System.nanoTime() < deadline) Thread.sleep(5)
  }

  private def serve(sock: Socket): Unit = {
    open.incrementAndGet()
    try {
      val in = new DataInputStream(new java.io.BufferedInputStream(sock.getInputStream))
      val out = new DataOutputStream(new java.io.BufferedOutputStream(sock.getOutputStream))
      while (true) {
        val head = new Array[Byte](4)
        in.readFully(head)
        val total = ByteBuffer.wrap(head).order(ByteOrder.LITTLE_ENDIAN).getInt()
        val rest = new Array[Byte](total - 4)
        in.readFully(rest)
        val buf = ByteBuffer.wrap(rest).order(ByteOrder.LITTLE_ENDIAN)
        val requestId = buf.getInt(); buf.getInt()
        val opCode = buf.getInt()
        require(opCode == 2013, s"endpoint speaks OP_MSG only, got opcode $opCode")
        buf.getInt() // flag bits
        require(buf.get() == 0, "expected a kind-0 section")
        val reply = Bson.fromJson(handle(mapper.readTree(Bson.toJson(buf))), longFields = Set("id"))
        val frame = ByteBuffer.allocate(21 + reply.length).order(ByteOrder.LITTLE_ENDIAN)
        frame.putInt(21 + reply.length).putInt(0).putInt(requestId).putInt(2013)
        frame.putInt(0).put(0.toByte).put(reply)
        out.write(frame.array()); out.flush()
        roundTrips.incrementAndGet()
        replyBytes.addAndGet(frame.capacity().toLong)
      }
    } catch {
      case _: java.io.EOFException | _: java.net.SocketException => ()
    } finally {
      try sock.close() catch { case _: java.io.IOException => () }
      open.decrementAndGet()
    }
  }

  private def handle(cmd: JsonNode): String = {
    val db = cmd.path("$db").asText("")
    if (cmd.has("find")) {
      val filter = cmd.path("filter")
      val proj = cmd.path("projection")
      val it = docs.iterator.filter(d => Selector.matches(filter, d)).map(project(proj, _))
      page(it, cmd.path("batchSize").asInt(101), s"$db.${cmd.path("find").asText}", first = true, 0L)
    } else if (cmd.has("getMore")) {
      val id = cmd.path("getMore").asLong()
      val it = Option(cursors.remove(id)).getOrElse(Iterator.empty)
      page(it, cmd.path("batchSize").asInt(101), s"$db.${cmd.path("collection").asText}",
        first = false, id)
    } else if (cmd.has("killCursors")) {
      cmd.path("cursors").forEach(c => cursors.remove(c.asLong()))
      """{"ok": 1.0}"""
    } else s"""{"ok": 0.0, "errmsg": "unsupported command", "code": 59}"""
  }

  private def page(it: Iterator[JsonNode], batchSize: Int, ns: String, first: Boolean,
                   prevId: Long): String = {
    val n = math.max(1, batchSize)
    val batch = it.take(n).toVector
    val more = it.hasNext
    val id = if (more) { val c = if (prevId != 0L) prevId else nextCursor.getAndIncrement(); cursors.put(c, it); c }
             else 0L
    val field = if (first) "firstBatch" else "nextBatch"
    s"""{"cursor": {"$field": [${batch.map(_.toString).mkString(",")}], "id": $id, """ +
      s""""ns": ${Json.str(ns)}}, "ok": 1.0}"""
  }

  private def project(proj: JsonNode, doc: JsonNode): JsonNode =
    if (!proj.isObject || proj.size() == 0) doc
    else {
      val out = mapper.createObjectNode()
      val keepId = proj.path("_id").asInt(1) != 0
      if (keepId && doc.has("_id")) out.set[JsonNode]("_id", doc.get("_id"))
      proj.fields().asScala.foreach { e =>
        val k = e.getKey
        val v = e.getValue
        if (k != "_id") {
          if (v.isObject && v.has("$ifNull")) {
            val args = v.get("$ifNull")
            val path = args.get(0).asText().stripPrefix("$")
            val got = Selector.resolve(doc, path)
            setPath(out, k, if (got.isMissingNode || got.isNull) args.get(1) else got)
          } else if (v.asInt(0) != 0) {
            val got = Selector.resolve(doc, k)
            if (!got.isMissingNode) setPath(out, k, got)
          }
        }
      }
      out
    }

  /** Sets a dotted projection path, creating the enclosing objects. */
  private def setPath(out: ObjectNode, path: String, v: JsonNode): Unit = {
    val parts = path.split('.')
    val parent = parts.init.foldLeft(out) { (o, p) =>
      o.get(p) match {
        case child: ObjectNode => child
        case _ => o.putObject(p)
      }
    }
    parent.set[JsonNode](parts.last, v)
  }

  /** Exact on equality and structure, permissive (superset) elsewhere. */
  private object Selector {
    def matches(sel: JsonNode, doc: JsonNode): Boolean =
      !sel.isObject || sel.fields().asScala.forall { e =>
        e.getKey match {
          case "$and" => e.getValue.elements().asScala.forall(matches(_, doc))
          case "$or" => e.getValue.elements().asScala.exists(matches(_, doc))
          case k if k.startsWith("$") => true
          case path => leaf(resolve(doc, path), e.getValue)
        }
      }

    def resolve(doc: JsonNode, path: String): JsonNode =
      path.split('.').foldLeft(doc) { (n, p) =>
        if (n.isArray && p.forall(_.isDigit)) n.path(p.toInt) else n.path(p)
      }

    private def leaf(v: JsonNode, cond: JsonNode): Boolean =
      if (cond.isObject && cond.fieldNames().asScala.exists(_.startsWith("$")))
        cond.fields().asScala.forall { e =>
          e.getKey match {
            case "$eq" => same(v, e.getValue)
            case "$in" => e.getValue.elements().asScala.exists(same(v, _))
            case "$exists" => e.getValue.asBoolean() != v.isMissingNode
            case _ => true
          }
        }
      else same(v, cond)

    private def same(a: JsonNode, b: JsonNode): Boolean =
      if (a.isNumber && b.isNumber) a.asDouble() == b.asDouble()
      else (if (a.isMissingNode) NullNode.instance else a) == b
  }
}
