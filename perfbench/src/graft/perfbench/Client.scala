package graft.perfbench

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.{InetAddress, Socket}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** A failed request: an error status, a timeout or a malformed reply. */
final class RequestFailed(msg: String) extends RuntimeException(msg)

final case class Cursor(fileIdx: Int, rowIdx: Long)

final case class Page(columns: Seq[String], rows: Seq[Seq[Any]], next: Option[Cursor],
                      prev: Option[Cursor])

/** One client connection speaking QueryServer's newline-delimited JSON
  * protocol over loopback TCP, the way `tools/pyclient.py` does:
  * identify, run_query + watch_query (push completion), get_query_data
  * pages as JSON rows or as one Arrow IPC stream. */
final class WireClient(port: Int, timeoutMs: Int) extends AutoCloseable {
  private val sock = new Socket(InetAddress.getLoopbackAddress, port)
  sock.setSoTimeout(timeoutMs)
  sock.setTcpNoDelay(true)
  private val in = new BufferedReader(new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
  private val out = new PrintWriter(sock.getOutputStream, true, StandardCharsets.UTF_8)
  private val allocator = new org.apache.arrow.memory.RootAllocator(Long.MaxValue)

  locally {
    val resp = call(obj("identify").put("connection_id", java.util.UUID.randomUUID().toString))
    if (text(resp, "type") != "identify_resp" || text(resp, "worker_id").isEmpty)
      throw new RequestFailed(s"identify failed: $resp")
  }

  private def obj(tpe: String): ObjectNode = WireClient.json.createObjectNode().put("type", tpe)

  private def text(n: JsonNode, field: String): String =
    Option(n.get(field)).filter(!_.isNull).map(_.asText).getOrElse("")

  private def readLine(): JsonNode = {
    val line = try in.readLine() catch {
      case e: java.net.SocketTimeoutException => throw new RequestFailed(s"timeout: ${e.getMessage}")
    }
    if (line == null) throw new RequestFailed("connection closed")
    WireClient.json.readTree(line)
  }

  private def call(req: ObjectNode): JsonNode = {
    out.println(WireClient.json.writeValueAsString(req))
    readLine()
  }

  /** run_query, then watch_query until the pushed terminal update.
    * Returns the query id and the nanoTime the run_query ack arrived. */
  def run(sql: String): (String, Long) = {
    val ack = call(obj("run_query").put("query", sql))
    val ackAt = System.nanoTime()
    val id = text(ack, "query_id")
    if (text(ack, "type") != "run_query_resp" || id.isEmpty)
      throw new RequestFailed(s"run_query: $ack")
    val watch = call(obj("watch_query").put("query_id", id))
    if (text(watch, "type") != "watch_query_resp") throw new RequestFailed(s"watch_query: $watch")
    val update = readLine()
    if (text(update, "status") != "complete")
      throw new RequestFailed(s"status ${text(update, "status")}: ${text(update, "message")}")
    (id, ackAt)
  }

  def page(id: String, at: Cursor, req: PageReq): Page = {
    val r = obj("get_query_data").put("query_id", id).put("file_idx", at.fileIdx)
      .put("row_idx", at.rowIdx).put("limit", req.limit).put("forward", req.forward)
      .put("allow_overflow", true)
    if (req.arrow) r.put("format", "arrow")
    val resp = call(r)
    if (text(resp, "type") != "get_query_data_resp") throw new RequestFailed(s"get_query_data: $resp")
    val columns = resp.get("columns").elements().asScala.map(_.asText).toSeq
    val rows =
      if (req.arrow) WireClient.decodeArrow(
        java.util.Base64.getDecoder.decode(text(resp, "arrow_ipc")), allocator)
      else resp.get("rows").elements().asScala.map(row =>
        row.elements().asScala.map(WireClient.jsonValue).toSeq).toSeq
    Page(columns, rows, WireClient.cursor(resp.get("next")), WireClient.cursor(resp.get("prev")))
  }

  def close(): Unit = {
    try sock.close() finally allocator.close()
  }
}

object WireClient {
  /** Exact numbers: decimals stay BigDecimal, never pass through double. */
  val json: ObjectMapper = new ObjectMapper()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
    .enable(DeserializationFeature.USE_BIG_INTEGER_FOR_INTS)

  def jsonValue(n: JsonNode): Any =
    if (n.isNull) null
    else if (n.isBoolean) n.booleanValue
    else if (n.isIntegralNumber) n.bigIntegerValue
    else if (n.isNumber) n.decimalValue
    else n.asText

  def cursor(n: JsonNode): Option[Cursor] =
    if (n == null || n.isNull) None
    else Some(Cursor(n.get("file_idx").asInt, n.get("row_idx").asLong))

  /** Rows of a one-batch Arrow IPC stream, as plain JVM values. */
  def decodeArrow(ipc: Array[Byte], alloc: org.apache.arrow.memory.BufferAllocator): Seq[Seq[Any]] = {
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(ipc), alloc)
    try {
      val root = reader.getVectorSchemaRoot
      val out = Seq.newBuilder[Seq[Any]]
      while (reader.loadNextBatch()) {
        val vectors = root.getFieldVectors.asScala.toIndexedSeq
        for (i <- 0 until root.getRowCount)
          out += vectors.map { v =>
            if (v.isNull(i)) null
            else v.getObject(i) match {
              case t: org.apache.arrow.vector.util.Text => t.toString
              case other => other
            }
          }
      }
      out.result()
    } finally reader.close()
  }
}
