package graft.service

import org.json4s._
import org.json4s.jackson.JsonMethods

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets

/** Networked query protocol: the listener a non-JVM client can hit.
  *
  * The reference exposes RunQuery / GetQueryStatus / GetQueryData over
  * framed TCP with its own binary message registry
  * (/root/reference/src/client/async_query_client.rs:40-140,
  * src/handlers/message_handler/messages/message.rs:96-129). This
  * server keeps those SEMANTICS — the same three operations, the same
  * (file_idx, row_group_idx, row_idx) data cursor, the same
  * allow_overflow behavior — over newline-delimited JSON, which any
  * language speaks without a generated codec. One request line → one
  * response line; connections are served by daemon threads (the
  * listener is control-plane only: page payloads are small by
  * construction, all heavy lifting stays inside Spark jobs submitted
  * by QueryService).
  *
  * Requests:
  *   {"type":"identify","connection_id":"..."}
  *   {"type":"run_query","query":"select ..."[,"timeout_ms":N]} —
  *    optional per-statement runtime budget (see
  *    QueryService.runQuery)
  *   {"type":"get_query_status","query_id":"..."}
  *   {"type":"get_query_data","query_id":"...","file_idx":0,
  *    "file_row_group_idx":0,"row_idx":0,"limit":10,
  *    "forward":true,"allow_overflow":true[,"format":"arrow"]}
  *   {"type":"watch_query","query_id":"..."} — generic ok now, then a
  *    pushed {"type":"query_update",...} line when the query reaches a
  *    terminal status (the reference's polling-loop TODO,
  *    DEV_NOTES.md:196-198, done push-first).
  *   {"type":"get_service_stats"} — admission snapshot
  *    (queued/running/slots).
  *
  * `format:"arrow"` returns the page as ONE Arrow IPC stream
  * (base64 `arrow_ipc` field) instead of JSON `rows` — the
  * reference's actual payload format (Arrow record batches,
  * exchange.rs:145-197), decodable by any Arrow library.
  *
  * `identify` mirrors the reference's connection-open handshake
  * (async_query_client.rs:174-202: the client sends
  * Identify::Connection{id}, the worker registers the connection and
  * replies Identify::Worker{id}): the server records the
  * connection_id for the socket's lifetime and answers with its
  * worker_id. Bare requests without a prior identify are still
  * served — the handshake is protocol parity, not an auth gate. */
final class QueryServer(svc: QueryService, port: Int = 0) {

  private val server = new ServerSocket(port)
  @volatile private var running = true

  /** Stable per-server identity, echoed in identify_resp (the
    * reference's worker_id role). */
  val workerId: String = java.util.UUID.randomUUID().toString

  // id -> number of open sockets identified with it: a client may
  // reconnect (or run two sockets) under one connection_id, and the
  // first socket's close must not deregister the survivor.
  private val connections =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private def register(id: String): Unit = {
    connections.merge(id, 1, (a: Integer, b: Integer) => a + b); ()
  }
  private def deregister(id: String): Unit = {
    connections.computeIfPresent(id,
      (_, n: Integer) => if (n <= 1) null else (n - 1): Integer)
    ()
  }

  /** Connection ids currently identified (open sockets that completed
    * the handshake) — observability + spec hook. */
  def identifiedConnections: Set[String] = {
    val it = connections.keySet().iterator()
    val b = Set.newBuilder[String]
    while (it.hasNext) b += it.next()
    b.result()
  }

  def boundPort: Int = server.getLocalPort

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        val t = new Thread(() => serve(sock), s"graft-query-conn")
        t.setDaemon(true)
        t.start()
      } catch {
        case _: Exception if !running => () // closed
        case e: Exception => System.err.println(s"[query-server] accept: ${e.getMessage}")
      }
    }
  }, "graft-query-server")
  acceptor.setDaemon(true)
  acceptor.start()

  // NOTE: does not close `svc` — the server does not own the service
  // (one service may back several servers, and tests share one across
  // server lifecycles); the constructor of the QueryService calls its
  // close() to release the metrics listener.
  def close(): Unit = { running = false; server.close() }

  private def serve(sock: Socket): Unit = {
    val in = new BufferedReader(new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
    val out = new PrintWriter(sock.getOutputStream, true, StandardCharsets.UTF_8)
    var connId: Option[String] = None
    // Pushed lines (watch_query updates) come from service threads;
    // the lock keeps them from interleaving with response lines.
    def writeLine(resp: JValue): Unit = out.synchronized {
      out.println(JsonMethods.compact(JsonMethods.render(resp)))
    }
    try {
      var line = in.readLine()
      while (line != null) {
        // afterAck runs AFTER the response line is on the wire, so a
        // pushed query_update can never precede its watch ack.
        var afterAck: () => Unit = () => ()
        val resp =
          try {
            val req = JsonMethods.parse(line)
            (req \ "type").extractOpt[String] match {
              case Some("identify") =>
                val id = (req \ "connection_id").extract[String]
                connId.foreach(deregister) // re-identify replaces
                connId = Some(id)
                register(id)
                JObject("type" -> JString("identify_resp"),
                  "worker_id" -> JString(workerId),
                  "connection_id" -> JString(id))
              case Some("watch_query") =>
                // push-based completion (the reference's polling-loop
                // TODO): generic ok now, a query_update line when the
                // query reaches a terminal status.
                val id = (req \ "query_id").extract[String]
                afterAck = () => svc.onTerminal(id) { s =>
                  val status = s match {
                    case QueryStatus.Complete =>
                      List[JField]("status" -> JString("complete"))
                    case QueryStatus.Error(m) =>
                      List[JField]("status" -> JString("error"), "message" -> JString(m))
                    case QueryStatus.Cancelled =>
                      List[JField]("status" -> JString("cancelled"))
                    case _ => List[JField]("status" -> JString("running"))
                  }
                  writeLine(JObject(
                    ("type" -> (JString("query_update"): JValue)) ::
                      ("query_id" -> (JString(id): JValue)) :: status))
                }
                JObject("type" -> JString("watch_query_resp"),
                  "query_id" -> JString(id))
              case _ => handle(req)
            }
          }
          catch { case e: Exception => err(String.valueOf(e.getMessage)) }
        writeLine(resp)
        // a watch on an already-terminal query pushes synchronously —
        // a peer that acked and vanished must not kill the serve loop
        try afterAck() catch { case _: Exception => () }
        line = in.readLine()
      }
    } catch {
      case _: Exception => () // client went away
    } finally {
      connId.foreach(deregister)
      sock.close()
    }
  }

  private def err(message: String): JObject =
    JObject("type" -> JString("error"), "message" -> JString(message))

  private implicit val fmts: Formats = DefaultFormats

  private def handle(req: JValue): JValue = (req \ "type").extractOpt[String] match {
    case Some("run_query") =>
      val sql = (req \ "query").extract[String]
      // optional per-statement runtime budget; omitted = service default
      val id = (req \ "timeout_ms").extractOpt[Long] match {
        case Some(t) => svc.runQuery(sql, t)
        case None => svc.runQuery(sql)
      }
      JObject("type" -> JString("run_query_resp"), "query_id" -> JString(id))

    case Some("get_query_status") =>
      val id = (req \ "query_id").extract[String]
      val status = svc.status(id) match {
        case None => JObject("status" -> JString("not_found"))
        case Some(QueryStatus.Queued) => JObject("status" -> JString("queued"))
        case Some(QueryStatus.Running) => JObject("status" -> JString("running"))
        case Some(QueryStatus.Complete) => JObject("status" -> JString("complete"))
        case Some(QueryStatus.Cancelled) => JObject("status" -> JString("cancelled"))
        case Some(QueryStatus.Error(m)) =>
          JObject("status" -> JString("error"), "message" -> JString(m))
      }
      JObject(("type" -> JString("get_query_status_resp")) :: status.obj)

    case Some("cancel_query") =>
      val id = (req \ "query_id").extract[String]
      JObject("type" -> JString("cancel_query_resp"),
        "query_id" -> JString(id),
        "cancelled" -> JBool(svc.cancel(id)))

    // Admission observability: how many statements wait for a slot,
    // how many hold one, and the slot count — what a client reads
    // before deciding to queue more work on this service.
    case Some("get_service_stats") =>
      val s = svc.admissionStats
      JObject("type" -> JString("get_service_stats_resp"),
        "queued" -> JInt(BigInt(s.queued)),
        "running" -> JInt(BigInt(s.running)),
        "slots" -> JInt(BigInt(s.slots)))

    // Runtime metrics: the scan/shuffle/spill profile of a query
    // (the reference's heartbeat/TaskData status surface, rolled up
    // per query instead of per operator).
    case Some("get_query_metrics") =>
      val id = (req \ "query_id").extract[String]
      svc.metrics(id) match {
        case None => err("no metrics for query")
        case Some(m) => JObject(
          "type" -> JString("get_query_metrics_resp"),
          "query_id" -> JString(id),
          "num_jobs" -> JInt(BigInt(m.numJobs)),
          "num_stages" -> JInt(BigInt(m.numStages)),
          "num_tasks" -> JInt(BigInt(m.numTasks)),
          "input_rows" -> JInt(BigInt(m.inputRows)),
          "input_bytes" -> JInt(BigInt(m.inputBytes)),
          "output_rows" -> JInt(BigInt(m.outputRows)),
          "output_bytes" -> JInt(BigInt(m.outputBytes)),
          "shuffle_read_bytes" -> JInt(BigInt(m.shuffleReadBytes)),
          "shuffle_write_bytes" -> JInt(BigInt(m.shuffleWriteBytes)),
          "memory_spill_bytes" -> JInt(BigInt(m.memorySpillBytes)),
          "disk_spill_bytes" -> JInt(BigInt(m.diskSpillBytes)),
          "executor_run_time_ms" -> JInt(BigInt(m.executorRunTimeMs)),
          "wall_time_ms" -> JInt(BigInt(m.wallTimeMs)),
          "queue_wait_ms" -> JInt(BigInt(m.queueWaitMs)))
      }

    case Some("get_query_data") =>
      val id = (req \ "query_id").extract[String]
      svc.status(id) match {
        case Some(QueryStatus.Complete) =>
          val r = svc.reader(id)
          val cursor = r.cursorOf(
            (req \ "file_idx").extractOpt[Int].getOrElse(0),
            (req \ "file_row_group_idx").extractOpt[Int].getOrElse(0),
            (req \ "row_idx").extractOpt[Long].getOrElse(0L))
          val page = r.read(cursor,
            (req \ "limit").extractOpt[Int].getOrElse(100),
            (req \ "forward").extractOpt[Boolean].getOrElse(true),
            (req \ "allow_overflow").extractOpt[Boolean].getOrElse(true))
          val schema = r.schema
          val cols = schema.fieldNames
          val payload: List[JField] =
            if ((req \ "format").extractOpt[String].contains("arrow")) {
              // the reference's payload format: the page as one Arrow
              // IPC stream (base64 inside the JSON frame)
              val ipc = ArrowPage.serialize(schema, page.rows)
              List("arrow_ipc" ->
                (JString(java.util.Base64.getEncoder.encodeToString(ipc)): JValue))
            } else {
              List("rows" -> (JArray(page.rows.map(row =>
                JArray((0 until row.length).map(i => jsonValue(row.get(i))).toList)
                  : JValue).toList): JValue))
            }
          JObject(
            ("type" -> (JString("get_query_data_resp"): JValue)) ::
              ("columns" -> (JArray(cols.map(c => JString(c): JValue).toList): JValue)) ::
              payload :::
              List("next" -> cursorJson(page.next), "prev" -> cursorJson(page.prev)))
        case Some(QueryStatus.Error(m)) => err(s"query failed: $m")
        case Some(_) => err("query not complete")
        case None => err("query not found")
      }

    case other => err(s"unknown request type: $other")
  }

  private def cursorJson(c: Option[ResultCursor]): JValue = c match {
    case Some(cur) => JObject(
      "file_idx" -> JInt(cur.fileIdx), "row_idx" -> JInt(BigInt(cur.rowIdx)))
    case None => JNull
  }

  private def jsonValue(v: Any): JValue = v match {
    case null => JNull
    case b: Boolean => JBool(b)
    case i: Int => JInt(BigInt(i))
    case l: Long => JInt(BigInt(l))
    case s: Short => JInt(BigInt(s.toInt))
    case b: Byte => JInt(BigInt(b.toInt))
    case f: Float => JDouble(f.toDouble)
    case d: Double => JDouble(d)
    case d: java.math.BigDecimal => JDecimal(BigDecimal(d))
    case d: BigDecimal => JDecimal(d)
    case s: String => JString(s)
    case b: Array[Byte] => JString(java.util.Base64.getEncoder.encodeToString(b))
    // java.sql types render via toString in the JVM DEFAULT zone — a
    // non-UTC host would shift instants on the wire. Serialize the
    // instant/day explicitly so the wire format stays ISO-8601 UTC
    // regardless of host TZ (and regardless of the collect()
    // convention the in-process ResultReader mirrors).
    case t: java.sql.Timestamp => JString(t.toInstant.toString)
    case d: java.sql.Date => JString(d.toLocalDate.toString)
    case other => JString(String.valueOf(other)) // java.time types → ISO-8601
  }
}
