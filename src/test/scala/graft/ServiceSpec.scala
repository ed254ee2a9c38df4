package graft

import graft.service.{QueryService, QueryStatus, ResultCursor}
import org.scalatest.funsuite.AnyFunSuite

class ServiceSpec extends AnyFunSuite with SparkFixture {

  private lazy val root = java.nio.file.Files.createTempDirectory("graft_svc").toString
  private lazy val svc = new QueryService(spark, root)

  test("query lifecycle: submit, complete, read back") {
    val id = svc.runQuery(
      s"select r_regionkey, r_name from read_files('$sfDir/region.parquet')")
    assert(svc.awaitComplete(id) == QueryStatus.Complete)
    val r = svc.reader(id)
    assert(r.totalRows == 5)
    assert(r.asDataFrame.columns.toSeq == Seq("r_regionkey", "r_name"))
  }

  test("injected TVFs resolve through the service's SQL session") {
    // the service plans on its dedicated child session (join reorder
    // on) — the graft TVF surface must resolve there end-to-end, not
    // only on the host session the extensions were registered with
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val vec = emb.filter(org.apache.spark.sql.functions.col("vec_id") === 2L)
      .select("embedding").head().getSeq[Float](0)
    val vecStr = vec.map(_.toDouble.toString).mkString(",")
    val annId = svc.runQuery(
      s"select neighbor_id, rank from corpus_ann('$sfDir/embeddings.parquet', '$vecStr', k=>3)")
    assert(svc.awaitComplete(annId) == QueryStatus.Complete)
    val ann = svc.reader(annId).asDataFrame.collect().sortBy(_.getLong(1))
    assert(ann.length == 3 && ann.head.getLong(0) == 2L) // self at rank 1
    val searchId = svc.runQuery(
      s"select doc_id, score from corpus_search('$sfDir/documents.parquet', 'spark window', k=>5)")
    assert(svc.awaitComplete(searchId) == QueryStatus.Complete)
    assert(svc.reader(searchId).totalRows == 5)
    val dedupId = svc.runQuery(
      s"select doc_a, doc_b, jaccard from corpus_dedup('$sfDir/documents.parquet')")
    assert(svc.awaitComplete(dedupId) == QueryStatus.Complete)
    val dd = svc.reader(dedupId).asDataFrame.collect()
    assert(dd.nonEmpty && dd.forall(_.getDouble(2) >= 0.8))
    // the store/ops TVFs resolve on the service session too
    val storeDir = java.nio.file.Files.createTempDirectory("svc_store").toString + "/s"
    graft.pipeline.CorpusStore.write(
      spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text"),
      storeDir, buckets = 4)
    val storeId = svc.runQuery(
      s"select count(*) as n from read_store('$storeDir')")
    assert(svc.awaitComplete(storeId) == QueryStatus.Complete)
    assert(svc.reader(storeId).asDataFrame.head().getLong(0) > 0)
  }

  test("service connections reach read_files and the corpus TVFs") {
    val root2 = java.nio.file.Files.createTempDirectory("graft_svc_conn").toString
    val svc2 = new QueryService(spark, root2,
      connections = graft.sources.Connections.fromRoots(Map("default" -> "", "fx" -> sfDir)))
    def rows(s: QueryService, sql: String): Seq[String] = {
      val id = s.runQuery(sql)
      assert(s.awaitComplete(id) == QueryStatus.Complete, s.status(id))
      s.reader(id).asDataFrame.collect().map(_.toString).toSeq
    }
    try {
      Seq("select r_regionkey, r_name from read_files(%s) order by r_regionkey" ->
            "region.parquet",
          "select doc_id, quality from corpus_quality(%s) order by doc_id" ->
            "documents.parquet")
        .foreach { case (shape, file) =>
          val want = rows(svc, shape.format(s"'$sfDir/$file'"))
          assert(want.nonEmpty)
          assert(rows(svc2, shape.format(s"'$file', connection=>'fx'")) == want)
        }
    } finally svc2.close()
  }

  test("error status carries the failure message") {
    val id = svc.runQuery("select * from read_files('/no/such/path.parquet')")
    svc.awaitComplete(id) match {
      case QueryStatus.Error(msg) => assert(msg.contains("PATH_NOT_FOUND"))
      case other => fail(s"expected Error, got $other")
    }
  }

  test("forward pagination walks all rows exactly once") {
    val id = svc.runQuery(
      s"select l_orderkey, l_linenumber from read_files('$sfDir/lineitem.parquet') where l_orderkey < 20")
    assert(svc.awaitComplete(id) == QueryStatus.Complete)
    val r = svc.reader(id)
    val total = r.totalRows
    var cursor = Option(ResultCursor(0, 0))
    var seen = 0L
    var pages = 0
    while (cursor.isDefined) {
      val page = r.read(cursor.get, 7)
      seen += page.rows.size
      cursor = page.next
      pages += 1
      assert(pages < 1000)
    }
    assert(seen == total)
  }

  test("backward read returns the rows ending at the cursor") {
    val id = svc.runQuery(
      s"select r_regionkey from read_files('$sfDir/region.parquet')")
    svc.awaitComplete(id)
    val r = svc.reader(id)
    val fwd = r.read(ResultCursor(0, 0), 5).rows.map(_.getInt(0))
    val back = r.read(ResultCursor(0, 3), 2, forward = false).rows.map(_.getInt(0))
    assert(back == fwd.slice(1, 3))
  }

  test("allowOverflow=false rejects a page crossing the end") {
    val id = svc.runQuery(
      s"select r_regionkey from read_files('$sfDir/region.parquet')")
    svc.awaitComplete(id)
    val r = svc.reader(id)
    intercept[IllegalArgumentException] {
      r.read(ResultCursor(0, 3), 10, forward = true, allowOverflow = false)
    }
  }

  test("paged reads launch zero Spark jobs and match the Spark-read values") {
    val id = svc.runQuery(
      s"select o_orderkey, o_orderdate, o_orderstatus, o_totalprice " +
        s"from read_files('$sfDir/orders.parquet') where o_orderkey < 100")
    assert(svc.awaitComplete(id) == QueryStatus.Complete)
    val r = svc.reader(id)
    val viaSpark = r.asDataFrame.collect()
      .map(x => (x.getLong(0), String.valueOf(x.get(1)), x.getString(2), x.getDouble(3)))
      .toSet
    val (viaPages, jobs, _) = jobsDuring {
      val fresh = svc.reader(id)
      assert(fresh.schema.fieldNames.toSeq ==
        Seq("o_orderkey", "o_orderdate", "o_orderstatus", "o_totalprice"))
      val rows = Seq.newBuilder[org.apache.spark.sql.Row]
      var cursor = Option(ResultCursor(0, 0))
      while (cursor.isDefined) {
        val p = fresh.read(cursor.get, 13)
        rows ++= p.rows
        cursor = p.next
      }
      rows.result()
        .map(x => (x.getLong(0), String.valueOf(x.get(1)), x.getString(2), x.getDouble(3)))
    }
    assert(viaPages.size == viaSpark.size)
    assert(viaPages.toSet == viaSpark)
    assert(jobs == 0, s"paged read path launched $jobs Spark job(s)")
  }

  test("get_query_data over TCP serves JSON and Arrow pages with zero Spark jobs") {
    val id = svc.runQuery(
      s"select o_orderkey, o_orderdate, o_totalprice " +
        s"from read_files('$sfDir/orders.parquet') where o_orderkey < 100")
    assert(svc.awaitComplete(id) == QueryStatus.Complete)
    val server = new graft.service.QueryServer(svc)
    val sock = new java.net.Socket("127.0.0.1", server.boundPort)
    try {
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(sock.getInputStream))
      def page(format: String): String = {
        out.println(s"""{"type":"get_query_data","query_id":"$id","limit":10$format}""")
        in.readLine()
      }
      val ((json, arrow), jobs, _) = jobsDuring((page(""), page(""","format":"arrow"""")))
      assert(json.contains("get_query_data_resp") && json.contains("\"rows\""), json)
      assert(json.contains("\"columns\":[\"o_orderkey\",\"o_orderdate\",\"o_totalprice\"]"))
      assert(arrow.contains("get_query_data_resp") && arrow.contains("\"arrow_ipc\""), arrow)
      assert(jobs == 0, s"get_query_data launched $jobs Spark job(s)")
    } finally { sock.close(); server.close() }
  }

  test("ResultReader.schema and the footer route equal Spark's inferred result schema") {
    val id = svc.runQuery(
      s"select o_orderkey, o_orderdate, o_orderstatus, o_totalprice, " +
        s"cast(o_totalprice as decimal(12,2)) as price " +
        s"from read_files('$sfDir/orders.parquet') where o_orderkey < 100")
    assert(svc.awaitComplete(id) == QueryStatus.Complete)
    val dir = svc.resultDir(id)
    val inferred = spark.read.parquet(dir).schema
    assert(svc.reader(id).schema == inferred)
    assert(graft.sources.Parquet.schema(spark, dir) == inferred)
  }

  test("TCP query protocol: run_query, status poll, paged data over a real socket") {
    val server = new graft.service.QueryServer(svc)
    try {
      val sock = new java.net.Socket("127.0.0.1", server.boundPort)
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(sock.getInputStream))
      def call(json: String): String = { out.println(json); in.readLine() }

      val runResp = call(
        s"""{"type":"run_query","query":"select r_regionkey, r_name from read_files('$sfDir/region.parquet') order by r_regionkey"}""")
      assert(runResp.contains("run_query_resp"))
      val id = """"query_id":"([^"]+)"""".r.findFirstMatchIn(runResp).get.group(1)

      var status = ""
      val deadline = System.currentTimeMillis() + 60000
      while (!status.contains("complete") && System.currentTimeMillis() < deadline) {
        status = call(s"""{"type":"get_query_status","query_id":"$id"}""")
        assert(!status.contains("\"error\""), status)
        if (!status.contains("complete")) Thread.sleep(50)
      }
      assert(status.contains("complete"))

      val page1 = call(
        s"""{"type":"get_query_data","query_id":"$id","file_idx":0,"file_row_group_idx":0,"row_idx":0,"limit":3}""")
      assert(page1.contains("get_query_data_resp"))
      assert(page1.contains("\"columns\":[\"r_regionkey\",\"r_name\"]"))
      assert(page1.contains("\"next\":{\"file_idx\":0,\"row_idx\":3}"))

      val page2 = call(
        s"""{"type":"get_query_data","query_id":"$id","row_idx":3,"limit":10}""")
      assert(page2.contains("\"next\":null"))

      val notFound = call("""{"type":"get_query_status","query_id":"nope"}""")
      assert(notFound.contains("not_found"))

      // malformed JSON and unknown types answer with an error line,
      // not a dropped connection
      val bad = call("{not json")
      assert(bad.contains("\"type\":\"error\""))
      val unknown = call("""{"type":"frobnicate"}""")
      assert(unknown.contains("\"type\":\"error\""))
      val stillAlive = call(s"""{"type":"get_query_status","query_id":"$id"}""")
      assert(stillAlive.contains("complete"))
      sock.close()
    } finally server.close()
  }

  test("query metrics: scan volume attributed to the query, served over the wire") {
    val id = svc.runQuery(
      s"select l_orderkey, l_quantity from read_files('$sfDir/lineitem.parquet') where l_orderkey < 100")
    assert(svc.awaitComplete(id) == QueryStatus.Complete)
    // listener bus is async — poll briefly for the final stage's metrics
    val deadline = System.currentTimeMillis() + 10000
    def m = svc.metrics(id)
    while ((m.isEmpty || m.get.inputRows == 0 || m.get.wallTimeMs == 0)
        && System.currentTimeMillis() < deadline) Thread.sleep(25)
    val got = m.getOrElse(fail("no metrics recorded"))
    assert(got.numJobs >= 1 && got.numStages >= 1 && got.numTasks >= 1)
    // the scan reads the whole fixture's rows (filter is not a
    // row-group boundary here), all attributed to THIS query id
    assert(got.inputRows > 0 && got.inputBytes > 0)
    assert(got.outputRows > 0, "parquet write rows must be attributed")
    assert(got.wallTimeMs > 0)
    assert(got.memorySpillBytes == 0 && got.diskSpillBytes == 0,
      "a 5-row-group scan must not spill")
    // unknown id → no metrics
    assert(svc.metrics("nope").isEmpty)

    // the same numbers over the wire protocol
    val server = new graft.service.QueryServer(svc)
    try {
      val sock = new java.net.Socket("127.0.0.1", server.boundPort)
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(sock.getInputStream))
      def call(json: String): String = { out.println(json); in.readLine() }
      val resp = call(s"""{"type":"get_query_metrics","query_id":"$id"}""")
      assert(resp.contains("get_query_metrics_resp"), resp)
      assert(resp.contains(s""""input_rows":${got.inputRows}"""), resp)
      assert(resp.contains(""""wall_time_ms":"""), resp)
      val none = call("""{"type":"get_query_metrics","query_id":"nope"}""")
      assert(none.contains("\"type\":\"error\""), none)
      sock.close()
    } finally server.close()
  }

  test("concurrent queries attribute metrics to their own job groups") {
    // two queries over different tables, in flight together — each
    // must see its OWN scan volume (job group is a thread-local of the
    // executing future; cross-attribution would corrupt both)
    val idA = svc.runQuery(
      s"select r_regionkey from read_files('$sfDir/region.parquet')")
    val idB = svc.runQuery(
      s"select n_nationkey from read_files('$sfDir/nation.parquet')")
    assert(svc.awaitComplete(idA) == QueryStatus.Complete)
    assert(svc.awaitComplete(idB) == QueryStatus.Complete)
    val deadline = System.currentTimeMillis() + 10000
    def ready(id: String) = svc.metrics(id).exists(m => m.inputRows > 0)
    while ((!ready(idA) || !ready(idB)) && System.currentTimeMillis() < deadline)
      Thread.sleep(25)
    val a = svc.metrics(idA).getOrElse(fail("no metrics for A"))
    val b = svc.metrics(idB).getOrElse(fail("no metrics for B"))
    assert(a.inputRows == 5, s"region scan rows: $a")
    assert(b.inputRows == 25, s"nation scan rows: $b")
    assert(a.outputRows == 5 && b.outputRows == 25)
  }

  test("identify handshake: connection registers and the worker identifies back") {
    val server = new graft.service.QueryServer(svc)
    try {
      val sock = new java.net.Socket("127.0.0.1", server.boundPort)
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(sock.getInputStream))
      def call(json: String): String = { out.println(json); in.readLine() }

      // the reference's connection-open exchange: Identify::Connection
      // -> Identify::Worker (async_query_client.rs:174-202)
      val resp = call("""{"type":"identify","connection_id":"conn-abc-123"}""")
      assert(resp.contains("\"type\":\"identify_resp\""), resp)
      assert(resp.contains(s""""worker_id":"${server.workerId}""""), resp)
      assert(resp.contains("\"connection_id\":\"conn-abc-123\""), resp)
      assert(server.identifiedConnections == Set("conn-abc-123"))

      // identified connections serve requests like any other
      val st = call("""{"type":"get_query_status","query_id":"nope"}""")
      assert(st.contains("not_found"))

      // re-identify replaces the registration
      call("""{"type":"identify","connection_id":"conn-def-456"}""")
      assert(server.identifiedConnections == Set("conn-def-456"))

      sock.close()
      // socket close deregisters (the serve thread races the assert)
      val deadline = System.currentTimeMillis() + 5000
      while (server.identifiedConnections.nonEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(server.identifiedConnections.isEmpty)
    } finally server.close()
  }

  test("identify registry survives one of two same-id sockets closing") {
    val server = new graft.service.QueryServer(svc)
    try {
      def open(): (java.net.Socket, java.io.PrintWriter, java.io.BufferedReader) = {
        val s = new java.net.Socket("127.0.0.1", server.boundPort)
        (s, new java.io.PrintWriter(s.getOutputStream, true),
          new java.io.BufferedReader(new java.io.InputStreamReader(s.getInputStream)))
      }
      val (s1, o1, i1) = open()
      val (s2, o2, i2) = open()
      o1.println("""{"type":"identify","connection_id":"conn-dup"}"""); i1.readLine()
      o2.println("""{"type":"identify","connection_id":"conn-dup"}"""); i2.readLine()
      assert(server.identifiedConnections == Set("conn-dup"))
      s1.close()
      Thread.sleep(200) // let the first serve thread run its finally
      // the second socket is still open and identified
      assert(server.identifiedConnections == Set("conn-dup"))
      s2.close()
      val deadline = System.currentTimeMillis() + 5000
      while (server.identifiedConnections.nonEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(server.identifiedConnections.isEmpty)
    } finally server.close()
  }

  test("TCP protocol serves concurrent clients") {
    val server = new graft.service.QueryServer(svc)
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val futures = (0 until 4).map { i => Future {
        val sock = new java.net.Socket("127.0.0.1", server.boundPort)
        try {
          val out = new java.io.PrintWriter(sock.getOutputStream, true)
          val in = new java.io.BufferedReader(new java.io.InputStreamReader(sock.getInputStream))
          out.println(
            s"""{"type":"run_query","query":"select $i as n, r_regionkey from read_files('$sfDir/region.parquet')"}""")
          val resp = in.readLine()
          val id = """"query_id":"([^"]+)"""".r.findFirstMatchIn(resp).get.group(1)
          var status = ""
          val deadline = System.currentTimeMillis() + 60000
          while (!status.contains("complete") && System.currentTimeMillis() < deadline) {
            out.println(s"""{"type":"get_query_status","query_id":"$id"}""")
            status = in.readLine()
          }
          out.println(s"""{"type":"get_query_data","query_id":"$id","limit":10}""")
          in.readLine()
        } finally sock.close()
      } }
      val results = Await.result(Future.sequence(futures), 120.seconds).toList
      assert(results.size == 4)
      (0 until 4).foreach { i =>
        assert(results(i).contains(s"""["$i""") || results(i).contains(s"[$i,"), results(i))
      }
    } finally server.close()
  }

  test("compactResult rewrites a many-file result into one file, same rows") {
    val id = svc.runQuery(
      s"select o_orderkey, o_totalprice from read_files('$sfDir/orders.parquet') where o_orderkey < 200")
    assert(svc.awaitComplete(id) == QueryStatus.Complete)
    val before = svc.reader(id)
    val rowsBefore = before.totalRows
    svc.compactResult(id)
    val after = svc.reader(id)
    assert(after.files.length == 1)
    assert(after.totalRows == rowsBefore)
    val page = after.read(ResultCursor(0, 0), 10)
    assert(page.rows.size == 10)
  }

  test("EXPLAIN statements flow through the service as plan-text results") {
    val id = svc.runQuery(
      s"explain select r_regionkey from read_files('$sfDir/region.parquet') where r_regionkey > 1")
    assert(svc.awaitComplete(id) == QueryStatus.Complete)
    val rows = svc.reader(id).read(service.ResultCursor(0, 0), 10).rows
    assert(rows.nonEmpty)
    val plan = rows.map(_.getString(0)).mkString("\n")
    assert(plan.contains("Physical Plan"), plan)
    assert(plan.contains("PushedFilters"), s"filter not pushed in explained plan:\n$plan")
  }

  test("cancel stops a running query; terminal status Cancelled, no torn result") {
    // a deliberately expensive statement: lineitem x lineitem count
    val id = svc.runQuery(
      s"select count(*) as n from read_files('$sfDir/lineitem.parquet') a, " +
        s"read_files('$sfDir/lineitem.parquet') b")
    // wait until the query's job group has ACTIVE jobs, then cancel
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.currentTimeMillis() + 30000
    while (tracker.getJobIdsForGroup(id).isEmpty
        && System.currentTimeMillis() < deadline) Thread.sleep(10)
    assert(tracker.getJobIdsForGroup(id).nonEmpty, "query never started a job")
    assert(svc.cancel(id), "cancel should report the query as live")
    val terminal = svc.awaitComplete(id, 60000)
    assert(terminal == QueryStatus.Cancelled, s"got $terminal")
    // no committed result version: the reader sees an empty file set
    assert(svc.reader(id).files.isEmpty)
    // cancelling a terminal query is a no-op=false; service still works
    assert(!svc.cancel(id))
    val id2 = svc.runQuery(
      s"select r_regionkey from read_files('$sfDir/region.parquet')")
    assert(svc.awaitComplete(id2) == QueryStatus.Complete)
  }

  test("watch_query pushes a terminal update instead of polling") {
    val server = new graft.service.QueryServer(svc)
    try {
      val sock = new java.net.Socket("127.0.0.1", server.boundPort)
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(sock.getInputStream))
      def call(json: String): String = { out.println(json); in.readLine() }

      // watch a live query: ack first, pushed update when it lands
      val runResp = call(
        s"""{"type":"run_query","query":"select r_name from read_files('$sfDir/region.parquet')"}""")
      val id = """"query_id":"([^"]+)"""".r.findFirstMatchIn(runResp).get.group(1)
      val ack = call(s"""{"type":"watch_query","query_id":"$id"}""")
      assert(ack.contains("watch_query_resp") && ack.contains(id), ack)
      val push = in.readLine() // blocks until the server pushes
      assert(push.contains("query_update") && push.contains(id) &&
        push.contains("\"status\":\"complete\""), push)

      // watching an already-terminal query pushes immediately
      val ack2 = call(s"""{"type":"watch_query","query_id":"$id"}""")
      assert(ack2.contains("watch_query_resp"))
      val push2 = in.readLine()
      assert(push2.contains("\"status\":\"complete\""), push2)

      // a failing query pushes its error
      val badResp = call(
        """{"type":"run_query","query":"select * from read_files('/no/such.parquet')"}""")
      val badId = """"query_id":"([^"]+)"""".r.findFirstMatchIn(badResp).get.group(1)
      assert(call(s"""{"type":"watch_query","query_id":"$badId"}""")
        .contains("watch_query_resp"))
      val push3 = in.readLine()
      assert(push3.contains("\"status\":\"error\"") &&
        push3.contains("PATH_NOT_FOUND"), push3)

      // unknown id: ack, then an immediate not-found error update
      assert(call("""{"type":"watch_query","query_id":"nope"}""")
        .contains("watch_query_resp"))
      val push4 = in.readLine()
      assert(push4.contains("query not found"), push4)
      sock.close()
    } finally server.close()
  }

  test("reader opened before compaction keeps paging through the swap") {
    val id = svc.runQuery(
      s"select l_orderkey, l_linenumber from read_files('$sfDir/lineitem.parquet') " +
        "where l_orderkey < 500 order by l_orderkey, l_linenumber")
    assert(svc.awaitComplete(id) == QueryStatus.Complete)
    val before = svc.reader(id)
    val total = before.totalRows
    val firstPage = before.read(ResultCursor(0, 0), 20)
    assert(firstPage.rows.size == 20)
    // swap happens while `before` still holds cursors into v1
    svc.compactResult(id)
    // the pre-compaction reader's files are the grace copy — paging on
    // its existing cursors keeps working with identical rows
    val resumed = before.read(firstPage.next.get, 20)
    assert(resumed.rows.size == 20)
    assert(before.read(ResultCursor(0, 0), 20).rows == firstPage.rows)
    // a NEW reader resolves to the compacted version, same row set
    val after = svc.reader(id)
    assert(after.totalRows == total)
    assert(after.files.length == 1)
    // a second swap: the v2 reader survives it (grace), v1 is pruned
    svc.compactResult(id)
    assert(after.read(ResultCursor(0, 0), 20).rows.size == 20)
    val queryRoot = new java.io.File(s"$root/$id")
    val versions = queryRoot.listFiles().filter(_.getName.startsWith("v")).map(_.getName).sorted
    assert(versions.sameElements(Array("v2", "v3")), versions.mkString(","))
    // and the newest reader sees the fully-compacted layout
    assert(svc.reader(id).totalRows == total)
  }

  test("runScript executes statements in order with independent statuses") {
    val ids = svc.runScript(
      s"""select 1 as one from read_files('$sfDir/region.parquet');
         |select * from read_files('/missing.parquet');
         |select 2 as two from read_files('$sfDir/nation.parquet')""".stripMargin)
    assert(ids.size == 3)
    assert(svc.awaitComplete(ids(0)) == QueryStatus.Complete)
    assert(svc.awaitComplete(ids(1)).isInstanceOf[QueryStatus.Error])
    assert(svc.awaitComplete(ids(2)) == QueryStatus.Complete)
  }

  test("Arrow IPC pages: format=arrow returns a decodable one-batch stream") {
    val server = new graft.service.QueryServer(svc)
    try {
      val sock = new java.net.Socket("127.0.0.1", server.boundPort)
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(sock.getInputStream))
      def call(json: String): String = { out.println(json); in.readLine() }
      val runResp = call(
        s"""{"type":"run_query","query":"select r_regionkey, r_name from read_files('$sfDir/region.parquet') order by r_regionkey"}""")
      val id = """"query_id":"([^"]+)"""".r.findFirstMatchIn(runResp).get.group(1)
      val deadline = System.currentTimeMillis() + 60000
      var status = ""
      while (!status.contains("complete") && System.currentTimeMillis() < deadline) {
        status = call(s"""{"type":"get_query_status","query_id":"$id"}""")
        if (!status.contains("complete")) Thread.sleep(50)
      }
      val resp = call(
        s"""{"type":"get_query_data","query_id":"$id","row_idx":0,"limit":4,"format":"arrow"}""")
      assert(resp.contains("arrow_ipc") && !resp.contains("\"rows\""), resp)
      val b64 = """"arrow_ipc":"([^"]+)"""".r.findFirstMatchIn(resp).get.group(1)
      val bytes = java.util.Base64.getDecoder.decode(b64)
      val alloc = new org.apache.arrow.memory.RootAllocator(Long.MaxValue)
      val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new java.io.ByteArrayInputStream(bytes), alloc)
      try {
        assert(reader.loadNextBatch())
        val root = reader.getVectorSchemaRoot
        assert(root.getSchema.getFields.size() == 2)
        assert(root.getRowCount == 4)
        val keys = root.getVector("r_regionkey")
          .asInstanceOf[org.apache.arrow.vector.IntVector]
        assert((0 until 4).map(keys.get) == Seq(0, 1, 2, 3))
        val names = root.getVector("r_name")
          .asInstanceOf[org.apache.arrow.vector.VarCharVector]
        assert(new String(names.get(0), java.nio.charset.StandardCharsets.UTF_8).nonEmpty)
        assert(!reader.loadNextBatch()) // exactly one batch per page
      } finally { reader.close(); alloc.close() }
      sock.close()
    } finally server.close()
  }

  test("reference sample script shapes run end-to-end (sample_queries/simple*.sql)") {
    // The reference's own test queries (/root/reference/sample_queries/
    // simple.sql, simple-error-case.sql) over a sample_data/simple-
    // shaped table (id, value1, value2 — create_sample_data.rs).
    val dir = java.nio.file.Files.createTempDirectory("sample_simple").toString
    import spark.implicits._
    (0L until 100L).map(i => (i, i * 1.5, i * 2L)).toSeq
      .toDF("id", "value1", "value2")
      .write.mode("overwrite").parquet(dir)
    val ids = svc.runScriptSequential(
      s"""-- query 1
         |select * from read_files('$dir/*.parquet') where id < 25;
         |-- query 3
         |select id, value2 from read_files('$dir/*.parquet') where id < 75;
         |-- query 4
         |select id, value1, id + 10.0 as id_plus_10,
         |  (value2 + 10) / 100 as value2,
         |  1.0 / id as value3, 1.0 / (id * id) as value4, id * id as value5
         |from read_files('$dir/*.parquet') where id > 25 + 0.0""".stripMargin)
    assert(ids.size == 3)
    assert(ids.forall(id => svc.status(id).contains(QueryStatus.Complete)))
    assert(svc.reader(ids(0)).totalRows == 25)
    assert(svc.reader(ids(1)).totalRows == 75)
    assert(svc.reader(ids(2)).totalRows == 74)
    // spot-check query 4's expression results for id=26
    // decimal literals (10.0) make id+10.0 a DECIMAL column — the
    // reference computes Float64 there; cast for the value check
    val r = spark.read.parquet(svc.resultDir(ids(2)))
      .filter(org.apache.spark.sql.functions.col("id") === 26)
      .selectExpr("cast(id_plus_10 as double)", "cast(value2 as double)", "value5")
      .collect()(0)
    assert(r.getDouble(0) == 36.0 && r.getDouble(1) == 0.62 && r.getLong(2) == 676L)
  }

  test("training-data curation script: the TVF family composes through the script path") {
    // the SQL-analyst session shape: quality scoring, retrieval,
    // near-dup audit, decontamination, split assignment, the corpus
    // of record, index health, hybrid serving — and WRITE-BACK: the
    // session ends by persisting the curated corpus to a named
    // location and re-reading it, all through the service
    // (README's "curation session, SQL only" example)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("svc_curate").toString
    graft.pipeline.TextDedup.writeBandIndex(docs, s"$base/band")
    graft.pipeline.CorpusStore.write(docs, s"$base/store", buckets = 4)
    import org.apache.spark.sql.functions.col
    docs.filter(col("doc_id") % 10 === 0)
      .write.parquet(s"$base/eval")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val vecStr = emb.filter(col("vec_id") === 7L).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble.toString).mkString(",")
    val ids = svc.runScriptSequential(
      s"""select doc_id, quality from corpus_quality('$sfDir/documents.parquet') where quality > 0.1;
         |select doc_id, score from corpus_search('$sfDir/documents.parquet', 'spark window', k=>5);
         |select doc_a, doc_b, jaccard from corpus_dedup('$base/band');
         |select doc_id from corpus_decontam('$sfDir/documents.parquet', '$base/eval');
         |select split, count(*) as n from corpus_mix('$sfDir/documents.parquet', mode=>'split', weights=>'train:90,val:5,test:5') group by split order by split;
         |select count(*) as n from read_store('$base/store');
         |select store, sum(n_rows) as total_rows from corpus_index_stats('$base/band') group by store order by store;
         |select doc_id, rrf_score, n_legs from corpus_hybrid('$sfDir/documents.parquet', '$sfDir/embeddings.parquet', 'spark window', embedding=>'$vecStr', k=>10);
         |insert overwrite directory '$base/curated' using parquet select doc_id, quality from corpus_quality('$sfDir/documents.parquet') where quality > 0.1;
         |select count(*) as n from read_files('$base/curated')""".stripMargin)
    assert(ids.size == 10)
    assert(ids.forall(id => svc.status(id).contains(QueryStatus.Complete)),
      ids.map(id => svc.status(id)).mkString(", "))
    val qual = svc.reader(ids(0)).asDataFrame.collect()
    assert(qual.nonEmpty && qual.forall(_.getDouble(1) > 0.1))
    assert(svc.reader(ids(1)).totalRows == 5)
    val dups = svc.reader(ids(2)).asDataFrame.collect()
    assert(dups.nonEmpty && dups.forall(_.getDouble(2) >= 0.8))
    // decontam: the eval docs themselves (and their overlaps) are gone
    val clean = svc.reader(ids(3)).asDataFrame.collect().map(_.getLong(0)).toSet
    assert(clean.nonEmpty && clean.forall(_ % 10 != 0))
    val splits = svc.reader(ids(4)).asDataFrame.collect()
    assert(splits.map(_.getString(0)).toSeq == Seq("test", "train", "val"))
    assert(svc.reader(ids(5)).asDataFrame.head().getLong(0) == docs.count())
    val stats = svc.reader(ids(6)).asDataFrame.collect()
    assert(stats.map(_.getString(0)).toSeq == Seq("bands", "shingles"))
    // hybrid serving through the script path: top-10 fused, and the
    // query vector's own doc (vec_id 7) must appear with both legs or
    // at least the dense leg (cos = 1 pins it into the dense top-k)
    val hyb = svc.reader(ids(7)).asDataFrame.collect()
    assert(hyb.length == 10)
    assert(hyb.exists(_.getLong(0) == 7L), "dense leg must surface doc 7")
    // write-back: the command statement acknowledges through the same
    // result contract, and the persisted corpus re-reads with exactly
    // the rows statement 1 scored above the bar
    val ack = svc.reader(ids(8)).asDataFrame.collect()
    assert(ack.length == 1 && ack.head.getString(0) == "OK", ack.toSeq)
    assert(svc.reader(ids(9)).asDataFrame.head().getLong(0) == qual.length,
      "persisted curated corpus diverged from the scored statement")
  }

  test("runScriptSequential: each statement terminal at return, errors don't stop the script") {
    val ids = svc.runScriptSequential(
      s"""select r_regionkey from read_files('$sfDir/region.parquet');
         |select * from read_files('/missing.parquet');
         |select n_nationkey from read_files('$sfDir/nation.parquet')""".stripMargin)
    assert(ids.size == 3)
    // sequential semantics: by the time runScriptSequential returns,
    // every statement has already reached a terminal status — no
    // awaitComplete needed (the reference TUI's one-at-a-time model)
    assert(svc.status(ids(0)).contains(QueryStatus.Complete))
    assert(svc.status(ids(1)).exists(_.isInstanceOf[QueryStatus.Error]))
    assert(svc.status(ids(2)).contains(QueryStatus.Complete))
    assert(svc.reader(ids(2)).totalRows == 25)
  }

  test("streaming ingest adopts the full service surface: status, metrics, wire cancel, push") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_svc_stream").toString
    val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val chkDir = s"$tmp/chk"
    val text = "a perfectly ordinary document with plenty of plain words in it " * 4
    Seq((1L, new java.sql.Timestamp(5L * 60000), text)).toDF("doc_id", "ts", "text")
      .coalesce(1).write.parquet(inDir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val snapshot = Seq((100L, "snapshot base doc")).toDF("doc_id", "text")
    // ProcessingTime trigger: the stream stays alive until stopped —
    // the shape a service-managed continuous ingest actually has
    val q = graft.streaming.CorpusIngest.ingest(
      spark.readStream.schema(schema).parquet(inDir),
      snapshot, outDir, chkDir, watermark = "30 minutes",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
    val id = svc.registerStreaming(q)
    try {
      assert(svc.status(id).contains(QueryStatus.Running))
      // metrics attribution: Structured Streaming runs micro-batch jobs
      // under a job group named by the run id — the SAME collector path
      // as batch queries must see the stream's scan volume
      val deadline = System.currentTimeMillis() + 60000
      while (svc.metrics(id).forall(m => m.numJobs < 1 || m.numTasks < 1)
          && System.currentTimeMillis() < deadline) Thread.sleep(50)
      val m = svc.metrics(id).getOrElse(fail("no streaming metrics attributed"))
      assert(m.numJobs >= 1 && m.numTasks >= 1, s"got $m")

      // watch_query push fires on cancel, and cancel flows over the wire
      val fired = new java.util.concurrent.LinkedBlockingQueue[QueryStatus]()
      svc.onTerminal(id)(fired.put)
      val server = new graft.service.QueryServer(svc)
      try {
        val sock = new java.net.Socket("127.0.0.1", server.boundPort)
        val out = new java.io.PrintWriter(sock.getOutputStream, true)
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(sock.getInputStream))
        def call(json: String): String = { out.println(json); in.readLine() }
        val mResp = call(s"""{"type":"get_query_metrics","query_id":"$id"}""")
        assert(mResp.contains("get_query_metrics_resp"), mResp)
        val cResp = call(s"""{"type":"cancel_query","query_id":"$id"}""")
        assert(cResp.contains("cancel_query_resp"), cResp)
        sock.close()
      } finally server.close()
      assert(fired.poll(30, java.util.concurrent.TimeUnit.SECONDS) == QueryStatus.Cancelled)
      assert(svc.status(id).contains(QueryStatus.Cancelled))
      assert(!q.isActive, "cancel must stop the StreamingQuery")
    } finally if (q.isActive) q.stop()
  }

  test("self-terminating stream (AvailableNow) reaches Complete through the service") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_svc_stream2").toString
    val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val chkDir = s"$tmp/chk"
    val text = "another perfectly ordinary document with plenty of plain words " * 4
    // NOT epoch 0: an event time equal to the stream's initial
    // watermark (0) is dropped as late by dropDuplicatesWithinWatermark
    Seq((1L, new java.sql.Timestamp(5L * 60000), text)).toDF("doc_id", "ts", "text")
      .coalesce(1).write.parquet(inDir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val snapshot = Seq((100L, "snapshot base doc")).toDF("doc_id", "text")
    val q = graft.streaming.CorpusIngest.ingest(
      spark.readStream.schema(schema).parquet(inDir),
      snapshot, outDir, chkDir, watermark = "30 minutes")
    val id = svc.registerStreaming(q)
    assert(svc.awaitComplete(id, 120000) == QueryStatus.Complete)
    assert(spark.read.parquet(outDir).count() == 1)
  }

  test("restart recovery: a new service over the same root serves pre-restart results") {
    val id = svc.runQuery(
      s"select n_nationkey, n_name from read_files('$sfDir/nation.parquet') order by n_nationkey")
    assert(svc.awaitComplete(id) == QueryStatus.Complete)
    val failedId = svc.runQuery("select * from read_files('/no/such/path.parquet')")
    svc.awaitComplete(failedId)

    // "restart": a fresh service instance over the same results root
    // (fresh process-local maps, same disk state)
    val svc2 = new QueryService(spark, root)
    try {
      // committed result rehydrates as Complete and pages by id
      assert(svc2.status(id).contains(QueryStatus.Complete))
      val r = svc2.reader(id)
      assert(r.totalRows == 25)
      val page = r.read(ResultCursor(0, 0), 5)
      assert(page.rows.size == 5 && page.rows.head.getInt(0) == 0)
      // a query that never committed (Error) stays unknown — recovery
      // resurrects only results that truly completed
      assert(svc2.status(failedId).isEmpty)
    } finally svc2.close()
  }

  test("cancelled query leaves no committed result for recovery to resurrect") {
    val id = svc.runQuery(
      s"select count(*) as n from read_files('$sfDir/lineitem.parquet') a, " +
        s"read_files('$sfDir/lineitem.parquet') b")
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.currentTimeMillis() + 30000
    while (tracker.getJobIdsForGroup(id).isEmpty
        && System.currentTimeMillis() < deadline) Thread.sleep(10)
    assert(svc.cancel(id))
    assert(svc.awaitComplete(id, 60000) == QueryStatus.Cancelled)
    // disk agrees with the Cancelled status: no committed version, so
    // a restarted service reports the id unknown rather than Complete
    val svc2 = new QueryService(spark, root)
    try assert(svc2.status(id).isEmpty)
    finally svc2.close()
  }

  test("query deadline: a statement over its runtime budget terminates as QUERY_TIMEOUT") {
    val root2 = java.nio.file.Files.createTempDirectory("graft_deadline").toString
    val svc2 = new QueryService(spark, root2, queryTimeoutMs = 700)
    DeadlineGate.reset()
    // service SQL plans on the service's dedicated child session, so
    // the test device registers there (host-session UDFs are out of
    // the service contract, like host temp views)
    svc2.sqlSession.udf.register("graft_test_stall",
      () => { DeadlineGate.latch.await(); 1 })
    try {
      // a per-statement override outlives the tight service default
      // (also absorbs first-query warmup, which the 700 ms default
      // would legitimately kill)
      val fast = svc2.runQuery(
        s"select r_regionkey from read_files('$sfDir/region.parquet')", 60000)
      assert(svc2.awaitComplete(fast) == QueryStatus.Complete)
      // a stalled statement is cancelled by the timer and reports the
      // budget error, NOT Cancelled (nobody asked for a cancel)
      val slow = svc2.runQuery("select graft_test_stall() as x")
      svc2.awaitComplete(slow, 30000) match {
        case QueryStatus.Error(m) =>
          assert(m.contains("[QUERY_TIMEOUT]") && m.contains("700 ms"), m)
        case other => fail(s"expected QUERY_TIMEOUT error, got $other")
      }
      // within-budget statements still complete under the default
      DeadlineGate.latch.countDown()
      val roomy = svc2.runQuery("select graft_test_stall() as y", 60000)
      assert(svc2.awaitComplete(roomy) == QueryStatus.Complete)
      // the wire's optional timeout_ms reaches the same budget path
      DeadlineGate.reset()
      val server = new graft.service.QueryServer(svc2)
      try {
        val sock = new java.net.Socket("127.0.0.1", server.boundPort)
        val out = new java.io.PrintWriter(sock.getOutputStream, true)
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(sock.getInputStream))
        out.println("""{"type":"run_query","query":"select graft_test_stall() as z","timeout_ms":500}""")
        val qid = in.readLine()
        assert(qid.contains("run_query_resp"), qid)
        out.println(qid.replaceAll(""".*"query_id":"([^"]+)".*""",
          """{"type":"watch_query","query_id":"$1"}"""))
        assert(in.readLine().contains("watch_query_resp"))
        val update = in.readLine() // pushed at terminal
        assert(update.contains("QUERY_TIMEOUT"), update)
        sock.close()
      } finally server.close()
    } finally {
      DeadlineGate.latch.countDown() // never leave a slot thread blocked
      svc2.close()
    }
  }

  test("admission control: statements beyond the slots wait as Queued, then all complete") {
    val root2 = java.nio.file.Files.createTempDirectory("graft_admission").toString
    val svc2 = new QueryService(spark, root2, maxConcurrentQueries = 2)
    AdmissionGate.reset()
    svc2.sqlSession.udf.register("graft_test_block",
      () => { AdmissionGate.latch.await(); 1 })
    try {
      // two statements claim both slots and block on the gate
      val holding = Seq.fill(2)(svc2.runQuery("select graft_test_block() as x"))
      val deadline = System.currentTimeMillis() + 30000
      while (!holding.forall(id => svc2.status(id).contains(QueryStatus.Running))
          && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(holding.forall(id => svc2.status(id).contains(QueryStatus.Running)))
      // overflow statements must report Queued — and STAY queued while
      // the slots are full, proving they run no Spark work yet
      val overflow = Seq.fill(2)(svc2.runQuery(
        s"select r_regionkey from read_files('$sfDir/region.parquet')"))
      Thread.sleep(300)
      assert(overflow.forall(id => svc2.status(id).contains(QueryStatus.Queued)),
        overflow.map(svc2.status).toString)
      // the admission snapshot sees the same picture, locally and over
      // the wire
      assert(svc2.admissionStats == graft.service.ServiceStats(2, 2, 2))
      val server = new graft.service.QueryServer(svc2)
      try {
        val sock = new java.net.Socket("127.0.0.1", server.boundPort)
        val out = new java.io.PrintWriter(sock.getOutputStream, true)
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(sock.getInputStream))
        out.println("""{"type":"get_service_stats"}""")
        val resp = in.readLine()
        assert(resp.contains("get_service_stats_resp") &&
          resp.contains("\"queued\":2") && resp.contains("\"running\":2") &&
          resp.contains("\"slots\":2"), resp)
        sock.close()
      } finally server.close()
      // cancel-while-Queued: a statement cancelled before it ever
      // claims a slot must terminate Cancelled when the slot frees up,
      // not run to Complete
      val cancelQueued = svc2.runQuery(
        s"select r_regionkey from read_files('$sfDir/region.parquet')")
      assert(svc2.status(cancelQueued).contains(QueryStatus.Queued))
      svc2.cancel(cancelQueued)
      // release the gate: every statement completes
      AdmissionGate.latch.countDown()
      (holding ++ overflow).foreach { id =>
        assert(svc2.awaitComplete(id) == QueryStatus.Complete, id)
      }
      assert(svc2.awaitComplete(cancelQueued) == QueryStatus.Cancelled,
        "queued-then-cancelled statement must not run")
      // queue-wait attribution: the overflow statements sat Queued
      // behind the latched slots (>= the 300 ms queued-assert sleep
      // above), the slot-holders were admitted immediately — the
      // metric is what separates "backlogged service" from "slow
      // query". Served locally and over the wire.
      val overflowWait = svc2.metrics(overflow.head).get.queueWaitMs
      val holdingWait = svc2.metrics(holding.head).get.queueWaitMs
      assert(overflowWait >= 300, s"overflow queue wait $overflowWait ms")
      assert(holdingWait < overflowWait,
        s"slot-holder waited $holdingWait ms, overflow $overflowWait ms")
      val server2 = new graft.service.QueryServer(svc2)
      try {
        val sock = new java.net.Socket("127.0.0.1", server2.boundPort)
        val out = new java.io.PrintWriter(sock.getOutputStream, true)
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(sock.getInputStream))
        out.println(s"""{"type":"get_query_metrics","query_id":"${overflow.head}"}""")
        val resp = in.readLine()
        assert(resp.contains("queue_wait_ms"), resp)
        val wire = """"queue_wait_ms":(\d+)""".r.findFirstMatchIn(resp)
          .map(_.group(1).toLong)
        assert(wire.exists(_ == overflowWait), s"wire $wire != local $overflowWait")
        sock.close()
      } finally server2.close()
    } finally {
      AdmissionGate.latch.countDown() // never leave slot threads blocked
      svc2.close()
    }
  }

  test("warmup primes the serving session and leaves no residue") {
    val secs = graft.service.Warmup.prime(spark)
    assert(secs > 0)
    // idempotent and session-healthy afterwards: a normal query plans
    // and runs; the temp warmup data is gone (nothing to assert by
    // path — prime deletes its own dir — so just re-prime cheaply)
    assert(spark.range(3).count() == 3)
    val again = graft.service.Warmup.prime(spark)
    assert(again > 0 && again <= secs * 3 + 30)
  }
}

/** Static gate for the admission-control test: the blocking UDF must
  * reference state reachable without closure capture (a latch captured
  * in the lambda would have to serialize). */
object AdmissionGate {
  @volatile var latch = new java.util.concurrent.CountDownLatch(1)
  def reset(): Unit = { latch = new java.util.concurrent.CountDownLatch(1) }
}

/** Static gate for the deadline test (same closure-capture constraint
  * as [[AdmissionGate]]). */
object DeadlineGate {
  @volatile var latch = new java.util.concurrent.CountDownLatch(1)
  def reset(): Unit = { latch = new java.util.concurrent.CountDownLatch(1) }
}
