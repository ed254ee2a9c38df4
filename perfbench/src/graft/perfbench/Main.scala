package graft.perfbench

import graft.service.{ArrowPage, QueryServer, QueryService, ResultCursor, ResultReader}
import graft.sources.{Connections, ReadFiles}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The serving benchmark: QueryService + QueryServer in this JVM, driven
  * over loopback TCP by closed-loop clients, every page checked against
  * answers computed in set-up without the service.
  *
  * Usage: graft.perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir> --result <file>
  *
  * `--trace 0` measures the end-to-end metrics. `--trace 1` runs the
  * same untraced client phase, then replays the same seeded statements
  * through each layer's public entry points under spans, and reports
  * per-layer metrics. All files live under `--work`, which the caller
  * clears before each run. */
object Main {
  val RequestTimeoutMs = 120000
  /** Traffic before the measured window, so the JIT settles. */
  val WarmupS = 5.0
  /** Set-ups per run; `setup_s` is the session start plus their median.
    * The first set-up runs on a cold JVM and the second on a warm one,
    * so the median is their mean. */
  val SetupRepeats = 2

  /** One statement as a client saw it; `pages` keeps what each page
    * returned (request, global row offset, columns, rows) until it is
    * checked. */
  final case class Sample(client: Int, kind: String, expected: String, queryId: String,
                          t0: Long, t1: Long, stmtMs: Double, ackMs: Double, pageMs: Seq[Double],
                          pages: Seq[(PageReq, Long, Seq[String], Seq[Seq[Any]])],
                          measured: Boolean, error: Option[String]) {
    def rows: Long = pages.map(_._4.size.toLong).sum
  }

  final case class Phase(samples: Seq[Sample]) {
    def ok: Seq[Sample] = samples.filter(_.error.isEmpty)
    def failed: Int = samples.size - ok.size
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.byName(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath.toString
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = graft.Engine.session("perfbench")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0

    // the data files are input generation, written before set-up starts
    val tData = System.nanoTime()
    val f = Fixtures(s"$work/serve")
    Fixtures.writeData(spark, f, seed, wl.needs)
    val dataS = (System.nanoTime() - tData) / 1e9

    // set-up: the indexes, the service, then the listener answering a
    // first connection, repeated SetupRepeats times; the last one
    // serves. QueryService.warmup is not called (Cli --serve's
    // SPARK_GRAFT_NO_WARMUP mode): cold, it costs more than the whole
    // measured window; the warm-up traffic primes the JIT
    val setups = ArrayBuffer[Double]()
    var service: Option[(QueryService, QueryServer)] = None
    for (i <- 1 to SetupRepeats) {
      service.foreach { case (svc, server) => server.close(); svc.close() }
      if (wl.needs(Fixtures.Indexes)) Fixtures.dropIndexes(f)
      val t0 = System.nanoTime()
      if (wl.needs(Fixtures.Indexes)) Fixtures.buildIndexes(spark, f)
      val svc = new QueryService(spark, f.results)
      val server = new QueryServer(svc, 0)
      new WireClient(server.boundPort, RequestTimeoutMs).close()
      setups += (System.nanoTime() - t0) / 1e9
      service = Some((svc, server))
    }
    val (svc, server) = service.get
    val setupS = sessionS + Stats.median(setups.toSeq)

    // the expected answers, computed before any traffic; not set-up
    val tA = System.nanoTime()
    val answers = Check.answers(spark, f, wl.expectations(seed, f), wl.reach)
    val answersS = (System.nanoTime() - tA) / 1e9
    val (checked, rssPeak) = serve(wl, server.boundPort, seed, seconds, f, answers)
    val phase = Phase(checked.filter(_.measured))
    val out = new StringBuilder
    def line(s: String): Unit = { out.append(s).append('\n'); println(s) }

    line(f"workload ${wl.name}: ${wl.clients} closed-loop clients, seed $seed, ${WarmupS}%.0f s " +
      f"warm-up then ${seconds}%.0f s measured, ${phase.samples.size} statements measured, " +
      f"${phase.failed} failed")
    line(f"set-up: session $sessionS%.2f s, then ${setups.map(x => f"$x%.2f").mkString(", ")} s; " +
      f"setup_s = session + median = $setupS%.2f s; data files $dataS%.2f s before set-up and " +
      f"${answers.size} expected answers $answersS%.2f s after it (neither in setup_s)")
    checked.flatMap(s => s.error.map(e => s"${s.kind}: $e")).distinct.take(5)
      .foreach(e => line(s"  failure: $e"))
    phase.ok.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, ss) =>
      line(f"  $k%-16s n=${ss.size}%4d stmt p50 ${Stats.median(ss.map(_.stmtMs))}%8.1f ms, " +
        f"page p50 ${Stats.median(ss.flatMap(_.pageMs))}%7.1f ms")
    }
    val stmts = phase.ok.map(_.stmtMs)
    val pages = phase.ok.flatMap(_.pageMs)
    line(f"stmt ms: ${stmts.size} samples, p50 ${Stats.median(stmts)}%.1f, " +
      s"p75 ${Stats.tailText(stmts, 0.75)}, " +
      s"p90 ${Stats.tailText(stmts, 0.9)}, p95 ${Stats.tailText(stmts, 0.95)}")
    line(s"page ms: ${pages.size} samples, p90 ${Stats.tailText(pages, 0.9)}, " +
      s"p95 ${Stats.tailText(pages, 0.95)}")
    val e2e = endToEnd(phase, setupS, rssPeak)
    line(f"${"metric"}%-16s ${"value"}%14s  unit")
    e2e.foreach { case (k, (v, u)) => line(f"$k%-16s $v%14.4f  $u") }
    line(f"${"error_rate"}%-16s ${phase.failed.toDouble / phase.samples.size.max(1)}%14.4f  ratio")

    val layer =
      if (trace) Some(traced(wl, spark, svc, f, seed, seconds, answers, phase, work, line)) else None
    layer.foreach(_.failed.distinct.take(5).foreach(m => line(s"  replay failure: $m")))
    val metrics = layer.fold(e2e)(_.metrics)
    // warm-up statements are checked too, and count as attempted
    val attempted = checked.size + layer.fold(0)(_.attempted)
    val failed = checked.count(_.error.isDefined) + layer.fold(0)(_.failed.size)
    val result = WireClient.json.createObjectNode()
    result.put("correct", failed == 0)
    result.put("attempted", attempted)
    result.put("failed", failed)
    val m = result.putObject("metrics")
    metrics.foreach { case (k, (v, u)) => m.putObject(k).put("value", v).put("unit", u) }
    Files.write(Paths.get(opts("result")), WireClient.json.writeValueAsBytes(result))
    Files.write(Paths.get(s"$work/report-${wl.name}.txt"), out.toString.getBytes)
    // one line per statement, warm-up included, for offline analysis
    val first = checked.map(_.t0).min
    Files.write(Paths.get(s"$work/samples-${wl.name}.jsonl"), checked.sortBy(_.t0).map { s =>
      val o = WireClient.json.createObjectNode().put("client", s.client).put("kind", s.kind)
        .put("measured", s.measured).put("start_ms", (s.t0 - first) / 1e6)
        .put("stmt_ms", s.stmtMs).put("ack_ms", s.ackMs)
      s.pageMs.foreach(o.withArray("page_ms").add(_))
      s.error.foreach(o.put("error", _))
      WireClient.json.writeValueAsString(o)
    }.asJava)

    server.close()
    svc.close()
    spark.stop()
  }

  def ms(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e6

  /** The closed loop: each client sends its next statement only after
    * the previous statement and its pages completed. The measured
    * window opens after [[WarmupS]] of traffic; each client's window
    * holds whole mix cycles. Every page is checked against the answers
    * afterwards. */
  def serve(wl: Workload, port: Int, seed: Long, seconds: Double, f: Fixtures,
            answers: Map[String, Answer]): (Seq[Sample], Double) = {
    val start = System.nanoTime()
    @volatile var measureFrom = Long.MaxValue
    @volatile var deadline = Long.MaxValue
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val threads = (0 until wl.clients).map { c =>
      new Thread(() => {
        var client = new WireClient(port, RequestTimeoutMs)
        val stream = wl.stream(seed, c, f)
        // a client measures from its first statement after the warm-up
        // until it has run whole cycles (any `cycle` consecutive
        // statements hold the full mix) and the deadline has passed
        var n = 0
        while (n % wl.cycle != 0 || System.nanoTime() < deadline) {
          val st = stream.next()
          val t0 = System.nanoTime()
          val measured = t0 >= measureFrom
          if (measured) n += 1
          var id = ""
          var stmtMs, ackMs = 0.0
          val pageMs = ArrayBuffer[Double]()
          val pages = ArrayBuffer[(PageReq, Long, Seq[String], Seq[Seq[Any]])]()
          val error =
            try {
              val (qid, ackAt) = client.run(st.sql)
              id = qid
              stmtMs = ms(t0)
              ackMs = (ackAt - t0) / 1e6
              pagePlan(wl) { (at, req, pos) =>
                val tp = System.nanoTime()
                val page = client.page(qid, at, req)
                pageMs += ms(tp)
                pages += ((req, pos, page.columns, page.rows))
                (page.rows.size, page.next, page.prev)
              }
              None
            } catch {
              case e: Exception =>
                // the connection may hold a late reply: start a fresh one
                try client.close() catch { case _: Exception => () }
                client = new WireClient(port, RequestTimeoutMs)
                Some(String.valueOf(e.getMessage).take(300))
            }
          results.add(Sample(c, st.kind, st.expected.key, id, t0, System.nanoTime(), stmtMs, ackMs,
            pageMs.toSeq, pages.toSeq, measured, error))
        }
        client.close()
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    val warmEnd = start + (WarmupS * 1e9).toLong
    while (System.nanoTime() < warmEnd) Thread.sleep(10)
    measureFrom = System.nanoTime()
    deadline = measureFrom + (seconds * 1e9).toLong
    // the serving phase's peak resident set: VmRSS sampled until the
    // last client is done
    var rssPeak = 0.0
    while (threads.exists(_.isAlive)) {
      rssPeak = math.max(rssPeak, rssMb)
      Thread.sleep(RssSampleMs)
    }
    threads.foreach(_.join())
    (results.asScala.toSeq.map(check(_, answers)), rssPeak)
  }

  /** Mark a sample failed when any of its pages differs from its answer. */
  def check(s: Sample, answers: Map[String, Answer]): Sample =
    if (s.error.isDefined) s
    else {
      val ans = answers(s.expected)
      s.pages.iterator.flatMap { case (req, pos, cols, rows) =>
        Check.comparePage(ans, cols, Check.slice(ans, pos, req), rows)
      }.nextOption().fold(s)(m => s.copy(error = Some(s"page mismatch: $m")))
    }

  /** Walk a workload's paging plan: forward pages follow `next`, a
    * backward page ends at the current cursor. `read` gets the cursor,
    * the request and the global row offset, and returns the rows read
    * and the page's next/prev cursors. */
  def pagePlan(wl: Workload)(
      read: (Cursor, PageReq, Long) => (Int, Option[Cursor], Option[Cursor])): Unit = {
    var at: Option[Cursor] = Some(Cursor(0, 0))
    var pos = 0L
    wl.pages.foreach { req =>
      at.foreach { c =>
        val (n, next, prev) = read(c, req, pos)
        if (req.forward) { pos += n; at = next } else { pos -= n; at = prev }
      }
    }
  }

  /** Throughputs are summed over clients, each over its own window from
    * its first measured statement's start to its last one's end. */
  def endToEnd(p: Phase, setupS: Double, rssPeak: Double): Seq[(String, (Double, String))] = {
    val ok = p.ok
    def rate(count: Sample => Double): Double = ok.groupBy(_.client).values.map { ss =>
      ss.map(count).sum / ((ss.map(_.t1).max - ss.map(_.t0).min) / 1e9)
    }.sum
    Seq(
      "setup_s" -> (setupS, "s"),
      "stmt_mean_ms" -> (Stats.mean(ok.map(_.stmtMs)), "ms"),
      "page_p50_ms" -> (Stats.median(ok.flatMap(_.pageMs)), "ms"),
      "qps" -> (rate(_ => 1.0), "1/s"),
      "rows_per_s" -> (rate(_.rows.toDouble), "rows/s"),
      "rss_peak_mb" -> (rssPeak, "MB"))
  }

  val RssSampleMs = 50

  /** The process's resident set now (`VmRSS`). */
  def rssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmRSS:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  final case class Layer(metrics: Seq[(String, (Double, String))], attempted: Int, failed: Seq[String])

  /** The traced run: per-statement service metrics from the untraced
    * phase, then a replay of the same seeded statements through the
    * entry points `QueryService.runQuery` and QueryServer's
    * `get_query_data` call, in their order, under spans. */
  def traced(wl: Workload, spark: SparkSession, svc: QueryService, f: Fixtures, seed: Long,
             seconds: Double, answers: Map[String, Answer], untraced: Phase, work: String,
             line: String => Unit): Layer = {
    val sc = spark.sparkContext
    Thread.sleep(500) // the metrics listener bus trails the last task
    val svcMetrics = untraced.ok.flatMap(s => svc.metrics(s.queryId))
    val jobs = new JobCounter
    sc.addSparkListener(jobs)
    val tracer = new Tracer
    val commitFiles = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double)]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val requests = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]() // id, pages
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val threads = (0 until wl.clients).map { c =>
      new Thread(() => {
        sc.setLocalProperty("spark.scheduler.pool", Thread.currentThread().getName)
        val stream = wl.stream(seed, c, f)
        var i = 0
        while (System.nanoTime() < deadline) {
          val st = stream.next()
          val req = s"c$c-$i"
          i += 1
          val dir = s"${f.root}/replay/$req/v1"
          var pages = 0
          try {
            var out: DataFrame = null
            tracer.span("request", req) {
              sc.setJobGroup(s"$req/analyze", req, interruptOnCancel = true)
              out = tracer.span("sources.analyze", req) {
                ReadFiles.sql(svc.sqlSession, st.sql, Connections())
              }
              tracer.span("plan.optimize", req)(out.queryExecution.optimizedPlan)
              tracer.span("plan.physical", req)(out.queryExecution.executedPlan)
              sc.setJobGroup(s"$req/commit", req, interruptOnCancel = true)
              tracer.span("commit.write", req)(out.write.mode("overwrite").parquet(dir))
              sc.setJobGroup(s"$req/page", req, interruptOnCancel = true)
              val ans = answers(st.expected.key)
              pagePlan(wl) { (at, preq, pos) =>
                pages += 1
                val (cols, rows, next, prev) = tracer.span("page", req) {
                  val r = tracer.span("reader.open", req) {
                    val r = new ResultReader(spark, dir); r.totalRows; r
                  }
                  val schema = tracer.span("reader.schema", req)(r.asDataFrame.schema)
                  val page = tracer.span("reader.page", req) {
                    r.read(ResultCursor(at.fileIdx, at.rowIdx), preq.limit, preq.forward)
                  }
                  tracer.span("reader.encode", req) {
                    if (preq.arrow) ArrowPage.serialize(schema, page.rows)
                    else WireClient.json.writeValueAsBytes(jsonRows(page.rows))
                  }
                  (schema.fieldNames.toSeq, page.rows.map(_.toSeq), page.next, page.prev)
                }
                Check.comparePage(ans, cols, Check.slice(ans, pos, preq), rows)
                  .foreach(m => throw new RequestFailed(s"replay page mismatch: $m"))
                (rows.size, next.map(n => Cursor(n.fileIdx, n.rowIdx)),
                  prev.map(p => Cursor(p.fileIdx, p.rowIdx)))
              }
            }
            // the execution estimate: the same analyzed statement run
            // again to the noop sink, outside its request span
            sc.setJobGroup(s"$req/noop", req, interruptOnCancel = true)
            tracer.span("exec.noop", req)(out.write.format("noop").mode("overwrite").save())
            val parts = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
            val total = answers(st.expected.key).total
            commitFiles.add((parts.length, parts.map(_.length).sum.toDouble / math.max(1L, total)))
            requests.add((req, pages))
          } catch {
            case e: Exception => failures.add(s"${st.kind}: ${String.valueOf(e.getMessage).take(300)}")
          } finally sc.clearJobGroup()
        }
      }, s"perfbench-replay-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    jobs.settle()
    sc.removeSparkListener(jobs)

    val spans = tracer.all
    val self = Tracer.selfTimes(spans)
    val spanFile = Paths.get(s"$work/trace/spans-${wl.name}-seed$seed.jsonl")
    tracer.write(spanFile)
    val byName = spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id) / 1e6) }
    def p50(name: String): Double = byName.get(name).map(Stats.median).getOrElse(0.0)
    def total(name: String): Double = byName.get(name).map(_.sum).getOrElse(0.0)
    val reqs = requests.asScala.toSeq
    val nReq = reqs.size.max(1)

    // per-layer self-time table
    val table = new StringBuilder
    def tl(s: String): Unit = { table.append(s).append('\n'); line(s) }
    tl(s"per-layer self time, traced replay of ${reqs.size} statements (${wl.clients} clients); " +
      s"spans in $spanFile")
    tl(f"${"span"}%-16s ${"n"}%6s ${"self p50 ms"}%12s ${"self p95 ms"}%12s ${"ms/stmt"}%9s")
    Seq("request", "sources.analyze", "plan.optimize", "plan.physical", "commit.write", "page",
      "reader.open", "reader.schema", "reader.page", "reader.encode", "exec.noop").foreach { n =>
      byName.get(n).foreach { xs =>
        tl(f"$n%-16s ${xs.size}%6d ${Stats.median(xs)}%12.2f ${Stats.tailText(xs, 0.95)}%12s " +
          f"${xs.sum / nReq}%9.2f")
      }
    }
    val queueWait = Stats.mean(svcMetrics.map(_.queueWaitMs.toDouble))
    val noop = total("exec.noop")
    val planning = total("plan.optimize") + total("plan.physical")
    val shares = Seq(
      "admission" -> queueWait,
      "analysis" -> total("sources.analyze") / nReq,
      "planning" -> planning / nReq,
      "execution" -> math.max(0.0, noop - planning) / nReq,
      "commit" -> math.max(0.0, total("commit.write") - noop) / nReq,
      "paging" -> spans.filter(_.name == "page").map(_.durNs / 1e6).sum / nReq)
    tl(f"service queue wait: mean $queueWait%.3f ms over ${svcMetrics.size} statements " +
      f"(max ${svcMetrics.map(_.queueWaitMs).maxOption.getOrElse(0L)} ms)")
    tl("where a statement's time goes (ms per statement; execution = exec.noop - planning, " +
      "commit = commit.write - exec.noop):")
    shares.foreach { case (k, v) => tl(f"  $k%-10s $v%9.2f") }
    tl(s"dominant layer for ${wl.name}: ${shares.maxBy(_._2)._1}")

    val untracedP50 = Stats.median(untraced.ok.map(_.stmtMs))
    val tracedStmt = spans.filter(_.name == "request").map { r =>
      val pageNs = spans.filter(s => s.parent == r.id && s.name == "page").map(_.durNs).sum
      (r.durNs - pageNs) / 1e6
    }
    val tracedP50 = Stats.median(tracedStmt)
    tl(f"tracing overhead: traced stmt p50 $tracedP50%.2f ms - untraced $untracedP50%.2f ms = " +
      f"${tracedP50 - untracedP50}%.2f ms (exec.noop excluded)")
    Files.write(Paths.get(s"$work/trace/layers-${wl.name}-seed$seed.txt"), table.toString.getBytes)

    val pageReqs = reqs.map(_._2).sum.max(1)
    val cf = commitFiles.asScala.toSeq
    val svcMean = (g: graft.service.QueryMetrics => Double) => Stats.mean(svcMetrics.map(g))
    val metrics = Seq(
      "server.ack_ms" -> (Stats.median(untraced.ok.map(_.ackMs)), "ms"),
      "server.page_rtt_ms" -> (Stats.median(untraced.ok.flatMap(_.pageMs)), "ms"),
      "service.queue_wait_ms" -> (queueWait, "ms"),
      "service.wall_ms" -> (Stats.median(svcMetrics.map(_.wallTimeMs.toDouble)), "ms"),
      "service.task_ms" -> (Stats.median(svcMetrics.map(_.executorRunTimeMs.toDouble)), "ms"),
      "service.jobs" -> (svcMean(_.numJobs.toDouble), "count"),
      "service.stages" -> (svcMean(_.numStages.toDouble), "count"),
      "service.tasks" -> (svcMean(_.numTasks.toDouble), "count"),
      "service.input_bytes" -> (svcMean(_.inputBytes.toDouble), "B"),
      "service.shuffle_bytes" -> (svcMean(m => (m.shuffleReadBytes + m.shuffleWriteBytes).toDouble), "B"),
      "sources.analyze_ms" -> (p50("sources.analyze"), "ms"),
      "sources.analyze_jobs" -> (Stats.mean(reqs.map(r => jobs.jobs(s"${r._1}/analyze").toDouble)), "count"),
      "plan.optimize_ms" -> (p50("plan.optimize"), "ms"),
      "plan.physical_ms" -> (p50("plan.physical"), "ms"),
      "commit.write_ms" -> (p50("commit.write"), "ms"),
      "commit.files" -> (Stats.mean(cf.map(_._1.toDouble)), "count"),
      "commit.bytes_per_row" -> (Stats.mean(cf.map(_._2)), "B/row"),
      "exec.noop_ms" -> (p50("exec.noop"), "ms"),
      "reader.open_ms" -> (p50("reader.open"), "ms"),
      "reader.schema_ms" -> (p50("reader.schema"), "ms"),
      "reader.page_ms" -> (p50("reader.page"), "ms"),
      "reader.encode_ms" -> (p50("reader.encode"), "ms"),
      "reader.page_jobs" -> (reqs.map(r => jobs.jobs(s"${r._1}/page")).sum.toDouble / pageReqs, "count"),
      "trace.overhead_ms" -> (tracedP50 - untracedP50, "ms"))
    Layer(metrics, reqs.size + failures.size, failures.asScala.toSeq)
  }

  /** The page as QueryServer's JSON encoding shapes it: one array per
    * row, dates and timestamps as ISO-8601 strings. */
  private def jsonRows(rows: Seq[org.apache.spark.sql.Row]): java.util.List[java.util.List[Any]] =
    rows.map(r => r.toSeq.map {
      case t: java.sql.Timestamp => t.toInstant.toString
      case d: java.sql.Date => d.toLocalDate.toString
      case v => v
    }.asJava).asJava
}
