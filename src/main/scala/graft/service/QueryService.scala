package graft.service

import graft.sources.{Connections, Parquet, ReadFiles, ScriptRunner}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import scala.concurrent.{ExecutionContext, Future}

import scala.util.{Failure, Success, Try}

/** Query lifecycle status — mirror of the reference's
  * `Status { Queued, Running, Complete, Error }`
  * (/root/reference/src/handlers/query_handler/query_handler_state.rs:28-61). */
sealed trait QueryStatus
object QueryStatus {
  case object Queued extends QueryStatus
  case object Running extends QueryStatus
  case object Complete extends QueryStatus
  final case class Error(message: String) extends QueryStatus
  /** Terminal: the client asked for the query to stop. */
  case object Cancelled extends QueryStatus
}

/** The engine's client-facing service: accepts SQL scripts, executes
  * each statement as its own query, materializes every result to a
  * deterministic parquet directory `<resultsRoot>/<query_uuid>/`, and
  * serves paged reads over those results.
  *
  * This is the part of the reference that is NOT already Spark — its
  * external protocol (RunQuery → query_id → GetQueryStatus →
  * GetQueryData; /root/reference/src/handlers/query_handler/
  * query_handler.rs:418-458, query_data_handler.rs:132-181). Planning,
  * scheduling, exchanges and retries are all Catalyst/Spark here.
  */
final class QueryService(
    spark: SparkSession,
    resultsRoot: String,
    connections: Connections = Connections(),
    maxTrackedStatuses: Int = 10000,
    maxConcurrentQueries: Int = 8,
    queryTimeoutMs: Long = 0) {

  private val statuses = new ConcurrentHashMap[String, QueryStatus]()

  // --- SQL planning session ------------------------------------------
  // Service statements plan on a DEDICATED child session (same
  // SparkContext, shared external catalog, same injected extensions —
  // fresh SQLConf and temp-view namespace) with CBO join reordering
  // ON, while Engine.tune keeps it OFF for engine-authored DataFrame
  // paths. The split is a measured decision (tools.QueryProfile
  // --reorder): the DP reorder regressed hand-ordered fact-first TPC-H declarations (q8
  // 3.4×, q9 1.9× — Spark's cost model prices rows, not
  // broadcast-ability) but is exactly the rescue arbitrary
  // service-submitted SQL needs, since ad-hoc authors don't order
  // joins (PlanSpec proves it rewires a pessimal fact-fact-first
  // declaration). A child session rather than a per-statement conf
  // flip because SQLConf is session-scoped: flipping it on the host's
  // session would race concurrently-planning host queries. The child
  // resolves catalog tables and the injected TVFs (read_files with
  // this service's connections) like the parent — the reference's
  // service is a standalone server speaking SQL over storage
  // connections, not over a host program's temp views, so parent temp
  // views are deliberately out of contract. Reorder only engages for
  // statements whose tables carry catalog statistics (CBO is inert
  // without them).
  private[graft] val sqlSession: SparkSession = {
    val s = spark.newSession()
    graft.Engine.tune(s)
    // newSession() starts from SparkConf + initial options, NOT the
    // host's runtime conf — carry over the engine's own spark.graft.*
    // runtime flags (e.g. stores.contentSignature) so a deployment
    // that configured them on its session gets the same semantics on
    // the service path. Snapshot at construction; build services
    // after session configuration (host flags flipped later do not
    // propagate — same contract as executor-side conf).
    spark.conf.getAll.foreach { case (k, v) =>
      if (k.startsWith("spark.graft.")) s.conf.set(k, v)
    }
    s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    s
  }

  // --- admission control -------------------------------------------
  // Statements execute on this bounded pool, NOT an unbounded global
  // one: N concurrent scripts submit N statements, but only
  // `maxConcurrentQueries` run Spark jobs at once — the rest sit in
  // the pool's FIFO queue with status Queued. This is the Spark
  // mapping of the reference's admission control (greedy claim against
  // per-worker compute budgets, query_handler_state.rs:421-466): the
  // "budget" here is a slot, because Spark itself load-balances the
  // tasks of admitted queries. Each slot thread runs its queries in
  // its own FAIR scheduler pool (one pool per slot — bounded pool
  // count), so under spark.scheduler.mode=FAIR (set by
  // Engine.session) concurrent admitted queries get equal cluster
  // shares and one heavy script cannot starve the service; under
  // default FIFO mode the pool property is inert.
  private val admission = java.util.concurrent.Executors.newFixedThreadPool(
    maxConcurrentQueries,
    new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger()
      override def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-query-slot-${n.getAndIncrement()}")
        t.setDaemon(true)
        t
      }
    })
  private val admissionEc = ExecutionContext.fromExecutor(admission)

  // Runtime metrics, attributed by job group (= query id). One
  // listener per service instance; bounded like the status map.
  private val metricsCollector = new MetricsCollector(maxTrackedStatuses)
  spark.sparkContext.addSparkListener(metricsCollector)

  /** Scan/shuffle/spill/time metrics for a query, or None if unknown
    * (never submitted, evicted, or no job has started yet). Metrics
    * arrive via the async listener bus, so a snapshot taken at the
    * completion instant can trail the last stage by a few ms. */
  def metrics(queryId: String): Option[QueryMetrics] =
    metricsCollector.snapshot(queryId)
  // Submission order for eviction: terminal statuses beyond
  // maxTrackedStatuses are dropped oldest-first, so a long-lived
  // service tracks bounded state (the reference keeps per-query state
  // in its handler map for the process lifetime; a bound is the
  // service-hardening improvement over that).
  private val submissionOrder = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  // Streaming queries adopted under the service surface (status /
  // cancel / metrics / watch parity with batch queries). Keyed by the
  // StreamingQuery's runId — Structured Streaming runs every
  // micro-batch job under a job group named by the run id, so the
  // SAME MetricsCollector attribution that serves batch queries
  // serves streams with no extra wiring.
  private val streamingQueries =
    new ConcurrentHashMap[String, org.apache.spark.sql.streaming.StreamingQuery]()

  // Push half for streams: without this, a stream's terminal status
  // would only be observed on the next status() poll — a watch_query
  // client would hang on a stream that self-terminated.
  private val streamingListener =
    new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
        refreshStreaming(e.runId.toString)
    }
  spark.streams.addListener(streamingListener)

  /** Adopt a running [[org.apache.spark.sql.streaming.StreamingQuery]]
    * (e.g. a [[graft.streaming.CorpusIngest.ingest]] handle): it
    * becomes visible through the whole service surface — status()
    * (Running → Complete/Error/Cancelled), cancel() (stops the
    * stream), metrics() and the get_query_metrics wire request
    * (micro-batch scan/shuffle volume, attributed by run-id job
    * group), and onTerminal/watch_query push. Returns the service
    * query id (= the stream's run id). */
  def registerStreaming(q: org.apache.spark.sql.streaming.StreamingQuery): String = {
    val id = q.runId.toString
    streamingQueries.put(id, q)
    statuses.put(id, QueryStatus.Running)
    submissionOrder.add(id)
    evictTerminal()
    id
  }

  /** Lazily observe a registered stream's self-termination (finished
    * AvailableNow trigger, source failure): statuses transition on the
    * next status read, exactly once (the map removal is the CAS). */
  private def refreshStreaming(queryId: String): Unit = {
    val q = streamingQueries.get(queryId)
    if (q != null && !q.isActive) {
      val terminal = q.exception match {
        case Some(e) => QueryStatus.Error(String.valueOf(e.message))
        case None => QueryStatus.Complete
      }
      if (streamingQueries.remove(queryId, q)) {
        statuses.put(queryId, terminal)
        fireTerminal(queryId, terminal)
      }
    }
  }

  def status(queryId: String): Option[QueryStatus] = {
    refreshStreaming(queryId)
    Option(statuses.get(queryId))
  }

  /** Point-in-time admission picture: statements waiting for a slot,
    * statements holding one, and the slot count — what a service
    * operator reads to size `maxConcurrentQueries` (the reference's
    * worker-state surface answers the same question per compute
    * budget). Registered STREAMS are excluded: they run on Spark's
    * streaming machinery and never hold an admission slot. */
  def admissionStats: ServiceStats = {
    var queued = 0
    var running = 0
    statuses.forEach { (id, s) =>
      if (!streamingQueries.containsKey(id)) s match {
        case QueryStatus.Queued => queued += 1
        case QueryStatus.Running => running += 1
        case _ => ()
      }
    }
    ServiceStats(queued, running, maxConcurrentQueries)
  }

  // Terminal-status watchers — the push half of the protocol (the
  // reference's polling-loop TODO, DEV_NOTES.md:196-198: "client sends
  // a request ... receive a generic ok ... the query handler will push
  // an update to the client when the query completes").
  private val watchers = new ConcurrentHashMap[
    String, java.util.concurrent.CopyOnWriteArrayList[QueryStatus => Unit]]()

  /** Invoke `cb` EXACTLY ONCE when `queryId` reaches a terminal status
    * (immediately if it already has; with Error("query not found") for
    * an unknown id). Exactly-once is by OWNERSHIP TRANSFER: a callback
    * fires only after a successful `list.remove(cb)` — both the
    * fire-side drain and the registration's terminal re-check claim
    * callbacks that way, so whichever side wins the remove fires it
    * and the other does nothing. (The previous design re-fired via the
    * watchers MAP on the re-check; a concurrent fireTerminal could
    * remove the list from the map after `computeIfAbsent` but snapshot
    * it before the `add`, leaving the callback stranded in an orphaned
    * list — a watch_query client would then block forever.) */
  def onTerminal(queryId: String)(cb: QueryStatus => Unit): Unit = {
    def isTerminal(s: QueryStatus) = s match {
      case QueryStatus.Complete | QueryStatus.Error(_) | QueryStatus.Cancelled => true
      case _ => false
    }
    status(queryId) match {
      case None => cb(QueryStatus.Error("query not found"))
      case Some(s) if isTerminal(s) => cb(s)
      case Some(_) =>
        val list = watchers.computeIfAbsent(queryId,
          _ => new java.util.concurrent.CopyOnWriteArrayList)
        list.add(cb)
        // the query may have reached terminal between the check and the
        // add; claim the callback back directly — not via the map, which
        // fireTerminal may already have emptied
        status(queryId).filter(isTerminal).foreach { s =>
          if (list.remove(cb)) {
            try cb(s) catch { case _: Exception => () }
          }
          // if this registration re-created the map entry after the
          // fire-side drain removed it, drop the now-empty list
          if (list.isEmpty) { watchers.remove(queryId, list); () }
        }
    }
  }

  private def fireTerminal(queryId: String, s: QueryStatus): Unit = {
    val list = watchers.remove(queryId)
    if (list != null) {
      // drain by remove-then-fire so a racing onTerminal re-check (which
      // claims its own callback the same way) can never double-fire one
      while (!list.isEmpty) {
        val cb = try list.remove(0) catch {
          case _: IndexOutOfBoundsException => null
        }
        if (cb != null) { try cb(s) catch { case _: Exception => () } }
      }
    }
  }

  private def evictTerminal(): Unit = {
    while (statuses.size > maxTrackedStatuses) {
      val oldest = submissionOrder.poll()
      if (oldest == null) return
      statuses.get(oldest) match {
        case QueryStatus.Complete | QueryStatus.Error(_) | QueryStatus.Cancelled =>
          statuses.remove(oldest); ()
        case null => ()
        case _ => submissionOrder.add(oldest); return // still running: stop here
      }
    }
  }

  // --- cancellation -------------------------------------------------
  // Each query executes under a Spark job group named by its query id
  // (thread-local, set in the executing Future), so cancel maps to
  // cancelJobGroup — Spark interrupts the query's active jobs, the
  // write aborts, and the versioned result layout guarantees readers
  // never see the torn output (no _SUCCESS → not a committed version).
  private val cancelRequested =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // --- deadlines ----------------------------------------------------
  // A statement's runtime budget (`queryTimeoutMs` service-wide, or a
  // per-statement override) is enforced by a single timer thread that
  // fires the SAME job-group cancel as a user cancel — the budget
  // counts RUNNING time only, not queue wait, so admission backlog
  // never eats a statement's budget. The terminal status is
  // Error("[QUERY_TIMEOUT] ...") rather than Cancelled: the user
  // didn't ask for it, and a script driver retrying Cancelled
  // statements must not silently retry ones the service evicted for
  // cost. (The reference has no runtime bound at all — a runaway
  // query holds its per-worker budget forever; this is the
  // service-hardening improvement over query_handler_state.rs.)
  private val timedOut =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val deadlineTimer =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-query-deadline")
      t.setDaemon(true)
      t
    })

  /** Request cancellation. True if the query was still live (the
    * terminal status will become Cancelled); false if already
    * terminal or unknown.
    *
    * Uses cancelJobGroupAndFutureJobs, not cancelJobGroup: a cancel
    * landing BETWEEN a multi-job query's jobs (or before its first
    * job) has no active job to kill, and plain cancelJobGroup would
    * let every later job run to completion — the query would burn
    * cluster resources to the end while being reported Cancelled.
    * The and-future form kills jobs submitted after the cancel too
    * (query ids are never reused, so the sticky group flag is safe). */
  def cancel(queryId: String): Boolean = {
    // streaming: stop the query; the map removal CAS settles a race
    // with refreshStreaming observing self-termination first
    val sq = streamingQueries.get(queryId)
    if (sq != null) {
      if (streamingQueries.remove(queryId, sq)) {
        try sq.stop() catch { case _: Exception => () }
        statuses.put(queryId, QueryStatus.Cancelled)
        fireTerminal(queryId, QueryStatus.Cancelled)
        return true
      }
      return false
    }
    cancelBatch(queryId)
  }

  private def cancelBatch(queryId: String): Boolean = status(queryId) match {
    case Some(QueryStatus.Queued) | Some(QueryStatus.Running) =>
      cancelRequested.add(queryId)
      spark.sparkContext.cancelJobGroupAndFutureJobs(queryId)
      // the query may have reached terminal between the status read
      // and the flag add — the future then never sweeps the flag (ids
      // are never reused, so this is only hygiene, not correctness)
      status(queryId) match {
        case Some(QueryStatus.Queued) | Some(QueryStatus.Running) => ()
        case _ => cancelRequested.remove(queryId); ()
      }
      true
    case _ => false
  }

  /** Results are VERSIONED: data lives in `<root>/<id>/v<N>/`, and the
    * live version is the highest N whose Spark `_SUCCESS` marker
    * exists — an atomically-visible commit (the marker is created
    * after every data file). Compaction writes v(N+1) beside v(N)
    * instead of delete-then-rename into the same path, so a reader
    * paging v(N) mid-swap keeps its files; new readers resolve to the
    * compacted version. The previous version is retained as the
    * readers' grace copy; versions older than that are pruned on the
    * next compaction. */
  private def queryRoot(queryId: String): String = s"$resultsRoot/$queryId"

  private def versionDir(queryId: String, v: Int): String =
    s"${queryRoot(queryId)}/v$v"

  private val VersionName = "^v(\\d+)$".r

  /** Committed version numbers, ascending (only dirs with _SUCCESS). */
  private def committedVersions(queryId: String): Seq[Int] = {
    val root = new org.apache.hadoop.fs.Path(queryRoot(queryId))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).toSeq.collect {
      case s if s.isDirectory => s.getPath.getName match {
        case VersionName(n)
          if fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")) =>
          Some(n.toInt)
        case _ => None
      }
    }.flatten.sorted
  }

  /** The live result directory: the latest committed version. */
  def resultDir(queryId: String): String =
    committedVersions(queryId).lastOption
      .map(versionDir(queryId, _))
      .getOrElse(versionDir(queryId, 1))

  // --- restart recovery --------------------------------------------
  // Results survive on disk (versioned dirs + _SUCCESS) but statuses
  // are process-local — without rehydration a restarted service
  // answers "query not found" for every pre-restart id even though
  // reader(id) could serve the committed bytes. On construction, every
  // query id with a committed version under resultsRoot comes back as
  // Complete. Cancelled queries never leave a committed root (deleted
  // at terminal time) and crash-interrupted writes never commit
  // _SUCCESS, so rehydration can only resurrect results that were
  // truly complete. (The reference shares the original limitation:
  // query_handler_state.rs:92-117 keeps state in the handler map.)
  locally {
    try {
      val root = new org.apache.hadoop.fs.Path(resultsRoot)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(root)) {
        fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
          .filter(id => committedVersions(id).nonEmpty)
          .sorted // deterministic eviction order for pre-restart ids
          .foreach { id =>
            if (statuses.putIfAbsent(id, QueryStatus.Complete) == null)
              submissionOrder.add(id)
          }
        evictTerminal()
      }
    } catch { case _: Exception => () } // unreadable root = empty history
  }

  /** Startup hook for serving deployments: prime the session's
    * cold-start machinery (JIT, codegen framework, parquet readers,
    * exchange plumbing — see [[Warmup]]) BEFORE the listener accepts
    * clients, so the first real query pays plan cost, not JVM cost.
    * Measured (tools.ColdStartProbe, fresh JVM against pre-existing
    * sf0.1 indexes): the heaviest serving plan's first query drops
    * 13.0 s → 4.0 s — under the 5 s serving bar
    * (ISOLATED_BENCH_r14.json `coldstart`). Runs on the service's
    * SQL session; returns wall seconds spent. */
  def warmup(): Double = Warmup.prime(sqlSession)

  /** Detach the service from the shared SparkContext: without this,
    * every construction (service restarts within one driver, test
    * suites) leaves another MetricsCollector on the listener bus, each
    * processing every event and holding up to maxTracked accumulator
    * maps. Idempotent. */
  def close(): Unit = {
    spark.sparkContext.removeSparkListener(metricsCollector)
    try spark.streams.removeListener(streamingListener)
    catch { case _: Exception => () } // never added twice; remove of absent is a no-op guard
    admission.shutdown() // queued statements are abandoned; running ones finish
    deadlineTimer.shutdownNow(); ()
  }

  /** RunQuery: submit one SQL statement; returns the query id
    * immediately (status Queued → Running → Complete/Error). The
    * statement stays Queued until an admission slot frees up — see the
    * admission pool above. Runs under the service-wide
    * `queryTimeoutMs` budget (0 = unbounded). */
  def runQuery(sql: String): String = runQuery(sql, queryTimeoutMs)

  /** RunQuery with a per-statement runtime budget overriding the
    * service default. The budget counts Running time only (queue wait
    * under admission is free); on expiry the statement's job group is
    * cancelled and it terminates as Error("[QUERY_TIMEOUT] ...").
    * A statement whose result COMMITS before the timer lands stays
    * Complete — a deadline never discards a finished result. */
  def runQuery(sql: String, timeoutMs: Long): String = {
    val queryId = UUID.randomUUID().toString
    statuses.put(queryId, QueryStatus.Queued)
    submissionOrder.add(queryId)
    evictTerminal()
    val submittedAt = System.currentTimeMillis()
    Future {
      statuses.put(queryId, QueryStatus.Running)
      val startedAt = System.currentTimeMillis()
      // queue wait = submit → slot claim; recorded up front so a
      // backlogged service is observable WHILE the query runs, not
      // only after it terminates
      metricsCollector.setQueueWait(queryId, startedAt - submittedAt)
      val terminal =
        if (cancelRequested.contains(queryId)) QueryStatus.Cancelled
        else {
          // job group scoped to this execution thread; jobs the query
          // submits are cancellable as a unit by query id
          spark.sparkContext.setJobGroup(queryId, s"graft query $queryId",
            interruptOnCancel = true)
          // one FAIR pool per slot thread: equal shares across admitted
          // queries when the context runs spark.scheduler.mode=FAIR
          spark.sparkContext.setLocalProperty("spark.scheduler.pool",
            Thread.currentThread().getName)
          // arm the deadline only while Running; the guard keeps a
          // late-firing timer from touching an already-terminal query
          val deadline =
            if (timeoutMs > 0)
              Some(deadlineTimer.schedule(new Runnable {
                override def run(): Unit =
                  if (statuses.get(queryId) == QueryStatus.Running
                      && timedOut.add(queryId))
                    spark.sparkContext.cancelJobGroupAndFutureJobs(queryId)
              }, timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS))
            else None
          val r = Try {
            // plans on the dedicated SQL session (join reorder ON) —
            // see the sqlSession note at the top of the class
            val df = ReadFiles.sql(sqlSession, sql, connections)
            // COMMAND statements (INSERT OVERWRITE DIRECTORY — the
            // SQL write-back of a curation session — SET, etc.)
            // execute eagerly inside spark.sql and return a
            // zero-column frame parquet cannot represent; materialize
            // a one-row acknowledgment so every statement kind honors
            // the same result/paging contract instead of erroring
            // AFTER its side effect committed
            val out =
              if (df.schema.isEmpty) {
                import sqlSession.implicits._
                Seq("OK").toDF("result")
              } else df
            out.write.mode("overwrite").parquet(versionDir(queryId, 1))
          }
          deadline.foreach(_.cancel(false))
          spark.sparkContext.clearJobGroup()
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
          r match {
            case Success(_) if cancelRequested.contains(queryId) => QueryStatus.Cancelled
            case Success(_) => QueryStatus.Complete
            case Failure(_) if cancelRequested.contains(queryId) => QueryStatus.Cancelled
            case Failure(_) if timedOut.contains(queryId) =>
              QueryStatus.Error(s"[QUERY_TIMEOUT] statement exceeded its " +
                s"$timeoutMs ms runtime budget and was cancelled")
            case Failure(e) => QueryStatus.Error(String.valueOf(e.getMessage))
          }
        }
      cancelRequested.remove(queryId)
      // status and disk must agree: a cancel that lost the race with
      // the write (the result committed with _SUCCESS before the
      // cancel took effect) would otherwise leave a Cancelled status
      // over a resolvable result — and a restarted service would
      // rehydrate it as Complete
      if (terminal == QueryStatus.Cancelled) {
        try {
          val root = new org.apache.hadoop.fs.Path(queryRoot(queryId))
          val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
          fs.delete(root, true); ()
        } catch { case _: Exception => () }
      }
      metricsCollector.setWallTime(queryId, System.currentTimeMillis() - startedAt)
      statuses.put(queryId, terminal)
      // after the terminal status is visible, so a timer that read
      // Running just before can no longer re-add (same hygiene-only
      // caveat as the cancelRequested sweep above)
      timedOut.remove(queryId)
      fireTerminal(queryId, terminal)
    }(admissionEc)
    queryId
  }

  /** Multi-statement script → one query id per statement, in order.
    * Statements are SUBMITTED in order but execute concurrently —
    * the throughput mode for independent statements. */
  def runScript(script: String): Seq[String] =
    ScriptRunner.split(script).map(runQuery)

  /** Sequential script execution: each statement completes before the
    * next is submitted — the reference TUI's semantics
    * (/root/reference/src/bin/client_tui.rs runs the file's queries
    * one at a time), for scripts where statement N+1 reads statement
    * N's output. An Error status does not stop later statements,
    * matching the reference's per-query error reporting. */
  def runScriptSequential(script: String,
                          statementTimeoutMs: Long = 3600000L): Seq[String] =
    ScriptRunner.split(script).map { sql =>
      val id = runQuery(sql)
      // Bounded wait, then CANCEL: statement N+1 must never start
      // while N still runs (the write-back race sequential mode exists
      // to prevent — N+1 reading N's INSERT OVERWRITE DIRECTORY output
      // mid-write), but an unbounded wait on a hung statement would
      // block the caller thread forever with no escape (r16 shipped
      // Long.MaxValue here). On expiry the statement is cancelled —
      // which forces a terminal status, so the no-overlap invariant
      // holds — and the script fails loud naming the statement.
      // Terminal-status ERRORS still don't stop later statements
      // (the reference's per-query error reporting).
      val s = awaitComplete(id, timeoutMs = statementTimeoutMs)
      if (s == QueryStatus.Queued || s == QueryStatus.Running) {
        cancel(id)
        awaitComplete(id, timeoutMs = 30000L)
        throw new IllegalStateException(
          s"sequential script: statement $id exceeded ${statementTimeoutMs}ms " +
            "and was cancelled")
      }
      id
    }

  def awaitComplete(queryId: String, timeoutMs: Long = 300000): QueryStatus = {
    // saturating add: a caller waiting "forever" (Long.MaxValue) must
    // not overflow into an already-expired deadline
    val now = System.currentTimeMillis()
    val deadline =
      if (timeoutMs > Long.MaxValue - now) Long.MaxValue else now + timeoutMs
    var s: QueryStatus = status(queryId).orNull
    while ((s == QueryStatus.Queued || s == QueryStatus.Running)
        && System.currentTimeMillis() < deadline) {
      Thread.sleep(25)
      s = status(queryId).orNull // status() also observes stream self-termination
    }
    s
  }

  def reader(queryId: String): ResultReader = new ResultReader(spark, resultDir(queryId))

  /** Compact a completed query's result toward `targetBytes` per file
    * — the reference's declared materialization TODO
    * (DEV_NOTES.md:117-122: many small per-record files). One job:
    * read the live version, repartition to ceil(total/target), write
    * the NEXT version beside it. The swap is atomic-by-visibility (a
    * version exists only once its _SUCCESS marker does), and the
    * previous version stays on disk as the grace copy for readers that
    * opened it pre-compaction — their cursors keep working on the
    * exact files they resolved. Versions older than the grace copy are
    * pruned. New readers re-cursor from 0 on the compacted layout. */
  def compactResult(queryId: String, targetBytes: Long = 128L << 20): Unit = {
    val versions = committedVersions(queryId)
    require(versions.nonEmpty, s"no committed result for $queryId")
    val cur = versions.last
    val dir = versionDir(queryId, cur)
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.listStatus(path)
      .filter(s => s.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    Parquet.read(spark, dir).repartition(nFiles)
      .write.mode("overwrite").parquet(versionDir(queryId, cur + 1))
    // prune everything older than the grace copy (the just-replaced cur)
    versions.dropRight(1).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(versionDir(queryId, v)), true)
    }
  }
}

/** Admission snapshot served by [[QueryService.admissionStats]]. */
final case class ServiceStats(queued: Int, running: Int, slots: Int)

/** Cursor into a materialized result — the reference's
  * `(file_idx, row_group_idx, row_idx)` triple
  * (/root/reference/src/handlers/query_data_handler.rs:239-571). Spark's
  * parquet reader hides row-group boundaries, so the cursor is
  * normalized to (fileIdx, rowIdx-within-file); `rowGroupIdx` from the
  * wire protocol folds into rowIdx via the file footer row counts. */
final case class ResultCursor(fileIdx: Int, rowIdx: Long)

final case class ResultPage(rows: Seq[Row], next: Option[ResultCursor], prev: Option[ResultCursor])

/** Bidirectional paged reads over one query's result directory.
  * Reference semantics (query_data_handler.rs:239-571 + DEV_NOTES.md:59-64):
  * forward reads return `limit` rows starting AT the cursor; backward
  * reads return the `limit` rows ENDING just before the cursor;
  * `allowOverflow=false` fails a read that would cross the data
  * boundary, `true` clamps to what exists.
  *
  * The whole page path — schema, row counts and rows — launches ZERO
  * Spark jobs (asserted in ServiceSpec, in process and over the TCP
  * server): the schema and the row counts come from the parquet
  * footers the reader opens once, and pages are served by a
  * driver-local row-group reader that skips straight to the target
  * group — the same direct row-group addressing as the reference's
  * `query_data_handler.rs:183-237`. A paged point-read through a
  * distributed scan would cost a full job per page; a 100-TB result
  * set is paged by footer arithmetic exactly like a 100-row one. */
final class ResultReader(spark: SparkSession, dir: String) {
  import org.apache.parquet.hadoop.ParquetFileReader
  import org.apache.parquet.hadoop.util.HadoopInputFile

  private val conf = spark.sessionState.newHadoopConf()

  /** part-files sorted by name = write order (Spark task order).
    * A missing directory (query cancelled/failed before any commit)
    * reads as an empty result, not an exception. */
  lazy val files: Array[String] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path)) Array.empty
    else fs.listStatus(path).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("_"))
      .map(_.toString).sorted
  }

  private lazy val footers = files.map(f => Parquet.footer(conf, new org.apache.hadoop.fs.Path(f)))

  /** The result's schema from the first part-file's footer, as the
    * Spark read of `dir` infers it; empty for a result with no
    * part-file. */
  lazy val schema: StructType = footers.headOption.fold(new StructType())(
    Parquet.sparkSchema(spark, new org.apache.hadoop.fs.Path(files.head), _))

  /** Per-file, per-row-group row counts from footer metadata only. */
  lazy val rowGroupRowCounts: Array[Array[Long]] = footers.map { f =>
    val blocks = f.getBlocks
    Array.tabulate(blocks.size())(b => blocks.get(b).getRowCount)
  }

  /** Per-file row counts from footer metadata only. */
  lazy val fileRowCounts: Array[Long] = rowGroupRowCounts.map(_.sum)

  /** The reference's wire cursor is (file_idx, row_group_idx,
    * row_idx-within-group) — query_data_handler.rs:239-571; fold the
    * row-group component into the file-relative row index. */
  def cursorOf(fileIdx: Int, rowGroupIdx: Int, rowIdx: Long): ResultCursor = {
    val groups = rowGroupRowCounts(fileIdx)
    val before = groups.take(rowGroupIdx).sum
    ResultCursor(fileIdx, before + rowIdx)
  }

  lazy val totalRows: Long = fileRowCounts.sum

  private def toGlobal(c: ResultCursor): Long =
    fileRowCounts.take(c.fileIdx).sum + c.rowIdx

  private def toCursor(global: Long): ResultCursor = {
    var g = global; var i = 0
    while (i < fileRowCounts.length && g >= fileRowCounts(i)) { g -= fileRowCounts(i); i += 1 }
    ResultCursor(i, g)
  }

  /** Slice [start, start+n) of one parquet file in row order: skip
    * whole row groups by footer row counts, materialize only the
    * groups the page touches. */
  private def slice(file: String, start: Long, n: Long): Seq[Row] = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file), conf))
    try {
      val footer = reader.getFooter
      val schema = footer.getFileMetaData.getSchema
      val out = Seq.newBuilder[Row]
      var toSkip = start
      var remaining = n
      val nGroups = footer.getBlocks.size()
      var b = 0
      while (b < nGroups && remaining > 0) {
        val groupRows = footer.getBlocks.get(b).getRowCount
        if (toSkip >= groupRows) {
          toSkip -= groupRows
          reader.skipNextRowGroup() // footer bookkeeping only, no page IO
        } else {
          val pages = reader.readNextRowGroup()
          val io = new org.apache.parquet.io.ColumnIOFactory().getColumnIO(schema)
          val rr = io.getRecordReader(pages,
            new org.apache.parquet.example.data.simple.convert.GroupRecordConverter(schema))
          var i = 0L
          while (i < groupRows && remaining > 0) {
            val g = rr.read()
            if (i >= toSkip) { out += ParquetRows.toRow(g, schema); remaining -= 1 }
            i += 1
          }
          toSkip = 0
        }
        b += 1
      }
      out.result()
    } finally reader.close()
  }

  def read(cursor: ResultCursor, limit: Int, forward: Boolean = true,
           allowOverflow: Boolean = true): ResultPage = {
    val at = toGlobal(cursor)
    val (start, n) =
      if (forward) (at, math.min(limit.toLong, totalRows - at))
      else (math.max(0L, at - limit), math.min(limit.toLong, at))
    if (!allowOverflow && n < limit)
      throw new IllegalArgumentException(
        s"page [$start,+$limit) overflows result of $totalRows rows")
    val rows = Seq.newBuilder[Row]
    var remaining = n
    var g = start
    while (remaining > 0) {
      val c = toCursor(g)
      val inFile = math.min(remaining, fileRowCounts(c.fileIdx) - c.rowIdx)
      rows ++= slice(files(c.fileIdx), c.rowIdx, inFile)
      g += inFile; remaining -= inFile
    }
    val next = if (start + n < totalRows) Some(toCursor(start + n)) else None
    val prev = if (start > 0) Some(toCursor(start)) else None
    ResultPage(rows.result(), next, prev)
  }

  def asDataFrame: DataFrame = spark.read.schema(schema).parquet(dir)
}
