package graft.service

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import java.util.concurrent.ConcurrentHashMap

/** Aggregated runtime metrics for one query — the observability
  * surface a large-cluster operator reads before anything else: how
  * much was scanned, how much crossed the network, whether the query
  * spilled. The reference exposes per-operator TaskData/heartbeat
  * status over its message protocol
  * (/root/reference/src/handlers/query_handler/query_handler_state.rs
  * tracks per-operator task state); Spark already measures all of it
  * per task, so the engine-side job is only attribution: roll task
  * metrics up to the query that owns the job group.
  *
  * `inputRows`/`inputBytes` are the scan volume (after pushdown — a
  * well-pruned query reads a fraction of the table), shuffle
  * read/write are the exchange traffic (THE 100 TB cost driver), and
  * spill bytes nonzero means partitions outgrew executor memory — the
  * signal to repartition or salt. `shuffleReadRecords` counts exchange
  * rows (the scale probes' fusion-bound check); the wire response
  * leaves it out. */
final case class QueryMetrics(
    numJobs: Int,
    numStages: Int,
    numTasks: Long,
    inputRows: Long,
    inputBytes: Long,
    outputRows: Long,
    outputBytes: Long,
    shuffleReadBytes: Long,
    shuffleWriteBytes: Long,
    memorySpillBytes: Long,
    diskSpillBytes: Long,
    executorRunTimeMs: Long,
    wallTimeMs: Long,
    queueWaitMs: Long,
    shuffleReadRecords: Long)

/** SparkListener that attributes task metrics to queries by job
  * group id (QueryService runs each query under a job group named by
  * its query id, the same key cancellation uses).
  *
  * Attribution path: job start carries the submitting thread's group
  * property and the job's stage ids; stage completion carries the
  * stage's aggregated TaskMetrics. Both callbacks arrive on the
  * listener-bus thread, asynchronously from the query itself —
  * metrics are therefore eventually consistent (a snapshot taken the
  * instant a query finishes may still miss the last stage for a few
  * ms), which is the right trade: the collector adds zero overhead to
  * the query's own execution path.
  *
  * Bounded like the service's status map: beyond `maxTracked` groups
  * the oldest are dropped, so a long-lived service holds bounded
  * state. */
final class MetricsCollector(maxTracked: Int = 10000) extends SparkListener {

  private final class Acc {
    var jobs = 0; var stages = 0; var tasks = 0L
    var inRows = 0L; var inBytes = 0L; var outRows = 0L; var outBytes = 0L
    var shufRead = 0L; var shufReadRecords = 0L; var shufWrite = 0L
    var memSpill = 0L; var diskSpill = 0L
    var runMs = 0L
    @volatile var wallMs = 0L
    @volatile var queueWaitMs = 0L
  }

  private val byGroup = new ConcurrentHashMap[String, Acc]()
  private val stageToGroup = new ConcurrentHashMap[Int, String]()
  // stage ids per job, so job end can purge stages that never complete
  // (skipped stages reusing shuffle output, stages of cancelled jobs)
  // — without this a long-lived service leaks one stageToGroup entry
  // per such stage despite the maxTracked bound on byGroup
  private val jobToStages = new ConcurrentHashMap[Int, Seq[Int]]()
  private val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val group = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    if (group == null) return
    val acc = byGroup.computeIfAbsent(group, _ => { order.add(group); new Acc })
    evict()
    acc.synchronized { acc.jobs += 1 }
    j.stageIds.foreach(sid => stageToGroup.put(sid, group))
    jobToStages.put(j.jobId, j.stageIds)
    ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val stages = jobToStages.remove(e.jobId)
    if (stages != null) {
      // a stage can be shared with a concurrent job that reuses its
      // shuffle output — keep the mapping while any live job still
      // claims the stage id, purge only the rest. For successfully
      // completed jobs every owned StageCompleted was already
      // delivered (listener-bus ordering); for cancelled/failed jobs
      // a zombie stage may post a late completion AFTER this purge —
      // that stage's metrics are dropped, which is the right call:
      // the query is terminal and its snapshot already shipped
      val live = new scala.collection.mutable.HashSet[Int]
      jobToStages.values().forEach(s => live ++= s)
      stages.foreach(sid => if (!live.contains(sid)) stageToGroup.remove(sid))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val group = stageToGroup.remove(si.stageId)
    if (group == null) return
    val acc = byGroup.get(group)
    if (acc == null) return
    val m = si.taskMetrics
    acc.synchronized {
      acc.stages += 1
      acc.tasks += si.numTasks
      acc.inRows += m.inputMetrics.recordsRead
      acc.inBytes += m.inputMetrics.bytesRead
      acc.outRows += m.outputMetrics.recordsWritten
      acc.outBytes += m.outputMetrics.bytesWritten
      acc.shufRead += m.shuffleReadMetrics.totalBytesRead
      acc.shufReadRecords += m.shuffleReadMetrics.recordsRead
      acc.shufWrite += m.shuffleWriteMetrics.bytesWritten
      acc.memSpill += m.memoryBytesSpilled
      acc.diskSpill += m.diskBytesSpilled
      acc.runMs += m.executorRunTime
    }
  }

  /** Service-side wall clock (slot claim → terminal), set once by the
    * execution future; not sourced from task metrics. */
  def setWallTime(group: String, ms: Long): Unit = {
    val acc = byGroup.computeIfAbsent(group, _ => { order.add(group); new Acc })
    acc.wallMs = ms
  }

  /** Admission queue wait (submit → slot claim), set once when the
    * query leaves Queued — the reference's status lifecycle implies
    * exactly this split (query_handler_state.rs:28-61 separates
    * Queued from Running); an operator reads it to tell "the cluster
    * is slow" apart from "the service is backlogged". */
  def setQueueWait(group: String, ms: Long): Unit = {
    val acc = byGroup.computeIfAbsent(group, _ => { order.add(group); new Acc })
    acc.queueWaitMs = ms
  }

  def snapshot(group: String): Option[QueryMetrics] =
    Option(byGroup.get(group)).map { a =>
      a.synchronized {
        QueryMetrics(a.jobs, a.stages, a.tasks, a.inRows, a.inBytes,
          a.outRows, a.outBytes, a.shufRead, a.shufWrite,
          a.memSpill, a.diskSpill, a.runMs, a.wallMs, a.queueWaitMs,
          a.shufReadRecords)
      }
    }

  private def evict(): Unit = {
    while (byGroup.size > maxTracked) {
      val oldest = order.poll()
      if (oldest == null) return
      byGroup.remove(oldest)
    }
  }
}
