package graft.tools

import graft.{Engine, SparkEntry}
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

/** Per-query runtime profile: jobs, stages, task time, shuffle bytes —
  * the "where does the wall-clock actually go" companion to PlanDump
  * (initial plans hide AQE stage reuse; this measures what executed).
  *
  * Each rep reports the query's BUILD (the `SparkEntry` builder,
  * which runs the TVF builders' analysis-time jobs) apart from its
  * EXECUTION (the noop write): wall and jobs per phase, and each job
  * line names its phase.
  *
  * Usage: runMain graft.tools.QueryProfile q1[,q2,...] [--reorder]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_PROF_REPS
  * (default 2 — reports the LAST rep, so JIT/first-use costs are
  * excluded and the numbers match the bench's min-of-reps regime).
  *
  * `--reorder` is the CBO join-reorder audit: each query is profiled
  * twice, `spark.sql.cbo.joinReorder.enabled` on then off, and each
  * run also prints the optimized plan's leaves in join order — a
  * cost-model misstep on a specific query is then attributable before
  * it ships (the audit behind Engine.tune's reorder-off default).
  */
object QueryProfile {
  private class Acc {
    val taskTimeMs = new LongAdder
    val gcTimeMs = new LongAdder
    val shuffleReadB = new LongAdder
    val shuffleWriteB = new LongAdder
    val inputB = new LongAdder
    val tasks = new LongAdder
    val fetchWaitMs = new LongAdder
    val spillB = new LongAdder
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QueryProfile q1[,q2,...] [--reorder]")
    val names = args(0).split(",").toSeq
    val reorderAudit = args.drop(1).contains("--reorder")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_PROF_REPS", "2").toInt)
    val spark = Engine.session("graft-profile")
    Engine.analyzeTables(spark, sfDir)
    SparkEntry.prepareIndexFixtures(spark, sfDir)

    // per-stage accumulation, attributed to jobs on job end
    val stageAcc = new ConcurrentHashMap[Int, Acc]()
    val stageName = new ConcurrentHashMap[Int, String]()
    val jobStages = new ConcurrentHashMap[Int, Seq[Int]]()
    val jobWall = new ConcurrentHashMap[Int, (Long, Long, String)]()
    val jobPhase = new ConcurrentHashMap[Int, String]()
    val phaseKey = "graft.profile.phase"
    @volatile var collecting = false
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (collecting) {
        val a = stageAcc.computeIfAbsent(t.stageId, _ => new Acc)
        val m = t.taskMetrics
        if (m != null) {
          a.taskTimeMs.add(m.executorRunTime)
          a.gcTimeMs.add(m.jvmGCTime)
          a.shuffleReadB.add(m.shuffleReadMetrics.totalBytesRead)
          a.fetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
          a.shuffleWriteB.add(m.shuffleWriteMetrics.bytesWritten)
          a.inputB.add(m.inputMetrics.bytesRead)
          a.spillB.add(m.diskBytesSpilled)
          a.tasks.add(1)
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (collecting) stageName.put(s.stageInfo.stageId, s.stageInfo.name.take(60))
      override def onJobStart(j: SparkListenerJobStart): Unit = if (collecting) {
        jobStages.put(j.jobId, j.stageIds.map(_.toInt))
        jobPhase.put(j.jobId, Option(j.properties)
          .flatMap(p => Option(p.getProperty(phaseKey))).getOrElse("?"))
        jobWall.put(j.jobId, (j.time, -1L,
          Option(j.properties).flatMap(p =>
            Option(p.getProperty("spark.job.description"))).getOrElse("")))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = if (collecting) {
        val cur = jobWall.get(j.jobId)
        if (cur != null) jobWall.put(j.jobId, (cur._1, j.time, cur._3))
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val reorderConf = "spark.sql.cbo.joinReorder.enabled"
    val settings: Seq[Option[Boolean]] =
      if (reorderAudit) Seq(Some(true), Some(false)) else Seq(None)
    for (name <- names; reorder <- settings) {
      val fn = SparkEntry.queries(name)
      val defaultReorder = spark.conf.get(reorderConf)
      reorder.foreach(r => spark.conf.set(reorderConf, r.toString))
      val tag = reorder.fold("")(r => s" reorder=$r")
      var rep = 0
      while (rep < reps) {
        stageAcc.clear(); stageName.clear(); jobStages.clear(); jobWall.clear()
        jobPhase.clear()
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        System.gc()
        collecting = rep == reps - 1
        val sc = spark.sparkContext
        val t0 = System.nanoTime()
        sc.setLocalProperty(phaseKey, "build")
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        sc.setLocalProperty(phaseKey, "exec")
        try df.write.format("noop").mode("overwrite").save()
        finally sc.setLocalProperty(phaseKey, null)
        val t2 = System.nanoTime()
        if (collecting) {
          org.apache.spark.sql.graftbridge.ListenerBridge.drain(sc)
          def jobsIn(phase: String) = jobPhase.values().toArray.count(_ == phase)
          println(f"%n=== $name$tag rep$rep wall ${(t2 - t0) / 1e9}%.3f s " +
            f"(build ${(t1 - t0) / 1e9}%.3f s, ${jobsIn("build")} jobs; " +
            f"exec ${(t2 - t1) / 1e9}%.3f s, ${jobsIn("exec")} jobs) ===")
          if (reorder.isDefined) {
            println("optimized-plan leaves in join order:")
            df.queryExecution.optimizedPlan.collectLeaves().zipWithIndex.foreach {
              case (l, i) => println(f"  leaf$i%02d ${l.toString.linesIterator.next().take(90)}")
            }
          }
          val jobs = jobWall.keySet().toArray(Array.empty[Integer]).map(_.toInt).sorted
          jobs.foreach { jid =>
            val (ts, te, desc) = jobWall.get(jid)
            val sids = jobStages.getOrDefault(jid, Seq.empty)
            val accs = sids.flatMap(s => Option(stageAcc.get(s)))
            def sum(f: Acc => LongAdder) = accs.map(a => f(a).sum()).sum
            println(f"job $jid%3d ${jobPhase.getOrDefault(jid, "?")}%-5s " +
              f"wall ${if (te > 0) (te - ts) / 1e3 else -1.0}%7.3f s " +
              f"tasks ${sum(_.tasks)}%4d taskTime ${sum(_.taskTimeMs) / 1e3}%8.2f s " +
              f"gc ${sum(_.gcTimeMs) / 1e3}%6.2f s " +
              f"in ${sum(_.inputB) / 1e6}%9.1f MB shufR ${sum(_.shuffleReadB) / 1e6}%8.1f MB " +
              f"shufW ${sum(_.shuffleWriteB) / 1e6}%8.1f MB fetchWait ${sum(_.fetchWaitMs) / 1e3}%6.2f s " +
              f"spill ${sum(_.spillB) / 1e6}%6.1f MB  $desc")
          }
          // slowest stages by task time
          val byStage = stageAcc.entrySet().toArray(Array.empty[java.util.Map.Entry[Int, Acc]])
            .sortBy(e => -e.getValue.taskTimeMs.sum())
          println("top stages by task time:")
          byStage.take(8).foreach { e =>
            val a = e.getValue
            println(f"  stage ${e.getKey}%4d taskTime ${a.taskTimeMs.sum() / 1e3}%8.2f s " +
              f"tasks ${a.tasks.sum()}%4d shufR ${a.shuffleReadB.sum() / 1e6}%8.1f MB " +
              f"${stageName.getOrDefault(e.getKey, "")}")
          }
        }
        rep += 1
      }
      spark.conf.set(reorderConf, defaultReorder)
    }
    spark.stop()
  }
}
