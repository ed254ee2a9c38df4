package graft.pipeline

import org.apache.spark.sql.DataFrame

/** The serving micro-batch contract, ENFORCED. The batch faces of the
  * serving operators (corpus_search / corpus_ann / corpus_dedup /
  * corpus_hybrid TVFs, [[TextIndex.searchMany]]) collect the query
  * set — ids, query texts, term pairs — to the driver by design: a
  * serving batch is an application's arriving query file, thousands of
  * rows at most, and driver-side term normalization / id validation
  * must match the single-query path exactly. That contract used to be
  * documentation only; a user pointing `queries=>` at a 100 M-row
  * parquet got a driver OOM instead of the family's signature loud
  * failure. This guard makes the bound real through THREE enforcement
  * faces, each chosen so the check never adds a job to a serving
  * call: [[requireMicroBatch]] (pre-collect, bounded count — the TVF
  * entry points, where the frame may be an arbitrary parquet),
  * [[collectMicroBatch]] (the cap rides the collect itself), and
  * [[requireCollectedBatch]] (post-collect, zero-job — the IVF
  * collect-once paths, whose collect pulls exactly the bytes their
  * broadcast relation always shipped to the driver; an oversized
  * frame there fails loud immediately after materializing once, the
  * same transient exposure the broadcast had).
  *
  * The check itself is bounded — `limit(cap + 1).count()` plans a
  * local-limit scan that reads at most cap+1 rows per the first
  * partitions touched, never a full pass over the oversized file it
  * exists to reject. */
object ServingLimits {
  /** Session conf knob for the cap; documented in RUNBOOK. */
  val MaxBatchKey = "spark.graft.serving.maxBatchQueries"

  /** Default cap: 10k queries × (id + text/embedding) is well under a
    * megabyte-scale driver footprint; a genuinely larger workload is a
    * bulk JOIN job, not a serving batch, and should run the
    * distributed operators directly. */
  val MaxBatchDefault: Int = 10000

  /** Fail loud when `batch` exceeds the serving micro-batch cap —
    * called by every batch serving entry point before its driver
    * collect. Returns `batch` unchanged for call-site chaining. */
  def requireMicroBatch(op: String, what: String, batch: DataFrame): DataFrame = {
    val cap = maxBatch(batch.sparkSession)
    // a driver-local relation (a batch already collected and re-lifted
    // — e.g. the TVF layer validated the parquet read, collected it,
    // and hands searchMany the rows as a toDF) has a known size: count
    // it directly instead of planning a second eager count job per
    // call — the recheck stays enforced, just free
    val n = batch.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        math.min(lr.data.size.toLong, cap.toLong + 1)
      case _ => batch.limit(cap + 1).count()
    }
    requireUnderCap(op, s"the $what batch holds more than $cap rows", n <= cap)
    batch
  }

  /** The session's serving cap (validated ≥ 1). */
  def maxBatch(spark: org.apache.spark.sql.SparkSession): Int = {
    val cap = spark.conf.get(MaxBatchKey, MaxBatchDefault.toString).toInt
    require(cap >= 1, s"$MaxBatchKey must be >= 1, got $cap")
    cap
  }

  /** Zero-extra-job cap enforcement for paths that collect their query
    * rows themselves (the IVF read paths — the same bytes their
    * broadcast relation has always pulled to the driver, so the
    * transient exposure is unchanged): fails loud AFTER the collect
    * when the row count exceeds cap × perQuery replicas, instead of
    * proceeding into a bulk workload on a serving path. A pre-collect
    * count (requireMicroBatch) would cost one extra job per serving
    * call on non-local query frames, and a limit(cap+1)-bounded
    * collect executes as incremental executeTake (several partial
    * jobs) — both defeat the collect-once design this check guards.
    *
    * CALLER CONTRACT: `nQueries` must be the DISTINCT QUERY-ID count
    * of the collected batch — never the raw collected row count,
    * which on the IVF paths is queries × nprobe exploded cell rows
    * and would enforce a cap nprobe× tighter than
    * [[requireMicroBatch]]'s row-count semantic. Every call site
    * derives it as `rows.iterator.map(<id column>).toSet.size`. */
  def requireCollectedBatch(spark: org.apache.spark.sql.SparkSession,
                            op: String, nQueries: Int): Unit = {
    val cap = maxBatch(spark)
    requireUnderCap(op,
      s"the collected batch holds $nQueries queries (cap $cap)", nQueries <= cap)
  }

  /** Collect a serving batch under the cap in ONE job: `limit(cap+1)`
    * then collect, failing loud over the cap. This is the preferred
    * enforcement for paths that collect the batch anyway — the cap
    * check rides the collect instead of paying its own eager count
    * job per TVF call (a measurable serving-latency tax: each extra
    * plan-build job is a scheduler round-trip). */
  def collectMicroBatch(op: String, what: String,
                        batch: DataFrame): Array[org.apache.spark.sql.Row] = {
    val cap = maxBatch(batch.sparkSession)
    val rows = batch.limit(cap + 1).collect()
    requireUnderCap(op, s"the $what batch holds more than $cap rows",
      rows.length <= cap)
    rows
  }

  private def requireUnderCap(op: String, held: => String, ok: Boolean): Unit =
    require(ok,
      s"[BATCH_OVER_CAP] $op: $held — batch serving collects the query " +
        "set to the driver and is micro-batch-sized by contract; raise " +
        s"$MaxBatchKey only if the driver heap is sized for it, or run " +
        "the distributed operators directly for bulk joins")
}
