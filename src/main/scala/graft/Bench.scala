package graft
import java.util.Locale

/** Per-round benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, forcing full materialization through the noop
  * sink (count() would let column pruning skip projected compute).
  * Prints one JSON line {"metric","value","unit","queries","sf",
  * "errors"} AND writes it to files (see [[runTarget]]: a per-run
  * copy always, SPARK_GRAFT_BENCH_OUT, default bench_out.json, at the
  * reference core count), so consumers never have to scrape logs. All
  * number formatting is Locale.ROOT (a comma-decimal JVM locale would
  * otherwise emit invalid JSON). Failed queries are excluded from the
  * total and listed under "errors".
  *
  * Timing discipline: each query reports the MIN over `reps` runs
  * (SPARK_GRAFT_REPS, default 2), but repeat runs are only paid for
  * queries whose first run exceeded RetimeFloorSec — sub-second
  * queries are dominated by fixed per-job overhead and stable, while
  * the expensive iterative ones (multi-job label propagation etc.)
  * historically varied up to 4× across rounds on unchanged code from
  * GC/JIT/broadcast-cleanup timing. Queries still above SlowFloorSec
  * after the minimum get ONE extra rep: the multi-job iterative ops
  * are exactly the ones whose min-of-2 still swung ~1.5× between
  * consecutive bench runs, and a third sample costs seconds against
  * the round-to-round comparability it buys. Min-of-reps measures the
  * plan, which is what the bench tracks — session noise is not a
  * property of the operator.
  *
  * Regression-vs-noise disambiguation: measured in-suite minima read
  * up to 2× a query's isolated time (shared-JVM GC/broadcast litter —
  * the r11 audit re-ran the apparent movers solo and none
  * reproduced). So the bench reads the PREVIOUS run's per-query
  * numbers (SPARK_GRAFT_BENCH_REF, default: the out file it last
  * wrote, same-SF records only) and any query whose min still
  * exceeds its reference by
  * RefRetimeRatio earns up to NoiseReps extra DEEP-CLEANED reps
  * (double GC with a cleaner-drain pause). A real plan regression
  * survives the retries and reports high; a noise artifact converges
  * back — the round-over-round per-query signal becomes actionable
  * instead of 2×-fuzzy. */
object Bench {
  private val RetimeFloorSec = 1.5
  private val SlowFloorSec = 5.0
  private val RefRetimeRatio = 1.3
  // noise retries also require this ABSOLUTE excess over the
  // reference: most of the suite runs 0.3–1 s where routine jitter
  // clears 1.3× of a tiny reference, and each deep rep costs a 250 ms
  // cleaner-drain pause plus two GCs — without a floor nearly every
  // run burns noiseReps on queries whose 0.2 s delta carries no signal
  private val RetimeDeltaSec = 0.5
  // Second retry tier for SUB-FLOOR movers: the round gate flags any
  // query past 2× its reference, yet a 0.44 s → 0.93 s mover cleared
  // neither the 1.5 s retime floor nor the 0.5 s delta floor and sat
  // in an evidence gap (r14's q_agg_having) — judged weak with zero
  // retime data either way. At ≥ the flag ratio the delta floor drops
  // to 0.1 s, so every query that CAN be flagged has earned deep
  // retimes first; the sub-0.1 s band stays exempt (pure per-job
  // overhead, no signal).
  private val FlagRatio = 2.0
  private val FlagDeltaSec = 0.1
  // Box-health CONTROLS (round-17 verdict task): stable pure-Catalyst
  // queries with meaningful references (0.4–1.3 s — above per-job
  // overhead, below the iterative ops' natural variance) that no
  // round's diff should touch. Their min-vs-ref ratios ship in the
  // bench record; a run whose MEDIAN control exceeds ControlInflated
  // is marked inflated:true — the number reflects a sick box (GC
  // pressure, co-tenant load, thermal), not the plans, and must be
  // re-run in a quieter window before it stands as a round's number.
  private val ControlQueries = Seq("q_tpch_q4", "q_agg_groupby", "q_tpch_q1",
    "q_window_running", "q_join5")
  private val ControlInflated = 1.3

  /** Per-query seconds from a previous bench line's "queries" object —
    * tolerant single-purpose parse (flat string→number map), empty on
    * any miss so the bench never fails over its own history. Returns
    * empty unless the record's "sf" matches `expectSf`: numbers from a
    * different scale factor would make every query read as a
    * regression (or mask every real one). */
  private[graft] def referenceTimes(path: String, expectSf: String): Map[String, Double] =
    try {
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      // whitespace-tolerant on the field separators: hand-merged or
      // pretty-printed reference files ("queries": {) must load too —
      // a silently-empty reference turns OFF the retime discipline,
      // which is worse than a parse error (r14 learned this the hard
      // way: a min-merged ref written with spaces disabled retimes)
      val SfField = "\"sf\"\\s*:\\s*\"([^\"]+)\"".r
      val sfOk = SfField.findFirstMatchIn(text).exists(_.group(1) == expectSf)
      val QueriesOpen = "\"queries\"\\s*:\\s*\\{".r
      val open = QueriesOpen.findFirstMatchIn(text)
      if (!sfOk || open.isEmpty) Map.empty
      else {
        val qStart = open.get.end
        val body = text.substring(qStart, text.indexOf('}', qStart))
        val Entry = "\"([^\"]+)\":([0-9][0-9.eE+-]*)".r
        Entry.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    } catch { case _: Exception => Map.empty }

  /** Core counts and out files of one run, decided from the
    * environment alone. `refCpus` is the CPU count the committed
    * reference epoch (bench_ref.json and the control baselines) was
    * measured at. Both counts parse as integers once — garbage fails
    * loudly — and compare as numbers.
    *
    * Every run writes its own immutable `<out>_c<cpus>` copy: a round
    * benches the same tree at two CPU counts, and before r19 the later
    * (low-core) run overwrote the main run's per-query map in the
    * single mutable out file — the per-query and scaling comparisons
    * ran empty for two rounds. Only a run at the
    * reference count also overwrites the mutable out file, which the
    * retime discipline and the bench_ref merge read. */
  private[graft] final case class RunTarget(cpus: Int, refCpus: Int,
                                            out: String, perRunOut: String) {
    def atRef: Boolean = cpus == refCpus
    def outFiles: Seq[String] = (if (atRef) Seq(out) else Nil) :+ perRunOut
  }

  private[graft] def runTarget(env: String => Option[String]): RunTarget = {
    val cpus = Engine.countFrom(env, "SPARK_GRAFT_CPUS", 32)
    val out = env("SPARK_GRAFT_BENCH_OUT").getOrElse("bench_out.json")
    val dot = out.lastIndexOf('.')
    val perRun =
      if (dot > out.lastIndexOf('/')) s"${out.take(dot)}_c$cpus${out.drop(dot)}"
      else s"${out}_c$cpus"
    RunTarget(cpus, Engine.countFrom(env, "SPARK_GRAFT_REF_CPUS", 32), out, perRun)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val target = runTarget(sys.env.get)
    val outPath = target.out
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt)
    val noiseReps = math.max(0, sys.env.getOrElse("SPARK_GRAFT_NOISE_REPS", "2").toInt)
    // default ref: the COMMITTED min-merged per-query reference
    // (bench_ref.json — best-known fresh numbers across rounds, the
    // durable retime baseline; it used to live in /tmp and one wipe
    // lost it), falling back to the last record this bench wrote
    // (BENCH_r*.json are log-tail captures, truncated from the front)
    val defaultRef =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get("bench_ref.json")))
        "bench_ref.json"
      else outPath
    val refTimes = referenceTimes(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", defaultRef), sfDir)
    val spark = Engine.session("graft-bench", target.cpus)
    // Catalog statistics, OUTSIDE the timed region (production shape:
    // ANALYZE TABLE runs once after load, queries amortize it) — the
    // bench then times the stats-backed CBO plans users would get.
    Engine.analyzeTables(spark, sfDir)
    // SPARK_GRAFT_ONLY=name1,name2 restricts the run (profiling aid).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // SPARK_GRAFT_DEEP=1: give EVERY rep the deep-cleaned treatment
    // (cleaner-drain pause + double GC, all outside the timed region)
    // instead of only the reference-triggered retries. The suite is
    // 200+ queries in one JVM; in-suite minima otherwise read up to
    // 2× a query's isolated time from whichever neighbor's broadcast
    // litter the GC bills to them. Costs ~1 min of untimed wall for
    // the full suite; per-query numbers land near their fresh-JVM
    // isolated bounds, which is the property the bench exists to
    // track (the plan, not the session's garbage history).
    val deepAll = sys.env.get("SPARK_GRAFT_DEEP").contains("1")
    // queries that earned deep-cleaned noise retries this run —
    // committed into the JSON record (not only stderr) so the
    // asymmetric retry discipline stays auditable per round
    val retimed = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double, Int)]
    // Untimed warmup: first-query numbers otherwise absorb one-time
    // session costs (JIT, codegen framework init, first scan/shuffle/
    // broadcast machinery) that say nothing about the plan under test.
    locally {
      import org.apache.spark.sql.functions._
      val r = Engine.table(spark, sfDir, "region")
      val n = Engine.table(spark, sfDir, "nation")
      n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name").agg(count(lit(1)).as("c")).orderBy("r_name")
        .write.format("noop").mode("overwrite").save()
    }
    // SPARK_GRAFT_WARMUP=1: the serving-deployment warmup
    // (QueryService.warmup's engine — primes index probes, codegen'd
    // native expressions, both exchange flavors). Untimed; used to
    // measure the cold-start before/after in isolated runs.
    if (sys.env.get("SPARK_GRAFT_WARMUP").contains("1")) {
      val ws = service.Warmup.prime(spark)
      System.err.println(f"[bench] deep warmup $ws%.1fs (untimed)")
    }
    // Index fixtures build OUTSIDE the timed region (the production
    // shape: indexes are built offline; the bench times the QUERIES).
    // Skipped when an ONLY-run selects no index-reading query.
    val indexQueries = Set("ann_ivf", "ann_ivf_serve", "ann_ivf_delete", "ann_ivf_filtered",
      "ann_ivfpq", "ann_ivfpq_exact", "ann_ivf_recall", "dedup_band_incr",
      "q_bucketed_join", "q_corpus_merge", "q_bm25_indexed", "q_bm25_maxscore",
      "q_phrase_search",
      "q_zonemap", "q_store_timetravel", "q_search_many", "q_hybrid_indexed",
      "q_sql_phrase", "q_sql_search", "q_sql_ann", "q_sql_ann_many",
      "q_sql_search_many", "q_sql_phrase_many", "q_sql_neardup_index",
      "q_sql_neardup_batch", "q_sql_store", "q_sql_timetravel",
      "q_sql_hybrid", "q_sql_hybrid_many", "q_sql_hybrid_weighted",
      "q_sql_ann_filtered", "q_sql_index_drift", "q_sql_media_dedup")
    if (only.forall(o => o.exists(indexQueries.contains)))
      SparkEntry.prepareIndexFixtures(spark, sfDir)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        def once(deep: Boolean = false): (Double, Boolean) = {
          // Isolate runs from each other's session litter: dropped
          // broadcast blocks are only reclaimed on GC, localCheckpoint
          // storage is invisible to catalog.clearCache, and a full
          // heap turns into pauses billed to whichever query runs
          // next.
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
          System.gc()
          if (deep || deepAll) {
            // noise-retime reps: let the ContextCleaner drain the
            // references the first GC just queued, then sweep the
            // blocks it released — the broadcast/shuffle litter a
            // plain gc leaves behind is exactly what bills 2× onto
            // whichever heavy query runs next
            Thread.sleep(250)
            System.gc()
          }
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
            catch { case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              false
            }
          ((System.nanoTime() - t0) / 1e9, ok)
        }
        var (best, ok) = once()
        var r = 1
        // The extra rep goes only to queries STILL above SlowFloorSec
        // after the standard reps (budget recomputed each iteration —
        // a fast query with one noisy first sample doesn't earn one).
        while (ok && best > RetimeFloorSec &&
               (r < reps || (r == reps && best > SlowFloorSec))) {
          val (t, o) = once()
          if (o && t < best) best = t
          r += 1
        }
        // Reference-based noise retry: still >1.3× AND >0.5 s over the
        // previous round's number after the standard reps → up to
        // `noiseReps` deep-cleaned re-times. Converges noise
        // artifacts; a real regression survives all retries and
        // reports high.
        def regressedVsRef: Boolean = refTimes.get(name).exists(ref =>
          (best > ref * RefRetimeRatio && best - ref > RetimeDeltaSec) ||
            (best > ref * FlagRatio && best - ref > FlagDeltaSec))
        var nr = 0
        while (ok && nr < noiseReps && regressedVsRef) {
          val (t, o) = once(deep = true)
          if (o && t < best) best = t
          nr += 1
        }
        if (nr > 0) {
          System.err.println(f"[bench] $name retimed ${nr}x vs ref " +
            f"${refTimes(name)}%.3f -> $best%.3f")
          retimed += ((name, refTimes(name), best, nr))
        }
        (name, best, ok)
      }
    def num(v: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(v))
    // paths are interpolated into JSON — escape, or a quote/backslash
    // in a path yields an unparseable line (defeating the summary line)
    def jstr(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val qs = results.collect { case (k, v, true) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    val errors = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, true) => v }.sum
    val retimedJson = retimed.map { case (n, ref, fin, reps) =>
      "\"" + n + "\":{\"ref\":" + num(ref) + ",\"final\":" + num(fin) +
        ",\"deep_reps\":" + reps + "}"
    }.mkString("{", ",", "}")
    // freshness guard (round 16): a query timed this run but absent
    // from the committed reference means the min-merge was forgotten
    // after the round that added it — every future retime gate for
    // that query is then silently inert. Warn loudly; BenchRefSpec
    // fails the suite on the committed files for the same drift.
    if (refTimes.nonEmpty && only.isEmpty) {
      val unmerged = results.collect { case (k, _, true) => k }
        .filterNot(refTimes.contains).sorted
      if (unmerged.nonEmpty)
        System.err.println(
          s"[bench] WARNING: ${unmerged.size} quer${if (unmerged.size == 1) "y" else "ies"} " +
            s"missing from the reference (${unmerged.mkString(", ")}) — " +
            "run `python3 tools/merge_bench_ref.py bench_out.json` and " +
            "commit bench_ref.json, or their retime gates stay inert")
    }
    // Box-health verdict: control ratios vs the committed reference.
    // Computed on full runs with a reference only; an ONLY-run, a
    // ref-less run, or a run at a non-reference core count carries no
    // health claim (empty controls object) — the reference control
    // times were measured at refCpus cores, so at any other count the
    // ratio conflates core count with box sickness (the r18 c8 scaling
    // run read inflated:true purely because the controls themselves
    // got 4x fewer cores).
    val controlRatios: Seq[(String, Double)] =
      if (refTimes.isEmpty || only.nonEmpty || !target.atRef) Seq.empty
      else results.collect {
        case (k, v, true) if ControlQueries.contains(k) && refTimes.contains(k) =>
          k -> v / refTimes(k)
      }
    val controlsMedian: Option[Double] =
      if (controlRatios.isEmpty) None
      else Some(controlRatios.map(_._2).sorted.apply(controlRatios.size / 2))
    val inflated = controlsMedian.exists(_ > ControlInflated)
    if (inflated)
      System.err.println(f"[bench] WARNING: box inflated — control median " +
        f"${controlsMedian.get}%.2fx ref (${controlRatios.map { case (k, r) =>
          f"$k=$r%.2f" }.mkString(", ")}); re-run in a quieter window " +
        "before this stands as a round number or merges into bench_ref")
    if (!target.atRef)
      System.err.println(s"[bench] NOTE: run at ${target.cpus} cores != reference " +
        s"epoch ${target.refCpus} — no inflated/controls claim, and $outPath is " +
        s"left as is (this run's map: ${target.perRunOut})")
    val controlsJson = controlRatios.map { case (k, r) => "\"" + k + "\":" + num(r) }
      .mkString("{", ",", "}")
    val healthJson = s""""controls":$controlsJson,""" +
      controlsMedian.map(m => s""""controls_median":${num(m)},""").getOrElse("") +
      s""""inflated":$inflated,"""
    val line = s"""{"metric":"total","value":${num(total)},"unit":"sec",""" +
      healthJson + s""""cpus":${target.cpus},""" +
      s""""queries":$qs,"sf":${jstr(sfDir)},"errors":$errors,"retimed":$retimedJson}"""
    println(line)
    target.outFiles.foreach { f =>
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(f), line + "\n")
      catch { case e: Exception => System.err.println(s"[bench] write $f: ${e.getMessage}") }
    }
    // The LAST stdout line is a SHORT self-contained summary: a
    // log-tail capture that truncates the full per-query line from the
    // front still ends with one complete parseable JSON object (with a
    // pointer to the full per-query file) — the full record above and
    // in the file stays authoritative.
    println(s"""{"metric":"total","value":${num(total)},"unit":"sec",""" +
      s""""n_queries":${results.count(_._3)},"inflated":$inflated,""" +
      s""""cpus":${target.cpus},"sf":${jstr(sfDir)},"errors":$errors,""" +
      s""""queries_file":${jstr(java.nio.file.Paths.get(target.perRunOut).toAbsolutePath.toString)}}""")
    spark.stop()
  }
}
