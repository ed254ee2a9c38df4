package graft.tools

import graft.Engine
import graft.service.{MetricsCollector, QueryMetrics}
import graft.sources.Parquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measurement main for the operator families beyond the fixtures'
  * largest SF: replicates the base tables k× ([[Replicas]]) and
  * writes one `<FAMILY>_SCALE.md` report per family.
  *
  * Usage: runMain graft.tools.ScaleProbe <fuzzy|text|mix|ann|hybrid> [k1,k2,...]
  * Env: SPARK_GRAFT_SF_DIR (base tables, required; the committed
  * reports replicate sf0.1), SPARK_GRAFT_SCALE_OUT (replica and index
  * cache, default under java.io.tmpdir, one subdirectory per base
  * dir), SPARK_GRAFT_SCALE_REPORT_DIR (where `<FAMILY>_SCALE.md` is
  * written, default the working directory).
  *
  * Every timed cell runs under its own job group; its task metrics
  * (scan rows, shuffle bytes and rows, output rows) come from the
  * service's [[MetricsCollector]] roll-up for that group. Measurement
  * harness only — correctness is the oracle gate's job at real SFs.
  */
object ScaleProbe {

  private val families: Map[String, (Seq[Int], (Probe, Seq[Int]) => String)] = Map(
    "fuzzy" -> (Seq(1, 5, 10), fuzzy _),
    "text" -> (Seq(1, 5, 10), text _),
    "mix" -> (Seq(1, 10, 50), mix _),
    "ann" -> (Seq(1, 100, 400), ann _),
    "hybrid" -> (Seq(1, 20, 100), hybrid _))

  def main(args: Array[String]): Unit = {
    val usage = s"usage: ScaleProbe <${families.keys.toSeq.sorted.mkString("|")}> [k1,k2,...]"
    require(args.nonEmpty && families.contains(args(0)), usage)
    val family = args(0)
    val (defaultScales, run) = families(family)
    val scales = args.lift(1).fold(defaultScales)(_.split(",").map(_.trim.toInt).toSeq)
    require(scales.size >= 2 && scales.head == 1 && scales == scales.sorted.distinct,
      s"scales must start at 1 and ascend, at least two of them ($usage)")
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException(s"SPARK_GRAFT_SF_DIR names no base dir ($usage)"))
    val root = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT",
      s"${System.getProperty("java.io.tmpdir")}/graft_scale") + "/" + Engine.catalogTag(baseDir)
    val report = java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_SCALE_REPORT_DIR", "."),
      s"${family.toUpperCase}_SCALE.md")
    val spark = Engine.session(s"graft-scale-$family")
    val md = run(new Probe(spark, baseDir, root), scales)
    java.nio.file.Files.writeString(report, md)
    println(s"[$family-scale] wrote $report")
    spark.stop()
  }

  /** One timed cell: its result, wall seconds and task metrics. */
  final case class Measured[A](value: A, sec: Double, m: QueryMetrics)

  /** Session, base tables, replica cache and the metered cell runner
    * every family shares. */
  final class Probe(val spark: SparkSession, val baseDir: String, root: String) {
    private val collector = new MetricsCollector()
    spark.sparkContext.addSparkListener(collector)
    private var cells = 0

    /** Frames re-cached after each cell's cache clear (the frozen
      * query batches), outside the cell's job group. */
    var keep: Seq[DataFrame] = Nil

    def label: String = new java.io.File(baseDir).getName

    def path(rel: String): String = s"$root/$rel"

    /** Runs `body` alone under a fresh job group, after a cache clear
      * and a GC, and reads the group's metrics once every task event
      * reached the collector. */
    def cell[A](body: => A): Measured[A] = {
      spark.catalog.clearCache()
      keep.foreach(_.cache().count())
      System.gc()
      cells += 1
      val group = s"scale-probe-$cells"
      val sc = spark.sparkContext
      sc.setJobGroup(group, group, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val value = try body finally sc.clearJobGroup()
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.graftbridge.ListenerBridge.drain(sc)
      Measured(value, sec, collector.snapshot(group).getOrElse(
        QueryMetrics(0, 0, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)))
    }

    def base(table: String): DataFrame = Engine.table(spark, baseDir, table)

    /** The k× replica directory of `documents` in `mode`. */
    def docsDir(k: Int, mode: Replicas.Text): String = {
      val dir = path(s"${mode.toString.toLowerCase}/x$k")
      Replicas.cached(s"$dir/documents.parquet") {
        val docs = base("documents")
        Replicas.documents(docs, k, mode, Replicas.nextId(docs, "doc_id"))
      }
      dir
    }

    def docsAt(k: Int, mode: Replicas.Text = Replicas.Salted): DataFrame =
      Parquet.read(spark, s"${docsDir(k, mode)}/documents.parquet")

    /** The k× jittered `embeddings` under `subdir`, with ids offset by
      * `offsetFrom`'s stride (embeddings' own, or the documents' when
      * both tables are replicated together). */
    def embeddingsAt(k: Int, subdir: String, offsetFrom: (String, String)): String = {
      val dir = path(s"$subdir/x$k")
      Replicas.cached(s"$dir/embeddings.parquet") {
        val (table, idCol) = offsetFrom
        Replicas.embeddings(base("embeddings"), k, Replicas.nextId(base(table), idCol))
      }
      dir
    }

    def fs: org.apache.hadoop.fs.FileSystem =
      org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
  }

  private def noop(df: DataFrame): DataFrame = {
    df.write.format("noop").mode("overwrite").save()
    df
  }

  private def joinCounts(df: DataFrame): (Int, Int) = {
    val plan = df.queryExecution.executedPlan.toString
    ("BroadcastHashJoin".r.findAllIn(plan).size,
      "SortMergeJoin".r.findAllIn(plan).size + "ShuffledHashJoin".r.findAllIn(plan).size)
  }

  private def header(cells: Seq[String]): String =
    cells.mkString("| ", " | ", " |\n") + Seq.fill(cells.size)("---").mkString("|", "|", "|\n")

  private def xs(scales: Seq[Int]): String = scales.map(k => s"$k×").mkString("/")

  /** FUZZY — the similarity-join family on salted document replicas,
    * recording the freq-join broadcast decision
    * ([[graft.operators.SimilarityJoin]] leaves the (df, gram)
    * exchange to AQE's runtime broadcast conversion — the question at
    * scale is exactly when the freq side crosses the conversion bound
    * and the plan degrades gracefully to a shuffle join, not a cliff),
    * then Hamming-banding candidate fan-out at 1×, the largest scale
    * and 10× that (1/10/100 by default). */
  private def fuzzy(p: Probe, scales: Seq[Int]): String = {
    import p.spark
    val queries = Seq("q_sim_join", "q_sim_link", "q_fuzzy_link", "dedup_minhash")
    case class Cell(sec: Double, broadcasts: Int, shuffleJoins: Int, rows: Long)
    val m = (for (q <- queries; k <- scales) yield {
      val r = p.cell(noop(graft.SparkEntry.queries(q)(spark, p.docsDir(k, Replicas.Salted))))
      val (b, s) = joinCounts(r.value)
      val rows = r.value.count()
      println(f"[fuzzy-scale] $q%-14s x$k%-2d ${r.sec}%8.2fs  bhj=$b smj/shj=$s rows=$rows")
      (q, k) -> Cell(r.sec, b, s, rows)
    }).toMap

    // ---- Hamming-banding candidate fan-out (phash / simhash) -------
    // The one banding family whose per-band collision rate is a
    // CONSTANT of the key width (≥ 2^-bandBits for unrelated items),
    // not df-bounded like the shingle families above — so candidates
    // grow ~bands·N²/2^bandBits, quadratic in N. Candidate volume
    // comes from the production chunk derivation's bucket algebra
    // (Σ n·(n−1)/2 per band bucket = the join's pre-filter row count,
    // exact, without materializing an infeasible join), wall+rows from
    // the full operators where the candidate volume is feasible.
    // maxHamming 3 for every run: both widths guarantee recall 1.0
    // there (pigeonhole), so 8-bit and 16-bit MUST emit identical
    // pairs — asserted, a correctness property measured at scale.
    val hamScales = Seq(1, scales.last, 10 * scales.last)
    val hamFeasible = 300000000L
    case class Ham(items: Long, cand8: Long, cand16: Long,
                   sec8: Double, rows8: Long, sec16: Double, rows16: Long)
    def candPairs(chunks: DataFrame): Long =
      chunks.groupBy("c", "v").count()
        .agg(coalesce(sum(expr("count * (count - 1) DIV 2")), lit(0L)))
        .head().getLong(0)
    def timed(df: => DataFrame): (Double, Long) = {
      val r = p.cell(df.count())
      (r.sec, r.value)
    }
    val hamGrid = hamScales.map { k =>
      val docs = p.docsAt(k).select("doc_id", "text")
      val media = graft.pipeline.Multimodal.asMediaTable(
        docs.withColumn("source", lit("probe")))
      val items = docs.count()
      val pc8 = candPairs(graft.pipeline.Multimodal.phashChunks(media, 8))
      val pc16 = candPairs(graft.pipeline.Multimodal.phashChunks(media, 16))
      val (p8s, p8r) =
        if (pc8 <= hamFeasible)
          timed(graft.pipeline.Multimodal.phashDupPairs(media, maxHamming = 3, bandBits = 8))
        else (Double.NaN, -1L)
      val (p16s, p16r) = timed(
        graft.pipeline.Multimodal.phashDupPairs(media, maxHamming = 3, bandBits = 16))
      if (p8r >= 0) assert(p8r == p16r,
        s"phash 8-bit vs 16-bit bands must emit identical pairs at hamming 3 ($p8r vs $p16r)")
      val sh = graft.pipeline.TextDedup.withHashes(docs, 3)
      val sc8 = candPairs(graft.pipeline.TextDedup.simhashChunks(sh, 8))
      val sc16 = candPairs(graft.pipeline.TextDedup.simhashChunks(sh, 16))
      val (s8s, s8r) =
        if (sc8 <= hamFeasible)
          timed(graft.pipeline.TextDedup.simhashPairs(docs, 3, 0.8, maxHamming = 3, bandBits = 8))
        else (Double.NaN, -1L)
      val (s16s, s16r) = timed(
        graft.pipeline.TextDedup.simhashPairs(docs, 3, 0.8, maxHamming = 3, bandBits = 16))
      if (s8r >= 0) assert(s8r == s16r,
        s"simhash 8-bit vs 16-bit bands must emit identical pairs at hamming 3 ($s8r vs $s16r)")
      println(f"[fuzzy-scale] hamming x$k%-3d items=$items phashCand 8b=$pc8 16b=$pc16 " +
        f"(${p8s}%.1fs/${p16s}%.1fs) simhashCand 8b=$sc8 16b=$sc16 (${s8s}%.1fs/${s16s}%.1fs)")
      k -> (Ham(items, pc8, pc16, p8s, p8r, p16s, p16r), Ham(items, sc8, sc16, s8s, s8r, s16s, s16r))
    }.toMap

    val (first, last, rest) = (scales.head, scales.last, scales.tail)
    val sb = new StringBuilder
    sb ++= s"# FUZZY_SCALE — similarity-join family at ${xs(scales)} the ${p.label} corpus\n\n"
    sb ++= s"Base: `${p.baseDir}` documents replicated with per-replica salt tokens\n"
    sb ++= "(cross-replica docs are NOT near-dups — duplicate density matches the\n"
    sb ++= "base corpus; see tools.Replicas). `bhj` = broadcast hash\n"
    sb ++= "joins in the AQE final plan, `sj` = sort-merge/shuffled-hash joins —\n"
    sb ++= "the freq-join broadcast decision at each scale is the bhj/sj shift.\n\n"
    sb ++= header(Seq("query") ++ scales.map(k => s"$k× s") ++
      Seq(s"$last×/$first× ratio", s"bhj/sj @$first×") ++ rest.map(k => s"@$k×") ++
      Seq(s"rows @$last×"))
    queries.foreach { q =>
      val c = scales.map(k => m((q, k)))
      sb ++= (Seq(q) ++ c.map(x => f"${x.sec}%.2f") ++
        Seq(f"${c.last.sec / c.head.sec}%.1f×") ++
        c.map(x => s"${x.broadcasts}/${x.shuffleJoins}") ++ Seq(s"${c.last.rows}"))
        .mkString("| ", " | ", " |\n")
    }
    sb ++= s"\n## Hamming banding (phash / simhash) at ${xs(hamScales)}\n\n"
    sb ++= "The one candidate scheme with a DATA-INDEPENDENT per-band collision\n"
    sb ++= "rate (≥ 2^-bandBits for unrelated items): candidates grow\n"
    sb ++= "~bands·N²/2^bandBits — quadratic in N, unlike the df-bounded\n"
    sb ++= "shingle families above. `cand` = exact pre-filter join rows from\n"
    sb ++= "the production chunk derivation's bucket algebra (Σ n·(n−1)/2);\n"
    sb ++= "wall is the full operator (candidates + bit_count verify + exact\n"
    sb ++= "output) at maxHamming 3, where BOTH widths are pigeonhole-recall\n"
    sb ++= "1.0 and must emit identical pairs (asserted each run). An 8-bit\n"
    sb ++= "run whose candidate volume exceeds 3·10⁸ is reported by its\n"
    sb ++= "candidate count alone (`-`): that infeasibility IS the measured\n"
    sb ++= "cliff, and `bandBits=16` is the knob that removes it (~512× fewer\n"
    sb ++= "stray candidates: 4 vs 8 bands × 256× lower collision rate).\n\n"
    sb ++= header(Seq("scale", "items", "phash cand 8b", "16b", "phash s 8b", "16b",
      "simhash cand 8b", "16b", "simhash s 8b", "16b"))
    hamScales.foreach { k =>
      val (ph, si) = hamGrid(k)
      def w(sec: Double) = if (sec.isNaN) "-" else f"$sec%.1f"
      sb ++= f"| x$k | ${ph.items} | ${ph.cand8} | ${ph.cand16} | ${w(ph.sec8)} | ${w(ph.sec16)} " +
        f"| ${si.cand8} | ${si.cand16} | ${w(si.sec8)} | ${w(si.sec16)} |\n"
    }
    val ((p1, s1), (pN, sN)) = (hamGrid(hamScales.head), hamGrid(hamScales.last))
    val growth = hamScales.last / hamScales.head
    sb ++= f"\nCandidate growth x${hamScales.head}→x${hamScales.last}: " +
      f"phash 8b ${pN.cand8.toDouble / math.max(1, p1.cand8)}%.0f×, " +
      f"16b ${pN.cand16.toDouble / math.max(1, p1.cand16)}%.0f×; " +
      f"simhash 8b ${sN.cand8.toDouble / math.max(1, s1.cand8)}%.0f×, " +
      f"16b ${sN.cand16.toDouble / math.max(1, s1.cand16)}%.0f× — against $growth× items\n"
    sb ++= s"(${growth.toLong * growth}× is the pure-quadratic slope; near-dup-free replicas mean\n"
    sb ++= "almost all candidates are stray collisions). Oracle defaults are\n"
    sb ++= "unchanged (8-bit, recall 1.0 to hamming 7); deployments beyond\n"
    sb ++= "~10⁵ items (where N²/32 crosses the 3·10⁸ feasibility line —\n"
    sb ++= "the auto-selection switchover) pick `bandBits = 16` and accept\n"
    sb ++= "the hamming-3 radius, or shard the corpus before banding.\n"
    sb.toString
  }

  /** TEXT — the LM/text-analysis family (text_lm_score / text_lm_lang /
    * q_lm_buckets_lang, two corpus passes by design). The question at
    * scale is whether the (doc, w1, w2) hash-aggregate key space and
    * the per-group model broadcast stay bounded: the bigram model
    * aggregates to a VOCABULARY-sized table, so its exchange must grow
    * sub-linearly in corpus rows. Measured per (query, scale) on both
    * the salted and the Heaps replicas: min-of-2 wall seconds, shuffle
    * WRITE bytes (the honest "exchange size", immune to plan-node
    * visibility under AQE) and rows out. */
  private def text(p: Probe, scales: Seq[Int]): String = {
    import p.spark
    val queries = Seq("text_lm_score", "text_lm_lang", "q_lm_buckets_lang")
    def run(q: String, dir: String): Unit =
      noop(graft.SparkEntry.queries(q)(spark, dir))
    // untimed warmup — without it the first grid cell absorbs one-time
    // JIT/codegen/scan-machinery costs and the 1× column reads as 3×
    // its true value, inverting every ratio in the table
    run(queries.head, p.docsDir(scales.head, Replicas.Salted))

    case class Cell(sec: Double, shuffleMb: Double, rows: Long)
    def measure(mode: Replicas.Text) = (for (q <- queries; k <- scales) yield {
      val dir = p.docsDir(k, mode)
      // min of 2 reps, same discipline as Bench: shared-JVM GC/broadcast
      // litter swings single samples up to 2×; the minimum measures the
      // plan. Shuffle bytes and output rows are deterministic — read
      // them from rep 1 (the noop sink still reports rows written).
      val r1 = p.cell(run(q, dir))
      val sec = math.min(r1.sec, p.cell(run(q, dir)).sec)
      val mb = r1.m.shuffleWriteBytes / 1e6
      val rows =
        if (r1.m.outputRows > 0) r1.m.outputRows
        else graft.SparkEntry.queries(q)(spark, dir).count()
      println(f"[text-scale] $q%-18s x$k%-2d ${sec}%8.2fs  shuffle=${mb}%9.1fMB rows=$rows")
      (q, k) -> Cell(sec, mb, rows)
    }).toMap
    val m = measure(Replicas.Salted)
    val mh = measure(Replicas.Heaps)
    val (first, last, rest) = (scales.head, scales.last, scales.tail)
    val sb = new StringBuilder
    sb ++= s"# TEXT_SCALE — LM/text family at ${xs(scales)} the ${p.label} corpus\n\n"
    sb ++= s"Base: `${p.baseDir}` documents, salted replicas (tools.Replicas)\n"
    sb ++= "(salt tokens grow the bigram vocabulary with scale, like a real\n"
    sb ++= "crawl's tail). `shuffle` = total task shuffle-write bytes for the\n"
    sb ++= "query — the exchange volume the (doc,w1,w2)/model aggregations pay.\n"
    sb ++= "A bounded model: time ~linear in rows, shuffle dominated by the\n"
    sb ++= "rows term (model exchanges are vocabulary-sized, not corpus-sized).\n"
    sb ++= "Note: the salted replicas grow the BIGRAM VOCABULARY linearly with\n"
    sb ++= "the replica count (every replica mints its own (word, salt) types —\n"
    sb ++= "deliberately pessimistic vs the sub-linear Heaps-law growth of a\n"
    sb ++= "real crawl), so per-row shuffle creeping up with scale is the\n"
    sb ++= "vocabulary term under that pessimistic growth, not a corpus-sized\n"
    sb ++= "exchange.\n\n"
    val head = header(Seq("query") ++ scales.map(k => s"$k× s") ++
      Seq(s"$last×/$first× time", s"shuffle $first×") ++ rest.map(k => s"$k×") ++
      Seq(s"$last×/$first× shuffle", s"rows @$last×"))
    def table(rows: Map[(String, Int), Cell]): Unit = {
      sb ++= head
      queries.foreach { q =>
        val c = scales.map(k => rows((q, k)))
        sb ++= (Seq(q) ++ c.map(x => f"${x.sec}%.2f") ++
          Seq(f"${c.last.sec / c.head.sec}%.1f×") ++ c.map(x => f"${x.shuffleMb}%.0fMB") ++
          Seq(f"${c.last.shuffleMb / math.max(c.head.shuffleMb, 0.1)}%.1f×", s"${c.last.rows}"))
          .mkString("| ", " | ", " |\n")
      }
    }
    table(m)
    sb ++= "\n## Heaps-law replicas (shared vocabulary, sub-linear new types)\n\n"
    sb ++= "Same three queries over replicas that share ONE salt type inserted\n"
    sb ++= "at a different period per replica: new bigram types saturate toward\n"
    sb ++= "~2·V instead of growing linearly (the coupon-collector shape of a\n"
    sb ++= "real crawl's Heaps tail). Rows still grow linearly — this isolates\n"
    sb ++= "the per-row shuffle term under REALISTIC vocabulary growth, the\n"
    sb ++= "curve the pessimistic table above deliberately exceeds.\n\n"
    table(mh)
    sb ++= "\n**Reading.** The two modes' shuffle ratios land within ~1MB/row of\n"
    sb ++= "each other at every scale, which settles the question the pessimistic\n"
    sb ++= "mode left open: the exchange is dominated by the LINEAR per-doc\n"
    sb ++= "transition rows ((doc,w1,w2) keys), not by vocabulary-sized model\n"
    sb ++= "tables — vocabulary growth (linear OR Heaps) is second-order. The\n"
    sb ++= "residual above the data ratio is the inserted salt tokens themselves\n"
    sb ++= "lengthening replica docs (every 4th word in the pessimistic mode ≈\n"
    sb ++= "+25% transitions; periods 4–12 in Heaps mode ≈ +14%), i.e. more\n"
    sb ++= "rows, not a super-linear term. At 100 TB the model exchanges stay\n"
    sb ++= "vocabulary-sized and the transition aggregate scales with the\n"
    sb ++= "corpus — the shape a distributed LM scorer needs.\n"
    sb.toString
  }

  /** MIX — the ops a corpus assembly runs last, each with its 100 TB
    * question answered by measured numbers:
    *
    *   - `decontaminate` / `contaminationReport`: the eval set is
    *     FIXED-SIZE (benchmarks don't grow with the crawl) and its
    *     grams broadcast — the gram join must stay broadcast at every
    *     scale and shuffle bytes must carry doc_ids only, never text.
    *   - `corpusDiff`: content identity reduces map-side to 16-byte
    *     fingerprints before the only data-sized exchange — shuffle
    *     bytes/row must stay ~tens of bytes as rows grow.
    *   - `tokenBudgetSample` / `shuffleRank` / `packSequences`: the
    *     value-keyed two-pass prefix sums shuffle (id, count) pairs —
    *     linear in rows, no single-task-per-group stage at any scale.
    *
    * Default 1×/10×/50×: the sf0.1 base is 5k docs, so sub-10× walls
    * are fixed-overhead-dominated; 50× makes the gram explosion and
    * prefix sums data-dominated. */
  private def mix(p: Probe, scales: Seq[Int]): String = {
    import p.spark
    // the FIXED eval set: base-corpus benchmarks, same at every scale
    val evalSet = p.base("documents")
      .filter(col("doc_id") % 10 === 0).select("doc_id", "text")
    evalSet.persist().count()
    // each probe returns the DataFrame to run; the derived "new
    // snapshot" for corpus_diff is computed in-plan (scan-heavy but
    // shuffle-light — only fingerprints cross the exchange)
    val probes: Seq[(String, Int => DataFrame)] = Seq(
      "decontam_filter" -> (k =>
        graft.pipeline.CorpusOps.decontaminate(p.docsAt(k), evalSet)),
      "decontam_report" -> (k =>
        graft.pipeline.CorpusOps.contaminationReport(p.docsAt(k), evalSet, "lang")),
      "corpus_diff" -> { k =>
        val d = p.docsAt(k)
        val nw = d.filter(col("doc_id") % 13 =!= 0)
          .select(col("source"),
            when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
              .otherwise(col("text")).as("text"))
        graft.pipeline.CorpusOps.corpusDiff(d, nw, "source")
      },
      "token_budget" -> (k =>
        graft.pipeline.CorpusOps.tokenBudgetSample(p.docsAt(k), "lang", 20000L * k)),
      "shuffle_rank" -> (k =>
        graft.pipeline.CorpusOps.shuffleRank(p.docsAt(k), 7L)),
      "pack_sequences" -> (k =>
        graft.pipeline.CorpusOps.packSequences(p.docsAt(k), 4096L)))

    case class Cell(sec: Double, shuffleMb: Double, bhj: Int, sj: Int, rows: Long)
    // untimed JIT/codegen warmup per op (at 1×) — without it the 1×
    // cell absorbs first-plan compilation and the ratios read <1×
    probes.foreach { case (_, mk) => noop(mk(scales.head)) }
    val m = (for ((name, mk) <- probes; k <- scales) yield {
      val r = p.cell(noop(mk(k)))
      val mb = r.m.shuffleWriteBytes / 1e6
      val (b, s) = joinCounts(r.value)
      val rows = r.value.count()
      println(f"[mix-scale] $name%-16s x$k%-2d ${r.sec}%8.2fs  shuffle=${mb}%9.1fMB bhj=$b sj=$s rows=$rows")
      (name, k) -> Cell(r.sec, mb, b, s, rows)
    }).toMap
    val (first, last, rest) = (scales.head, scales.last, scales.tail)
    val sb = new StringBuilder
    sb ++= s"# MIX_SCALE — mix-construction + two-corpus ops at ${xs(scales)} the ${p.label} corpus\n\n"
    sb ++= s"Base: `${p.baseDir}` documents via salted replicas (tools.Replicas)\n"
    sb ++= "(cross-replica 10-grams share no grams — the FIXED base-corpus eval\n"
    sb ++= "set keeps base-density overlap at every scale, the realistic shape:\n"
    sb ++= "benchmarks don't grow with the crawl). `shuffle` = total task-level\n"
    sb ++= "shuffle WRITE bytes (AQE-proof); `bhj/sj` = broadcast vs sort-merge/\n"
    sb ++= "shuffled-hash joins in the COMPILED plan snapshot — AQE may still\n"
    sb ++= "convert an sj to broadcast at runtime, so an sj on a small side here\n"
    sb ++= "is a pre-conversion reading, while the shuffle-bytes column is the\n"
    sb ++= "executed truth. The claims under test: the\n"
    sb ++= "eval-gram join stays broadcast at every scale (sj on the gram join = 0,\n"
    sb ++= "shuffle carries ids not text); corpus_diff's only exchange is\n"
    sb ++= "fingerprints (bytes/row stays ~constant as rows grow 10×); the prefix-\n"
    sb ++= "sum mix ops scale linearly with no single-task-per-group stage.\n\n"
    sb ++= header(Seq("op") ++ scales.map(k => s"$k× s") ++
      Seq(s"$last×/$first×", s"shuffle $first×") ++ rest.map(k => s"$k×") ++
      Seq(s"bhj/sj @$last×", s"rows @$last×"))
    probes.foreach { case (q, _) =>
      val c = scales.map(k => m((q, k)))
      sb ++= (Seq(q) ++ c.map(x => f"${x.sec}%.2f") ++
        Seq(f"${c.last.sec / c.head.sec}%.1f×") ++ c.map(x => f"${x.shuffleMb}%.1fMB") ++
        Seq(s"${c.last.bhj}/${c.last.sj}", s"${c.last.rows}"))
        .mkString("| ", " | ", " |\n")
    }
    sb ++= "\nReading: walls stay flat (ops are scan/prefix-sum bound and fully\n"
    sb ++= "parallel at these sizes — 50× data costs ≤2× wall); shuffle bytes\n"
    sb ++= "grow linearly in ROWS with ~constant bytes/row (ids, counts, and\n"
    sb ++= "16-byte fingerprints — never text), which is the property that\n"
    sb ++= "holds at 100 TB: the text stays in the scan, only keys cross the\n"
    sb ++= "wire. decontam keeps the eval-gram join broadcast at every scale\n"
    sb ++= "(the fixed eval set is the broadcast side by construction).\n"
    sb.toString
  }

  /** ANN — the IVF serving tiers on jittered embedding replicas. The
    * sf0.1 `embeddings` table is tiny (2k vectors), so this family
    * replicates 1×/100×/400× by default: at the fixture's own scale
    * every tier is fixed-overhead-dominated. Tiers, against the SAME
    * frozen external query batch:
    *
    *   - brute: [[graft.pipeline.Embeddings.bruteForceTopKFor]] — the
    *     O(corpus) baseline; its rows read MUST grow linearly.
    *   - ivf: `ivfTopKIndexedFor` with adaptive=false — the
    *     fixed-nprobe approximate tier, partition-pruned to the probed
    *     cells. nlist ~√N per scale (the RUNBOOK sizing), nprobe
    *     fixed, so rows touched grow ~√N, not ~N.
    *   - ivf_exact: adaptive=true — exact top-k via the per-cell-radius
    *     re-probe bound; exposes the exactness premium when k-means
    *     radii are loose.
    *   - ivf_cap8: adaptive with `escapeCap = 8`, the bounded second pass.
    *   - ivf_adc: `ivfPqTopKIndexedFor` — probed-cell PQ codes + an
    *     exact shortlist refine.
    *
    * The headline metric is task-level rows read per tier (the direct
    * evidence that `cell IN (...)` partition pruning executes), with
    * wall seconds beside it. The escape_cap recall ladders run at the
    * second-largest scale (100× by default). */
  private def ann(p: Probe, scales: Seq[Int]): String = {
    import p.spark
    import graft.pipeline.Embeddings
    // one fixed external query batch across all scales: the base
    // replica's first 10 vectors re-keyed into a disjoint id space
    val queries = p.base("embeddings")
      .filter(col("vec_id") < 10)
      .select((col("vec_id") + 999000L).as("query_id"), col("embedding"))
    p.keep = Seq(queries)
    val ladderAt = scales(scales.size - 2)

    case class Cell(build: Double, nlist: Int,
                    brute: Double, bruteRows: Long,
                    ivf: Double, ivfRows: Long,
                    exact: Double, exactRows: Long,
                    cap: Double, capRows: Long,
                    adc: Double, adcRows: Long, rows: Long)
    // (nprobe, cap, recall@10, wall s, rows) at the ladder scale — the
    // result-QUALITY axis of the escape_cap cost ceiling. Two ladders:
    // the production nprobe=8 and a STRESSED nprobe=1 (first pass = 1
    // cell), where the cap is the only recall lever.
    var capRecall: Seq[(Int, String, Double, Double, Long)] = Seq.empty
    // the OFF-DISTRIBUTION ladder: queries simulate the ivfDriftStats
    // scenario (a NEW embedding-model version serving against an index
    // trained on the old distribution): each component shrinks toward
    // zero and gains a fixed per-dimension drift offset in [-0.5, 0.5],
    // putting every query off the quantizer's training manifold.
    var oodRecall: Seq[(Int, String, Double, Double, Long)] = Seq.empty
    val cells = scales.map { k =>
      val dir = p.embeddingsAt(k, "ann", ("embeddings", "vec_id"))
      val corpus = Parquet.read(spark, s"$dir/embeddings.parquet")
      val n = corpus.count()
      // production sizing (RUNBOOK §4): nlist ~ sqrt(N); nprobe fixed
      // so probed rows ~ nprobe * N/nlist = nprobe * sqrt(N)
      val nlist = math.max(16, math.round(math.sqrt(n.toDouble)).toInt)
      val idx = s"$dir/ivf_n$nlist"
      // the skip marker is the probe's own, written AFTER the whole
      // build: keying on an inner store's _SUCCESS would skip the
      // rebuild of an index a killed earlier run left half-written
      val built = new org.apache.hadoop.fs.Path(s"$idx/_PROBE_BUILT")
      val tBuild =
        if (p.fs.exists(built)) Double.NaN
        else p.cell {
          p.fs.delete(new org.apache.hadoop.fs.Path(idx), true)
          Embeddings.writeIvfIndex(corpus, idx, nlist = nlist)
          p.fs.create(built, true).close()
        }.sec
      def tier(df: => DataFrame): Measured[Long] = p.cell(df.count())
      val brute = tier(Embeddings.bruteForceTopKFor(queries, corpus, 10))
      val ivf = tier(Embeddings.ivfTopKIndexedFor(queries, idx, 10, nprobe = 8,
        adaptive = false))
      val exact = tier(Embeddings.ivfTopKIndexedFor(queries, idx, 10, nprobe = 8,
        adaptive = true))
      val cap = tier(Embeddings.ivfTopKIndexedFor(queries, idx, 10, nprobe = 8,
        adaptive = true, escapeCap = 8))
      val adc = tier(Embeddings.ivfPqTopKIndexedFor(queries, idx, 10, nprobe = 8))
      // recall@10 vs the brute truth across the escape_cap ladder.
      // Driver-side sets are 10 queries × 10 neighbors — trivially
      // bounded.
      if (k == ladderAt) {
        def idSet(df: DataFrame): Set[(Long, Long)] =
          df.select("query_id", "neighbor_id").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
        val ladder: Seq[(String, Int)] = Seq("0" -> 0, "4" -> 4, "8" -> 8,
          "16" -> 16, "unbounded" -> Int.MaxValue)
        def rung(qs: DataFrame, truth: Set[(Long, Long)], np: Int, label: String,
                 cap: Int, tag: String) = {
          val r = p.cell(idSet(
            Embeddings.ivfTopKIndexedFor(qs, idx, 10, nprobe = np,
              adaptive = true, escapeCap = cap)))
          val recall = (r.value & truth).size.toDouble / truth.size
          println(f"[ann-scale] x$k$tag nprobe=$np escape_cap=$label%-9s " +
            f"recall@10=$recall%.3f wall=${r.sec}%6.2fs rows=${r.m.inputRows}%9d")
          (np, label, recall, r.sec, r.m.inputRows)
        }
        val truth = idSet(Embeddings.bruteForceTopKFor(queries, corpus, 10))
        capRecall = for (np <- Seq(8, 1); (label, c) <- ladder)
          yield rung(queries, truth, np, label, c, "")
        // drifted query batch: same 10 ids, components shrunk 0.35×
        // plus a fixed per-dimension offset (deterministic; the SAME
        // drift for every query, per-query identity preserved by the
        // shrunken original component)
        val ood = queries.select(col("query_id"),
          transform(col("embedding"), (x, j) =>
            (x * 0.35 + ((pmod(xxhash64(j), lit(2001)) - lit(1000))
              .cast("double") / 2000.0)).cast("float")).as("embedding"))
        val oodTruth = idSet(Embeddings.bruteForceTopKFor(ood, corpus, 10))
        oodRecall = for ((label, c) <- ladder)
          yield rung(ood, oodTruth, 8, label, c, " OOD")
      }
      println(f"[ann-scale] x$k%-3d n=$n%7d nlist=$nlist%4d build=$tBuild%7.1fs " +
        f"brute=${brute.sec}%6.2fs/${brute.m.inputRows}%9d rows  " +
        f"ivf=${ivf.sec}%6.2fs/${ivf.m.inputRows}%9d  " +
        f"ivf_exact=${exact.sec}%6.2fs/${exact.m.inputRows}%9d  " +
        f"ivf_cap8=${cap.sec}%6.2fs/${cap.m.inputRows}%9d  " +
        f"ivf_adc=${adc.sec}%6.2fs/${adc.m.inputRows}%9d  topk=${brute.value}")
      k -> Cell(tBuild, nlist, brute.sec, brute.m.inputRows, ivf.sec, ivf.m.inputRows,
        exact.sec, exact.m.inputRows, cap.sec, cap.m.inputRows, adc.sec, adc.m.inputRows, n)
    }.toMap

    val c1 = cells(scales.head); val cN = cells(scales.last)
    val dataRatio = cN.rows.toDouble / c1.rows
    val sb = new StringBuilder
    sb ++= s"# ANN_SCALE — IVF serving tiers at ${xs(scales)} the ${p.label} embeddings\n\n"
    sb ++= s"Base: `${p.baseDir}` embeddings (2k × 64-dim — far below serving scale,\n"
    sb ++= "hence the aggressive replication) grown with deterministic per-replica\n"
    sb ++= "jitter (fresh near-distribution vectors, not clones — see\n"
    sb ++= "tools.Replicas). One frozen 10-query external batch served at every scale.\n"
    sb ++= "nlist ~ sqrt(N) per scale (RUNBOOK production sizing), nprobe fixed at 8,\n"
    sb ++= "so pruned tiers should touch ~nprobe*N/nlist = nprobe*sqrt(N) rows vs\n"
    sb ++= "brute's N. `rows` is task-level recordsRead for the tier — the direct\n"
    sb ++= "partition-pruning evidence; walls at these sizes still carry\n"
    sb ++= "multi-second fixed job cost. `ivf` is the fixed-nprobe approximate\n"
    sb ++= "serving tier (recall at these settings pinned by ann_ivf_recall);\n"
    sb ++= "`ivf_exact` is adaptive=true — exact top-k via the per-cell-radius\n"
    sb ++= "bound, whose re-probes approach a full pass when radii are loose\n"
    sb ++= "(they are, on this high-dim jittered corpus): the honest cost of the\n"
    sb ++= "exactness guarantee, not a pruning failure. Rows per tier are the\n"
    sb ++= "UNION of probed cells across the 10-query batch (per-query cost is\n"
    sb ++= "nprobe*N/nlist; distinct cells overlap as the batch grows), and the\n"
    sb ++= "ADC tier pays TWO pruned passes (codes scan + exact shortlist refine),\n"
    sb ++= "so its rows ~ 2x the ivf tier's.\n\n"
    sb ++= "`ivf_cap8` is adaptive with `escapeCap = 8`: the bounded second\n"
    sb ++= "pass — at most 8 extra cells per query, most promising first — the\n"
    sb ++= "cost ceiling the exactness-premium measurement motivated.\n\n"
    sb ++= header(Seq("scale", "vectors", "nlist", "build s", "brute s", "brute rows",
      "ivf s", "ivf rows", "ivf_exact s", "ivf_exact rows", "ivf_cap8 s", "ivf_cap8 rows",
      "ivf_adc s", "ivf_adc rows"))
    scales.foreach { k =>
      val c = cells(k)
      sb ++= f"| $k× | ${c.rows} | ${c.nlist} | ${c.build}%.1f | ${c.brute}%.2f | ${c.bruteRows} | ${c.ivf}%.2f | ${c.ivfRows} | ${c.exact}%.2f | ${c.exactRows} | ${c.cap}%.2f | ${c.capRows} | ${c.adc}%.2f | ${c.adcRows} |\n"
    }
    def ladderRows(rows: Seq[(Int, String, Double, Double, Long)]): Unit = {
      sb ++= header(Seq("nprobe", "escape_cap", "recall@10", "wall s", "rows read"))
      rows.foreach { case (np, label, r, t, n) => sb ++= f"| $np | $label | $r%.3f | $t%.2f | $n |\n" }
    }
    sb ++= s"\n## escape_cap recall ladder at $ladderAt× (recall@10 vs brute truth)\n\n"
    sb ++= "The cost ceiling's quality axis: `escape_cap = N` bounds the\n"
    sb ++= "adaptive second pass to N extra cells per query (most promising\n"
    sb ++= "first). `0` = fixed-nprobe only; `unbounded` = the exact tier\n"
    sb ++= "(recall 1.0 by construction — the probe asserts the measurement\n"
    sb ++= "harness against it). Same frozen 10-query batch. Two ladders:\n"
    sb ++= "nprobe=8 (the production setting) and a STRESSED nprobe=1 —\n"
    sb ++= "first pass touches a single cell, so the cap is the only recall\n"
    sb ++= "lever and the ladder exposes the recall-per-extra-cell curve.\n\n"
    ladderRows(capRecall)
    sb ++= "\nServing guidance (RUNBOOK §ANN): pick the smallest cap whose\n"
    sb ++= "recall meets the product bar — the rows column is the price of\n"
    sb ++= "each step up, and `unbounded` is the exactness premium.\n"
    sb ++= s"\n## OFF-DISTRIBUTION ladder at $ladderAt× (drifted queries, nprobe=8)\n\n"
    sb ++= "The in-distribution ladder above saturates at the production\n"
    sb ++= "nprobe (cap 0 already recalls 1.0 on this geometry), so it does\n"
    sb ++= "not discriminate where users actually tune. This ladder serves\n"
    sb ++= "DRIFTED queries — the ivfDriftStats scenario: a new embedding\n"
    sb ++= "model version queries an index trained on the old distribution\n"
    sb ++= "(components shrunk 0.35× plus a fixed per-dimension offset in\n"
    sb ++= "[-0.5, 0.5]) — where nearest-centroid probe order misleads and\n"
    sb ++= "the cap is a live recall lever AT nprobe=8. Recall is against\n"
    sb ++= "the drifted batch's own brute-force truth.\n\n"
    ladderRows(oodRecall)
    sb ++= "\nGuidance refined: on in-distribution traffic cap 0 at the\n"
    sb ++= "production nprobe is free recall; once ivfDriftStats shows the\n"
    sb ++= "serving distribution drifting, raise escape_cap along THIS\n"
    sb ++= "table's curve (or rebuild the index on the new distribution —\n"
    sb ++= "the durable fix the drift detector exists to trigger).\n"
    sb ++= f"\n${scales.last}×/${scales.head}× growth on ${dataRatio}%.0f× data: " +
      f"brute rows ${cN.bruteRows.toDouble / c1.bruteRows}%.0f× (linear by design), " +
      f"ivf rows ${cN.ivfRows.toDouble / c1.ivfRows}%.1f×, " +
      f"ivf_exact rows ${cN.exactRows.toDouble / c1.exactRows}%.1f×, " +
      f"ivf_cap8 rows ${cN.capRows.toDouble / c1.capRows}%.1f×, " +
      f"ivf_adc rows ${cN.adcRows.toDouble / c1.adcRows}%.1f×; " +
      f"walls: brute ${cN.brute / c1.brute}%.1f×, ivf ${cN.ivf / c1.ivf}%.1f×, " +
      f"ivf_exact ${cN.exact / c1.exact}%.1f×, ivf_cap8 ${cN.cap / c1.cap}%.1f×, " +
      f"ivf_adc ${cN.adc / c1.adc}%.1f×.\n"
    sb.toString
  }

  /** HYBRID — the hybrid-retrieval serving TVFs. They are bounded BY
    * CONTRACT (each leg emits ≤ k_per_leg rows per query, fusion moves
    * ≤ legs·k_per_leg·batch rows); this family turns the contract into
    * measured task-level SHUFFLE rows per tier. Documents are the
    * salted replicas and embeddings the jittered ones, under the
    * documents' id offset. Tiers per scale, same frozen 100-query
    * batch throughout:
    *
    *   - lex: [[graft.pipeline.TextIndex.searchMany]] alone (uniform-df
    *     batch), and lex-skew: the same with one discriminative term
    *     per query (the Zipfian query-log shape).
    *   - dense: `ivfTopKIndexedFor` (adaptive, the corpus_hybrid
    *     setting) alone.
    *   - hybrid_batch: the FULL `corpus_hybrid` TVF through SQL.
    *   - hybrid_one: the TVF single-query shape.
    *   - fuse: `rrfFuseMany` alone over materialized legs, checked
    *     against the legs·k_per_leg·batch algebra bound. */
  private def hybrid(p: Probe, scales: Seq[Int]): String = {
    import p.spark
    import graft.pipeline.{Embeddings, TextIndex}
    val batchN = 100
    val kPerLeg = 20
    val dirs = scales.map(k =>
      k -> p.embeddingsAt(k, "hybrid", ("documents", "doc_id"))).toMap

    // ONE frozen query batch across all scales: the base corpus's
    // first 100 vectors (disjoint re-keyed id space) paired with the
    // first 4 words of the same-id document's text — real terms that
    // hit postings at every scale (replica salting never removes the
    // base replica's grams).
    val batchPath = Replicas.cached(p.path("hybrid/queries.parquet"), partitions = 1) {
      val docs = p.base("documents")
        .select(col("doc_id"), concat_ws(" ",
          slice(split(col("text"), "\\s+"), 1, 4)).as("query"))
      p.base("embeddings")
        .filter(col("vec_id") < batchN)
        .join(docs, col("vec_id") === col("doc_id"))
        .select((col("vec_id") + 5000000L).as("query_id"),
          col("query"), col("embedding"))
    }
    val batch = Parquet.read(spark, batchPath)
    p.keep = Seq(batch)
    val nBatch = batch.count()

    case class Cell(build: Double, nlist: Int, nVec: Long,
                    lex: Double, lexSh: Long, lexRoute: String,
                    skew: Double, skewSh: Long, skewRoute: String,
                    den: Double, denSh: Long,
                    hyb: Double, hybSh: Long,
                    one: Double, oneSh: Long,
                    fuse: Double, fuseSh: Long, rows: Long)
    // Untimed JIT warm-up at the smallest scale, AFTER its indexes
    // exist: compile every tier's codegen shapes once — including the
    // MaxScore attempt's (forced floor; x1 sits under the production
    // floor so its shapes would otherwise first compile inside a timed
    // larger tier — measured +190s of first-use JIT on the x20 hybrid
    // wall).
    var warmed = false
    def warmup(dir: String, nlist: Int): Unit = if (!warmed) {
      warmed = true
      val terms = batch.select(col("query_id"),
        split(lower(col("query")), "\\s+").as("terms"))
      spark.conf.set("graft.textindex.maxscorePostingsFloor", "0")
      try TextIndex.searchMany(spark, s"$dir/text_idx", terms, kPerLeg).count()
      finally spark.conf.unset("graft.textindex.maxscorePostingsFloor")
      TextIndex.searchMany(spark, s"$dir/text_idx", terms, kPerLeg).count()
      spark.sql(s"SELECT * FROM corpus_hybrid('$dir/text_idx', " +
        s"'$dir/ivf_n$nlist', queries=>'$batchPath', k=>10, " +
        s"k_per_leg=>$kPerLeg, nprobe=>8)").count()
      ()
    }

    val cells = scales.map { k =>
      val dir = dirs(k)
      val docs = p.docsAt(k).select("doc_id", "text")
      val emb = Parquet.read(spark, s"$dir/embeddings.parquet")
      val n = emb.count()
      val nlist = math.max(16, math.round(math.sqrt(n.toDouble)).toInt)
      val tIdx = s"$dir/text_idx"
      val vIdx = s"$dir/ivf_n$nlist"
      // the marker FILE CONTENT is the measured build seconds, so a
      // re-run that reuses the indexes still reports the real number
      val built = new org.apache.hadoop.fs.Path(s"$dir/_PROBE_BUILT")
      val tBuild =
        if (p.fs.exists(built)) {
          val in = p.fs.open(built)
          val txt = try scala.io.Source.fromInputStream(in).mkString.trim
            finally in.close()
          txt.toDoubleOption.getOrElse(Double.NaN)
        } else {
          val secs = p.cell {
            p.fs.delete(new org.apache.hadoop.fs.Path(tIdx), true)
            p.fs.delete(new org.apache.hadoop.fs.Path(vIdx), true)
            TextIndex.write(docs, tIdx)
            Embeddings.writeIvfIndex(emb, vIdx, nlist = nlist)
          }.sec
          val out = p.fs.create(built, true)
          out.write(f"$secs%.2f".getBytes("UTF-8"))
          out.close()
          secs
        }
      warmup(dir, nlist)
      val terms = batch.select(col("query_id"),
        split(lower(col("query")), "\\s+").as("terms"))
      val qVecs = batch.select(col("query_id"), col("embedding"))
      // ONE action per tier — a second action re-executes the whole
      // DAG and double-bills the tier's shuffle rows
      val lex = p.cell(TextIndex.searchMany(spark, tIdx, terms, kPerLeg).count())
      val lexRoute = TextIndex.lastRoute
      // SKEWED-df lexical batch — the realistic query mix (real query
      // logs are Zipfian: most queries carry at least one
      // discriminative term): each query = the corpus's one rarer term
      // ('dup', df 5% at every scale) + a common bigram. MaxScore's
      // essential-term partition should discard the common terms and
      // serve from the rare term's blocks; the uniform-df batch above
      // is its measured worst case.
      val skewTerms = batch.select(col("query_id"),
        array_union(array(lit("dup")),
          slice(split(lower(col("query")), "\\s+"), 1, 2)).as("terms"))
      val skew = p.cell(TextIndex.searchMany(spark, tIdx, skewTerms, kPerLeg).count())
      val skewRoute = TextIndex.lastRoute
      assert(skew.value > 0)
      val den = p.cell(Embeddings.ivfTopKIndexedFor(qVecs, vIdx, kPerLeg,
        nprobe = 8, adaptive = true).count())
      val hyb = p.cell(spark.sql(s"SELECT * FROM corpus_hybrid('$tIdx', '$vIdx', " +
        s"queries=>'$batchPath', k=>10, k_per_leg=>$kPerLeg, nprobe=>8)").count())
      val q1 = batch.filter(col("query_id") === 5000007L)
        .select(col("query"), col("embedding")).head()
      val q1Vec = q1.getSeq[Float](1).map(_.toString).mkString(",")
      val one = p.cell(spark.sql(s"SELECT * FROM corpus_hybrid('$tIdx', '$vIdx', " +
          s"'${q1.getString(0).replace("'", "")}', " +
          s"embedding=>'$q1Vec', k=>10, k_per_leg=>$kPerLeg, nprobe=>8)").count())
      assert(lex.value > 0 && den.value > 0, s"legs must serve at x$k")
      // DIRECT fusion measurement: legs materialized (untimed), then
      // rrfFuseMany metered alone — subtraction (hybrid − legs) is
      // polluted by per-leg execution variance (the adaptive escape's
      // data-dependent second pass), so the bound check uses this
      val lexW = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))
      TextIndex.searchMany(spark, tIdx, terms, kPerLeg)
        .withColumn("rank", row_number().over(lexW).cast("int"))
        .select("query_id", "doc_id", "rank")
        .write.mode("overwrite").parquet(s"$dir/leg_lex")
      Embeddings.ivfTopKIndexedFor(qVecs, vIdx, kPerLeg,
          nprobe = 8, adaptive = true)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").cast("int").as("rank"))
        .write.mode("overwrite").parquet(s"$dir/leg_den")
      val fuse = p.cell(graft.pipeline.Retrieval.rrfFuseMany(
        Seq(Parquet.read(spark, s"$dir/leg_lex"),
          Parquet.read(spark, s"$dir/leg_den")), "doc_id", 60, 10).count())
      assert(fuse.value > 0)
      def sh(r: Measured[_]): Long = r.m.shuffleReadRecords
      println(f"[hybrid-scale] x$k%-3d lex=${lex.sec}%6.2fs/${sh(lex)}%d ($lexRoute) " +
        f"skew=${skew.sec}%6.2fs/${sh(skew)}%d ($skewRoute) " +
        f"dense=${den.sec}%6.2fs/${sh(den)}%d hybrid=${hyb.sec}%6.2fs/${sh(hyb)}%d " +
        f"one=${one.sec}%6.2fs/${sh(one)}%d fuse=${fuse.sec}%6.2fs/${sh(fuse)}%d rows=${hyb.value}%d")
      k -> Cell(tBuild, nlist, n, lex.sec, sh(lex), lexRoute,
        skew.sec, sh(skew), skewRoute, den.sec, sh(den),
        hyb.sec, sh(hyb), one.sec, sh(one), fuse.sec, sh(fuse), hyb.value)
    }.toMap

    // fusion algebra bound: rrfFuseMany's exchanges see the union of
    // per-leg top-k frames (≤ legs·k_per_leg·batch rows) twice — the
    // fuse groupBy and the per-query rank window
    val fusionBound = 2L * 2L * kPerLeg * nBatch
    val sb = new StringBuilder
    sb ++= s"# HYBRID_SCALE — hybrid retrieval serving at ${xs(scales)} the ${p.label} corpus\n\n"
    sb ++= s"Base: `${p.baseDir}` — documents salted per replica, embeddings\n"
    sb ++= "jittered per replica (tools.Replicas), ONE shared id offset so\n"
    sb ++= s"vec_ids stay a subset of doc_ids. Frozen batch of $nBatch (query, embedding) pairs; text\n"
    sb ++= s"index + IVF (nlist ~ √N, nprobe 8, adaptive) per scale; k_per_leg $kPerLeg,\n"
    sb ++= "fused k 10. `sh` = task-level shuffle rows read in the tier's\n"
    sb ++= "job group (the fusion contract made measurable).\n\n"
    sb ++= header(Seq("scale", "vectors", "nlist", "build s", "lex s / sh", "lex-skew s / sh",
      "dense s / sh", "hybrid batch s / sh", "hybrid one s / sh"))
    scales.foreach { k =>
      val c = cells(k)
      sb ++= f"| x$k | ${c.nVec} | ${c.nlist} | ${c.build}%.1f | ${c.lex}%.2f / ${c.lexSh} " +
        f"| ${c.skew}%.2f / ${c.skewSh} " +
        f"| ${c.den}%.2f / ${c.denSh} | ${c.hyb}%.2f / ${c.hybSh} | ${c.one}%.2f / ${c.oneSh} |\n"
    }
    sb ++= "\nLex leg routes per scale (MaxScore engages once the corpus\n"
    sb ++= "clears the postings floor; `maxscore:<candidate pairs>/\n"
    sb ++= "<fanned matched postings>`; uniform-df batch first, skewed\n"
    sb ++= "batch second):\n\n"
    scales.foreach { k =>
      sb ++= s"- x$k: uniform `${cells(k).lexRoute}` · skew `${cells(k).skewRoute}`\n"
    }
    sb ++= "\n## Fusion exchange bound\n\n"
    sb ++= s"Algebra: fusion sees ≤ legs·k_per_leg·batch = ${2 * kPerLeg * nBatch} rows per\n"
    sb ++= s"exchange, 2 exchanges (fuse group-by + rank window) → ≤ $fusionBound rows\n"
    sb ++= "at ANY corpus scale. Measured DIRECTLY (legs materialized to\n"
    sb ++= "parquet, rrfFuseMany metered alone — subtraction hybrid−legs is\n"
    sb ++= "polluted by the adaptive escape's data-dependent second pass):\n\n"
    sb ++= header(Seq("scale", "fuse s", "fuse shuffle rows", "≤ bound?"))
    scales.foreach { k =>
      val c = cells(k)
      sb ++= f"| x$k | ${c.fuse}%.2f | ${c.fuseSh} | ${if (c.fuseSh <= fusionBound) "yes" else "NO"} |\n"
    }
    val c1 = cells(scales.head); val cN = cells(scales.last)
    sb ++= "\nReading: fusion cost is a function of (legs, k_per_leg, batch)\n"
    sb ++= f"only — x${scales.head}: ${c1.fuseSh} rows, x${scales.last}: ${cN.fuseSh} rows against\n"
    sb ++= f"${scales.last / scales.head}× the corpus. The end-to-end hybrid−legs residual\n"
    sb ++= f"(x${scales.head}: ${c1.hybSh - c1.lexSh - c1.denSh}, x${scales.last}: ${cN.hybSh - cN.lexSh - cN.denSh}) tracks the dense\n"
    sb ++= "escape-pass variance, not fusion.\n"
    sb ++= "\n## Leg shapes\n\n"
    sb ++= "The DENSE leg is pruned: IVF cell probes bound its shuffle to the\n"
    sb ++= f"probed cells' rows (~nprobe·N/nlist ≈ nprobe·√N — x${scales.head} ${c1.denSh}\n"
    sb ++= f"→ x${scales.last} ${cN.denSh} rows on ${scales.last / scales.head}× data). The LEXICAL leg was the\n"
    sb ++= "r16 cliff: exhaustive-exact BM25 scored every matched posting —\n"
    sb ++= "Σ df(term), linear in the corpus (r16 measured 144.8M shuffle\n"
    sb ++= "rows / 261 s at x100 on the uniform batch). The r17 impact-ordered\n"
    sb ++= "layout serves the SAME exact top-k via MaxScore/block-max pruning\n"
    sb ++= "(TextIndex.maxScoreTopK; exactness oracle-pinned by\n"
    sb ++= "q_bm25_maxscore and spec-pinned across the index lifecycle). Two\n"
    sb ++= "honest regimes, both measured above:\n\n"
    sb ++= "- SKEWED batch (every query carries one discriminative term —\n"
    sb ++= "  the Zipfian query-log shape): candidate pairs are\n"
    sb ++= f"  SCALE-CONSTANT — ${cells(scales(scales.size - 2)).skewSh} shuffle rows at x${scales(scales.size - 2)} vs\n"
    sb ++= f"  ${cN.skewSh} at x${scales.last} on ${scales.last / scales(scales.size - 2)}× the corpus (routes above: the same\n"
    sb ++= "  409600 candidate pairs against a 5× larger matched fan). Scored\n"
    sb ++= "  postings follow the surviving high-impact blocks, not Σ df —\n"
    sb ++= "  sub-linear in the corpus, the textbook MaxScore result.\n"
    sb ++= "- UNIFORM batch (every term df ≈ 78% — the synthetic worst case):\n"
    sb ++= "  an exact-θ simulation shows ~22% of matched postings remain\n"
    sb ++= "  candidates no matter how good the bounds get, so the sidecar\n"
    sb ++= "  yield estimate ESCAPES to the exhaustive plan before touching\n"
    sb ++= "  postings (routes above) — linear, with only skip-file jobs and\n"
    sb ++= "  the θ pass as overhead. Below the postings floor (x1) neither\n"
    sb ++= "  pass runs; the exhaustive plan is already the cheaper one.\n"
    sb.toString
  }
}
