package graft.streaming

import graft.pipeline.TextAnalysis
import graft.sources.Parquet
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming corpus ingest — the continuous twin of the batch
  * `q_corpus_clean` pipeline: documents arrive as a stream
  * (doc_id, ts, text, ...) and leave deduplicated, quality-gated, and
  * token-counted, ready for a parquet/Delta sink. (The reference has
  * no streaming; DEV_NOTES.md:215-268 sketches stream generators as a
  * future idea — this is that slot, Spark-native.)
  *
  * Scale stance: dedup state is keyed by a 128-bit content fingerprint
  * (two independent xxhash64 seeds — same identity as
  * TextDedup.exact), hash-partitioned across executors, and bounded by
  * the watermark: a fingerprint older than the late-data horizon is
  * evicted, so state tracks the horizon, not corpus history. Against
  * the FULL corpus history, pair this with the batch
  * TextDedup.incrementalDedup on each landed micro-batch — stream
  * state answers "seen within the horizon", the Bloom-prefiltered
  * batch join answers "seen ever".
  *
  * Quality + token counting are stateless codegen'd column expressions
  * (TextAnalysis) — they add no streaming state at all.
  */
object CorpusIngest {

  /** One index the ingest keeps current: its O(batch) append of a
    * micro-batch's survivors, its compaction and its reconcile against
    * the corpus of record. */
  private final case class MaintainedIndex(append: DataFrame => Unit,
                                           compact: () => Unit,
                                           reconcile: DataFrame => Unit)

  /** Corpus-of-record takedown — the document half of the
    * right-to-erasure path (the index halves are
    * [[graft.pipeline.Embeddings.deleteFromIvfIndex]] /
    * [[graft.pipeline.TextDedup.deleteFromBandIndex]], invoked here
    * when the dirs are passed). O(batch): appends the ids to
    * `outDir/_corpus_tombstones/` — an underscore-prefixed directory,
    * so Spark's own parquet listing never reads it as data — and
    * tombstones the indexes. Effects are IMMEDIATE through
    * [[landedCorpus]]: the doc stops counting as "already landed" (a
    * genuine re-arrival of the same content is admitted again — a new
    * crawl of a re-published page is a new document; admission policy
    * is upstream's call), stops gating near-dups, and on the next
    * reconcile cadence its index rows orphan-tombstone automatically
    * because the corpus of record no longer contains it. The BYTES
    * leave at the next [[purgeCorpusTombstones]].
    *
    * Identity contract: takedown is BY doc_id, and the id stays
    * tombstoned until its purge completes — re-ingesting new content
    * under a previously taken-down doc_id is undefined (the pending
    * tombstone would hide, then purge, the new rows). Mint fresh ids
    * for re-arrivals, as the ingest's own examples do. */
  def takedown(spark: org.apache.spark.sql.SparkSession, outDir: String,
               ids: Seq[Long], ivfIndexDir: Option[String] = None,
               bandIndexDir: Option[String] = None,
               textIndexDir: Option[String] = None): Unit = {
    import spark.implicits._
    corpusLedger(spark, outDir).write(ids)
    ivfIndexDir.foreach(d =>
      graft.pipeline.Embeddings.deleteFromIvfIndex(spark, d, ids))
    bandIndexDir.foreach(d =>
      graft.pipeline.TextDedup.deleteFromBandIndex(ids.toDF("doc_id"), d))
    textIndexDir.foreach(d =>
      graft.pipeline.TextIndex.delete(spark, d, ids))
  }

  private def corpusLedger(spark: org.apache.spark.sql.SparkSession,
                           outDir: String): graft.pipeline.Stores.Ledger =
    graft.pipeline.Stores.ledger(spark, outDir, "doc_id", prefix = "_corpus_")

  /** The landed corpus as of now: everything appended to `outDir`
    * minus tombstoned takedowns. THE canonical reader — the ingest's
    * own landed-dedup probe and reconcile cadences read through this,
    * so a takedown leaves every decision path the moment it is filed,
    * not at purge time. No tombstones → no join in the plan at all. */
  def landedCorpus(spark: org.apache.spark.sql.SparkSession,
                   outDir: String): DataFrame = {
    val raw = Parquet.read(spark, outDir)
    val ledger = corpusLedger(spark, outDir)
    ledger.idsOf(ledger.tombstones)
      .fold(raw)(t => raw.join(broadcast(t), Seq("doc_id"), "left_anti"))
  }

  /** Physically remove tombstoned documents' BYTES from `outDir` —
    * the purge half of [[takedown]], file-scoped: one doc_id-only scan
    * locates the part files containing victims, survivors of exactly
    * those files rewrite through a staged commit, untouched files are
    * never read or written. Consumed tombstones go through the
    * [[graft.pipeline.Stores.Ledger]] (`_corpus_tombstones/` →
    * `_corpus_purged/`), as in the index stores.
    *
    * Crash safety is ROLL-FORWARD, not atomic swap (an append-only
    * ingest dir cannot generation-swap while the stream appends to
    * it): survivors stage under `_purge_stage/<id>/` with the doomed
    * file list written BEFORE the data and `_SUCCESS` after; then
    * staged parts move into `outDir` and doomed originals delete, in
    * that order, every step idempotent. A crash at any point leaves
    * either a stage without `_SUCCESS` (garbage, collected next pass)
    * or a committed stage whose replay finishes the moves/deletes —
    * the next call (or the ingest's own cadence) completes it before
    * doing new work. Single maintenance writer by design, serialized
    * with appends inside foreachBatch; an external reader that listed
    * `outDir` mid-purge can transiently see a surviving row twice
    * (move done, original not yet deleted) — the same non-atomic
    * window S3A documents for rename, and invisible to
    * [[landedCorpus]] callers in the single-writer session. Returns
    * the number of part files rewritten. */
  def purgeCorpusTombstones(spark: org.apache.spark.sql.SparkSession,
                            outDir: String): Int = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stageRoot = new Path(s"$outDir/_purge_stage")

    // 1. roll forward (or collect) earlier purges
    def replay(stage: Path): Unit = {
      val done = fs.exists(new Path(stage, "_SUCCESS"))
      if (!done) { fs.delete(stage, true); return } // torn stage: garbage
      val doomedList = new Path(stage, "doomed.txt")
      val doomed: Seq[String] =
        if (!fs.exists(doomedList)) Seq.empty
        else {
          val in = fs.open(doomedList)
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
          finally in.close()
        }
      fs.listStatus(stage).map(_.getPath)
        .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("."))
        .foreach { part =>
          val dst = new Path(outDir, s"purged-${stage.getName}-${part.getName}")
          if (!fs.exists(dst)) fs.rename(part, dst) // move-if-absent: idempotent
        }
      doomed.foreach { name =>
        val f = new Path(outDir, name)
        if (fs.exists(f)) fs.delete(f, false)
      }
      fs.delete(stage, true)
    }
    if (fs.exists(stageRoot))
      fs.listStatus(stageRoot).map(_.getPath).foreach(replay)

    // 2. the ledger's pending tombstones
    val ledger = corpusLedger(spark, outDir)
    val tombFiles = ledger.pending()
    val victims = ledger.idsOf(tombFiles) match {
      case Some(v) => v
      case None => return 0
    }

    // 3. locate touched part files — doc_id column only crosses this
    // scan. A corpus whose every file was already purged has no data
    // files to read: nothing to locate, tombstones just consume.
    val doomedUris: Array[String] =
      try Parquet.read(spark, outDir)
        .select(col("doc_id"), input_file_name().as("f"))
        .join(broadcast(victims), "doc_id")
        .select("f").distinct().collect().map(_.getString(0))
      catch { case _: org.apache.spark.sql.AnalysisException => Array.empty }
    val doomedNames = doomedUris.map(u => new Path(new java.net.URI(u)).getName)

    if (doomedUris.nonEmpty) {
      // 4. staged commit: doomed list first, survivors, then _SUCCESS
      val stage = new Path(stageRoot,
        s"p${System.currentTimeMillis()}_${doomedNames.length}")
      fs.mkdirs(stage)
      val out = fs.create(new Path(stage, "doomed.txt"))
      try out.write((doomedNames.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
      val survivors = Parquet.read(spark, doomedUris.toIndexedSeq: _*)
        .join(broadcast(victims), Seq("doc_id"), "left_anti")
      // Spark writes stage/part-*.parquet + its own _SUCCESS marker —
      // exactly the commit record replay() rolls forward from
      survivors.coalesce(math.max(1, doomedNames.length / 2))
        .write.mode("append").parquet(stage.toString)
      replay(stage)
    }

    // 5. ids with no live rows must still consume or they would
    // re-trigger scans forever
    ledger.consume(tombFiles)
    doomedUris.length
  }

  /** Dedup → quality-gate → annotate. Emits the FIRST arrival of each
    * distinct text within the watermark horizon, with its quality
    * score and whitespace token count attached; drops later duplicates
    * and documents scoring below `minQuality`. */
  def cleanStream(docs: DataFrame, watermark: String = "1 hour",
                  minQuality: Double = 0.0): DataFrame =
    docs
      .withWatermark("ts", watermark)
      .withColumn("fp_a", xxhash64(col("text")))
      .withColumn("fp_b", xxhash64(lit("graft.dedup.salt"), col("text")))
      .dropDuplicatesWithinWatermark("fp_a", "fp_b")
      .withColumn("quality", TextAnalysis.quality(col("text")))
      .filter(col("quality") >= minQuality)
      .withColumn("n_tokens", size(TextAnalysis.tokens(col("text"))).cast("long"))
      .drop("fp_a", "fp_b")

  /** Drop streaming documents whose text already exists in a STATIC
    * corpus snapshot — the seen-ever half of streaming dedup
    * ([[cleanStream]]'s keyed state covers the within-horizon half).
    * A stream-static LEFT ANTI join on the 128-bit fingerprint: the
    * static side reduces to 16-byte fingerprints map-side and is
    * re-planned per micro-batch (broadcast when small; at warehouse
    * scale swap the snapshot frame for a Bloom-prefiltered one à la
    * TextDedup.incrementalDedup). No streaming state at all — the
    * snapshot is the state. */
  def dedupAgainstSnapshot(docs: DataFrame, snapshot: DataFrame): DataFrame = {
    val fps = snapshot.select(
      xxhash64(col("text")).as("fp_a"),
      xxhash64(lit("graft.dedup.salt"), col("text")).as("fp_b"))
    docs
      .withColumn("fp_a", xxhash64(col("text")))
      .withColumn("fp_b", xxhash64(lit("graft.dedup.salt"), col("text")))
      .join(fps, Seq("fp_a", "fp_b"), "left_anti")
      .drop("fp_a", "fp_b")
  }

  /** The full ingest pipeline, end to end: [[cleanStream]] (horizon
    * dedup + quality gate + annotation) → [[dedupAgainstSnapshot]]
    * (seen-in-snapshot) → foreachBatch: batch-dedup against what has
    * ALREADY LANDED in `outDir` (TextDedup.incrementalDedup — Bloom
    * prefilter, exact verify) → parquet append.
    *
    * Exactly-once-by-content: Structured Streaming's foreachBatch is
    * at-least-once — after a crash between sink write and commit-log
    * write, the batch is REDELIVERED on restart. The landed-corpus
    * anti-join makes the redelivered append a no-op (every row of the
    * replayed batch is already in `outDir`), so the sink converges to
    * exactly-once without any transactional sink machinery — the same
    * idempotence argument Delta's txn-id dedup makes, expressed as
    * content identity, and it ALSO catches content duplicates beyond
    * the watermark horizon (the case in-stream state cannot see).
    * Restart-safe by construction: offsets + dedup state live in
    * `checkpointDir`; StreamingSpec kills the query mid-stream,
    * deletes the last commit record (forcing a redelivery), restarts,
    * and proves the output row set is exactly the clean set. */
  /** `embedder` + `ivfIndexDir` compose incremental ANN index
    * maintenance into the ingest: after each micro-batch's fresh rows
    * land, `embedder(fresh)` maps them to (vec_id, embedding) and
    * [[graft.pipeline.Embeddings.appendToIvfIndex]] assigns them
    * against the index's FROZEN centroids/codebooks and appends the
    * matching cell partitions — O(batch) per trigger, the index stays
    * queryable throughout (appends add files; pruning prunes
    * directories). Bootstrap the index once from the snapshot
    * (writeIvfIndex) before starting the stream.
    *
    * Failure window, stated honestly: the corpus append is
    * exactly-once-by-content (below), but the index append is a
    * separate non-transactional write — a crash BETWEEN the corpus
    * append and the index append loses that batch's index rows (the
    * redelivered batch anti-joins to empty, so nothing re-appends).
    * The failure degrades ANN recall only, never corpus correctness,
    * and either repair closes it: the periodic full rebuild that
    * frozen-centroid drift already requires (see appendToIvfIndex's
    * Scaladoc), or the cheaper targeted
    * [[graft.pipeline.Embeddings.reconcileIvfIndex]] — an id-level
    * diff of corpus vs index that appends the lost batch and
    * tombstones orphans, O(drift) not O(index).
    *
    * `compactIndexEvery`: every N-th micro-batch, after the index
    * append, run [[graft.pipeline.Embeddings.compactIvfIndex]] —
    * per-batch appends add one file per touched cell per trigger, so
    * at streaming cadence file counts grow without bound unless a
    * compaction rewrites them (the small-file explosion the
    * reference's own notes flag, DEV_NOTES.md:117-122). Compaction
    * runs inside foreachBatch, so it is serialized with appends (the
    * single-maintenance-writer requirement) and visibility is atomic:
    * in-flight readers keep the generation they resolved. 0 = off.
    *
    * Takedown deletes compose through the same cadence with no extra
    * wiring: [[graft.pipeline.Embeddings.deleteFromIvfIndex]] is an
    * O(batch) tombstone append callable while the stream runs (read
    * paths exclude the ids immediately), and the NEXT scheduled
    * compaction physically purges them — compactIvfIndex snapshots
    * the tombstone files it consumes, so a delete racing the purge
    * survives to the following pass instead of being dropped.
    *
    * `outputFilesPerBatch`: coalesce each micro-batch's corpus append
    * to at most N files — the OUTPUT side of the same small-file debt
    * (a batch otherwise writes one file per upstream partition per
    * trigger). Bounds file GROWTH RATE to N/trigger; 0 = off (leave
    * the planner's partitioning alone, right when batches are large).
    *
    * `reconcileIndexEvery`: every N-th micro-batch, diff the index's
    * live ids against the corpus of record (snapshot ∪ landed), embed
    * and append docs the index is missing, tombstone index rows whose
    * docs are gone — the SELF-HEALING counterpart of the crash window
    * documented above, so a lost index append is repaired on the next
    * cadence hit instead of waiting for the periodic rebuild. The
    * diff is id-only; the embedder runs over O(drift) docs, which is
    * what makes the cadence affordable when embedding is model
    * inference. 0 = off.
    *
    * `nearDupIndexDir`: a [[graft.pipeline.TextDedup.writeBandIndex]]
    * layout (bootstrap it once from the snapshot) turns the ingest's
    * dedup from exact-only into exact + FUZZY: each micro-batch drops
    * docs with a band-index near-dup (jaccard ≥ `nearDupThreshold`)
    * already in the corpus of record, then the higher id of every
    * in-batch near pair, and appends the survivors' band rows +
    * shingle sets (O(batch), same append-only story as the IVF
    * index). A redelivered batch anti-joins to empty upstream, so
    * band rows are never appended twice; a crash between the corpus
    * append and the band append loses band rows only — near-dup
    * recall degrades until writeBandIndex rebuilds from the corpus of
    * record, corpus correctness is never touched.
    *
    * `purgeCorpusEvery`: every N-th micro-batch, run
    * [[purgeCorpusTombstones]] — the byte-removal half of [[takedown]]
    * on the ingest's own maintenance clock, serialized with appends
    * like the index compactions. 0 = off (tombstones still exclude
    * taken-down docs logically via [[landedCorpus]]).
    *
    * `textIndexDir`: a [[graft.pipeline.TextIndex.write]] layout
    * (bootstrap it once from the snapshot) keeps KEYWORD SEARCH
    * current with the ingest: each micro-batch's survivors append
    * their postings + stats delta (O(batch)), and the index rides the
    * same compaction and reconcile cadences as the other two indexes
    * — one maintenance clock for the whole index triptych. Crash
    * honesty as with the others: a lost postings append degrades
    * search recall only, and the reconcile cadence repairs it
    * O(drift). */
  def ingest(docs: DataFrame, snapshot: DataFrame, outDir: String,
             checkpointDir: String, watermark: String = "1 hour",
             minQuality: Double = 0.0,
             trigger: org.apache.spark.sql.streaming.Trigger =
               org.apache.spark.sql.streaming.Trigger.AvailableNow(),
             embedder: Option[DataFrame => DataFrame] = None,
             ivfIndexDir: Option[String] = None,
             compactIndexEvery: Int = 0,
             maxIndexFilesPerCell: Int = 4,
             outputFilesPerBatch: Int = 0,
             reconcileIndexEvery: Int = 0,
             nearDupIndexDir: Option[String] = None,
             nearDupThreshold: Double = 0.8,
             purgeCorpusEvery: Int = 0,
             textIndexDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val cleaned = dedupAgainstSnapshot(
      cleanStream(docs, watermark, minQuality), snapshot)
    cleaned.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // watermark advancement triggers trailing EMPTY batches (state
        // eviction commits) — skip them, or every trigger appends an
        // empty parquet file and probes the landed corpus for nothing
        if (batch.isEmpty) () else {
        val spark = batch.sparkSession
        import graft.pipeline.{Embeddings, TextDedup, TextIndex}
        def text(b: DataFrame) = b.select(col("doc_id"), col("text"))
        // the configured indexes, in maintenance order
        val indexes: Seq[MaintainedIndex] = Seq(
          nearDupIndexDir.map(bd => MaintainedIndex(
            b => TextDedup.appendToBandIndex(text(b), bd),
            () => TextDedup.compactBandIndex(spark, bd, maxIndexFilesPerCell),
            r => TextDedup.reconcileBandIndex(r, bd))),
          textIndexDir.map(td => MaintainedIndex(
            b => TextIndex.append(text(b), td),
            () => TextIndex.compact(spark, td, maxIndexFilesPerCell),
            r => TextIndex.reconcile(r, td))),
          for (embed <- embedder; dir <- ivfIndexDir) yield MaintainedIndex(
            b => Embeddings.appendToIvfIndex(embed(b), dir),
            () => Embeddings.compactIvfIndex(spark, dir, maxIndexFilesPerCell),
            // the record carries no vectors: embed only the missing docs
            r => Embeddings.reconcileIvf(r, "doc_id", dir)(embed))
        ).flatten
        // landedCorpus, not a raw read: a takedown filed while the
        // stream runs must stop gating arrivals at the NEXT batch
        val landed =
          try {
            val l = landedCorpus(spark, outDir)
            if (l.columns.contains("text")) Some(l) else None
          } catch { case _: Exception => None } // first batch: nothing landed
        val fresh = landed match {
          case Some(l) =>
            val cleanIds = graft.pipeline.TextDedup.incrementalDedup(batch, l)
            batch.join(cleanIds, "doc_id")
          case None => batch
        }
        // Near-dup gate against the corpus of record: drop batch docs
        // whose band-index near-dup already landed (O(batch) — the
        // persisted index makes fuzzy "seen ever" as incremental as
        // the Bloom-exact path above), then drop the higher id of
        // every in-batch near pair (the batch hasn't reached the
        // index yet, so it must police itself). Survivors' band rows
        // append AFTER the corpus write below; a crash between the
        // two writes loses band rows only — near-dup recall degrades
        // until writeBandIndex rebuilds from the corpus of record,
        // corpus correctness is never touched (same honesty as the
        // IVF append window documented above).
        val freshP = if (nearDupIndexDir.isDefined) fresh.persist() else fresh
        val gated = nearDupIndexDir match {
          case Some(bd) =>
            val vsIndex = graft.pipeline.TextDedup
              .nearDupsAgainstBandIndex(freshP, bd, nearDupThreshold)
              .select("doc_id").distinct()
            val survivors = freshP.join(vsIndex, Seq("doc_id"), "left_anti")
            val inBatch = graft.pipeline.TextDedup
              .minhashLshPairs(survivors, threshold = nearDupThreshold)
              .select(col("doc_b").as("doc_id")).distinct()
            survivors.join(inBatch, Seq("doc_id"), "left_anti")
          case None => fresh
        }
        // referenced more than once when indexing or band-gating
        // (corpus append + embed and/or band/text append): materialize
        // the micro-batch once
        val multiRef = indexes.nonEmpty
        val indexed = if (multiRef) gated.persist() else gated
        val sink = if (outputFilesPerBatch > 0) indexed.coalesce(outputFilesPerBatch)
                   else indexed
        sink.write.mode("append").parquet(outDir)
        // one probe on the persisted frame: a batch whose survivors
        // dedup to empty must not append empty files (one per index
        // per trigger — unbounded small-file debt on a quiet stream);
        // maintenance cadences below still run on their clock
        val batchHasRows = !multiRef || !indexed.isEmpty
        // corpus of record for the reconcile cadences = snapshot ∪
        // landed MINUS takedowns (landedCorpus), so a taken-down doc's
        // index rows orphan-tombstone on the cadence — built once per
        // batch, not once per index (each construction re-lists the
        // tombstone dir)
        lazy val record = snapshot.select(col("doc_id"), col("text"))
          .unionByName(
            landedCorpus(spark, outDir).select(col("doc_id"), col("text")))
        // one maintenance clock for every configured index, serialized
        // with appends inside this foreachBatch (single writer by
        // design); cadences keyed to batchId (not a closure counter) so
        // a restart resumes the schedule instead of resetting it
        val compactDue = compactIndexEvery > 0 && batchId > 0 &&
          batchId % compactIndexEvery == 0
        val reconcileDue = reconcileIndexEvery > 0 && batchId % reconcileIndexEvery == 0
        indexes.foreach { ix =>
          if (batchHasRows) ix.append(indexed)
          if (compactDue) ix.compact()
          if (reconcileDue) ix.reconcile(record)
        }
        // takedown byte purge rides the same maintenance clock —
        // serialized with appends (single writer), batchId-keyed so a
        // restart resumes the cadence
        if (purgeCorpusEvery > 0 && batchId > 0 &&
            batchId % purgeCorpusEvery == 0) {
          purgeCorpusTombstones(spark, outDir)
          ()
        }
        if (multiRef) { indexed.unpersist(); () }
        if (nearDupIndexDir.isDefined) { freshP.unpersist(); () }
        }
      }
      .start()
  }
}
