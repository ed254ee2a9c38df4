package graft.pipeline

import graft.sources.Parquet
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted inverted index for keyword retrieval — the serving path
  * of [[TextAnalysis.bm25]]: scoring a query against a 100 TB corpus
  * must read the QUERY TERMS' postings, not the corpus. Completes the
  * engine's index triptych (IVF for vectors, band index for near-dup,
  * this for keywords), with the same store conventions throughout:
  * frozen scheme in `meta/`, bucket-partitioned stores, O(batch)
  * appends, and the [[Stores]] generation swap and takedown ledger.
  *
  * Layout:
  *   dir/meta/                  one row (buckets, block_size), frozen
  *                              at build
  *   dir/postings[_v<N>]/       (term, doc_id, tf, len, blk)
  *                              partitioned by
  *                              bucket = pmod(xxhash64(term), buckets);
  *                              `len` is the doc's token count
  *                              DENORMALIZED into every posting — the
  *                              standard IR trade that makes scoring
  *                              one pruned scan. `blk` is the posting's
  *                              IMPACT-ORDERED block id within its term
  *                              (block 0 = highest default-params BM25
  *                              contribution), files sorted by
  *                              (term, blk) so block predicates skip
  *                              parquet row groups
  *   dir/postings…/_stats/      (n_docs, total_len) DELTA rows, one
  *                              per write/append — readers SUM them.
  *                              Underscore dir: invisible to the
  *                              postings parquet reader, and it RIDES
  *                              THE GENERATION, so a compaction swap
  *                              replaces postings and stats atomically
  *   dir/postings…/_skips/      block-max skip sidecar, one row per
  *                              (term, blk): (max_tf, min_len, n,
  *                              max_f, w_avgdl) — (max_tf, min_len)
  *                              bound the block's score for any
  *                              (k1, b) (BM25's per-posting term is
  *                              monotone ↑ in tf, ↓ in len); max_f is
  *                              the exact block-max default-params
  *                              impact at write avgdl w_avgdl (the
  *                              tight bound, drift-corrected at query
  *                              time). Rides the generation like
  *                              `_stats`
  *   dir/tombstones/, purged/   the doc_id takedown ledger
  *                              ([[Stores]])
  *
  * [[search]] cost at 100 TB: `bucket IN (query-term buckets)` prunes
  * every other partition directory; `term IN (...)` pushes into the
  * probed buckets' scan. Document frequencies come from the same
  * pruned scan; (N, avgdl) from the summed stats deltas. Nothing
  * corpus-sized moves. On top of that, [[search]]/[[searchMany]] run
  * MaxScore/block-max pruning (exact — see [[maxScoreTopK]]): for
  * common-term queries the number of postings that reach the scoring
  * exchange follows the surviving high-impact blocks, not Σ df(term),
  * which HYBRID_SCALE measured growing linearly in the corpus before
  * this layout existed.
  *
  * Delete semantics: a tombstoned doc leaves RESULTS immediately
  * (anti-join above the pruned scan), and the global (N, avgdl, df)
  * statistics track it immediately too — df comes from the
  * tombstone-excluded scan, and [[statsOf]] folds the tombstoned
  * docs' (count, token length) out of the summed deltas (one cached
  * column-pruned pass per takedown batch) — so pre-compact scores
  * equal a rebuild over the survivors; [[compact]] then purges the
  * postings and snaps the stats back to a single exact row.
  */
object TextIndex {

  /** Generation commit marker. NOT Spark's `_SUCCESS`: the compaction
    * writes the rewritten postings (Spark commits `_SUCCESS` there)
    * and THEN the generation's `_stats` — a `_SUCCESS`-keyed resolve
    * would publish the generation in the window where its stats do
    * not exist yet (readers would crash on the missing `_stats`, and
    * permanently so if the compactor died in that window). The marker
    * is written explicitly, last. */
  private val CommitMarker = "_GRAFT_COMMIT"

  private def liveStore(spark: SparkSession, dir: String): String =
    Stores.liveGeneration(spark, dir, "postings", CommitMarker)

  /** Per-posting BM25 term-frequency factor at fixed params — the
    * IMPACT a posting contributes per unit idf. Monotone ↑ in tf and
    * ↓ in len, which is what makes (max_tf, min_len) a valid
    * per-block bound for ANY (k1, b, avgdl) at query time; the
    * concrete params here only pick the physical ordering. */
  private def impactCol(avgdl: Double, k1: Double = 1.2, b: Double = 0.75): Column =
    col("tf") * (k1 + 1) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("len") / lit(avgdl)))

  /** Positional postings: `positions` holds the term's 0-based token
    * offsets within the doc (sorted) — tf is its size, and phrase
    * queries resolve by intersecting shifted position sets without
    * ever touching the original text. `blk` is the impact-ordered
    * block id within the term (block 0 = highest default-params
    * contribution). The per-term ranking window is the build-time
    * cost of the layout: a df-heavy term ranks in one task — at
    * extreme vocabularies the two-pass alternative (impact histogram
    * → block boundaries) drops in here without changing the layout. */
  private def postings(docs: DataFrame, buckets: Int, blockSize: Int,
                       avgdl: Double): DataFrame = {
    val toks = graft.Engine.fanOut(docs)
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "term")))
      .filter(length(col("term")) > 0)
    toks.groupBy("doc_id", "term")
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("tf", size(col("positions")).cast("long"))
      .withColumn("len", sum("tf").over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(buckets.toLong)).cast("int"))
      .withColumn("blk", ((row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("term")
            .orderBy(impactCol(avgdl).desc, col("doc_id"))) - 1)
        / lit(blockSize)).cast("int"))
      .select("term", "doc_id", "tf", "len", "positions", "bucket", "blk")
  }

  /** The index's document scope is NON-BLANK docs — the same
    * population [[TextAnalysis.bm25]] models and [[compact]]'s exact
    * recompute (distinct over surviving postings) can see; counting
    * blank/null docs here would desynchronize (N, avgdl) from both. */
  private def docStats(docs: DataFrame): (Long, Long) = {
    val r = docs.filter(length(trim(col("text"))) > 0)
      .select(size(TextAnalysis.tokens(col("text"))).cast("long").as("len"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum("len"), lit(0L)).as("total_len")).head()
    (r.getLong(0), r.getLong(1))
  }

  private def writeStatsDelta(spark: SparkSession, nDocs: Long,
                              totalLen: Long, store: String): Unit = {
    import spark.implicits._
    Seq((nDocs, totalLen)).toDF("n_docs", "total_len")
      .coalesce(1).write.mode("append").parquet(s"$store/_stats")
  }

  /** Block-max skip rows for a postings batch, into the generation's
    * `_skips/` sidecar: per (term, blk) the score-bound facts.
    * (max_tf, min_len) bound the block for ANY (k1, b, avgdl);
    * (max_f, w_avgdl) — the block's exact max DEFAULT-PARAMS impact at
    * the batch's write-time avgdl — give the TIGHT bound
    * max_f · max(1, a/ā) at query avgdl a (f is ↑ in avgdl and
    * f(a)/f(ā) = D(ā)/D(a) ≤ a/ā), valid whenever the query uses the
    * default (k1, b); custom params fall back to the loose bound.
    * Tightness matters: (max_tf, min_len) combine extremes of
    * DIFFERENT postings, overstating impact-sorted blocks whose
    * members trade tf against len. Append batches restart blk at 0,
    * so a (term, blk) key may repeat across deltas — readers treat
    * every row independently (bounds stay valid, merely coarse);
    * [[compact]] re-blocks rewritten buckets back to clean global
    * ranks. */
  private def writeSkips(post: DataFrame, store: String, avgdl: Double,
                         overwrite: Boolean): Unit =
    post.groupBy("bucket", "term", "blk")
      .agg(max("tf").as("max_tf"), min("len").as("min_len"),
        count(lit(1)).as("n"), max(impactCol(avgdl)).as("max_f"),
        first(lit(avgdl)).as("w_avgdl"))
      .repartition(col("bucket")).sortWithinPartitions("term", "blk")
      .write.mode(if (overwrite) "overwrite" else "append")
      .partitionBy("bucket").parquet(s"$store/_skips")

  /** Build the base index over `docs` (doc_id, text). `blockSize` is
    * the impact-block granularity (postings per skip block): smaller
    * blocks prune tighter but grow the sidecar ~linearly in 1/size. A
    * build over an existing index replaces it ([[Stores.reset]]). */
  def write(docs: DataFrame, dir: String, buckets: Int = 64,
            blockSize: Int = 4096): Unit = {
    require(buckets >= 1 && blockSize >= 1)
    val spark = docs.sparkSession
    import spark.implicits._
    Seq((buckets, blockSize)).toDF("buckets", "block_size")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    Stores.reset(spark, dir, Seq("postings"))
    val (nd, tl) = docStats(docs)
    val avgdl = if (nd == 0) 1.0 else tl.toDouble / nd
    // postings feed two writes (files + skip sidecar); persist so the
    // tokenize/rank lineage runs once
    val post = postings(docs, buckets, blockSize, avgdl)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      post.repartition(col("bucket")).sortWithinPartitions("term", "blk")
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/postings")
      writeSkips(post, s"$dir/postings", avgdl, overwrite = true)
      writeStatsDelta(spark, nd, tl, s"$dir/postings")
    } finally { post.unpersist(); () }
  }

  /** The build's frozen block granularity; pre-sidecar indexes (no
    * block_size in meta) get the default — their stores also have no
    * `_skips`, so the value only matters once a compaction re-blocks. */
  private def blockSizeOf(meta: org.apache.spark.sql.Row): Int =
    if (meta.schema.fieldNames.contains("block_size"))
      meta.getAs[Int]("block_size")
    else 4096

  /** Per-append-batch commit marker: created at the store root before
    * the batch's first write, removed only after its LAST write
    * (stats delta). The pruned route requires the `_skips` sidecar to
    * cover EVERY posting — an append that died between the postings
    * write and [[writeSkips]] leaves postings permanently invisible to
    * the sidecar, and a MaxScore pass deriving df/bounds/candidates
    * from `_skips` alone would silently drop those docs from results.
    * [[maxScoreTopK]] therefore escapes to the exhaustive path (always
    * correct: it reads the postings themselves) while ANY pending
    * marker exists — which also covers the in-flight window of a LIVE
    * concurrent append. [[compact]] heals a torn store: a pending
    * marker forces every bucket through the rewrite leg, whose sidecar
    * is rebuilt from the actual surviving postings, and the new
    * generation starts marker-free. */
  private val PendingAppend = "_PENDING_APPEND_"

  private def hasPendingAppend(fs: org.apache.hadoop.fs.FileSystem,
                               store: String): Boolean =
    fs.listStatus(new Path(store))
      .exists(_.getPath.getName.startsWith(PendingAppend))

  /** O(batch) maintenance: append a batch's postings + one stats delta
    * into the LIVE generation under the frozen bucket scheme. Build +
    * appends serves row-identically to a fresh build over the union
    * (bucket assignment is a pure function of the term). Skip rows
    * append only when the store HAS a sidecar — a legacy store must
    * not gain a partial one (the pruned path requires the sidecar to
    * cover every posting). The batch is bracketed by a
    * [[PendingAppend]] marker: a crash mid-append degrades the pruned
    * route to exhaustive (exact), never to wrong results. */
  def append(docs: DataFrame, dir: String): Unit = {
    val spark = docs.sparkSession
    val meta = Parquet.read(spark, s"$dir/meta").head()
    val buckets = meta.getAs[Int]("buckets")
    val store = liveStore(spark, dir)
    val (nd, tl) = docStats(docs)
    val avgdl = if (nd == 0) 1.0 else tl.toDouble / nd
    val post = postings(docs, buckets, blockSizeOf(meta), avgdl)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fs = new Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(store, PendingAppend + java.util.UUID.randomUUID().toString)
    fs.create(marker).close()
    try {
      post.repartition(col("bucket")).sortWithinPartitions("term", "blk")
        .write.mode("append").partitionBy("bucket").parquet(store)
      if (fs.exists(new Path(s"$store/_skips")))
        writeSkips(post, store, avgdl, overwrite = false)
      writeStatsDelta(spark, nd, tl, store)
      // the marker drops ONLY on full success — a throw above leaves it
      // in place, pinning the store to the exhaustive route until a
      // compaction rebuilds the sidecar from the actual postings.
      // Hadoop filesystems report many delete failures by RETURNING
      // false, not throwing (object-store transients, concurrent
      // namespace changes) — a silently surviving marker would pin a
      // fully-committed store to the unpruned route with no signal, so
      // a failed drop is loud and names the heal.
      if (!fs.delete(marker, false) && fs.exists(marker))
        System.err.println(s"[textindex] WARN: append committed but its " +
          s"pending marker $marker could not be removed — the store " +
          "serves exact but UNPRUNED (exhaustive) until compact() " +
          "rebuilds it marker-free")
    } finally { post.unpersist(); () }
  }

  /** Takedowns: O(batch) tombstone append; the ids stop appearing in
    * [[search]] results immediately. */
  def delete(spark: SparkSession, dir: String, ids: Seq[Long]): Unit =
    textLedger(spark, dir).write(ids)

  /** The index's takedown ledger ([[Stores]]). */
  private def textLedger(spark: SparkSession, dir: String): Stores.Ledger =
    Stores.ledger(spark, dir, "doc_id")

  private def tombstoneFiles(spark: SparkSession, dir: String): Seq[String] =
    textLedger(spark, dir).tombstones.map(_.toString)

  private def statsFiles(spark: SparkSession, store: String): Seq[String] = {
    val p = new Path(s"$store/_stats")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).map(_.getPath.toString).filter(_.endsWith(".parquet")).toSeq
  }

  /** (n_docs, total token count) as the readers see them: the live
    * generation's summed stats deltas MINUS the tombstoned docs still
    * sitting in its postings. */
  def stats(spark: SparkSession, dir: String): (Long, Long) = {
    val store = liveStore(spark, dir)
    val tombs = tombstoneFiles(spark, dir)
    val torn: Option[(Long, Long)] =
      if (hasPendingAppend(
          new Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration),
          store)) {
        val root = Parquet.read(spark, store)
        val survivors =
          if (tombs.isEmpty) root
          else root.join(
            broadcast(Parquet.read(spark, tombs: _*).select("doc_id").distinct()),
            Seq("doc_id"), "left_anti")
        Some(survivorStats(survivors))
      } else None
    statsOf(spark, dir, store, tombs, torn)
  }

  /** Operational snapshot of the postings store — what sizes the
    * compaction cadence (the counterpart of
    * [[graft.pipeline.Embeddings.ivfIndexStats]] /
    * [[graft.pipeline.TextDedup.bandIndexStats]]): one row per bucket
    * with posting-row count, parquet file count, on-disk bytes, and
    * the live generation. File geometry from filesystem metadata
    * (bounded by the frozen bucket count); row counts one pruneable
    * aggregate (parquet footer counts — no postings decode). */
  def indexStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val live = liveStore(spark, dir)
    Stores.storeStats(spark, live, "bucket=", "bucket")
      .withColumn("generation", lit(Stores.generationOf(live, "postings")))
      .select("bucket", "n_rows", "n_files", "bytes", "generation")
      .orderBy("bucket")
  }

  /** Layout detection for the SQL surface: a text index is a dir with
    * the frozen-scheme `meta/` AND a postings store (base or any
    * compaction generation) — distinguishes it from a band index
    * (meta + bands) and from a plain corpus parquet. */
  def isTextIndex(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new Path(s"$dir/meta")) && fs.exists(p) &&
      fs.listStatus(p).exists { st =>
        val n = st.getPath.getName
        st.isDirectory && (n == "postings" || n.startsWith("postings_v"))
      }
  }

  /** `tombs` is the tombstone-file list the CALLER already resolved —
    * search()/searchMany() pass the exact list their postings
    * anti-join used, so one listing drives both the df exclusion and
    * the (N, avgdl) fold. Listing twice here would race a delete()
    * committing between the two listings: a single query whose df
    * excludes the new takedown while N/avgdl still count it (or vice
    * versa), breaking the resolve-once discipline the generation
    * handling establishes. */
  /** (n_docs, total token length) of the distinct docs in `post` —
    * ONE definition of the survivor-stats aggregate, shared by the
    * torn-window serving path and [[compact]]'s heal (the torn-append
    * spec pins their score agreement, so the formula must not fork;
    * the coalesce guards an emptied store from writing a null
    * total_len). */
  private def survivorStats(post: DataFrame): (Long, Long) = {
    val r = post.select("doc_id", "len").distinct()
      .agg(count(lit(1)), coalesce(sum("len"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def statsOf(spark: SparkSession, dir: String,
                      store: String, tombs: Seq[String],
                      torn: Option[(Long, Long)]): (Long, Long) = {
    // Torn/in-flight append window: `torn` carries the totals the
    // caller's preamble derived from ITS OWN postings snapshot,
    // tombstone-excluded in the same pass (see [[prunedPostings]]) —
    // the `_stats` deltas are untrustworthy there (the batch's delta
    // is the LAST write of [[append]], so postings can be committed
    // with no delta) and the cached tombstone fold below is keyed on
    // the unchanged `_stats` signature, so BOTH legs of the steady
    // path would disagree with what the scan actually reads. The
    // torn totals replace the whole fold, not just the base.
    if (torn.isDefined) return torn.get
    val base =
      // appends add delta files, compaction swaps the store path — both
      // change the signature, so the cache can never serve stale totals
      Stores.cachedModel(spark, "tidx-stats", s"$store/_stats") {
        val r = Parquet.read(spark, statsFiles(spark, store): _*)
          .agg(sum("n_docs"), sum("total_len")).head()
        (r.getLong(0), r.getLong(1))
      }
    // Tombstone fold: subtract the (count, token length) of tombstoned
    // docs STILL PRESENT in this generation's postings, so (N, avgdl)
    // track takedowns immediately instead of waiting for compact — df
    // already does (the pruned scan is tombstone-anti-joined), so
    // post-delete pre-compact scores now equal a rebuild over the
    // survivors exactly (PipelineSpec pins it). One column-pruned
    // (doc_id, len) pass over the store per (generation, tombstone
    // set), cached; after compact purges the docs the same join
    // matches nothing, so the grace-deferred tombstone files can
    // never double-subtract. Tombstone files are immutable
    // (append-only, named uniquely), so their sorted names key the
    // cache entry.
    if (tombs.isEmpty) base
    else {
      val gone = Stores.cachedModel(spark,
        s"tidx-tomb-stats:${tombs.sorted.mkString(",")}", s"$store/_stats") {
        val t = Parquet.read(spark, tombs: _*).select("doc_id").distinct()
        val r = Parquet.read(spark, store)
          .join(broadcast(t), Seq("doc_id"))
          .select("doc_id", "len").distinct()
          .agg(count(lit(1)), coalesce(sum("len"), lit(0L))).head()
        (r.getLong(0), r.getLong(1))
      }
      (base._1 - gone._1, base._2 - gone._2)
    }
  }

  /** Shared query preamble: resolve the live generation ONCE (a
    * compaction committing between two resolutions would mix
    * generations in one query), derive the terms' bucket literals by
    * hashing the tiny term list on the driver (byte-identical to the
    * writer — same XxHash64), and return the pruned, tombstone-excluded postings for
    * exactly the query terms — plus the tombstone-file list the
    * exclusion used, so the caller's stats fold sees the SAME
    * takedown set (one listing per query, not two racing ones). */
  private def prunedPostings(spark: SparkSession, dir: String,
                             qTerms: Seq[String]): (String, DataFrame, Seq[String], Array[Int], () => Option[(Long, Long)]) = {
    // frozen scheme — signature-cached so the serving path skips the
    // per-query meta job (see Stores.cachedModel)
    val buckets: Integer = Stores.cachedModel(spark, "tidx-meta", s"$dir/meta") {
      Integer.valueOf(
        Parquet.read(spark, s"$dir/meta").head().getAs[Int]("buckets"))
    }
    // Hash the term list to bucket literals ON THE DRIVER by evaluating
    // Spark's own XxHash64 expression locally (seed 42 = the SQL
    // xxhash64 default, so the result is byte-identical to the writer's
    // pmod(xxhash64(term), buckets)) — this used to be a Spark job
    // (toDF → distinct → collect) per serving call, a pure driver
    // round-trip for a handful of strings (guide §1.2: don't run jobs
    // for driver-sized work).
    val termBuckets: Array[Int] = qTerms.iterator.map { t =>
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64(
        Seq(org.apache.spark.sql.catalyst.expressions.Literal.create(
          t, org.apache.spark.sql.types.StringType)), 42L)
        .eval(null).asInstanceOf[Long]
      val b = buckets.toLong
      (((h % b) + b) % b).toInt
    }.toArray.distinct
    val store = liveStore(spark, dir)
    // ONE root read: its file index is the query's postings snapshot —
    // the pruned scan AND the torn-window stats below both derive from
    // it, so they can never see different file sets
    val postRoot = Parquet.read(spark, store)
    val post = postRoot
      .filter(col("bucket").isin(termBuckets.toIndexedSeq: _*))
      .filter(col("term").isin(qTerms: _*))
    val tombs = tombstoneFiles(spark, dir)
    val tombDf = if (tombs.isEmpty) None
      else Some(Parquet.read(spark, tombs: _*).select("doc_id").distinct())
    val antiTomb = (df: DataFrame) => tombDf
      .map(t => df.join(broadcast(t), Seq("doc_id"), "left_anti")).getOrElse(df)
    val live = antiTomb(post)
    // Torn/in-flight append window, resolved LAZILY and at most once
    // per query: Some(totals) while a pending marker exists, None on
    // the steady path. The totals come from THIS query's own postings
    // snapshot (postRoot — the same file index the scan reads; a
    // fresh listing could include batch files the scan cannot see,
    // scoring idf over an N no scored corpus has), tombstone-excluded
    // with the SAME tombs list in the same pass (the steady path's
    // cached fold is keyed on the unchanged `_stats` signature and
    // could describe a different corpus mid-tear). Deliberately
    // uncached — the window is transient, loud at append time, and
    // healed by compact; a cache would reintroduce the very
    // stats-vs-scan divergence this closes. Laziness matters for the
    // phrase routes: positional scoring never consults the sidecar or
    // corpus stats, so they share the preamble without ever paying
    // the marker listing.
    lazy val torn: Option[(Long, Long)] =
      if (hasPendingAppend(
          new Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration),
          store))
        Some(survivorStats(antiTomb(postRoot)))
      else None
    (store, live, tombs, termBuckets, () => torn)
  }

  /** The exact BM25 idf/contribution expressions — ONE definition
    * serves the exhaustive path, the MaxScore rescore, and (via df
    * literals) the sidecar-df fast path, so every route produces
    * bit-identical doubles (the oracle gate hashes score columns). */
  private def idfCol(nDocs: Long): Column =
    log(lit(1.0) + (lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5))

  private def contribCol(idf: Column, k1: Double, b: Double, avgdl: Double): Column =
    idf * col("tf") * (lit(k1) + 1) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("len") / lit(avgdl)))

  /** Exact per-(query, doc) BM25 over the pruned postings — the
    * scoring tail shared by every search route. `dfs` must carry
    * (term, df); `qDf`, when given, fans term rows out to the queries
    * containing them (batch mode). `candPairs` arrives ALREADY wrapped
    * (broadcast() or plain) by the caller, who knows the candidate
    * count — a 4M-pair broadcast is 100MB+ of driver/executor pressure,
    * so oversized candidate sets semi-join through the shuffle. */
  private def scoreAll(live: DataFrame, dfs: DataFrame, qDf: Option[DataFrame],
                       nDocs: Long, k1: Double, b: Double, avgdl: Double,
                       candPairs: Option[DataFrame] = None): DataFrame = {
    val scored = live.join(broadcast(dfs), "term")
      .withColumn("idf", idfCol(nDocs))
      .withColumn("contrib", contribCol(col("idf"), k1, b, avgdl))
    val fanned0 = qDf.map(q => scored.join(broadcast(q), "term")).getOrElse(scored)
    val keys = if (qDf.isDefined) Seq("query_id", "doc_id") else Seq("doc_id")
    // MaxScore: keep only the candidate (pairs|docs) BEFORE the
    // aggregation exchange — semi-join, values untouched
    val fanned = candPairs
      .map(cp => fanned0.join(cp, keys, "left_semi"))
      .getOrElse(fanned0)
    fanned.groupBy(keys.map(col): _*)
      .agg(sum(col("contrib").cast("decimal(28,12)")).as("raw"),
        count(lit(1)).as("n_terms"))
      .select(keys.map(col) ++ Seq(
        col("raw").cast("double").as("score"), col("n_terms")): _*)
  }

  /** BM25 top-k for `terms`: one partition-pruned scan of the query
    * terms' buckets, block-max pruned when the index is big enough to
    * profit (see [[maxScoreTopK]] — results are EXACTLY the
    * exhaustive cut either way). Deterministic cut (score desc,
    * doc_id asc); scores are the decimal-exact [[TextAnalysis.bm25]]
    * values, so an index built over a corpus scores queries
    * identically to the corpus-scan path (the `q_bm25_indexed` oracle
    * pins this). */
  def search(spark: SparkSession, dir: String, terms: Seq[String], k: Int,
             k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && k >= 1)
    val qTerms = terms.map(_.trim.toLowerCase).filter(_.nonEmpty).distinct
    val (store, live, tombs, termBuckets, tornThunk) = prunedPostings(spark, dir, qTerms)
    val torn = tornThunk()
    val (nDocs, totalLen) = statsOf(spark, dir, store, tombs, torn)
    val avgdl = totalLen.toDouble / nDocs
    maxScoreTopK(spark, store, live, tombs, termBuckets,
        Seq(0L -> qTerms), k, k1, b, nDocs, totalLen, torn.isDefined, single = true) match {
      case Some(scored) =>
        scored.select("doc_id", "score", "n_terms")
          .orderBy(col("score").desc, col("doc_id"))
          .limit(k)
      case None =>
        val dfs = live.groupBy("term").agg(count(lit(1)).as("df"))
        scoreAll(live, dfs, None, nDocs, k1, b, avgdl)
          .orderBy(col("score").desc, col("doc_id"))
          .limit(k)
    }
  }

  /** Batch serving: BM25 top-k for MANY queries in one pass — the
    * keyword counterpart of [[Embeddings.ivfTopKIndexedFor]]'s
    * external-query batch shape. `queries` = (query_id, terms
    * array<string>); the batch is driver-bounded by the serving
    * contract (its distinct terms become the bucket-pruning
    * literals, exactly like probed-cell lists). One partition-pruned
    * postings scan covers the UNION of all query terms; per-term
    * (df, idf, contrib) is computed once and fanned out to the
    * queries containing the term through a broadcast of the
    * query-term pairs; the top-k window partitions by query_id, so
    * ranking parallelizes across the batch. Scores are identical to
    * per-query [[search]] calls (spec-pinned) with the same decimal
    * determinism; a query whose terms miss the index simply yields no
    * rows. */
  def searchMany(spark: SparkSession, dir: String, queries: DataFrame, k: Int,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1)
    import spark.implicits._
    // bounded collect: the batch is driver-sized by the ENFORCED
    // serving contract (ServingLimits — an oversized batch fails loud
    // naming the cap, never OOMs the driver), and its terms must
    // normalize EXACTLY like [[search]]'s (Scala trim/toLowerCase) —
    // normalizing in Spark SQL instead would diverge on non-space
    // whitespace and locale edge cases, silently missing postings a
    // per-query search would hit
    val pairs: Seq[(Long, String)] = ServingLimits
      .requireMicroBatch("TextIndex.searchMany", "query", queries)
      .select(col("query_id").cast("long"), explode(col("terms")).as("term"))
      .collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.toLowerCase)
      .filter(_._2.nonEmpty).distinct.toSeq
    // an all-blank (or empty) batch yields no rows, same as a single
    // term-missing query — error/empty behavior must not depend on
    // batch composition. The route diagnostic still records THIS call
    // (no search ran) — otherwise lastRoute would keep the previous
    // statement's value and a route log line would name a neighbor's
    // decision for a statement that scanned nothing.
    if (pairs.isEmpty) {
      setRoute("none:empty-batch")
      return Seq.empty[(Long, Long, Double, Long)]
        .toDF("query_id", "doc_id", "score", "n_terms")
    }
    val q = pairs.toDF("query_id", "term")
    val allTerms: Seq[String] = pairs.map(_._2).distinct
    val (store, live, tombs, termBuckets, tornThunk) = prunedPostings(spark, dir, allTerms)
    val torn = tornThunk()
    val (nDocs, totalLen) = statsOf(spark, dir, store, tombs, torn)
    val avgdl = totalLen.toDouble / nDocs
    val grouped = pairs.groupBy(_._1).view
      .mapValues(_.map(_._2).toSeq).toSeq.sortBy(_._1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))
    val scored = maxScoreTopK(spark, store, live, tombs, termBuckets,
        grouped, k, k1, b, nDocs, totalLen, torn.isDefined).getOrElse {
      val dfs = live.groupBy("term").agg(count(lit(1)).as("df"))
      scoreAll(live, dfs, Some(q), nDocs, k1, b, avgdl)
    }
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
      .orderBy("query_id", "doc_id")
  }

  /** MaxScore/block-max pruned EXACT top-k — the 100-TB serving path
    * for common-term queries, where exhaustive-exact BM25 otherwise
    * scores Σ df(term) postings (measured linear in the corpus,
    * HYBRID_SCALE.md). Returns None when the index has no `_skips`
    * sidecar or pruning cannot pay (small index, unprunable
    * thresholds, candidate blowup) — callers then run the exhaustive
    * tail. When it returns rows, they are BIT-IDENTICAL to the
    * exhaustive path's (same idf/contrib ASTs, same decimal sums over
    * the same per-candidate posting sets — spec- and oracle-pinned):
    *
    *   1. per-term sidecar aggregates (df upper bound, max block
    *      impact bound) — one tiny bucket-pruned `_skips` read. Block
    *      bounds are min(loose, tight): loose = f(max_tf, min_len)
    *      (valid for any params), tight = the stored exact block-max
    *      impact drift-corrected by max(1, avgdl/w_avgdl) (valid at
    *      the default (k1, b));
    *   2. a threshold θ_q per query = the k-th best PARTIAL score over
    *      each term's top-impact prefix (~maxscoreThetaRows postings,
    *      literal blk filter pushed BEFORE the query fan-out), with
    *      UNDERestimated idf (df upper bound) — any subset's partial
    *      scores lower-bound true scores, so ≥ k docs truly score
    *      ≥ θ_q;
    *   3. the MaxScore term partition, PER QUERY: non-essential terms
    *      (weakest-ubmax prefix summing under θ_q) generate no
    *      candidates for q; essential term t prunes block b when
    *      ub(t,b) + Σ_{t'∈q,t'≠t} ubmax_{t'} < θ_q, with
    *      OVERestimated idf (df lower bound = df_u − |tombstoned
    *      ids|). A doc outside the surviving blocks of ALL its
    *      (query's) terms scores < θ_q — candidates are a SUPERSET of
    *      every true top-k;
    *   4. single query: candidates = distinct doc_ids under the
    *      surviving prefix (blk ≤ bmax_t — pushed to parquet row
    *      groups in the impact-sorted files). Batch: candidates are
    *      (query_id, doc_id) PAIRS under each query's OWN prefixes,
    *      and the yield is estimated from the sidecar alone BEFORE
    *      any postings scan (a weak batch escapes having paid only
    *      skip-file jobs). Then EXACT rescore of candidates only:
    *      all their postings, exact df/idf, the shared decimal sum —
    *      the scoring exchange carries candidate postings, not
    *      matched postings.
    *
    * θ uses a 1e-9 relative slack so float noise in the partial sums
    * can never prune a boundary doc. Tombstones only make bounds
    * conservative (sidecar keeps tombstoned rows until compact); when
    * tombstones are PRESENT the exact df falls back to the pruned
    * scan, when absent the sidecar df (= live row count per term) is
    * exact and the df scan is skipped entirely.
    *
    * Worst case, measured honestly: a uniform-df corpus with
    * common-term queries (every term df ≈ 78%, the probe's synthetic
    * vocabulary) is MaxScore's pathological input — an exact-θ
    * simulation still leaves ~22% of matched postings as candidates,
    * so the batch path correctly ESCAPES there (estimate ≥ 5/16 of
    * the fan) and the overhead is the skip jobs + θ pass (~5 s warm
    * at 20×). Real Zipfian vocabularies (any query with one
    * discriminative term) prune like the textbook says — the probe's
    * skewed batch reads ~2.6% candidate pairs. */
  /** Last search route taken BY THIS THREAD, for specs and probes
    * ("maxscore:<prefix rows>/<matched postings>" or
    * "exhaustive:<why>") — diagnostics only, never part of results.
    * Thread-local on purpose: the route is decided during plan build
    * on the calling thread, and concurrent searches (QueryService
    * pool, parallel probes) must each observe their OWN route — a
    * shared field would let q_bm25_maxscore's route assertion read a
    * neighbor's decision. */
  private val routeHolder: ThreadLocal[String] =
    ThreadLocal.withInitial(() => "")
  private[graft] def lastRoute: String = routeHolder.get()
  private def setRoute(r: String): Unit = routeHolder.set(r)

  /** Per-statement serving-knob overrides, consulted BEFORE the session
    * confs by every `graft.textindex.*` read in the route decision.
    * The SQL faces (`corpus_search`/`corpus_hybrid` `maxscore=>`,
    * `theta_rows=>`) scope their knobs here instead of mutating the
    * shared session conf: QueryService plans concurrent statements on
    * ONE session, so a set/finally-restore of `spark.conf` races —
    * interleaved restores can permanently leak a statement's knob into
    * the session, and a knob-less neighbor statement's route decision
    * can read an in-flight value. The route decision runs synchronously
    * on the statement's planning thread, so a ThreadLocal is exactly
    * the statement scope; session confs remain the deployment-wide
    * fallback. */
  private[graft] val confOverrides: ThreadLocal[Map[String, String]] =
    ThreadLocal.withInitial(() => Map.empty[String, String])

  private def maxScoreTopK(spark: SparkSession, store: String, live: DataFrame,
                           tombs: Seq[String], termBuckets: Array[Int],
                           queries: Seq[(Long, Seq[String])], k: Int,
                           k1: Double, b: Double, nDocs: Long,
                           totalLen: Long, pending: Boolean,
                           single: Boolean = false): Option[DataFrame] = {
    import spark.implicits._
    def confGet(key: String, dflt: String): String =
      confOverrides.get().getOrElse(key, spark.conf.get(key, dflt))
    def confLong(key: String, dflt: Long): Long =
      try confGet(key, dflt.toString).toLong catch { case _: NumberFormatException => dflt }
    def exhaustive(why: String): Option[DataFrame] = { setRoute(s"exhaustive:$why"); None }
    val debug = confGet("graft.textindex.maxscoreDebug", "false") == "true"
    var tMark = System.nanoTime()
    def mark(phase: String): Unit = if (debug) {
      val now = System.nanoTime()
      System.err.println(f"[maxscore] $phase ${(now - tMark) / 1e9}%.2fs")
      tMark = now
    }
    if (nDocs <= 0) return exhaustive("empty")
    if (confGet("graft.textindex.maxscore", "true") != "true")
      return exhaustive("disabled")
    val floor = confLong("graft.textindex.maxscorePostingsFloor", 1000000L)
    // totalLen (already resolved, cached) upper-bounds matched postings:
    // below the floor the exhaustive path is one job and pruning's
    // extra planning jobs cost more than they save
    if (totalLen < floor) return exhaustive("floor")
    val skipsPath = new Path(s"$store/_skips")
    val fs = skipsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(skipsPath)) return exhaustive("no-sidecar")
    // a pending (torn or in-flight) append means the sidecar may not
    // cover every posting — df/bounds/candidates derived from it would
    // silently drop the uncovered docs; the exhaustive path reads the
    // postings themselves and stays exact. `pending` is the caller's
    // ONE preamble marker listing — the same check the stats fold
    // honored, so stats and route always agree on the window.
    if (pending) return exhaustive("torn-append")
    val avgdl = totalLen.toDouble / nDocs
    val allTerms = queries.flatMap(_._2).distinct
    val skips = Parquet.read(spark, s"$store/_skips")
      .filter(col("bucket").isin(termBuckets.toIndexedSeq: _*))
      .filter(col("term").isin(allTerms: _*))
    // per-block impact bound, the MIN of two valid upper bounds:
    // LOOSE — f(max_tf, min_len) ≥ f(tf, len) for any (k1, b, avgdl)
    // because f is ↑ in tf and ↓ in len (but it combines extremes of
    // DIFFERENT postings); TIGHT — the stored exact block max impact
    // max_f (at write avgdl ā, default params) scaled by max(1, a/ā),
    // valid because f is ↑ in avgdl with f(a)/f(ā) ≤ a/ā. Tight
    // applies only at the default (k1, b) the writer used.
    val fLoose = col("max_tf") * (k1 + 1) /
      (col("max_tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("min_len") / lit(avgdl)))
    // schema probe on the ALREADY-CONSTRUCTED skips frame — re-reading
    // the sidecar here would pay an extra footer-listing job per query
    val hasTight = k1 == 1.2 && b == 0.75 && skips.columns.contains("max_f")
    val fBound = if (hasTight)
      least(fLoose, col("max_f") * greatest(lit(1.0), lit(avgdl) / col("w_avgdl")))
    else fLoose
    mark("pre")
    val perTerm: Map[String, (Long, Double, Long)] = skips.groupBy("term")
      .agg(sum("n").as("df_u"), max(fBound).as("fmax"),
        count(lit(1)).as("nblk"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toMap
    mark("skips-agg")
    if (perTerm.isEmpty) return exhaustive("no-terms")
    val matched = perTerm.values.map(_._1).sum
    if (matched < floor) return exhaustive("floor-matched")
    // |tombstoned ids| lower-bounds every term's live df; exact enough
    // for BOUNDS (idf is ↓ in df, so df_l overestimates idf safely)
    val nTomb: Long =
      if (tombs.isEmpty) 0L
      else Stores.cachedModel(spark,
        s"tidx-tomb-count:${tombs.sorted.mkString(",")}", store) {
        Long.box(Parquet.read(spark, tombs: _*).select("doc_id").distinct().count())
      }.longValue
    def idfOf(df: Long): Double =
      math.log(1.0 + ((nDocs - df) + 0.5) / (df + 0.5))
    val idfUp = perTerm.map { case (t, (dfU, _, _)) => t -> idfOf(math.max(0L, dfU - nTomb)) }
    val idfLo = perTerm.map { case (t, (dfU, _, _)) => t -> idfOf(dfU) }
    val ubMax = perTerm.map { case (t, (_, fmax, _)) => t -> idfUp(t) * fmax }
    val qPairs = queries.flatMap { case (qid, ts) =>
      ts.distinct.filter(perTerm.contains).map(qid -> _) }
    if (qPairs.isEmpty) return exhaustive("no-matching-terms")
    // θ_q: k-th best PARTIAL score per query over each term's top
    // impact blocks (underestimated idf, tombstone-excluded rows),
    // with relative slack against float noise in the partial sum. The
    // θ-prefix depth is a QUALITY knob only (any subset's partials
    // lower-bound true scores): deep enough that multi-term result
    // docs accumulate several contributions, so θ approaches the true
    // k-th score instead of a single-term fragment. ~targetRows
    // postings per term ≈ targetRows/(df/nblk-rows) sidecar blocks.
    // one default-sized block per term by default: at production block
    // size the θ pass reads exactly blk 0; fine-blocked indexes read
    // the same row volume across more blocks. 8·k keeps deep-k
    // requests honest. The conf deepens θ for corpora whose impact
    // ranking poorly predicts total scores (flat synthetic vocab —
    // measured: 4096-row θ reads 0.70 of exact on the uniform-df probe
    // corpus, df/4 reads 0.995) at proportional θ-pass cost; the
    // estimate-based escapes keep a weak θ harmless either way.
    val targetRows = math.max(
      confLong("graft.textindex.maxscoreThetaRows", 4096L), 8L * k)
    val thetaBlk = perTerm.map { case (t, (dfU, _, nblk)) =>
      t -> math.max(0L, targetRows * nblk / math.max(1L, dfU)) }
    val loDf = qPairs.map { case (qid, t) => (qid, t, idfLo(t), thetaBlk(t)) }
      .toDF("query_id", "term", "idf_lo", "blk_theta")
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("p").desc)
    // LITERAL prefix filter FIRST (pushes to parquet row groups in the
    // impact-sorted files), per-(query, term) depth after the join —
    // joining first fans every matched posting to every query sharing
    // its term before anything filters (measured: a 100-query batch at
    // 20× scanned-then-fanned ~400M rows into the θ pass)
    val theta: Map[Long, Double] = live
      .filter(col("blk") <= lit(thetaBlk.values.max))
      .join(broadcast(loDf), "term")
      .filter(col("blk") <= col("blk_theta"))
      .withColumn("contrib", contribCol(col("idf_lo"), k1, b, avgdl))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("contrib").cast("decimal(28,12)")).as("p"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") === k).select("query_id", "p")
      .collect()
      .map(r => r.getLong(0) ->
        math.max(0.0, r.getDecimal(1).doubleValue * (1 - 1e-9) - 1e-12))
      .toMap
    mark("theta")
    // MaxScore term partition, PER QUERY: the NON-ESSENTIAL terms are
    // the weakest-ubmax prefix whose bound sum stays under θ_q — a doc
    // matching only those cannot reach θ_q, so they generate no
    // candidates for q (their postings still join the exact rescore).
    // Inside the ESSENTIAL terms the block rule applies: block b of
    // term t hosts no q-result doc when ub(t,b) + Σ_{t'∈q,t'≠t}
    // ubmax_{t'} < θ_q. Cutoffs stay per (query, term): collapsing
    // them to per-term minima makes a BATCH unprunable as soon as
    // every term is essential in SOME query (measured at 20×: 100
    // vocabulary-overlapping queries left 66% of postings surviving
    // globally while per-query survival was ~30%).
    val cuts: Seq[(Long, String, Double)] = queries.flatMap { case (qid, ts0) =>
      val ts = ts0.distinct.filter(perTerm.contains)
      if (ts.isEmpty) Seq.empty
      else {
        val th = theta.getOrElse(qid, 0.0)
        val sorted = ts.sortBy(ubMax)
        var cum = 0.0
        val nonEss0 = sorted.takeWhile { t => cum += ubMax(t); cum < th }.toSet
        // θ is achieved by ≥ k real docs, so Σ ubmax ≥ θ and at least
        // one term stays essential; the guard is float paranoia, not a
        // reachable state
        val nonEss = if (nonEss0.size == ts.size) nonEss0 - sorted.last else nonEss0
        val total = ts.map(ubMax).sum
        ts.filterNot(nonEss).map(t => (qid, t, th - (total - ubMax(t))))
      }
    }
    // nothing prunable: every matched term is essential in some query
    // with a cutoff no block can fail — skip the survivor jobs
    if (cuts.map(_._2).distinct.size == perTerm.size && cuts.forall(_._3 <= 0.0))
      return exhaustive("unprunable")
    // global per-term survival prefix (the loosest cutoff over the
    // queries where t is essential): bounds which blocks the candidate
    // scan READS — pushed to parquet row groups in the impact-sorted
    // files. Terms essential nowhere are absent and scan nothing.
    val lambda: Map[String, Double] = cuts.groupBy(_._2).view
      .mapValues(_.map(_._3).min).toMap
    val lamDf = lambda.toSeq.map { case (t, l) => (t, idfUp(t), l) }
      .toDF("term", "idf_up", "lam")
    val surv: Map[String, Int] = skips.join(broadcast(lamDf), "term")
      .filter(col("idf_up") * fBound >= col("lam"))
      .groupBy("term").agg(max("blk").as("bmax"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    mark("surv")
    if (surv.isEmpty) return exhaustive("no-survivors")
    val maxCand = confLong("graft.textindex.maxscoreMaxCandidates", 4000000L)
    // broadcast ceiling for the candidate semi-join: pairs are 16-24
    // bytes each, so 1M pairs ≈ 20-30MB per executor — past that the
    // semi-join goes through the shuffle instead of pressuring the
    // driver with a 100MB+ broadcast right at the candidate cap
    val bcastCand = confLong("graft.textindex.maxscoreBroadcastPairs", 1000000L)
    val candFilter = surv.map { case (t, bm) =>
      col("term") === t && col("blk") <= bm }.reduce(_ || _)
    val dfs =
      if (tombs.isEmpty)
        perTerm.toSeq.map { case (t, (dfU, _, _)) => (t, dfU) }.toDF("term", "df")
      else live.groupBy("term").agg(count(lit(1)).as("df"))
    if (single) {
      // one query: the global prefix IS the per-query prefix; escape
      // on its volume (a skips-only estimate — no postings touched),
      // candidates are plain doc_ids semi-joined below the scan
      // (before the scoring joins)
      val bmaxDf = surv.toSeq.toDF("term", "bmax")
      val prefixRows = skips.join(broadcast(bmaxDf), "term")
        .filter(col("blk") <= col("bmax"))
        .agg(coalesce(sum("n"), lit(0L))).head().getLong(0)
      if (prefixRows > maxCand || prefixRows * 2 > matched)
        return exhaustive(s"weak-pruning:$prefixRows/$matched")
      val cands0 = live.filter(candFilter).select("doc_id").distinct()
      // prefixRows upper-bounds the distinct candidate docs (skips-only
      // estimate, no postings job) — broadcast only under the ceiling
      val cands = if (prefixRows <= bcastCand) broadcast(cands0) else cands0
      setRoute(s"maxscore:$prefixRows/$matched")
      Some(scoreAll(live, dfs, None, nDocs, k1, b, avgdl, Some(cands)))
    } else {
      // batch: candidates are (query_id, doc_id) PAIRS — each query
      // pruned by its OWN cutoffs (collapsing cutoffs to per-term
      // minima makes a batch unprunable as soon as every term is
      // essential in SOME query; the global prefix above only bounds
      // which blocks the candidate scan READS). The yield is estimated
      // from the SIDECAR ALONE before any postings scan — a weak batch
      // escapes to exhaustive having paid only skip-file jobs (the
      // first cut of this path learned that the hard way: a
      // near-exhaustive candidate pass before the yield check read
      // 1.6x exhaustive at 20x scale).
      val fannedMatched = qPairs.map { case (_, t) => perTerm(t)._1 }.sum
      val cutDf = cuts.map { case (qid, t, c) => (qid, t, idfUp(t), c) }
        .toDF("query_id", "term", "idf_up_q", "cut")
      val bmaxQt = TextDedup.materialize(
        skips.join(broadcast(cutDf), "term")
          .filter(col("idf_up_q") * fBound >= col("cut"))
          .groupBy("query_id", "term").agg(max("blk").as("bmax_qt")),
        eager = true)
      // Σ over (q, t) of the rows under q's surviving prefix of t —
      // the candidate-generation volume AND (≈) the rescore exchange
      val estFanned = skips.join(broadcast(bmaxQt), Seq("term"))
        .filter(col("blk") <= col("bmax_qt"))
        .agg(coalesce(sum("n"), lit(0L))).head().getLong(0)
      mark("est")
      // proceed only when candidate generation + rescore (~2·est) plus
      // the θ pass clearly undercut the exhaustive fan
      if (estFanned * 16 > fannedMatched * 5)
        return exhaustive(s"weak-pruning-batch:$estFanned/$fannedMatched")
      val candPairs = TextDedup.materialize(
        live.filter(candFilter)
          .join(broadcast(bmaxQt), Seq("term"))
          .filter(col("blk") <= col("bmax_qt"))
          .select("query_id", "doc_id").distinct(),
        eager = true)
      val candCount = candPairs.count()
      mark("cand")
      if (candCount > maxCand)
        return exhaustive(s"candidates-over-cap:$candCount")
      val qDf = Some(qPairs.toDF("query_id", "term"))
      setRoute(s"maxscore:$candCount/$fannedMatched")
      // measured count decides the semi-join shape: small candidate
      // sets broadcast (map-side semi), big ones shuffle
      val cp = if (candCount <= bcastCand) broadcast(candPairs) else candPairs
      Some(scoreAll(live, dfs, qDf, nDocs, k1, b, avgdl, Some(cp)))
    }
  }

  /** Exact PHRASE search over the positional postings: documents
    * containing the consecutive token sequence `phrase`, ranked by
    * occurrence count (ties by doc_id). The classic positional-index
    * algorithm: a doc matches iff ∩_i (positions(term_i) − i) is
    * non-empty, and the intersection size IS the occurrence count —
    * resolved entirely from the index, the original text is never
    * read. Same pruning as [[search]]: only the phrase terms' bucket
    * partitions are scanned; a phrase with a repeated term prunes to
    * the distinct terms and still intersects per-occurrence correctly
    * (the shifted-set algebra does not care that two shifts came from
    * the same posting). */
  def searchPhrase(spark: SparkSession, dir: String, phrase: String,
                   k: Int): DataFrame = {
    val terms = phrase.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    require(terms.nonEmpty && k >= 1)
    val n = terms.length
    val distinctTerms = terms.distinct
    val (_, live, _, _, _) = prunedPostings(spark, dir, distinctTerms)
    // one row per doc with its term→positions map; docs missing any
    // distinct term cannot match and drop before the intersection
    val perDoc = live
      .select("doc_id", "term", "positions")
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("term"), col("positions"))))
        .as("m"), count(lit(1)).as("nt"))
      .filter(col("nt") === distinctTerms.length)
    val first = col("m")(terms.head)
    val hits = (1 until n).foldLeft(first) { (acc, i) =>
      array_intersect(acc, transform(col("m")(terms(i)), p => p - i))
    }
    perDoc
      .withColumn("n_hits", size(hits).cast("long"))
      .filter(col("n_hits") > 0)
      .select("doc_id", "n_hits")
      .orderBy(col("n_hits").desc, col("doc_id"))
      .limit(k)
  }

  /** Batch PHRASE serving: exact consecutive-phrase occurrence counts
    * for MANY phrases in ONE pruned postings pass — the positional
    * counterpart of [[searchMany]]. `queries` = driver-side
    * (query_id, phrase) pairs (micro-batch-sized by the serving
    * contract, ids unique — the SQL TVF enforces both).
    *
    * The per-phrase verify is DATA, not plan: each phrase explodes
    * into (query_id, term, offset) instance rows that broadcast-join
    * the pruned postings, and per (query_id, doc_id) the shifted
    * position sets fold-intersect with `aggregate` — so the plan has
    * ONE postings scan and a FIXED operator count regardless of batch
    * size. (The previous route reduced one [[searchPhrase]] leg per
    * phrase into a union: a 10k-phrase batch built a 10k-way plan —
    * analyzer/codegen blowup long before any data cost.) Pruning
    * covers the union of all phrases' distinct terms, so query cost
    * still follows the queries, not the corpus.
    *
    * Rows are identical to per-phrase [[searchPhrase]] calls
    * (spec-pinned): a doc matches iff every term-instance row joined
    * (`nt == n_terms` — repeated terms keep one instance per
    * occurrence, and the shifted-set algebra intersects them
    * per-occurrence exactly like the single-phrase fold); n_hits is
    * the intersection size; per query top-(k) by (n_hits desc,
    * doc_id), output ordered (query_id, doc_id). Blank phrases
    * contribute no rows. */
  def searchPhraseMany(spark: SparkSession, dir: String,
                       queries: Seq[(Long, String)], k: Int): DataFrame = {
    require(k >= 1)
    // same id discipline as phraseCountsMany: the per-query grouping
    // keys on query_id, so duplicate ids would merge two phrases'
    // instance rows into one garbage intersection — loud, not silent
    val dupIds = queries.map(_._1).groupBy(identity)
      .collect { case (id, g) if g.size > 1 => id }
    require(dupIds.isEmpty,
      s"searchPhraseMany: duplicate query_id(s) ${dupIds.mkString(", ")} — " +
        "each id names one phrase's result rows")
    import spark.implicits._
    val inst: Seq[(Long, String, Int, Int)] = for {
      (qid, phrase) <- queries
      terms = phrase.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      (t, i) <- terms.zipWithIndex
    } yield (qid, t, i, terms.length)
    if (inst.isEmpty)
      return Seq.empty[(Long, Long, Long)].toDF("query_id", "doc_id", "n_hits")
    val q = inst.toDF("query_id", "term", "i", "n_terms")
    val allTerms = inst.map(_._2).distinct
    val (_, live, _, _, _) = prunedPostings(spark, dir, allTerms)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("n_hits").desc, col("doc_id"))
    live.select("term", "doc_id", "positions")
      .join(broadcast(q), "term")
      .select(col("query_id"), col("doc_id"), col("n_terms"),
        transform(col("positions"), p => p - col("i")).as("shifted"))
      .groupBy("query_id", "doc_id")
      // n_terms is a function of query_id, so max() just carries it;
      // collect_list order is irrelevant — set intersection commutes
      .agg(max("n_terms").as("n_terms"), count(lit(1)).as("nt"),
        collect_list(col("shifted")).as("arrs"))
      .filter(col("nt") === col("n_terms"))
      .withColumn("hits", aggregate(
        slice(col("arrs"), lit(2), size(col("arrs")) - 1),
        element_at(col("arrs"), 1),
        (acc, a) => array_intersect(acc, a)))
      .withColumn("n_hits", size(col("hits")).cast("long"))
      .filter(col("n_hits") > 0)
      .select(col("query_id"), col("doc_id"), col("n_hits"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
      .orderBy("query_id", "doc_id")
  }

  /** Ids present in the index (distinct doc_ids of the live postings),
    * optionally including tombstoned and purged ones: the
    * [[Stores.Ledger.ids]] view [[reconcile]] diffs against. */
  def ids(spark: SparkSession, dir: String,
          includeTombstoned: Boolean = false): DataFrame =
    textLedger(spark, dir).ids(Parquet.read(spark, liveStore(spark, dir)), includeTombstoned)

  /** Targeted O(drift) repair against the corpus of record (the crash
    * window between a corpus append and the index append, in either
    * order) through [[Stores.Ledger.reconcile]]: append postings for
    * docs the index is missing, tombstone index ids whose docs are
    * gone. Returns (appended, tombstoned). */
  def reconcile(record: DataFrame, dir: String): (Long, Long) = {
    val spark = record.sparkSession
    // a tokenless doc produces no postings rows, so it would read as
    // "missing" on every pass and re-append its stats delta forever —
    // it is unindexable by definition (can never match a query), so
    // it is out of scope for the diff
    val indexable = record.select(col("doc_id"), col("text"))
      .filter(length(trim(col("text"))) > 0)
    textLedger(spark, dir).reconcile(indexable,
      Parquet.read(spark, liveStore(spark, dir)), "doc_id")(append(_, dir))
  }

  /** Physical purge + small-file maintenance through
    * [[Stores.swapGeneration]] (marker [[CommitMarker]]) and the
    * [[Stores.Ledger]]: buckets holding tombstoned postings or
    * exceeding `maxFilesPerBucket` rewrite into `postings_v<N+1>`,
    * the others carry with their `_skips` slice. Pending tombstones
    * alone still commit an all-carry generation, and a torn append
    * (see [[PendingAppend]]) forces every bucket through the rewrite.
    * The new generation gets ONE exact stats row recomputed from the
    * survivors' distinct (doc_id, len) — so (N, avgdl) snap back to
    * exact after every compaction. Returns buckets rewritten. */
  def compact(spark: SparkSession, dir: String, maxFilesPerBucket: Int = 4): Int = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ledger = textLedger(spark, dir)
    val tombs = ledger.pending()
    val tombDf = ledger.idsOf(tombs)
    val live = liveStore(spark, dir)
    val tombBuckets: Set[Int] = tombDf match {
      case None => Set.empty
      case Some(t) => Parquet.read(spark, live).join(broadcast(t), Seq("doc_id"))
        .select("bucket").distinct().collect().map(_.getInt(0)).toSet
    }
    // a torn append (pending marker — see [[PendingAppend]]) means the
    // sidecar may not cover every posting: force EVERY bucket through
    // the rewrite leg, whose sidecar is rebuilt from the actual
    // surviving rows, so the new generation serves pruned again
    val tornAppend = hasPendingAppend(fs, live)
    val (rewrite, carry) = Stores.partitions(spark, live, "bucket=").partition {
      case (b, d) => tornAppend ||
        Stores.parquetFiles(fs, d).length > maxFilesPerBucket || tombBuckets(b)
    }
    if (rewrite.isEmpty && tombs.isEmpty) return 0
    // skip-sidecar invariant: a generation has `_skips` iff EVERY
    // posting is covered by it — so carry/rebuild only when the live
    // generation has one (a pre-sidecar store must not gain a partial
    // sidecar; it regains pruning on the next full build)
    val hasSkips = fs.exists(new Path(s"$live/_skips"))
    Stores.swapGeneration(spark, dir, "postings", live, carry.map(_._2), CommitMarker,
        if (hasSkips) Seq("_skips") else Nil) { next =>
      if (rewrite.nonEmpty) {
        val bs = rewrite.map(_._1)
        val toRewrite = Parquet.read(spark, live).filter(col("bucket").isin(bs: _*))
        val survivors = tombDf
          .map(t => toRewrite.join(broadcast(t), Seq("doc_id"), "left_anti"))
          .getOrElse(toRewrite)
        if (!hasSkips) {
          survivors
            .repartition(bs.length, col("bucket"))
            .write.mode("append").partitionBy("bucket").parquet(next)
        } else {
          // re-block the survivors to clean global impact ranks (append
          // deltas restarted blk at 0 — merged bounds stay correct but
          // coarse; compaction is where they snap back). avgdl here is
          // a LAYOUT hint only (bounds are per-block facts), so the
          // postings-weighted mean is close enough and one cheap agg.
          val blockSize = blockSizeOf(Parquet.read(spark, s"$dir/meta").head())
          val avgdl = survivors.agg(avg(col("len"))).head() match {
            case r if r.isNullAt(0) => 1.0
            case r => math.max(1.0, r.getDouble(0))
          }
          val reblocked = survivors.drop("blk")
            .withColumn("blk", ((row_number().over(
                org.apache.spark.sql.expressions.Window.partitionBy("term")
                  .orderBy(impactCol(avgdl).desc, col("doc_id"))) - 1)
              / lit(blockSize)).cast("int"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            reblocked
              .repartition(bs.length, col("bucket"))
              .sortWithinPartitions("term", "blk")
              .write.mode("append").partitionBy("bucket").parquet(next)
            writeSkips(reblocked, next, avgdl, overwrite = false)
          } finally { reblocked.unpersist(); () }
        }
      }
      // exact stats from the survivors, INSIDE the new generation and
      // before the commit marker, so the generation becomes visible
      // only with postings AND stats complete (Spark's own _SUCCESS
      // from the rewrite write above is not the resolve key — see
      // CommitMarker). survivorStats is the ONE formula the torn-window
      // serving path also uses (their agreement is spec-pinned), and
      // its empty-store guard keeps an all-tombstoned compact from
      // writing a null total_len.
      val (sNd, sTl) = survivorStats(Parquet.read(spark, next))
      writeStatsDelta(spark, sNd, sTl, next)
    }
    ledger.consume(tombs)
    rewrite.length
  }
}
