package graft.pipeline

import graft.sources.Parquet
import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The engine's persisted-store conventions, each stated once.
  *
  * Generation swap. A store lives at `dir/base` until a maintenance
  * pass writes `dir/base_v<N>` and commits it with a marker file;
  * readers resolve the highest COMMITTED generation
  * ([[liveGeneration]]) and need zero coordination with writers.
  * [[swapGeneration]] is the one writer: it clears an uncommitted
  * next generation a crashed pass left, carries untouched partition
  * directories by raw file copy, runs the caller's rewrite, commits
  * the marker, and prunes every generation older than the replaced
  * one, which survives one cycle as the grace copy for plans that
  * resolved it pre-swap. Users: the corpus-of-record MERGE store
  * ([[CorpusStore.merge]]), the inverted text index
  * ([[TextIndex.compact]] — committed with its own marker because
  * Spark's `_SUCCESS` lands mid-build there), the IVF corpus
  * ([[Embeddings.compactIvfIndex]]) and the band index's two stores
  * ([[TextDedup.compactBandIndex]]).
  *
  * Takedown ledger ([[Ledger]], one per store: `tombstones/` and
  * `purged/` beside its generations, one long id column). The whole
  * contract lives here; an index family names only its store and id
  * column.
  *  - Write: [[Ledger.write]] is the one tombstone writer — the
  *    distinct ids as one new file per call, O(batch). Readers exclude
  *    them at once ([[Ledger.live]], [[Ledger.idsOf]]).
  *  - Purge: a purging pass snapshots the files from
  *    [[Ledger.pending]], removes their ids' rows, then
  *    [[Ledger.consume]]s them: each is copied into `purged/` and the
  *    original stays one more cycle for readers whose plan listed it
  *    pre-swap; the next pass's `pending()` drops it. A delete racing a
  *    pass is not in its snapshot and waits for the next one.
  *  - Id view: [[Ledger.ids]] is the store's ids minus the pending
  *    takedowns (what readers serve), or plus every pending AND purged
  *    takedown (what reconcile diffs against). `purged/` is what keeps
  *    a takedown whose rows a compaction removed from reading as
  *    "missing" and being re-indexed from the corpus of record.
  *  - Reconcile: [[Ledger.reconcile]] is the one repair diff against
  *    the corpus of record. "Missing" is the record minus ALL ids, so
  *    a takedown whose doc is still in the record stays down;
  *    "orphans" are the live ids minus the record. The family supplies
  *    only its append; orphans go through the ledger writer.
  *  - Reset: [[reset]] is the one fresh-build reset. A base build
  *    deletes its stores' generations and the ledger before it writes,
  *    so no `_v<N>` generation or takedown of an earlier build shadows
  *    or hides the new one.
  * Users: the text, IVF and band indexes and the streaming ingest's
  * corpus ledger ([[graft.streaming.CorpusIngest.takedown]],
  * [[graft.streaming.CorpusIngest.purgeCorpusTombstones]]). */
private[graft] object Stores {

  /** Highest committed `dir/base_v<N>`, else `dir/base` — the base is
    * the fallback regardless of its marker, preserving the original
    * reader contract for stores that were only ever base-written
    * (e.g. copied file-by-file, losing `_SUCCESS`). The fallback is
    * still guarded by [[requireNotTorn]]: a marker-free base that
    * holds `_temporary/` is an in-progress or aborted write and every
    * reader — SQL face or Scala API — must fail loud rather than
    * serve partial rows. */
  def liveGeneration(spark: SparkSession, dir: String, base: String,
                     marker: String = "_SUCCESS"): String =
    liveOf(spark, dir, base, generations(spark, dir, base, marker), marker)
      .getOrElse(s"$dir/$base")

  /** [[liveGeneration]]'s choice over a [[generations]] listing the
    * caller already holds; None when there is neither a committed
    * generation nor a base directory (the path is not a store). */
  def liveOf(spark: SparkSession, dir: String, base: String,
             gens: Seq[(Int, String)],
             marker: String = "_SUCCESS"): Option[String] =
    gens.filter(_._1 > 0).lastOption.map(_._2).orElse {
      val b = new Path(s"$dir/$base")
      if (gens.isEmpty &&
          !b.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(b)) None
      else {
        requireNotTorn(spark, s"$dir/$base", marker)
        Some(s"$dir/$base")
      }
    }

  /** Distinguish a COPIED store (a base written file-by-file that lost
    * its commit marker — served as a convenience by the marker-free
    * fallback) from a TORN write still in progress or aborted: Spark's
    * FileOutputCommitter stages task output under `_temporary/` and
    * removes it on job commit, so a base directory holding
    * `_temporary` but no marker is a partial write — it must fail
    * loud, never serve partial rows as a plausible-looking corpus.
    * No-op when the marker is present (a committed write may briefly
    * coexist with a concurrent writer's staging dir; the marker is
    * the authority). */
  private def requireNotTorn(spark: SparkSession, base: String,
                             marker: String): Unit = {
    val p = new Path(base)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(s"$base/$marker")) &&
        fs.exists(new Path(s"$base/_temporary")))
      throw new IllegalStateException(
        s"[TORN_BASE] $base has no $marker commit marker and still " +
          "holds a _temporary staging directory — an in-progress or " +
          "aborted write, not a copied store; refusing to serve " +
          "partial rows")
  }

  /** The generation number a resolved live path denotes — the inverse
    * of the `dir/base` vs `dir/base_v<N>` naming convention. */
  def generationOf(live: String, base: String): Int =
    if (live.endsWith(s"/$base")) 0
    else live.substring(live.lastIndexOf("_v") + 2).toInt

  /** Per-partition operational snapshot of ONE resolved store
    * generation — the shared core of every index family's stats API
    * (IVF cells, band/text buckets): parquet file count and on-disk
    * bytes from filesystem metadata (bounded by the partition count),
    * row counts from one column-pruned aggregate (parquet footer
    * counts — no data decode). Output: (partCol, n_rows, n_files,
    * bytes). */
  def storeStats(spark: SparkSession, live: String,
                 partPrefix: String, partCol: String):
      DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, count, lit}
    val fs = new Path(live).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val geo = partitions(spark, live, partPrefix).map { case (n, d) =>
      val files = parquetFiles(fs, d)
      (n, files.length.toLong, files.map(_.getLen).sum)
    }.toDF(partCol, "n_files", "bytes")
    Parquet.read(spark, live)
      .groupBy(partCol).agg(count(lit(1)).as("n_rows"))
      .join(broadcast(geo), partCol)
      .select(partCol, "n_rows", "n_files", "bytes")
  }

  /** Every COMMITTED generation still on disk, ascending version: the
    * base (version 0) and each `dir/base_v<N>`, each only if its
    * commit marker landed — a torn base write is excluded here, so a
    * time-travel read fails loud instead of serving a partial
    * snapshot ([[liveGeneration]] keeps its marker-free base
    * fallback). Under the one-cycle grace retention this is at most
    * (grace, live) — the bounded time-travel window. */
  def generations(spark: SparkSession, dir: String, base: String,
                  marker: String = "_SUCCESS"): Seq[(Int, String)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    val versioned = fs.listStatus(p).map(_.getPath.getName).toSeq
      .collect { case n if n.startsWith(s"${base}_v") => n.stripPrefix(s"${base}_v") }
      .flatMap(v => scala.util.Try(v.toInt).toOption)
      .filter(v => fs.exists(new Path(s"$dir/${base}_v$v/$marker")))
      .map(v => v -> s"$dir/${base}_v$v")
    val baseGen =
      if (fs.exists(new Path(s"$dir/$base/$marker"))) Seq(0 -> s"$dir/$base")
      else Seq.empty
    (baseGen ++ versioned).sortBy(_._1)
  }

  /** The generation swap (see the object doc) of the store `dir/base`
    * whose live generation is `live`: `write(next)` adds the rewritten
    * partitions to `next` beside the `carry` directories, copied with
    * their slice of each `sidecars` directory. Single maintenance
    * writer: callers serialize their passes. */
  def swapGeneration(spark: SparkSession, dir: String, base: String,
                     live: String, carry: Seq[Path],
                     marker: String = "_SUCCESS",
                     sidecars: Seq[String] = Nil)(write: String => Unit): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def drop(p: Path): Unit = if (fs.exists(p)) fs.delete(p, true)
    def copyDir(src: Path, dst: Path): Unit = {
      fs.mkdirs(dst)
      parquetFiles(fs, src).foreach(f => copy(fs, f.getPath, new Path(dst, f.getPath.getName)))
    }
    val liveVersion = generationOf(live, base)
    val next = s"$dir/${base}_v${liveVersion + 1}"
    // an uncommitted next generation is a crashed pass's garbage, not
    // a resumable state: its part files must not leak into the retry
    drop(new Path(next))
    carry.foreach { part =>
      copyDir(part, new Path(next, part.getName))
      sidecars.map(s => s -> new Path(s"$live/$s/${part.getName}"))
        .filter { case (_, src) => fs.exists(src) }
        .foreach { case (s, src) => copyDir(src, new Path(s"$next/$s/${part.getName}")) }
    }
    write(next)
    val committed = new Path(next, marker)
    if (!fs.exists(committed)) fs.create(committed).close()
    (0 until liveVersion).foreach(v =>
      drop(new Path(if (v == 0) s"$dir/$base" else s"$dir/${base}_v$v")))
  }

  /** The `<prefix><n>` partition directories of a store generation, as
    * (n, path). */
  def partitions(spark: SparkSession, live: String,
                 prefix: String): Seq[(Int, Path)] = {
    val root = new Path(live)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(s => s.getPath.getName.stripPrefix(prefix).toInt -> s.getPath)
  }

  /** The parquet data files directly under `p` (no markers, no hidden
    * checksum files). */
  def parquetFiles(fs: FileSystem, p: Path): Seq[FileStatus] =
    fs.listStatus(p).toSeq.filter { s =>
      val n = s.getPath.getName
      n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }

  private def copy(fs: FileSystem, src: Path, dst: Path): Unit =
    FileUtil.copy(fs, src, fs, dst, false, fs.getConf)

  private val Tombstones = "tombstones"
  private val Purged = "purged"

  /** The takedown ledger (see the object doc) of the store at `dir`,
    * its files holding one long `idCol` column. */
  final class Ledger private[Stores] (spark: SparkSession, fs: FileSystem,
                                      tombDir: String, purgedDir: String,
                                      idCol: String) {
    /** Every takedown file on disk, purged or not. */
    def tombstones: Seq[Path] = listed(tombDir)

    /** The ledger copies of every consumed takedown file. */
    def purged: Seq[Path] = listed(purgedDir)

    /** Drops the originals whose ledger copy landed on an earlier pass
      * (their grace cycle is over) and returns the takedown files this
      * pass has still to purge. */
    def pending(): Seq[Path] = {
      val ledgered = purged.map(_.getName).toSet
      val (expired, open) = tombstones.partition(f => ledgered(f.getName))
      expired.foreach(fs.delete(_, false))
      open
    }

    /** Ledgers `files`, a [[pending]] snapshot whose rows are purged. */
    def consume(files: Seq[Path]): Unit = if (files.nonEmpty) {
      fs.mkdirs(new Path(purgedDir))
      files.foreach(f => copy(fs, f, new Path(purgedDir, f.getName)))
    }

    /** Takedowns: the distinct ids of `ids`' first column as one new
      * tombstone file. */
    def write(ids: DataFrame): Unit =
      ids.select(col(ids.columns.head).cast("long").as(idCol)).distinct()
        .coalesce(1).write.mode("append").parquet(tombDir)

    def write(ids: Seq[Long]): Unit = {
      import spark.implicits._
      write(ids.toDF(idCol))
    }

    /** The distinct ids of takedown `files`; None when there are none,
      * so a reader adds no join at all. */
    def idsOf(files: Seq[Path]): Option[DataFrame] =
      if (files.isEmpty) None
      else Some(Parquet.read(spark, files.map(_.toString): _*).select(idCol).distinct())

    /** `rows` minus the pending takedowns, read as the `tombstones/`
      * directory (the IVF read paths' plans name it). */
    def live(rows: DataFrame): DataFrame =
      if (tombstones.isEmpty) rows
      else rows.join(Parquet.read(spark, tombDir).select(idCol).distinct(),
        Seq(idCol), "left_anti")

    /** The id view of a store whose live generation is `stored`: its
      * distinct ids minus the pending takedowns, or, with
      * `includeTombstoned`, plus every pending and purged one. */
    def ids(stored: DataFrame, includeTombstoned: Boolean = false): DataFrame =
      if (!includeTombstoned) live(stored.select(idCol).distinct())
      else idsOf(tombstones ++ purged)
        .fold(stored.select(idCol))(stored.select(idCol).unionByName(_)).distinct()

    /** The reconcile diff of the store whose live generation is
      * `stored` against the corpus of record `record`, joined on its
      * column `key`: `append` gets the record rows no id of the store
      * names, and the live ids the record lacks are tombstoned.
      * Returns (appended, tombstoned); a second pass returns (0, 0).
      *
      * Each side's anti-join runs once: its rows are checkpointed
      * ([[TextDedup.materialize]]), counted and handed to the write.
      * Not persisted: a write into a path that a cached plan reads makes
      * Spark re-list and recompute that cache, so an append's second
      * write (the band index's `bands` after its `shingles`, the IVF
      * `cellstats` after its `corpus`, the text `_skips` after its
      * postings) would see its batch already indexed and drop it. A
      * checkpoint's plan names no path. */
    def reconcile(record: DataFrame, stored: DataFrame, key: String)
                 (append: DataFrame => Unit): (Long, Long) = {
      val missing = record.join(
        ids(stored, includeTombstoned = true).withColumnRenamed(idCol, key),
        Seq(key), "left_anti")
      val orphans = ids(stored)
        .join(record.select(col(key).as(idCol)), Seq(idCol), "left_anti")
      (once(missing)(append), once(orphans)(write))
    }

    private def once(df: DataFrame)(use: DataFrame => Unit): Long = {
      val m = TextDedup.materialize(df, eager = true)
      val n = m.count()
      if (n > 0) use(m)
      n
    }

    private def listed(dir: String): Seq[Path] = {
      val p = new Path(dir)
      if (fs.exists(p))
        fs.listStatus(p).toSeq.map(_.getPath).filter(_.getName.endsWith(".parquet"))
      else Nil
    }
  }

  /** The takedown ledger of the store at `dir` whose ids are `idCol`;
    * `prefix` names a ledger that shares its directory with data
    * Spark lists (the ingest's corpus: `_corpus_tombstones/`). */
  def ledger(spark: SparkSession, dir: String, idCol: String,
             prefix: String = ""): Ledger =
    new Ledger(spark, new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration),
      s"$dir/$prefix$Tombstones", s"$dir/$prefix$Purged", idCol)

  /** The fresh-build reset (see the object doc): deletes every
    * generation `<store>` / `<store>_v<N>` of `stores` under `dir` and
    * the ledger directories. */
  def reset(spark: SparkSession, dir: String, stores: Seq[String]): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.listStatus(p).map(_.getPath).filter { q =>
      val n = q.getName
      n == Tombstones || n == Purged || stores.exists(s => n == s || n.startsWith(s"${s}_v"))
    }.foreach(fs.delete(_, true))
  }

  // --- serving-path model-parameter cache ---------------------------
  //
  // Index stores carry bounded driver state (IVF centroids/radii/PQ
  // codebooks, text-index bucket scheme and corpus stats — all ≤
  // nlist/nbucket rows) that mutates only through store maintenance,
  // yet every serving call re-read it as Spark jobs: scheduler
  // round-trips that dominate single-query latency. Cache key = the
  // directory's file SIGNATURE (name, length, mtime per file — one
  // driver FS listing, no job): any append/compaction/rebuild changes
  // the signature and misses; an unchanged store hits. Bounded
  // eviction keeps long-lived sessions (tests build many throwaway
  // stores) from accumulating dead generations.
  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Change signature for a store directory: (name, length, mtime)
    * per file, one driver FS listing, no job.
    *
    * Granularity assumption, stated explicitly: this catches every
    * mutation the engine's own stores can produce — writers here are
    * append-only (new uniquely-named files) or generation-swapping
    * (new directory), both of which change NAMES, making the mtime
    * component redundant belt-and-braces. What it can NOT catch is an
    * out-of-band IN-PLACE rewrite of a file to identical byte length
    * within one mtime tick (whole seconds on some stores — S3
    * Last-Modified, HDFS with coarse clocks). Such rewrites violate
    * the store contract (files are immutable once written; mutation
    * goes through a new generation + commit marker, the monotonic
    * marker this signature rides on). A deployment that must tolerate
    * out-of-band rewrites sets `spark.graft.stores.contentSignature=
    * true`: each file's signature then also carries the FS-provided
    * content checksum — the S3 etag through
    * [[graft.sources.EtagFileChecksum]] on [[graft.sources.S3LiteFileSystem]]
    * (S3A exposes the same under `fs.s3a.etag.checksum`), HDFS's
    * MD5-of-CRCs — so an in-place same-length rewrite inside one mtime
    * tick still misses the cache, at the cost of one extra metadata
    * round-trip per file per listing. Filesystems that expose no
    * checksum (the local FS returns null) keep the (len, mtime)
    * signature for that file — the flag never makes a signature
    * WEAKER. */
  def dirSig(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val content = spark.conf
      .get("spark.graft.stores.contentSignature", "false").toBoolean
    fs.listStatus(p).map { s =>
      val base = s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}"
      if (!content || s.isDirectory) base
      else {
        val ck =
          try Option(fs.getFileChecksum(s.getPath))
          catch { case _: java.io.IOException => None }
        ck.fold(base)(c =>
          base + ":" + c.getAlgorithmName + ":" +
            c.getBytes.map("%02x".format(_)).mkString)
      }
    }.sorted.mkString("|")
  }

  def cachedModel[A <: AnyRef](spark: SparkSession, kind: String,
                               path: String)(load: => A): A = {
    val key = s"$kind:$path@${dirSig(spark, path)}"
    val hit = modelCache.get(key)
    if (hit != null) return hit.asInstanceOf[A]
    // miss path only: bound the cache by evicting single (arbitrary)
    // entries — a hit neither pays for nor causes eviction, and the
    // requested key cannot be evicted (it is not in the map yet).
    // Eviction happens OUTSIDE computeIfAbsent: CHM forbids mutating
    // the map from inside a mapping function.
    while (modelCache.size > 64) {
      val it = modelCache.keys()
      if (it.hasMoreElements) modelCache.remove(it.nextElement()) else ()
    }
    modelCache.computeIfAbsent(key, _ => load).asInstanceOf[A]
  }
}
