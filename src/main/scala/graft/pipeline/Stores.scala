package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The engine's shared generation-store convention, as ONE mechanism
  * instead of a copied idiom: a store lives at `dir/base` until a
  * maintenance pass writes `dir/base_v<N>` and commits it with a
  * marker file; readers resolve the highest COMMITTED generation and
  * need zero coordination with writers, the replaced generation
  * survives one cycle as the grace copy for plans that resolved it
  * pre-swap. Used by the band index and IVF corpus stores
  * ([[TextDedup]], [[Embeddings]]), the corpus-of-record MERGE store
  * ([[CorpusStore]]), and the inverted text index ([[TextIndex]] —
  * which commits with its own marker because Spark's `_SUCCESS` lands
  * mid-build there). */
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
      org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, count, lit}
    val root = new Path(live)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val geo = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(partPrefix))
      .map { d =>
        val files = fs.listStatus(d.getPath).filter { f =>
          val n = f.getPath.getName
          n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
        }
        (d.getPath.getName.stripPrefix(partPrefix).toInt,
          files.length.toLong, files.map(_.getLen).sum)
      }.toSeq.toDF(partCol, "n_files", "bytes")
    spark.read.parquet(live)
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
