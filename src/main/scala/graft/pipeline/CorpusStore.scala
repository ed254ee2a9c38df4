package graft.pipeline

import graft.sources.Parquet
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mutable corpus of record: a bucket-partitioned document store with
  * a generation-swapped MERGE — the "refresh the crawl snapshot"
  * operation of a training-data pipeline (upsert recrawled pages,
  * delete taken-down ones) without ever rewriting the whole corpus.
  *
  * Layout: `dir/corpus[_v<N>]/bucket=<b>/` parquet with bucket =
  * pmod(doc_id, buckets), generation-swapped by [[Stores]].
  *
  * Scale stance of [[merge]], the point of the layout:
  *   - the CHANGE SET decides the work, not the corpus size: changed
  *     doc_ids map to buckets, only those bucket partitions are
  *     rewritten (partition-pruned scan of the live generation);
  *     untouched buckets carry into the new generation by raw file
  *     copy — no read, no decode, no shuffle;
  *   - the rewrite's anti-join keys on the change set, which is
  *     micro-batch-sized — it broadcasts, so corpus rows never
  *     shuffle ([[mergedBuckets]] is PlanSpec-pinned shuffle-free on
  *     the corpus side).
  *
  * Precedence: deletes apply first, upserts win — a doc_id in both
  * sets ends up at its upserted text, the semantics of "the recrawl
  * saw the page again after the takedown was filed".
  *
  * (The reference's storage layer is write-once query results —
  * /root/reference/src/handlers/operator_handlers/materialize_tasks/
  * materialize_files_task.rs:68-170 — with no update path at all;
  * corpus mutation is part of the training-data widening, not a
  * ported surface.)
  */
object CorpusStore {

  /** Write the base generation: `docs` (doc_id, text, ...) bucketed by
    * pmod(doc_id, buckets). The pre-write repartition aligns tasks
    * with buckets so the store starts at one file per bucket. */
  def write(docs: DataFrame, dir: String, buckets: Int = 32): Unit = {
    require(buckets >= 1, s"buckets $buckets must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    Seq(buckets).toDF("buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    // a fresh base is authoritative: drop prior generations or readers
    // would resolve a stale committed corpus_v<N> over the new base
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.listStatus(p).map(_.getPath)
      .filter(_.getName.startsWith("corpus"))
      .foreach(q => fs.delete(q, true))
    docs.withColumn("bucket", pmod(col("doc_id"), lit(buckets.toLong)).cast("int"))
      .repartition(buckets, col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/corpus")
  }

  /** Live generation path (highest committed `corpus_v<N>`, else the
    * base `corpus`). */
  def live(spark: SparkSession, dir: String): String =
    Stores.liveGeneration(spark, dir, "corpus")

  /** The live corpus, without the layout column. */
  def read(spark: SparkSession, dir: String): DataFrame =
    Parquet.read(spark, live(spark, dir)).drop("bucket")

  /** Generations still on disk, ascending (version, path). With the
    * one-cycle grace retention that is at most two: the replaced
    * generation and the live one — the store's bounded time-travel
    * window. */
  def generations(spark: SparkSession, dir: String): Seq[(Int, String)] =
    Stores.generations(spark, dir, "corpus")

  /** Time travel: the corpus as of generation `asOf` (Delta/Iceberg
    * `VERSION AS OF`, under this store's retention). Every [[merge]]
    * bumps the version and keeps exactly one grace generation, so
    * `asOf = live - 1` is readable until the next merge; anything
    * older fails loud rather than serving a silently wrong (pruned)
    * snapshot.
    *
    * Concurrency caveat: the single-writer contract serializes
    * WRITERS, not readers against retention pruning. A merge
    * committing between this generation resolution and the job's
    * execution deletes the grace directory out from under a lazy
    * plan over it — the scan then fails with FileNotFound (loud,
    * never wrong results). Callers reading the grace generation must
    * either coordinate with the maintenance cadence (read in a
    * maintenance-quiet window) or materialize/collect promptly after
    * resolving; the live generation is immune (it survives at least
    * one further cycle as grace). */
  def readAsOf(spark: SparkSession, dir: String, asOf: Int,
               resolved: Option[Seq[(Int, String)]] = None): DataFrame = {
    // `resolved` lets a caller that already listed the generations
    // (e.g. the read_store TVF's layout guard) reuse that one listing
    // instead of paying a second directory scan per plan
    val gens = resolved.getOrElse(generations(spark, dir))
    gens.find(_._1 == asOf) match {
      case Some((_, path)) => Parquet.read(spark, path).drop("bucket")
      case None => throw new IllegalArgumentException(
        s"[GENERATION_PRUNED] generation $asOf of $dir is not on disk; " +
          s"available: ${gens.map(_._1).mkString(",")} (retention keeps one grace cycle)")
    }
  }

  /** MERGE semantics over already-bucket-scoped frames — the pure
    * transformation [[merge]] writes and PlanSpec pins: survivors =
    * base minus changed ids, plus upserts. Anti-join keys are the
    * micro-batch-sized change set, so the corpus side broadcasts
    * against it and never shuffles. */
  private[graft] def mergedBuckets(base: DataFrame, upserts: DataFrame,
                                   deletes: DataFrame): DataFrame = {
    // broadcast by CONTRACT, not by estimate: the change set is
    // micro-batch-sized (a recrawl delta), and the hint guarantees the
    // 100 TB corpus side never shuffles even when stats misestimate
    val changedIds = broadcast(upserts.select("doc_id")
      .unionByName(deletes.select("doc_id")).distinct())
    base.join(changedIds, Seq("doc_id"), "left_anti")
      .unionByName(upserts, allowMissingColumns = false)
  }

  /** Partial-rewrite MERGE into the live generation: upsert `upserts`
    * (doc_id, text, ... — full replacement rows), delete `deletes`
    * (doc_id). Returns (buckets rewritten, buckets carried). Work is
    * O(touched buckets + change set): the touched buckets are
    * re-derived by a partition-pruned scan anti-joined against the
    * broadcast change set, every other bucket carries through the
    * [[Stores.swapGeneration]]. A merge touching no bucket still
    * commits an all-carry generation. */
  def merge(spark: SparkSession, dir: String,
            upserts: DataFrame, deletes: DataFrame): (Int, Int) = {
    val buckets = Parquet.read(spark, s"$dir/meta").head().getAs[Int]("buckets")
    val liveDir = live(spark, dir)
    val withBucket = (df: DataFrame) => df.withColumn("bucket",
      pmod(col("doc_id"), lit(buckets.toLong)).cast("int"))
    val up = withBucket(upserts)
    val del = withBucket(deletes.select("doc_id"))
    // Bounded collect: ≤ buckets ints — the partition-pruning literals
    // that scope every read and write below to the touched buckets.
    val touched: Array[Int] = up.select("bucket").unionByName(del.select("bucket"))
      .distinct().collect().map(_.getInt(0))
    val (rewrite, carry) =
      Stores.partitions(spark, liveDir, "bucket=").partition(b => touched.contains(b._1))
    Stores.swapGeneration(spark, dir, "corpus", liveDir, carry.map(_._2)) { next =>
      if (touched.nonEmpty) {
        // a change set may touch a bucket the store has no partition
        // for yet (first insert hashing there) — the pruned scan just
        // reads empty for it and the write creates it
        val base = Parquet.read(spark, liveDir)
          .filter(col("bucket").isin(touched.toIndexedSeq: _*))
        mergedBuckets(base, up.select(base.columns.map(col).toIndexedSeq: _*), del)
          .repartition(touched.length, col("bucket"))
          .write.mode("append").partitionBy("bucket").parquet(next)
      }
    }
    (rewrite.length, carry.length)
  }
}
