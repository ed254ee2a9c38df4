package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** k× replicas of the fixture tables for the scale probes, built so
  * a probe measures SCALE and not a different problem:
  *
  *   - replica 0 is the base table, unchanged;
  *   - replica i offsets the id by i·offset, where offset is the base
  *     max id + 1 ([[nextId]]);
  *   - [[Salted]] text inserts `zqr<i>salt` after every 4 words, so
  *     word-3-shingles across replicas share (almost) no grams:
  *     cross-replica docs are NOT near-duplicates and the duplicate
  *     rate per doc matches the base corpus (10 exact clones of every
  *     doc would measure 10× the duplication density, which no real
  *     10× crawl has). Every replica mints its own bigram types, so
  *     the vocabulary grows linearly — deliberately pessimistic;
  *   - [[Heaps]] text inserts ONE shared salt type, `zqrsalt`, after
  *     every 3+i words: new bigram types saturate toward ~2·V as later
  *     replicas re-cover insertion points earlier periods paired (the
  *     coupon-collector shape of a real crawl's Heaps tail);
  *   - [[embeddings]] add a deterministic per-(id, replica, dim) offset
  *     in [−0.05, 0.05] to every component: replicas are fresh vectors
  *     from near the base distribution, not exact clones (k clones
  *     would tie every top-k rank);
  *   - documents and embeddings replicated together pass the
  *     documents' offset to both, so replicated vec_ids stay a subset
  *     of replicated doc_ids.
  *
  * Replication is one `explode(sequence(...))` pass, not a k-way
  * union (a 400-ary union is a planner stress test, not a corpus).
  * Measurement harness over replicated fixture data only — correctness
  * is the oracle gate's job at real SFs. */
object Replicas {

  sealed trait Text
  case object Salted extends Text
  case object Heaps extends Text

  /** Base max id + 1: the per-replica id stride. */
  def nextId(base: DataFrame, idCol: String): Long =
    base.agg(max(idCol)).head().getLong(0) + 1L

  private def exploded(base: DataFrame, k: Int): DataFrame =
    base.withColumn("rep", explode(sequence(lit(0), lit(k - 1))))

  private def saltedText(text: Column, rep: Column, mode: Text): Column = mode match {
    case Salted =>
      regexp_replace(text, lit("((\\S+ ){4})"), concat(lit("$1zqr"), rep, lit("salt ")))
    case Heaps =>
      regexp_replace(text, concat(lit("((\\S+ ){"), rep + 3, lit("})")), lit("$1zqrsalt "))
  }

  /** `documents` (any columns, `doc_id` and `text` among them) k×. */
  def documents(base: DataFrame, k: Int, mode: Text, offset: Long): DataFrame = {
    val rep = col("rep")
    exploded(base, k)
      .withColumn("doc_id", col("doc_id") + rep * offset)
      .withColumn("text", when(rep === 0, col("text"))
        .otherwise(saltedText(col("text"), rep, mode)))
      .drop("rep")
  }

  /** `embeddings` (`vec_id`, `embedding`) k× with per-replica jitter. */
  def embeddings(base: DataFrame, k: Int, offset: Long): DataFrame = {
    val rep = col("rep")
    // the jitter hashes the BASE vec_id: the select reads the input column
    exploded(base.select("vec_id", "embedding"), k)
      .select((col("vec_id") + rep * offset).as("vec_id"),
        when(rep === 0, col("embedding")).otherwise(
          transform(col("embedding"), (x, j) =>
            (x + ((pmod(xxhash64(col("vec_id"), rep, j), lit(2001))
              - lit(1000)).cast("double") / 20000.0)).cast("float")))
          .as("embedding"))
  }

  /** Writes `df` to `path` in `partitions` files unless a completed
    * write (`_SUCCESS`) is already there; returns `path`. */
  def cached(path: String, partitions: Int = 32)(df: => DataFrame): String = {
    val done = new org.apache.hadoop.fs.Path(s"$path/_SUCCESS")
    val fs = done.getFileSystem(
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
    if (!fs.exists(done)) {
      val out = if (partitions == 1) df.coalesce(1) else df.repartition(partitions)
      out.write.mode("overwrite").parquet(path)
    }
    path
  }
}
