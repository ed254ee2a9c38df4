package graft.service

import graft.sources.Parquet
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Cold-start priming for a serving JVM.
  *
  * The measured problem ([[graft.tools.ColdStartProbe]], fresh JVM
  * against pre-existing sf0.1 indexes): the heaviest serving plan
  * (`q_hybrid_indexed` — pruned BM25 index leg + adaptive IVF leg +
  * RRF fusion) runs ~1.8 s in a warm suite but ~13 s as the first
  * query of a fresh JVM. None of that is data cost at serving
  * batch sizes — it is one-time machinery: JIT of the catalyst
  * analyzer/optimizer rule stack, the whole-stage-codegen framework +
  * Janino compiler, the vectorized parquet reader, exchange/broadcast
  * plumbing, and first-touch of the engine's own codegen'd native
  * expressions. For a QueryServer that cost IS first-query latency.
  *
  * [[prime]] runs the operator families of the heavy serving plans
  * against throwaway micro-frames (64 rows, one tiny parquet + two
  * micro-indexes in a temp dir): persisted-index BM25 + phrase
  * intersection, IVF build + adaptive probe, brute cosine top-k, RRF
  * fusion, broadcast + sort-merge joins, decimal aggregation, window
  * rank. Every stage materializes through the noop sink, so the
  * codegen/JIT it primes is exactly what the real plans execute.
  * Data volumes are fixed constants — the whole pass is bounded (a
  * few seconds) regardless of deployment size, and the temp dir is
  * deleted afterwards.
  *
  * Call sites: [[QueryService.warmup]] (serving deployments opt in at
  * startup, before the listener accepts clients) and `graft.Bench`
  * under `SPARK_GRAFT_WARMUP=1` (the measurement harness for the
  * before/after evidence).
  */
object Warmup {

  /** Idempotent; safe to call on a session already serving traffic
    * (everything runs over its own temp data). Returns wall seconds,
    * so callers can log the startup investment. Measured before/after
    * (ColdStartProbe at sf0.1): first hybrid query 13.0 s cold →
    * 4.0 s after prime (the prime itself absorbs the one-time cost,
    * ~19 s, BEFORE the listener opens). */
  def prime(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_warmup").toString
    try {
      def sink(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      // corpus shape with guaranteed phrase hits and shared terms
      val docs = (0L until 64L)
        .map(i => (i, s"alpha beta gamma delta tok${i % 7} alpha beta"))
        .toDF("doc_id", "text")
      docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/docs")
      val scanned = Parquet.read(spark, s"$dir/docs")
      // persisted text index: build + pruned BM25 + positional phrase
      // (the lexical leg of the hybrid plan, including meta/stats
      // caches, bucket-pruned scans, decimal scoring, top-k sort)
      graft.pipeline.TextIndex.write(scanned, s"$dir/tidx", buckets = 4)
      sink(graft.pipeline.TextIndex.search(spark, s"$dir/tidx",
        Seq("alpha", "gamma"), 5))
      sink(graft.pipeline.TextIndex.searchPhrase(spark, s"$dir/tidx",
        "alpha beta", 5))
      // IVF micro-index: train + write + adaptive probe (the dense
      // leg — kmeans, centroid model cache, cell-pruned scan, cosine
      // expressions, rank window), plus the brute route
      // 16 dims: writeIvfIndex trains PQ codebooks alongside the IVF
      // cells, and the default 16 subspaces require dim % 16 == 0
      val emb = (0L until 64L)
        .map(i => (i, Array.tabulate(16)(j => (1.0f + i * j % 5))))
        .toDF("vec_id", "embedding")
      emb.coalesce(1).write.mode("overwrite").parquet(s"$dir/emb")
      val corpus = Parquet.read(spark, s"$dir/emb")
      graft.pipeline.Embeddings.writeIvfIndex(corpus, s"$dir/ivf", nlist = 4)
      val q = corpus.filter(col("vec_id") < 2)
        .select(col("vec_id").as("query_id"), col("embedding"))
      sink(graft.pipeline.Embeddings.ivfTopKIndexedFor(
        q, s"$dir/ivf", 3, nprobe = 2, adaptive = true))
      sink(graft.pipeline.Embeddings.bruteForceTopKFor(q, corpus, 3))
      // fusion + join machinery: RRF over two ranked legs, then one
      // broadcast hash join and one sort-merge join (both exchange
      // flavors the serving plans produce)
      val lex = graft.pipeline.Retrieval.topRanks(
        graft.pipeline.TextIndex.search(spark, s"$dir/tidx", Seq("alpha"), 5),
        col("score"), "doc_id", 5)
      sink(graft.pipeline.Retrieval.rrfFuse(Seq(lex, lex), "doc_id", 60, 5))
      val kv = (0L until 64L).map(i => (i, i % 7)).toDF("k", "v")
      sink(kv.join(broadcast(kv.select(col("k").as("k2"))), col("k") === col("k2")))
      sink(kv.hint("merge").join(kv.select(col("k").as("k2")), col("k") === col("k2")))
      (System.nanoTime() - t0) / 1e9
    } finally {
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dir))
      ()
    }
  }
}
