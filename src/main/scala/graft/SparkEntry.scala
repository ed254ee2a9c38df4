package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Driver contract — one `queries` entry (+ DuckDB `oracleSql`) per
  * operator from SURVEY.md §2.
  *
  * Naming: q_* = SQL-surface operators ([R] reference parity + [G]
  * declared gaps); dedup_* / ann_* / text_* / mm_* = the
  * training-data-pipeline extensions.
  *
  * Determinism rules (so the DuckDB hash compare is exact):
  *  - every query ORDER BYs a non-null unique key prefix;
  *  - double aggregates go through DECIMAL(18,4) (exact, associative)
  *    and back to double — Spark's partial-agg ordering and DuckDB's
  *    sequential sum then agree bit-for-bit;
  *  - integer-ish function results are cast to BIGINT on the Spark side
  *    to match DuckDB's natural return types.
  */
object SparkEntry {
  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Engine.table(s, dir, name)

  /** Exact, order-insensitive sum of a double expression. */
  private def dsum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast("decimal(18,4)")).cast("double")

  /** Persisted IVF index per testdata dir, built lazily once per JVM
    * (the production shape: index built offline, queries read the
    * partitioned layout). Deterministic — same corpus trains the same
    * quantizer — so build-now vs build-earlier is observationally
    * identical. Keyed by the source dir; like the quantizer cache,
    * rewriting the same path in-place in one long-lived session would
    * serve a stale index (clear the tmp dir in that case). */
  private val ivfIndexDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val annQueryDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** External-query batch fixture for q_sql_ann_many: the first 10
    * embeddings re-keyed into a disjoint query-id space (the serving
    * shape — fresh application vectors arriving as a parquet batch). */
  private def annQueriesDir(s: SparkSession, d: String): String =
    annQueryDirs.computeIfAbsent(d, dir => {
      val f = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_annq_" + Integer.toHexString(dir.hashCode))
      if (f.exists()) org.apache.hadoop.fs.FileUtil.fullyDelete(f)
      Engine.table(s, dir, "embeddings").filter(col("vec_id") < 10)
        .select((col("vec_id") + 999000L).as("query_id"), col("embedding"))
        .coalesce(1).write.parquet(f.getAbsolutePath)
      f.getAbsolutePath
    })
  /** Allow-list fixture for q_sql_ann_filtered: the vec_id%3==0 ids
    * as a one-column parquet — the arriving-files shape of a
    * tenant/language scope (the same predicate ann_ivf_filtered
    * derives in-query, so the oracle never reads the fixture). */
  private val annFilterDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def annFilterDir(s: SparkSession, d: String): String =
    annFilterDirs.computeIfAbsent(d, dir => {
      val f = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_annf_" + Integer.toHexString(dir.hashCode))
      if (f.exists()) org.apache.hadoop.fs.FileUtil.fullyDelete(f)
      Engine.table(s, dir, "embeddings").filter(col("vec_id") % 3 === 0)
        .select("vec_id").coalesce(1).write.parquet(f.getAbsolutePath)
      f.getAbsolutePath
    })

  private val searchQueryDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val phraseQueryDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** External-query batch fixtures for q_sql_search_many /
    * q_sql_phrase_many: (query_id, query) parquets — the serving
    * shape for application query batches arriving as files. Contents
    * are fixed so the DuckDB oracles can restate them as VALUES. */
  private def queryBatchDir(map: java.util.concurrent.ConcurrentHashMap[String, String],
                            tag: String, s: SparkSession, d: String,
                            rows: Seq[(Long, String)]): String =
    map.computeIfAbsent(d, dir => {
      import s.implicits._
      val f = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_${tag}_" + Integer.toHexString(dir.hashCode))
      if (f.exists()) org.apache.hadoop.fs.FileUtil.fullyDelete(f)
      rows.toDF("query_id", "query").coalesce(1).write.parquet(f.getAbsolutePath)
      f.getAbsolutePath
    })
  private def searchQueriesDir(s: SparkSession, d: String): String =
    queryBatchDir(searchQueryDirs, "searchq", s, d, Seq(
      1L -> "spark join", 2L -> "window hash scan", 3L -> "zzz_absent_term"))
  private def phraseQueriesDir(s: SparkSession, d: String): String =
    queryBatchDir(phraseQueryDirs, "phraseq", s, d, Seq(
      1L -> "table scan", 2L -> "hash join", 3L -> "zzz absent"))

  /** Batch fixture for q_sql_neardup_batch: the SAME re-labeled batch
    * dedup_band_incr probes (doc_id%11, +500000) written as a parquet —
    * the TVF's batch argument is a path, the arriving-files serving
    * shape. */
  private val dedupBatchDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def dedupBatchDir(s: SparkSession, d: String): String =
    dedupBatchDirs.computeIfAbsent(d, dir => {
      val f = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_dedupb_" + Integer.toHexString(dir.hashCode))
      if (f.exists()) org.apache.hadoop.fs.FileUtil.fullyDelete(f)
      Engine.table(s, dir, "documents").filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 500000).as("doc_id"), col("text"))
        .coalesce(1).write.parquet(f.getAbsolutePath)
      f.getAbsolutePath
    })

  /** Two-corpus fixtures for the corpus_decontam TVF: the SAME
    * doc_id%10 train/eval split q_decontam derives in-query, written
    * as separate parquets — the TVF's contract is two paths (the
    * arriving-files shape: the eval set usually isn't a column
    * predicate on the training corpus). Train keeps lang so the
    * report mode can group. */
  private val decontamDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def decontamFixtureDir(s: SparkSession, d: String): String =
    decontamDirs.computeIfAbsent(d, dir => {
      val f = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_decontam_" + Integer.toHexString(dir.hashCode))
      if (f.exists()) org.apache.hadoop.fs.FileUtil.fullyDelete(f)
      val docs = Engine.table(s, dir, "documents")
      docs.filter(col("doc_id") % 10 =!= 0).select("doc_id", "text", "lang")
        .coalesce(1).write.parquet(s"${f.getAbsolutePath}/train")
      docs.filter(col("doc_id") % 10 === 0).select("doc_id", "text")
        .coalesce(1).write.parquet(s"${f.getAbsolutePath}/eval")
      f.getAbsolutePath
    })

  /** Batch fixture for q_sql_hybrid_many: (query_id, query, embedding)
    * rows — the serving shape for hybrid query batches arriving as
    * files. Texts are fixed so the DuckDB oracle can restate them as
    * VALUES; embeddings are the stored vectors of vec_id 1..3 (so the
    * oracle reads them from the embeddings table). query_id 3's term
    * is absent from the corpus — its fusion must be dense-leg-only. */
  private val hybridQueryDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def hybridQueriesDir(s: SparkSession, d: String): String =
    hybridQueryDirs.computeIfAbsent(d, dir => {
      import s.implicits._
      val f = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_hybridq_" + Integer.toHexString(dir.hashCode))
      if (f.exists()) org.apache.hadoop.fs.FileUtil.fullyDelete(f)
      val texts = Seq(1L -> "spark join", 2L -> "window hash scan",
        3L -> "zzz_absent_term").toDF("query_id", "query")
      val vecs = Engine.table(s, dir, "embeddings")
        .filter(col("vec_id").isin(1L, 2L, 3L))
        .select(col("vec_id").as("query_id"), col("embedding"))
      texts.join(vecs, "query_id")
        .coalesce(1).write.parquet(f.getAbsolutePath)
      f.getAbsolutePath
    })

  /** Synthetic-PII corpus fixture for the corpus_quality TVF's redact
    * mode: the SAME deterministic doc_id-derived PII q_pii_redact
    * appends in-query, materialized as the fixture's `text` column —
    * so the redaction is exercised on text that actually contains
    * PII and the q_pii_redact oracle body pins both surfaces. */
  private val piiDocsDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def piiDocsDir(s: SparkSession, d: String): String =
    piiDocsDirs.computeIfAbsent(d, dir => {
      val f = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_piidocs_" + Integer.toHexString(dir.hashCode))
      if (f.exists()) org.apache.hadoop.fs.FileUtil.fullyDelete(f)
      Engine.table(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("text"),
            lit(" contact user"), col("doc_id"), lit("@mail.example.com or +1-555-"),
            lpad(pmod(col("doc_id") * 7, lit(10000)).cast("string"), 4, "0"),
            lit(" from 10."), pmod(col("doc_id"), lit(256)).cast("string"), lit(".0.1")).as("text"))
        .coalesce(1).write.parquet(f.getAbsolutePath)
      f.getAbsolutePath
    })

  /** "New snapshot" fixture for the corpus_diff TVF: the SAME derived
    * corpus q_corpus_diff builds in-query (every 13th doc dropped,
    * every 7th rewritten), written as a parquet — so the expected
    * per-source added/removed/kept counts are exact by construction
    * and ONE DuckDB body oracles both surfaces. */
  private val diffNewDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def diffNewDir(s: SparkSession, d: String): String =
    diffNewDirs.computeIfAbsent(d, dir => {
      val f = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_diffnew_" + Integer.toHexString(dir.hashCode))
      if (f.exists()) org.apache.hadoop.fs.FileUtil.fullyDelete(f)
      Engine.table(s, dir, "documents").filter(col("doc_id") % 13 =!= 0)
        .select(col("source"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")).as("text"))
        .coalesce(1).write.parquet(f.getAbsolutePath)
      f.getAbsolutePath
    })

  /** The deterministic tmpdir path of the shared IVF fixture for
    * `sfDir` — ONE derivation serving both the builder below and the
    * drift oracle's direct DuckDB read (oracleSql), so a naming-scheme
    * change can never desynchronize the two into reading different
    * directories. */
  private def ivfIndexPath(sfDir: String): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      "graft_ivf_" + Integer.toHexString(sfDir.hashCode)).getAbsolutePath

  private def ivfIndexDir(s: SparkSession, d: String): String =
    ivfIndexDirs.computeIfAbsent(d, dir => {
      val out = ivfIndexPath(dir)
      pipeline.Embeddings.writeIvfIndex(Engine.table(s, dir, "embeddings"), out)
      out
    })

  /** Media parquet fixture for q_sql_media_dedup: the documents table
    * through [[pipeline.Multimodal.asMediaTable]] (payload = UTF-8
    * bytes of text) PLUS planted near-duplicates — every doc_id%17==0
    * payload re-labeled +700000 with its first byte flipped to 'x'
    * (the fixture texts never have distinct phashes within hamming 7,
    * so without planted dups the dedup truth would be vacuously
    * empty). The perturbation is SQL-restatable, so the DuckDB oracle
    * rebuilds the identical corpus. */
  private val mediaDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def mediaTableDir(s: SparkSession, d: String): String =
    mediaDirs.computeIfAbsent(d, dir => {
      val f = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_media_" + Integer.toHexString(dir.hashCode))
      if (f.exists()) org.apache.hadoop.fs.FileUtil.fullyDelete(f)
      val docs = Engine.table(s, dir, "documents")
      val dups = docs.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 700000).as("doc_id"),
          concat(lit("x"), expr("substring(text, 2)")).as("text"),
          col("source"))
      pipeline.Multimodal.asMediaTable(
          docs.select("doc_id", "text", "source").unionByName(dups))
        .write.parquet(f.getAbsolutePath)
      f.getAbsolutePath
    })

  /** Ids deleted by the ann_ivf_delete lifecycle query: one query
    * vector (3 < 10) and two corpus vectors — fixed so the DuckDB
    * oracle can restate the surviving query set. All exist at every
    * fixture SF (embeddings has ≥500 rows). */
  private val IvfDeletedIds: Seq[Long] = Seq(3L, 100L, 101L)

  /** Index for ann_ivf_delete: a SEPARATE layout from [[ivfIndexDir]]
    * (the shared index must stay undeleted for the other ann_* rows)
    * that exercises the full delete lifecycle before first read —
    * corpus deletes physically purged by compaction, then a query
    * delete live as a tombstone, so the read path crosses both the
    * purge and the anti-join. */
  private val ivfDeleteDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def ivfDeleteIndexDir(s: SparkSession, d: String): String =
    ivfDeleteDirs.computeIfAbsent(d, dir => {
      val outFile = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_ivf_del_" + Integer.toHexString(dir.hashCode))
      val out = outFile.getAbsolutePath
      // Wipe any previous JVM run's layout: unlike the plain shared
      // index (overwrite-only), this one accretes compaction
      // generations and tombstones, and liveCorpusDir would prefer a
      // STALE committed corpus_v1 over a freshly rewritten corpus.
      if (outFile.exists())
        org.apache.hadoop.fs.FileUtil.fullyDelete(outFile)
      pipeline.Embeddings.writeIvfIndex(Engine.table(s, dir, "embeddings"), out)
      pipeline.Embeddings.deleteFromIvfIndex(s, out, IvfDeletedIds.tail)
      pipeline.Embeddings.compactIvfIndex(s, out, maxFilesPerCell = 4)
      pipeline.Embeddings.deleteFromIvfIndex(s, out, IvfDeletedIds.take(1))
      out
    })

  /** Band index for dedup_band_incr: the persisted MinHash-LSH layout
    * built over the full documents corpus, memoized per testdata dir
    * (same offline-build stance as [[ivfIndexDir]]). */
  private val bandIndexDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def bandIndexDir(s: SparkSession, d: String): String =
    bandIndexDirs.computeIfAbsent(d, dir => {
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_band_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
      pipeline.TextDedup.writeBandIndex(
        Engine.table(s, dir, "documents").select(col("doc_id"), col("text")), out)
      out
    })

  /** Bucketed orders/lineitem pair for q_bucketed_join — the
    * write-once layout investment that makes every later join on the
    * order key exchange-free. Keyed by (session, dir): the bucket
    * spec lives in the session catalog, so a fresh session must
    * re-register even if the files survive. */
  private val bucketedDirs = new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private def bucketedPair(s: SparkSession, d: String): (String, String) =
    bucketedDirs.computeIfAbsent(
      Integer.toHexString(System.identityHashCode(s)) + ":" + d, _ => {
        val suffix = "_" + Integer.toHexString(d.hashCode)
        val base = new java.io.File(sys.props("java.io.tmpdir"),
          "graft_bkt" + suffix).getAbsolutePath
        sources.Bucketing.coLocatedOrdersLineitem(s, d, base, nBuckets = 8, suffix)
      })

  /** Mutable corpus store for q_corpus_merge: base generation from
    * `documents`, then ONE deterministic merge (recrawl updates +
    * fresh inserts + takedown deletes) applied before first read.
    * Wiped per JVM like [[ivfDeleteIndexDir]] — the store accretes
    * generations, and a previous run's committed corpus_v1 would
    * otherwise shadow a fresh base. */
  private val corpusStoreDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def corpusStoreDir(s: SparkSession, d: String): String =
    corpusStoreDirs.computeIfAbsent(d, dir => {
      val f = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_cstore_" + Integer.toHexString(dir.hashCode))
      if (f.exists()) org.apache.hadoop.fs.FileUtil.fullyDelete(f)
      val out = f.getAbsolutePath
      val docs = Engine.table(s, dir, "documents").select(col("doc_id"), col("text"))
      pipeline.CorpusStore.write(docs, out, buckets = 16)
      val up = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"), concat(lit("UPDATED "), col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 103 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            concat(lit("NEW "), col("text")).as("text")))
      val del = docs.filter(col("doc_id") % 101 === 0).select("doc_id")
      pipeline.CorpusStore.merge(s, out, up, del)
      out
    })

  /** Inverted text index for q_bm25_indexed: built over half the
    * documents and APPENDED the other half, so the oracled query
    * exercises the incremental path — build + append must serve
    * identically to the corpus-scan BM25 over the full table. */
  private val textIndexDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def textIndexDir(s: SparkSession, d: String): String =
    textIndexDirs.computeIfAbsent(d, dir => {
      val f = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_tidx_" + Integer.toHexString(dir.hashCode))
      if (f.exists()) org.apache.hadoop.fs.FileUtil.fullyDelete(f)
      val out = f.getAbsolutePath
      val docs = Engine.table(s, dir, "documents").select(col("doc_id"), col("text"))
      pipeline.TextIndex.write(docs.filter(col("doc_id") % 2 === 0), out)
      pipeline.TextIndex.append(docs.filter(col("doc_id") % 2 === 1), out)
      out
    })

  /** Fine-blocked text index for q_bm25_maxscore: blockSize 4 spreads
    * the fixture corpus's common terms across many impact blocks, so
    * the forced MaxScore route genuinely SKIPS blocks at oracle scale
    * (the query REQUIRES the pruned route — a silent fallback to
    * exhaustive would fail loud, not pass vacuously). Build half +
    * append half like the main text fixture, so block-0 is a merged
    * multi-delta block. */
  private val maxScoreIndexDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def maxScoreIndexDir(s: SparkSession, d: String): String =
    maxScoreIndexDirs.computeIfAbsent(d, dir => {
      val f = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_tidxms_" + Integer.toHexString(dir.hashCode))
      if (f.exists()) org.apache.hadoop.fs.FileUtil.fullyDelete(f)
      val out = f.getAbsolutePath
      val docs = Engine.table(s, dir, "documents").select(col("doc_id"), col("text"))
      pipeline.TextIndex.write(docs.filter(col("doc_id") % 2 === 0), out, blockSize = 4)
      pipeline.TextIndex.append(docs.filter(col("doc_id") % 2 === 1), out)
      out
    })

  /** Zone-map fixture for q_zonemap: a 16-file range-partitioned copy
    * of lineitem (the multi-file layout the single-file testdata
    * cannot provide — file-level skipping needs files to skip) plus
    * its min/max manifest on l_shipdate. The copy holds the exact
    * same rows, so the DuckDB oracle runs the interval filter on the
    * original table. */
  private val zoneMapDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def zoneMapDir(s: SparkSession, d: String): String =
    zoneMapDirs.computeIfAbsent(d, dir => {
      val f = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_zmap_" + Integer.toHexString(dir.hashCode))
      if (f.exists()) org.apache.hadoop.fs.FileUtil.fullyDelete(f)
      val out = f.getAbsolutePath
      val li = Engine.table(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_shipdate")
      // built in two steps so the ORACLED read exercises the
      // incremental maintenance path, not just the full build: base
      // files + manifest, then appended files reconciled by update()
      li.filter(col("l_orderkey") % 2 === 0)
        .repartitionByRange(8, col("l_shipdate"))
        .write.mode("overwrite").parquet(s"$out/table")
      sources.ZoneMaps.write(s, s"$out/table", s"$out/manifest", Seq("l_shipdate"))
      li.filter(col("l_orderkey") % 2 === 1)
        .repartitionByRange(8, col("l_shipdate"))
        .write.mode("append").parquet(s"$out/table")
      sources.ZoneMaps.update(s, s"$out/table", s"$out/manifest")
      out
    })

  /** Force-builds the per-dir index fixtures the ann_* queries read —
    * the production shape is an index built OFFLINE, so Bench calls
    * this before its timed loop and the build cost never bills to
    * whichever ann_* query happens to run first (round-10 bench drift
    * cause: the ivfDeleteIndexDir wipe+delete+compact lifecycle ran
    * inside the first timed ann_ivf_delete rep). Results are
    * identical either way: the builders are deterministic and
    * memoized per (JVM, dir). */
  private[graft] def prepareIndexFixtures(s: SparkSession, d: String): Unit = {
    ivfIndexDir(s, d)
    ivfDeleteIndexDir(s, d)
    bandIndexDir(s, d)
    bucketedPair(s, d)
    corpusStoreDir(s, d)
    textIndexDir(s, d)
    maxScoreIndexDir(s, d)
    zoneMapDir(s, d)
    dedupBatchDir(s, d)
    // the external-query batch parquets too: tiny writes, but each is
    // a Spark job, and lazily building them inside the first timed
    // q_sql_*_many rep billed fixture cost onto the query (the r13
    // bench regression's suite-pollution vector)
    annQueriesDir(s, d)
    searchQueriesDir(s, d)
    phraseQueriesDir(s, d)
    decontamFixtureDir(s, d)
    diffNewDir(s, d)
    piiDocsDir(s, d)
    hybridQueriesDir(s, d)
    mediaTableDir(s, d)
    ()
  }

  /** Forget (and delete) every per-JVM index fixture, so the next
    * [[prepareIndexFixtures]] re-runs each build/append/delete/compact
    * lifecycle from scratch. Used by [[ClusterCheck]]: the multi-JVM
    * validation must exercise the index WRITE paths under
    * `local-cluster`, not just read layouts a `local[n]` session built
    * earlier in the same process. */
  private[graft] def resetFixtureMemo(): Unit = {
    Seq(ivfIndexDirs, ivfDeleteDirs, bandIndexDirs, corpusStoreDirs,
        textIndexDirs, maxScoreIndexDirs, zoneMapDirs, annQueryDirs,
        searchQueryDirs, phraseQueryDirs, dedupBatchDirs,
        decontamDirs, diffNewDirs, piiDocsDirs, hybridQueryDirs).foreach { m =>
      m.values().forEach(d =>
        org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(d)))
      m.clear()
    }
    // bucketed tables: files are replaced via DROP TABLE + Overwrite on
    // rebuild, and the catalog entry dies with the session — just forget
    bucketedDirs.clear()
  }

  /** Committed unsigned/float16 parquet fixture (generated by
    * tools/make_unsigned_fixture.py; see WidenedParquet). Resolved
    * against the repo root the driver runs sbt from, absolute so the
    * DuckDB oracle — which may run from any cwd — reads the same
    * bytes. */
  private[graft] val UnsignedFixture: String =
    new java.io.File("src/test/resources/unsigned.parquet").getAbsolutePath

  /** DuckDB restatement of the widened read: unsigned columns cast to
    * the same widened types WidenedParquet produces, and the FLOAT16
    * blob (DuckDB 1.0 surfaces the logical type it doesn't know as a
    * 2-byte BLOB) decoded to float IN SQL — hex → little-endian bits →
    * sign/exponent/mantissa → value. An independent decode of the same
    * bytes, not a restatement of the fixture generator. (e=31 Inf/NaN
    * omitted: the fixture has none; HalfToFloat's unit spec covers
    * those patterns.) */
  private val duckUnsignedBase: String =
    "WITH raw AS (SELECT id, CAST(u8 AS SMALLINT) AS u8, CAST(u16 AS INTEGER) AS u16, " +
      "CAST(u32 AS BIGINT) AS u32, CAST(u64 AS DECIMAL(20,0)) AS u64, hex(f16) AS h " +
      s"FROM read_parquet('$UnsignedFixture')), " +
      "bb AS (SELECT *, (strpos('0123456789ABCDEF', h[3])-1)*4096 + " +
      "(strpos('0123456789ABCDEF', h[4])-1)*256 + " +
      "(strpos('0123456789ABCDEF', h[1])-1)*16 + " +
      "(strpos('0123456789ABCDEF', h[2])-1) AS bits FROM raw), " +
      "vv AS (SELECT *, CASE WHEN bits >= 32768 THEN -1.0 ELSE 1.0 END AS sgn, " +
      "(bits // 1024) % 32 AS e, bits % 1024 AS m FROM bb), " +
      "w AS (SELECT id, u8, u16, u32, u64, " +
      "CAST(CASE WHEN e = 0 THEN sgn * m * power(2.0, -24) " +
      "ELSE sgn * power(2.0, e - 15) * (1.0 + m / 1024.0) END AS FLOAT) AS f16 FROM vv) "

  /** Shared DuckDB restatement of [[pipeline.TextAnalysis.qualityScore]]
    * — text_quality reads it directly; q_sql_quality serves the same
    * operator through the corpus_quality TVF, so both keys answer to
    * ONE oracle body (two surfaces, one truth). */
  private val DuckTextQuality: String =
    "WITH t AS (SELECT doc_id, text, " +
      "regexp_split_to_array(trim(lower(text)), '\\s+') AS w, " +
      "CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct, " +
      "CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), " +
      "t -> t IN ('the','and','of','to','in','is','a','that'))) AS DOUBLE) AS stop FROM documents) " +
      "SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, " +
      "punct / length(text) AS punct_ratio, " +
      "stop / len(w) AS stop_ratio, " +
      "least(len(w) / 256.0, 1.0) * (1.0 - punct / length(text)) * " +
      "(0.5 + 0.5 * least(4.0 * stop / len(w), 1.0)) AS quality " +
      "FROM t ORDER BY doc_id"

  /** Shared DuckDB restatement of [[pipeline.TextAnalysis.languageId]]
    * — text_langid directly, q_sql_langid through the TVF. */
  private val DuckTextLangid: String =
    "WITH t AS (SELECT doc_id, lang, " +
      "regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents), " +
      "sc AS (SELECT doc_id, lang AS actual_lang, " +
      "CAST(len(list_filter(w, x -> x IN ('the','and','of','is','a'))) AS BIGINT) AS score_en, " +
      "CAST(len(list_filter(w, x -> x IN ('le','la','et','les','des'))) AS BIGINT) AS score_fr, " +
      "CAST(len(list_filter(w, x -> x IN ('der','die','und','das','ein'))) AS BIGINT) AS score_de, " +
      "CAST(len(list_filter(w, x -> x IN ('el','los','que','y','una'))) AS BIGINT) AS score_es, " +
      "CAST(len(list_filter(w, x -> x IN ('的','是','在','了','和'))) AS BIGINT) AS score_zh " +
      "FROM t) " +
      "SELECT doc_id, actual_lang, score_en, score_fr, score_de, score_es, score_zh, " +
      "CASE WHEN score_en >= score_fr AND score_en >= score_de AND score_en >= score_es AND score_en >= score_zh THEN 'en' " +
      "WHEN score_fr >= score_de AND score_fr >= score_es AND score_fr >= score_zh THEN 'fr' " +
      "WHEN score_de >= score_es AND score_de >= score_zh THEN 'de' " +
      "WHEN score_es >= score_zh THEN 'es' ELSE 'zh' END AS predicted_lang " +
      "FROM sc ORDER BY doc_id"

  /** Shared DuckDB restatement of [[pipeline.TextAnalysis.tokenCounts]]
    * — text_tokens directly, q_sql_tokens through the TVF. */
  private val DuckTextTokens: String =
    "SELECT doc_id, " +
      "CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT) AS n_ws_tokens, " +
      "CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_re_tokens, " +
      "CAST(length(text) AS DOUBLE) / len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS chars_per_token " +
      "FROM documents ORDER BY doc_id"

  /** Shared DuckDB restatement of [[pipeline.TextAnalysis.fingerprint]]
    * — text_fingerprint directly, q_sql_fingerprint through the TVF. */
  private val DuckTextFingerprint: String =
    "SELECT doc_id, " +
      "list_reduce(list_prepend(0, list_transform(regexp_split_to_array(text, ''), " +
      "c -> unicode(c)::BIGINT)), (acc, c) -> (acc * 31 + c) % 1000000007) AS fp " +
      "FROM documents ORDER BY doc_id"

  /** Shared DuckDB restatements of the [[pipeline.CorpusOps]] mix
    * family — each read directly by its Scala-surface key and by the
    * corpus_mix TVF's q_sql_* twin (two surfaces, one truth). */
  private val DuckTempMix: String =
    "WITH w AS (SELECT lang, COUNT(*) AS n_docs, " +
      "CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total FROM documents GROUP BY lang), " +
      "f AS (SELECT lang, n_docs, CAST(n_docs AS DOUBLE) / total AS frac FROM w), " +
      "s AS (SELECT lang, n_docs, frac, CAST(sqrt(frac) AS DECIMAL(18,12)) AS s FROM f), " +
      "z AS (SELECT *, SUM(s) OVER () AS z FROM s) " +
      "SELECT lang, CAST(n_docs AS BIGINT) AS n_docs, frac, " +
      "CAST(s AS DOUBLE) / CAST(z AS DOUBLE) / frac AS weight FROM z ORDER BY lang"

  private val DuckResample: String =
    "WITH w AS (SELECT lang, COUNT(*) AS n_docs, " +
      "CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total, COUNT(*) OVER () AS n_groups " +
      "FROM documents GROUP BY lang), " +
      "w2 AS (SELECT lang, CAST(total AS DOUBLE) / (n_groups * n_docs) AS weight FROM w), " +
      "c AS (SELECT doc_id, d.lang AS lang, " +
      "CAST(floor(weight) + CASE WHEN CAST(((doc_id % 1048576) * 2654435761) % 1048576 AS DOUBLE) < " +
      "(weight - floor(weight)) * 1048576.0 THEN 1 ELSE 0 END AS BIGINT) AS n_copies " +
      "FROM documents d JOIN w2 USING (lang)) " +
      "SELECT doc_id, lang, unnest(range(1, n_copies + 1)) AS copy_id " +
      "FROM c WHERE n_copies > 0 ORDER BY doc_id, copy_id"

  // the oracle states the permutation as ONE global row_number over
  // (hash, doc_id); the engine computes the same dense rank
  // distributed (bucket counts + broadcast offsets). Same
  // masked-multiply hash arithmetic on both sides — all values
  // nonnegative, so DuckDB % == Spark pmod.
  private val DuckShuffleRank: String =
    "WITH h AS (SELECT doc_id, " +
      "((doc_id + 7) % 1048576) * 2654435761 % 9999991 AS h FROM documents) " +
      "SELECT doc_id, CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS shuffle_rank " +
      "FROM h ORDER BY doc_id"

  private val DuckPackTokens: String =
    "WITH t AS (SELECT doc_id, " +
      "CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT) AS n_tokens FROM documents) " +
      "SELECT doc_id, n_tokens, CAST((SUM(n_tokens) OVER " +
      "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) // 4096 AS BIGINT) AS seq_id " +
      "FROM t ORDER BY doc_id"

  private val DuckTokenBudget: String =
    "WITH t AS (SELECT doc_id, lang, " +
      "CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT) AS n_tokens, " +
      "((doc_id % 1048576) * 2654435761) % 9999991 AS h FROM documents), " +
      "c AS (SELECT doc_id, lang, n_tokens, " +
      "CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens FROM t) " +
      "SELECT doc_id, lang, n_tokens, cum_tokens FROM c " +
      "WHERE cum_tokens <= 2000 ORDER BY doc_id"

  /** Shared DuckDB restatement of the PII scrub over the synthetic-PII
    * text — q_pii_redact (PII appended in-query) and the corpus_quality
    * TVF's q_sql_redact twin (same PII materialized in the fixture
    * parquet) answer to this one body. */
  private val DuckPiiRedact: String =
    "SELECT doc_id, " +
      "regexp_replace(regexp_replace(regexp_replace(" +
      "text || ' contact user' || doc_id || '@mail.example.com or +1-555-' || " +
      "lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') || " +
      "' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1', " +
      "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
      "'\\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'), " +
      "'\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g') AS clean " +
      "FROM documents ORDER BY doc_id"

  /** Shared DuckDB restatements of the two-corpus ops — each read by
    * its Scala-surface key and by the corpus_decontam / corpus_diff /
    * corpus_mix-split TVF twin (two surfaces, one truth). The twins'
    * fixture parquets are built from the SAME doc_id predicates these
    * bodies derive in-query, so the oracle never has to see the
    * fixture files. */
  private val DuckSplit: String =
    "SELECT doc_id, lang, CASE " +
      "WHEN ((doc_id % 1048576) * 2654435761) % 100 < 90 THEN 'train' " +
      "WHEN ((doc_id % 1048576) * 2654435761) % 100 < 95 THEN 'val' " +
      "ELSE 'test' END AS split FROM documents ORDER BY doc_id"

  // Content identity: the oracle groups by raw text where the engine
  // groups by the 128-bit fingerprint — identical results barring a
  // ~2^-129 collision (the house exact-dedup argument).
  private val DuckCorpusDiff: String =
    "WITH o AS (SELECT text, min(source) AS g FROM documents GROUP BY text), " +
      "n0 AS (SELECT CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END AS text, source FROM documents WHERE doc_id % 13 <> 0), " +
      "n AS (SELECT text, min(source) AS g FROM n0 GROUP BY text), " +
      "j AS (SELECT coalesce(n.g, o.g) AS source, " +
      "CASE WHEN o.text IS NULL THEN 1 ELSE 0 END AS added, " +
      "CASE WHEN n.text IS NULL THEN 1 ELSE 0 END AS removed, " +
      "CASE WHEN o.text IS NOT NULL AND n.text IS NOT NULL THEN 1 ELSE 0 END AS kept " +
      "FROM o FULL OUTER JOIN n ON o.text = n.text) " +
      "SELECT source, CAST(SUM(added) AS BIGINT) AS n_added, " +
      "CAST(SUM(removed) AS BIGINT) AS n_removed, CAST(SUM(kept) AS BIGINT) AS n_kept " +
      "FROM j GROUP BY source ORDER BY source"

  // Decontamination: train docs (doc_id % 10 <> 0) that share NO
  // word 10-gram with the eval split (doc_id % 10 = 0). Same k-gram
  // slicing as the dedup_passages oracle.
  private val DuckDecontam: String =
    "WITH toks AS (SELECT doc_id, " +
      "regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents), " +
      "sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 8), " +
      "i -> array_to_string(w[i:i+9], ' '))) AS s FROM toks WHERE len(w) >= 10), " +
      "evg AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 10 = 0), " +
      "tr AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 10 <> 0), " +
      "bad AS (SELECT DISTINCT tr.doc_id AS doc_id FROM tr JOIN evg USING (g)) " +
      "SELECT doc_id FROM documents WHERE doc_id % 10 <> 0 " +
      "AND doc_id NOT IN (SELECT doc_id FROM bad) ORDER BY doc_id"

  private val DuckContamReport: String =
    "WITH toks AS (SELECT doc_id, lang, " +
      "regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents), " +
      "sh AS (SELECT doc_id, lang, list_distinct(list_transform(range(1, len(w) - 8), " +
      "i -> array_to_string(w[i:i+9], ' '))) AS s FROM toks WHERE len(w) >= 10), " +
      "evg AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 10 = 0), " +
      "tr AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 10 <> 0), " +
      "bad AS (SELECT DISTINCT tr.doc_id AS doc_id FROM tr JOIN evg USING (g)) " +
      "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
      "CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM bad) THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated, " +
      "CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM bad) THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS frac_contaminated " +
      "FROM documents WHERE doc_id % 10 <> 0 GROUP BY lang ORDER BY lang"

  /** Shared DuckDB restatements of the repetition/Gopher filter
    * passes — q_quality_rep/q_gopher_rep directly, the corpus_quality
    * TVF's q_sql_repetition/q_sql_gopher twins through SQL. */
  private val DuckQualityRep: String =
    "WITH t AS (SELECT doc_id, " +
      "regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents), " +
      "b AS (SELECT doc_id, w, list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS bg FROM t), " +
      "f AS (SELECT doc_id, " +
      "1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS rep_word_frac, " +
      "CAST(list_max(list_transform(list_distinct(w), x -> len(list_filter(w, y -> y = x)))) AS DOUBLE) / len(w) AS top_word_frac, " +
      "CASE WHEN len(w) >= 2 THEN " +
      "CAST(list_max(list_transform(list_distinct(bg), x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE) / (CAST(len(w) AS DOUBLE) - 1) " +
      "ELSE 0.0 END AS top_bigram_frac FROM b) " +
      "SELECT doc_id, rep_word_frac, top_word_frac, top_bigram_frac, " +
      "(top_word_frac <= 0.2 AND top_bigram_frac <= 0.18) AS keep " +
      "FROM f ORDER BY doc_id"

  private val DuckChunk: String =
    "WITH t AS (SELECT doc_id, " +
      "regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents), " +
      "c AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n, " +
      "greatest(1, (CAST(len(w) AS BIGINT) - 16 + 48 - 1) // 48) AS n_chunks FROM t) " +
      "SELECT doc_id, i AS chunk_id, " +
      "least(64, n - i * 48) AS n_chunk_tokens, " +
      "array_to_string(list_slice(w, CAST(i * 48 + 1 AS INTEGER), " +
      "CAST(i * 48 + 64 AS INTEGER)), ' ') AS chunk_text " +
      "FROM c, unnest(range(0, n_chunks)) AS u(i) ORDER BY doc_id, chunk_id"

  private val DuckGopherRep: String =
    "WITH t AS (SELECT doc_id, " +
      "regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents), " +
      "g3 AS (SELECT doc_id, list_transform(range(1, len(w)-1), " +
      "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g FROM t), " +
      "g4 AS (SELECT doc_id, list_transform(range(1, len(w)-2), " +
      "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) AS g FROM t), " +
      "e5 AS (SELECT doc_id, i AS pos, " +
      "w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4] AS gram " +
      "FROM t, unnest(range(1, len(w)-3)) AS u(i)), " +
      "d5 AS (SELECT doc_id, gram FROM e5 GROUP BY doc_id, gram HAVING count(*) >= 2), " +
      "c5 AS (SELECT DISTINCT doc_id, p FROM (SELECT e5.doc_id, " +
      "unnest(range(pos, pos+5)) AS p FROM e5 JOIN d5 USING (doc_id, gram))), " +
      "n5 AS (SELECT doc_id, count(*) AS cov FROM c5 GROUP BY doc_id), " +
      "e10 AS (SELECT doc_id, i AS pos, w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||" +
      "w[i+4]||' '||w[i+5]||' '||w[i+6]||' '||w[i+7]||' '||w[i+8]||' '||w[i+9] AS gram " +
      "FROM t, unnest(range(1, len(w)-8)) AS u(i)), " +
      "d10 AS (SELECT doc_id, gram FROM e10 GROUP BY doc_id, gram HAVING count(*) >= 2), " +
      "c10 AS (SELECT DISTINCT doc_id, p FROM (SELECT e10.doc_id, " +
      "unnest(range(pos, pos+10)) AS p FROM e10 JOIN d10 USING (doc_id, gram))), " +
      "n10 AS (SELECT doc_id, count(*) AS cov FROM c10 GROUP BY doc_id), " +
      "f AS (SELECT t.doc_id, " +
      "CASE WHEN len(t.w) >= 3 THEN CAST(list_max(list_transform(list_distinct(g3.g), " +
      "x -> len(list_filter(g3.g, y -> y = x)))) AS DOUBLE) / (len(t.w) - 2) ELSE 0.0 END AS top_3gram_frac, " +
      "CASE WHEN len(t.w) >= 4 THEN CAST(list_max(list_transform(list_distinct(g4.g), " +
      "x -> len(list_filter(g4.g, y -> y = x)))) AS DOUBLE) / (len(t.w) - 3) ELSE 0.0 END AS top_4gram_frac, " +
      "CAST(COALESCE(n5.cov, 0) AS DOUBLE) / len(t.w) AS dup_5gram_frac, " +
      "CAST(COALESCE(n10.cov, 0) AS DOUBLE) / len(t.w) AS dup_10gram_frac " +
      "FROM t JOIN g3 USING (doc_id) JOIN g4 USING (doc_id) " +
      "LEFT JOIN n5 USING (doc_id) LEFT JOIN n10 USING (doc_id)) " +
      "SELECT doc_id, top_3gram_frac, top_4gram_frac, dup_5gram_frac, dup_10gram_frac, " +
      "(top_3gram_frac <= 0.05 AND top_4gram_frac <= 0.05 AND " +
      "dup_5gram_frac <= 0.30 AND dup_10gram_frac <= 0.20) AS keep " +
      "FROM f ORDER BY doc_id"

  /** Shared DuckDB restatement of [[pipeline.TextAnalysis.lmScore]]'s
    * interpolated bigram model (the `nll` CTE) — text_lm_score reads
    * it directly, q_lm_buckets composes terciles on top. 0.0999... is
    * the double value of Scala's `1.0 - 0.9`. */
  private val LmNllCte: String =
    "WITH toks AS (SELECT doc_id, " +
      "regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents), " +
      "bg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (SELECT doc_id, " +
      "unnest(list_transform(list_slice(w, 1, len(w)-1), " +
      "(t, i) -> struct_pack(w1 := t, w2 := w[i+1]))) AS b FROM toks)), " +
      "pd AS (SELECT doc_id, w1, w2, COUNT(*) AS n FROM bg GROUP BY doc_id, w1, w2), " +
      "bc AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY w1, w2), " +
      "uni AS (SELECT u AS wd, COUNT(*) AS c FROM (SELECT unnest(w) AS u FROM toks) GROUP BY u), " +
      "tot AS (SELECT SUM(c) AS n_tot, COUNT(*) AS v FROM uni), " +
      "s AS (SELECT doc_id, n, CAST(-ln(" +
      "0.9 * (CAST(cb AS DOUBLE) + 0.5) / (CAST(u1.c AS DOUBLE) + 0.5 * CAST(v AS DOUBLE)) + " +
      "0.09999999999999998 * (CAST(u2.c AS DOUBLE) + 0.5) / (CAST(n_tot AS DOUBLE) + 0.5 * CAST(v AS DOUBLE))" +
      ") AS DECIMAL(18,12)) AS t12 " +
      "FROM pd JOIN bc USING (w1, w2) JOIN uni u1 ON pd.w1 = u1.wd " +
      "JOIN uni u2 ON pd.w2 = u2.wd, tot), " +
      "nll AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams, " +
      "CAST(SUM(CAST(n AS DECIMAL(10,0)) * t12) AS DOUBLE) AS sum_nll, " +
      "CAST(SUM(CAST(n AS DECIMAL(10,0)) * t12) AS DOUBLE) / CAST(SUM(n) AS BIGINT) AS avg_nll " +
      "FROM s GROUP BY doc_id)"

  /** Per-language sibling of [[LmNllCte]]: the langid CASE labels each
    * doc `lg`, and every count table of the bigram model gains the
    * `lg` key — within-language c(w1,w2), c(w), (N, V). Shared by
    * text_lm_lang (reads `nll`) and q_lm_buckets_lang (per-language
    * terciles on top). */
  private val LmLangNllCte: String =
    "WITH t AS (SELECT doc_id, " +
      "regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents), " +
      "sc AS (SELECT doc_id, w, " +
      "len(list_filter(w, x -> x IN ('the','and','of','is','a'))) AS score_en, " +
      "len(list_filter(w, x -> x IN ('le','la','et','les','des'))) AS score_fr, " +
      "len(list_filter(w, x -> x IN ('der','die','und','das','ein'))) AS score_de, " +
      "len(list_filter(w, x -> x IN ('el','los','que','y','una'))) AS score_es, " +
      "len(list_filter(w, x -> x IN ('的','是','在','了','和'))) AS score_zh FROM t), " +
      "dl AS (SELECT doc_id, w, " +
      "CASE WHEN score_en >= score_fr AND score_en >= score_de AND score_en >= score_es AND score_en >= score_zh THEN 'en' " +
      "WHEN score_fr >= score_de AND score_fr >= score_es AND score_fr >= score_zh THEN 'fr' " +
      "WHEN score_de >= score_es AND score_de >= score_zh THEN 'de' " +
      "WHEN score_es >= score_zh THEN 'es' ELSE 'zh' END AS lg FROM sc), " +
      "bg AS (SELECT doc_id, lg, b.w1 AS w1, b.w2 AS w2 FROM (SELECT doc_id, lg, " +
      "unnest(list_transform(list_slice(w, 1, len(w)-1), " +
      "(t, i) -> struct_pack(w1 := t, w2 := w[i+1]))) AS b FROM dl)), " +
      "pd AS (SELECT doc_id, lg, w1, w2, COUNT(*) AS n FROM bg GROUP BY doc_id, lg, w1, w2), " +
      "bc AS (SELECT lg, w1, w2, COUNT(*) AS cb FROM bg GROUP BY lg, w1, w2), " +
      "uni AS (SELECT lg, u AS wd, COUNT(*) AS c FROM (SELECT lg, unnest(w) AS u FROM dl) GROUP BY lg, u), " +
      "tot AS (SELECT lg, SUM(c) AS n_tot, COUNT(*) AS v FROM uni GROUP BY lg), " +
      "s AS (SELECT doc_id, pd.lg AS lg, n, CAST(-ln(" +
      "0.9 * (CAST(cb AS DOUBLE) + 0.5) / (CAST(u1.c AS DOUBLE) + 0.5 * CAST(v AS DOUBLE)) + " +
      "0.09999999999999998 * (CAST(u2.c AS DOUBLE) + 0.5) / (CAST(n_tot AS DOUBLE) + 0.5 * CAST(v AS DOUBLE))" +
      ") AS DECIMAL(18,12)) AS t12 " +
      "FROM pd JOIN bc USING (lg, w1, w2) JOIN uni u1 ON pd.lg = u1.lg AND pd.w1 = u1.wd " +
      "JOIN uni u2 ON pd.lg = u2.lg AND pd.w2 = u2.wd JOIN tot ON pd.lg = tot.lg), " +
      "nll AS (SELECT doc_id, lg, CAST(SUM(n) AS BIGINT) AS n_bigrams, " +
      "CAST(SUM(CAST(n AS DECIMAL(10,0)) * t12) AS DOUBLE) AS sum_nll, " +
      "CAST(SUM(CAST(n AS DECIMAL(10,0)) * t12) AS DOUBLE) / CAST(SUM(n) AS BIGINT) AS avg_nll " +
      "FROM s GROUP BY doc_id, lg)"

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    Engine.tune(spark)
    queries("q_join5")(spark, "/root/testdata/sf0.001")
  }

  // ===========================================================
  // [R] reference parity: scan / filter / projection / expressions
  // (reference: read_files_task.rs, filter_task.rs, record_projection.rs,
  //  compute_value.rs — see SURVEY.md §2.1-2.2)
  // ===========================================================
  private val parityQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_scan_star" -> ((s, d) => T(s, d, "region").orderBy("r_regionkey")),

    "q_scan_filter" -> ((s, d) =>
      T(s, d, "lineitem")
        .filter(col("l_orderkey") < 100)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")),

    "q_filter_mod" -> ((s, d) =>
      T(s, d, "orders")
        .filter(col("o_orderkey") % 2 === 0 && col("o_totalprice") > 100000)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")),

    "q_proj_arith" -> ((s, d) =>
      T(s, d, "lineitem")
        .filter(col("l_quantity") > lit(25) + lit(0.0))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          (col("l_quantity") + 10.0).as("qty_plus_10"),
          ((col("l_extendedprice") + 10) / 100).as("price_scaled"),
          (lit(1.0) / col("l_quantity")).as("inv_qty"),
          (col("l_quantity") * col("l_quantity")).as("qty_sq"))
        .orderBy("l_orderkey", "l_linenumber")),

    "q_filter_string" -> ((s, d) =>
      T(s, d, "lineitem")
        .filter(col("l_returnflag") === "A" && col("l_linestatus") =!= "O")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")
        .orderBy("l_orderkey", "l_linenumber")),

    "q_proj_bool" -> ((s, d) =>
      T(s, d, "orders")
        .select(
          col("o_orderkey"),
          ((col("o_totalprice") > 200000 || col("o_orderpriority") === "1-URGENT")
            && col("o_orderstatus") === "F").as("flag"))
        .orderBy("o_orderkey")),

    // The reference's read_files('glob') table function surface
    // (read_files_task.rs:64-115) — here through
    // graft.sources.ReadFiles.sql, the service's statement entry.
    "q_read_files" -> ((s, d) => {
      Engine.tune(s)
      sources.ReadFiles.sql(s,
        s"SELECT l_orderkey, l_linenumber, l_quantity FROM read_files('$d/lineitem.parquet') " +
          "WHERE l_orderkey < 50 ORDER BY l_orderkey, l_linenumber")
    }),

    // The same TVF through a bare spark.sql (no connection scope),
    // with an explicit format=> named argument.
    "q_read_files_tvf" -> ((s, d) =>
      s.sql(s"SELECT l_orderkey, l_linenumber, l_quantity " +
        s"FROM read_files('$d/lineitem.parquet', format=>'parquet') " +
        "WHERE l_orderkey < 50 ORDER BY l_orderkey, l_linenumber")),

    // Stable record identity from the scan (the reference's record-id
    // assignment, read_files_task.rs:156-289): rowid=>'true' exposes
    // the parquet-physical (file, row position) through Spark's
    // _metadata struct — deterministic under retries, unlike
    // monotonically_increasing_id. DuckDB restates it as
    // file_row_number, so the ids must agree byte-for-byte.
    "q_rowid" -> ((s, d) =>
      sources.ReadFiles.sql(s,
        s"SELECT l_orderkey, l_linenumber, _row_id AS row_id " +
          s"FROM read_files('$d/lineitem.parquet', rowid=>'true') " +
          "WHERE l_orderkey < 50 ORDER BY row_id")),

    // The reference's unsigned/half-float ingestion surface
    // (compute_value.rs:350-431, README.md:46-50): UInt8..UInt64 widen
    // to the next signed type that holds the range (u64 → decimal(20,0)),
    // FLOAT16 → float via the codegen'd HalfToFloatExpr — all through
    // read_files' footer route (Spark's own reader rejects FLOAT16, so
    // this exercises sources.WidenedParquet end-to-end). The filter
    // keeps only rows past a signed boundary: a sign-extension bug
    // cannot return the oracle's row set.
    // u64 presented as string (the repo's decimal-column convention:
    // the oracle bridge floats bare decimals, losing the >2^53 tail).
    "q_unsigned_scan" -> ((s, _) =>
      sources.ReadFiles.sql(s,
        s"SELECT id, u8, u16, u32, CAST(u64 AS STRING) AS u64, f16 " +
          s"FROM read_files('$UnsignedFixture') " +
          "WHERE u8 > 127 OR u16 > 32767 OR u32 > 2147483647 ORDER BY id")),

    // Aggregates over every widened type, incl. counts of rows beyond
    // each signed max (u64 > Long.MaxValue proves the decimal path).
    "q_unsigned_agg" -> ((s, _) => {
      val df = sources.Parquet.read(s, UnsignedFixture)
      df.agg(
        count(lit(1)).as("n"),
        sum(col("u8").cast("long")).as("sum_u8"),
        max(col("u8")).as("max_u8"),
        sum(col("u16").cast("long")).as("sum_u16"),
        max(col("u16")).as("max_u16"),
        sum(col("u32")).as("sum_u32"),
        max(col("u32")).as("max_u32"),
        sum(col("u64")).cast("decimal(38,0)").cast("string").as("sum_u64"),
        max(col("u64")).cast("string").as("max_u64"),
        // halves with |v| <= 24: sums are exact in double in any order
        sum(col("f16").cast("double")).as("sum_f16"),
        sum(when(col("u8") > 127, 1L).otherwise(0L)).as("n_u8_hi"),
        sum(when(col("u16") > 32767, 1L).otherwise(0L)).as("n_u16_hi"),
        sum(when(col("u32") > 2147483647L, 1L).otherwise(0L)).as("n_u32_hi"),
        sum(when(col("u64") > lit("9223372036854775807").cast("decimal(20,0)"), 1L)
          .otherwise(0L)).as("n_u64_hi"))
    })
  )

  private val parityOracles: Map[String, String] = Map(
    "q_scan_star" -> "SELECT * FROM region ORDER BY r_regionkey",
    "q_scan_filter" -> ("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem " +
      "WHERE l_orderkey < 100 ORDER BY l_orderkey, l_linenumber"),
    "q_filter_mod" -> ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
      "WHERE o_orderkey % 2 = 0 AND o_totalprice > 100000 ORDER BY o_orderkey"),
    "q_proj_arith" -> ("SELECT l_orderkey, l_linenumber, l_quantity + 10.0 AS qty_plus_10, " +
      "(l_extendedprice + 10) / 100 AS price_scaled, 1.0 / l_quantity AS inv_qty, " +
      "l_quantity * l_quantity AS qty_sq FROM lineitem WHERE l_quantity > 25 + 0.0 " +
      "ORDER BY l_orderkey, l_linenumber"),
    "q_filter_string" -> ("SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus FROM lineitem " +
      "WHERE l_returnflag = 'A' AND l_linestatus <> 'O' ORDER BY l_orderkey, l_linenumber"),
    "q_proj_bool" -> ("SELECT o_orderkey, (o_totalprice > 200000 OR o_orderpriority = '1-URGENT') " +
      "AND o_orderstatus = 'F' AS flag FROM orders ORDER BY o_orderkey"),
    "q_read_files" -> ("SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem " +
      "WHERE l_orderkey < 50 ORDER BY l_orderkey, l_linenumber"),
    "q_read_files_tvf" -> ("SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem " +
      "WHERE l_orderkey < 50 ORDER BY l_orderkey, l_linenumber"),

    "q_rowid" -> ("SELECT l_orderkey, l_linenumber, CAST(file_row_number AS BIGINT) AS row_id " +
      "FROM read_parquet('__SFDIR__/lineitem.parquet', file_row_number=true) " +
      "WHERE l_orderkey < 50 ORDER BY row_id"),

    "q_unsigned_scan" -> (duckUnsignedBase +
      "SELECT id, u8, u16, u32, CAST(u64 AS VARCHAR) AS u64, f16 FROM w " +
      "WHERE u8 > 127 OR u16 > 32767 OR u32 > 2147483647 ORDER BY id"),

    "q_unsigned_agg" -> (duckUnsignedBase +
      "SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
      "CAST(SUM(u8) AS BIGINT) AS sum_u8, MAX(u8) AS max_u8, " +
      "CAST(SUM(u16) AS BIGINT) AS sum_u16, MAX(u16) AS max_u16, " +
      "CAST(SUM(u32) AS BIGINT) AS sum_u32, MAX(u32) AS max_u32, " +
      "CAST(CAST(SUM(u64) AS DECIMAL(38,0)) AS VARCHAR) AS sum_u64, " +
      "CAST(MAX(u64) AS VARCHAR) AS max_u64, " +
      "CAST(SUM(f16) AS DOUBLE) AS sum_f16, " +
      "CAST(SUM(CASE WHEN u8 > 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_u8_hi, " +
      "CAST(SUM(CASE WHEN u16 > 32767 THEN 1 ELSE 0 END) AS BIGINT) AS n_u16_hi, " +
      "CAST(SUM(CASE WHEN u32 > 2147483647 THEN 1 ELSE 0 END) AS BIGINT) AS n_u32_hi, " +
      "CAST(SUM(CASE WHEN u64 > 9223372036854775807 THEN 1 ELSE 0 END) AS BIGINT) AS n_u64_hi " +
      "FROM w")
  )

  // ===========================================================
  // [G] gap coverage: aggregation / sort / limit
  // ===========================================================
  private val aggQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_agg_groupby" -> ((s, d) =>
      T(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    "q_agg_having" -> ((s, d) =>
      T(s, d, "lineitem")
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"))
        .filter(col("cnt") > 550)
        .orderBy("l_suppkey")),

    "q_agg_stats" -> ((s, d) =>
      T(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("cnt"),
          countDistinct(col("l_suppkey")).as("n_supp"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"))
        .orderBy("l_returnflag")),

    "q_orderby_limit" -> ((s, d) =>
      T(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(10)),

    "q_distinct" -> ((s, d) =>
      T(s, d, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")),

    "q_rollup" -> ((s, d) =>
      T(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),

    // Pivot: rows → columns per returnflag (Spark's relational pivot
    // vs the oracle's equivalent conditional aggregation).
    "q_pivot" -> ((s, d) =>
      T(s, d, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(dsum(col("l_quantity")))
        .orderBy("l_linestatus")),

    "q_bit_agg" -> ((s, d) =>
      T(s, d, "orders")
        .filter(col("o_custkey") < 100)
        .groupBy("o_custkey")
        .agg(bit_and(col("o_orderkey")).as("band"),
          bit_or(col("o_orderkey")).as("bor"),
          bit_xor(col("o_orderkey")).as("bxor"))
        .orderBy("o_custkey")),

    "q_regex" -> ((s, d) =>
      T(s, d, "part")
        .filter(col("p_partkey") < 300)
        .select(col("p_partkey"),
          regexp_extract(col("p_name"), "([a-z]+) ([a-z]+)", 2).as("noun"),
          col("p_name").rlike("^(small|large)").as("sized"))
        .orderBy("p_partkey")),

    "q_window_pct" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice"), col("o_orderkey"))
      T(s, d, "orders")
        .filter(col("o_custkey") < 30)
        .select(col("o_custkey"), col("o_orderkey"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "q_cube" -> ((s, d) =>
      // fanOut (size-gated, no-op ≥1 GiB): cube's Expand multiplies
      // every input row by the grouping-set count BEFORE the partial
      // aggregate, so the map stage is the query's whole cost and a
      // single-file input otherwise runs it on the file's row-group
      // count (3 tasks here; guide §2.5)
      Engine.fanOut(T(s, d, "lineitem"))
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),

    "q_grouping_sets" -> ((s, d) => {
      Engine.registerViews(s, d)
      s.sql("""SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt FROM lineitem
              |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
              |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
    }),

    // Exact interpolated percentiles (sort-based `percentile`, the
    // same continuous-quantile semantics as DuckDB's quantile_cont).
    // Exact quantiles buffer each group's values by construction; at
    // 100 TB the scale path is approx_percentile (t-digest sketch,
    // bounded state — relative-error-tested in PipelineSpec).
    "q_percentile" -> ((s, d) =>
      T(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          percentile(col("l_quantity"), lit(0.5)).as("p50"),
          percentile(col("l_quantity"), lit(0.9)).as("p90"),
          percentile(col("l_extendedprice"), lit(0.25)).as("p25_price"))
        .orderBy("l_returnflag")),

    "q_case_when" -> ((s, d) =>
      T(s, d, "orders")
        .select(
          when(col("o_totalprice") < 50000, "small")
            .when(col("o_totalprice") < 200000, "medium")
            .otherwise("large").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
        .orderBy("bucket")),

    "q_date_funcs" -> ((s, d) =>
      T(s, d, "orders")
        .groupBy(
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("yr", "mo")),

    "q_events_window" -> ((s, d) =>
      T(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).cast("long").as("bucket_epoch"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .orderBy("bucket_epoch"))
  )

  private val aggOracles: Map[String, String] = Map(
    "q_agg_groupby" -> ("SELECT l_returnflag, l_linestatus, " +
      "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty, " +
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price, " +
      "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price, " +
      "COUNT(*) AS count_order FROM lineitem GROUP BY l_returnflag, l_linestatus " +
      "ORDER BY l_returnflag, l_linestatus"),
    "q_agg_having" -> ("SELECT l_suppkey, COUNT(*) AS cnt, " +
      "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty " +
      "FROM lineitem GROUP BY l_suppkey HAVING COUNT(*) > 550 ORDER BY l_suppkey"),
    "q_agg_stats" -> ("SELECT l_returnflag, COUNT(*) AS cnt, COUNT(DISTINCT l_suppkey) AS n_supp, " +
      "MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty " +
      "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_orderby_limit" -> ("SELECT o_orderkey, o_totalprice FROM orders " +
      "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),
    "q_distinct" -> ("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem " +
      "ORDER BY l_returnflag, l_linestatus"),
    "q_rollup" -> ("SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt FROM lineitem " +
      "GROUP BY ROLLUP(l_returnflag, l_linestatus) " +
      "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"),
    "q_pivot" -> ("SELECT l_linestatus, " +
      "CAST(SUM(CASE WHEN l_returnflag='A' THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE) AS \"A\", " +
      "CAST(SUM(CASE WHEN l_returnflag='N' THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE) AS \"N\", " +
      "CAST(SUM(CASE WHEN l_returnflag='R' THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE) AS \"R\" " +
      "FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus"),
    "q_bit_agg" -> ("SELECT o_custkey, BIT_AND(o_orderkey) AS band, BIT_OR(o_orderkey) AS bor, " +
      "BIT_XOR(o_orderkey) AS bxor FROM orders WHERE o_custkey < 100 GROUP BY o_custkey " +
      "ORDER BY o_custkey"),
    "q_regex" -> ("SELECT p_partkey, regexp_extract(p_name, '([a-z]+) ([a-z]+)', 2) AS noun, " +
      "regexp_matches(p_name, '^(small|large)') AS sized FROM part WHERE p_partkey < 300 " +
      "ORDER BY p_partkey"),
    "q_window_pct" -> ("SELECT o_custkey, o_orderkey, PERCENT_RANK() OVER w AS pr, " +
      "CUME_DIST() OVER w AS cd FROM orders WHERE o_custkey < 30 " +
      "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey) " +
      "ORDER BY o_custkey, o_orderkey"),
    "q_cube" -> ("SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt, " +
      "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty " +
      "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) " +
      "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"),
    "q_grouping_sets" -> ("SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt FROM lineitem " +
      "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ()) " +
      "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"),
    "q_percentile" -> ("SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS p50, " +
      "quantile_cont(l_quantity, 0.9) AS p90, quantile_cont(l_extendedprice, 0.25) AS p25_price " +
      "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_case_when" -> ("SELECT CASE WHEN o_totalprice < 50000 THEN 'small' " +
      "WHEN o_totalprice < 200000 THEN 'medium' ELSE 'large' END AS bucket, " +
      "COUNT(*) AS cnt FROM orders GROUP BY 1 ORDER BY bucket"),
    "q_date_funcs" -> ("SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS yr, " +
      "CAST(MONTH(o_orderdate) AS BIGINT) AS mo, COUNT(*) AS cnt " +
      "FROM orders GROUP BY 1, 2 ORDER BY yr, mo"),
    "q_events_window" -> ("SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket_epoch, " +
      "COUNT(*) AS n_events, CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value " +
      "FROM events GROUP BY 1 ORDER BY bucket_epoch")
  )

  // ===========================================================
  // [G] gap coverage: joins / set ops / window / subqueries / strings
  // ===========================================================
  private val joinQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_join_inner" -> ((s, d) => {
      val c = T(s, d, "customer"); val n = T(s, d, "nation"); val r = T(s, d, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select(c("c_custkey"), c("c_name"), n("n_name"), r("r_name"))
        .orderBy("c_custkey")
    }),

    "q_join_left" -> ((s, d) => {
      val c = T(s, d, "customer"); val o = T(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(c("c_custkey"))
        .agg(count(o("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    }),

    "q_join_semi" -> ((s, d) => {
      val c = T(s, d, "customer"); val o = T(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey") && o("o_totalprice") > 300000, "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    "q_join_anti" -> ((s, d) => {
      val c = T(s, d, "customer"); val o = T(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    // TPC-H Q5-shaped 6-way join: the scale-critical plan. lineitem ⋈
    // orders is the one real shuffle; every dimension is broadcast.
    "q_join5" -> ((s, d) => {
      val li = T(s, d, "lineitem"); val o = T(s, d, "orders")
      val c = T(s, d, "customer"); val n = T(s, d, "nation"); val r = T(s, d, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .filter(o("o_orderdate") >= "1995-01-01" && o("o_orderdate") < "1997-01-01")
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .filter(r("r_name") === "ASIA")
        .groupBy(n("n_name"))
        .agg(dsum(li("l_extendedprice") * (lit(1) - li("l_discount"))).as("revenue"))
        .orderBy("n_name")
    }),

    // Bucketed co-located join: orders and lineitem pre-bucketed on
    // the order key (sources.Bucketing — one shuffle at write time),
    // so the join AND the keyed aggregation both plan with ZERO
    // ShuffleExchange (PlanSpec pins it; the only exchange in the
    // whole query is the final presentation sort). hint("merge") pins
    // sort-merge — at fixture SF a broadcast would also be
    // exchange-free but proves nothing about co-location, and at
    // 100 TB neither side broadcasts.
    "q_bucketed_join" -> ((s, d) => {
      val (oTbl, lTbl) = bucketedPair(s, d)
      val o = s.table(oTbl); val l = s.table(lTbl)
      l.hint("merge").join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(o("o_orderkey"), o("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          dsum(l("l_extendedprice")).as("revenue"))
        .filter(col("revenue") > 250000.0)
        .orderBy("o_orderkey")
    }),

    // File-level data skipping: a 3-month interval read through the
    // zone-map manifest over the 16-file range-partitioned lineitem
    // copy (identical rows to the original single-file table, so the
    // oracle filters that). The manifest prunes ~14 of 16 files
    // before any scan is scheduled; the residual BETWEEN still
    // applies inside survivors. Interval bounds are UTC instants on
    // the engine side and the matching naive wall time in DuckDB.
    "q_zonemap" -> ((s, d) => {
      val root = zoneMapDir(s, d)
      sources.ZoneMaps.readPruned(s, s"$root/table", s"$root/manifest",
          "l_shipdate",
          to_timestamp(lit("1996-06-01 00:00:00")),
          to_timestamp(lit("1996-08-31 23:59:59")))
        .orderBy("l_orderkey", "l_partkey", "l_shipdate", "l_quantity")
    }),

    "q_setop_union" -> ((s, d) =>
      T(s, d, "customer").select(col("c_nationkey").as("nkey"))
        .union(T(s, d, "supplier").select(col("s_nationkey").as("nkey")))
        .distinct().orderBy("nkey")),

    "q_setop_intersect" -> ((s, d) =>
      T(s, d, "customer").select(col("c_nationkey").as("nkey"))
        .intersect(T(s, d, "supplier").filter(col("s_suppkey") % 3 === 0)
          .select(col("s_nationkey").as("nkey")))
        .orderBy("nkey")),

    "q_setop_except" -> ((s, d) =>
      T(s, d, "nation").select(col("n_nationkey").as("nkey"))
        .except(T(s, d, "supplier").select(col("s_nationkey").as("nkey")))
        .orderBy("nkey")),

    "q_window_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      T(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          row_number().over(w).cast("long").as("rn"),
          rank().over(w).cast("long").as("rnk"))
        .filter(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    }),

    "q_window_running" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      T(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast("decimal(18,4)"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("running_spend"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Window frames beyond the running-total basics: ntile, lead,
    // first/last_value, bounded sliding frames.
    "q_window_frames" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      T(s, d, "orders")
        .filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"),
          ntile(4).over(w).cast("long").as("quartile"),
          lead(col("o_orderkey"), 1).over(w).as("next_key"),
          first(col("o_orderkey")).over(w).as("first_key"),
          last(col("o_orderkey"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
            .as("last_key"),
          sum(col("o_totalprice").cast("decimal(18,4)"))
            .over(w.rowsBetween(-1, 1)).cast("double").as("windowed_spend"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "q_string_funcs" -> ((s, d) =>
      T(s, d, "part")
        .filter(col("p_name").like("%a%"))
        .select(col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          substring(col("p_name"), 1, 5).as("name5"),
          length(col("p_name")).cast("long").as("name_len"),
          concat(col("p_brand"), lit("-"), col("p_type")).as("brand_type"))
        .orderBy("p_partkey")),

    "q_cte" -> ((s, d) => {
      Engine.registerViews(s, d)
      s.sql("""WITH big AS (
              |  SELECT o_custkey, COUNT(*) AS n FROM orders
              |  WHERE o_totalprice > 150000 GROUP BY o_custkey)
              |SELECT c_custkey, c_name, n FROM customer
              |JOIN big ON c_custkey = o_custkey ORDER BY c_custkey""".stripMargin)
    }),

    "q_subquery_in" -> ((s, d) => {
      Engine.registerViews(s, d)
      s.sql("""SELECT o_orderkey, o_custkey FROM orders
              |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
              |ORDER BY o_orderkey""".stripMargin)
    }),

    // NOT IN with a non-null subquery domain — pins the three-valued
    // NULL semantics both engines share.
    "q_not_in" -> ((s, d) => {
      Engine.registerViews(s, d)
      s.sql("""SELECT o_orderkey FROM orders
              |WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9500)
              |ORDER BY o_orderkey""".stripMargin)
    }),

    "q_scalar_subquery" -> ((s, d) => {
      Engine.registerViews(s, d)
      s.sql("""SELECT o_orderkey, o_totalprice FROM orders
              |WHERE o_totalprice > 2 * (
              |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) FROM orders)
              |ORDER BY o_orderkey""".stripMargin)
    })
  )

  private val joinOracles: Map[String, String] = Map(
    "q_join_inner" -> ("SELECT c_custkey, c_name, n_name, r_name FROM customer " +
      "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
      "ORDER BY c_custkey"),
    "q_join_left" -> ("SELECT c_custkey, COUNT(o_orderkey) AS n_orders FROM customer " +
      "LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey ORDER BY c_custkey"),
    "q_join_semi" -> ("SELECT c_custkey, c_name FROM customer WHERE EXISTS " +
      "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000) " +
      "ORDER BY c_custkey"),
    "q_join_anti" -> ("SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS " +
      "(SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey"),
    "q_join5" -> ("SELECT n_name, " +
      "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
      "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey " +
      "JOIN region ON n_regionkey = r_regionkey " +
      "WHERE o_orderdate >= '1995-01-01' AND o_orderdate < '1997-01-01' AND r_name = 'ASIA' " +
      "GROUP BY n_name ORDER BY n_name"),
    // Bucketed tables hold the same rows as the source tables — the
    // oracle restates the join over the plain tables; the layout only
    // changes the PLAN (PlanSpec pins the zero-exchange shape).
    "q_bucketed_join" -> ("SELECT o_orderkey, o_orderpriority, " +
      "COUNT(*) AS n_items, " +
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
      "GROUP BY o_orderkey, o_orderpriority " +
      "HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) > 250000.0 " +
      "ORDER BY o_orderkey"),
    // The pruned read must equal the plain interval filter over the
    // original table (the multi-file copy holds identical rows).
    "q_zonemap" -> ("SELECT l_orderkey, l_partkey, l_quantity, " +
      "l_extendedprice, l_shipdate FROM lineitem " +
      "WHERE l_shipdate BETWEEN TIMESTAMP '1996-06-01 00:00:00' " +
      "AND TIMESTAMP '1996-08-31 23:59:59' " +
      "ORDER BY l_orderkey, l_partkey, l_shipdate, l_quantity"),

    "q_setop_union" -> ("SELECT c_nationkey AS nkey FROM customer UNION " +
      "SELECT s_nationkey AS nkey FROM supplier ORDER BY nkey"),
    "q_setop_intersect" -> ("SELECT c_nationkey AS nkey FROM customer INTERSECT " +
      "SELECT s_nationkey AS nkey FROM supplier WHERE s_suppkey % 3 = 0 ORDER BY nkey"),
    "q_setop_except" -> ("SELECT n_nationkey AS nkey FROM nation EXCEPT " +
      "SELECT s_nationkey AS nkey FROM supplier ORDER BY nkey"),
    "q_window_rank" -> ("SELECT * FROM (SELECT o_custkey, o_orderkey, " +
      "CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn, " +
      "CAST(RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rnk " +
      "FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn"),
    "q_window_running" -> ("SELECT o_custkey, o_orderkey, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER " +
      "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend, " +
      "LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price " +
      "FROM orders ORDER BY o_custkey, o_orderkey"),
    "q_window_frames" -> ("SELECT o_custkey, o_orderkey, " +
      "CAST(NTILE(4) OVER w AS BIGINT) AS quartile, " +
      "LEAD(o_orderkey, 1) OVER w AS next_key, " +
      "FIRST_VALUE(o_orderkey) OVER w AS first_key, " +
      "LAST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_key, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (PARTITION BY o_custkey " +
      "ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS DOUBLE) AS windowed_spend " +
      "FROM orders WHERE o_custkey < 100 " +
      "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) " +
      "ORDER BY o_custkey, o_orderkey"),
    "q_string_funcs" -> ("SELECT p_partkey, UPPER(p_brand) AS brand_u, SUBSTR(p_name, 1, 5) AS name5, " +
      "CAST(LENGTH(p_name) AS BIGINT) AS name_len, p_brand || '-' || p_type AS brand_type " +
      "FROM part WHERE p_name LIKE '%a%' ORDER BY p_partkey"),
    "q_cte" -> ("WITH big AS (SELECT o_custkey, COUNT(*) AS n FROM orders " +
      "WHERE o_totalprice > 150000 GROUP BY o_custkey) " +
      "SELECT c_custkey, c_name, n FROM customer JOIN big ON c_custkey = o_custkey " +
      "ORDER BY c_custkey"),
    "q_subquery_in" -> ("SELECT o_orderkey, o_custkey FROM orders WHERE o_custkey IN " +
      "(SELECT c_custkey FROM customer WHERE c_acctbal > 9000) ORDER BY o_orderkey"),
    "q_not_in" -> ("SELECT o_orderkey FROM orders WHERE o_custkey NOT IN " +
      "(SELECT c_custkey FROM customer WHERE c_acctbal > 9500) ORDER BY o_orderkey"),
    "q_scalar_subquery" -> ("SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 2 * " +
      "(SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) FROM orders) " +
      "ORDER BY o_orderkey")
  )

  // ===========================================================
  // [G] gap coverage: remaining declared-roadmap operators — right /
  // full outer joins, ALL-variant set ops, XOR, ILIKE
  // (/root/reference/README.md:51-66), duplicate-alias resolution
  // (record_utils/test_compute_value.rs:229-272), and the UDF/UDAF
  // registration surface (operator_task_registry.rs:74-94).
  // ===========================================================
  private val ext2Queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_join_right" -> ((s, d) => {
      val o = T(s, d, "orders"); val c = T(s, d, "customer")
      o.join(c, o("o_custkey") === c("c_custkey") && o("o_totalprice") > 300000, "right")
        .select(c("c_custkey"), o("o_orderkey"), o("o_totalprice"))
        .orderBy("c_custkey", "o_orderkey")
    }),

    "q_join_full" -> ((s, d) => {
      val cn = T(s, d, "customer").filter(col("c_acctbal") > 9900)
        .groupBy(col("c_nationkey").as("nk_c")).agg(count(lit(1)).as("n_cust"))
      val sn = T(s, d, "supplier").filter(col("s_suppkey") % 7 === 0)
        .groupBy(col("s_nationkey").as("nk_s")).agg(count(lit(1)).as("n_supp"))
      cn.join(sn, cn("nk_c") === sn("nk_s"), "full")
        .select(coalesce(col("nk_c"), col("nk_s")).as("nkey"), col("n_cust"), col("n_supp"))
        .orderBy("nkey")
    }),

    "q_union_all" -> ((s, d) =>
      T(s, d, "customer").select(col("c_nationkey").as("nkey"))
        .unionAll(T(s, d, "supplier").select(col("s_nationkey").as("nkey")))
        .orderBy("nkey")),

    "q_intersect_all" -> ((s, d) => {
      val o = T(s, d, "orders")
      o.filter(col("o_totalprice") > 200000).select(col("o_custkey").as("ck"))
        .intersectAll(o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("ck")))
        .orderBy("ck")
    }),

    "q_except_all" -> ((s, d) => {
      val o = T(s, d, "orders")
      o.filter(col("o_totalprice") > 200000).select(col("o_custkey").as("ck"))
        .exceptAll(o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("ck")))
        .orderBy("ck")
    }),

    "q_xor" -> ((s, d) =>
      T(s, d, "orders")
        .select(col("o_orderkey"),
          col("o_orderkey").bitwiseXOR(col("o_custkey")).as("bxor"),
          ((col("o_totalprice") > 200000) =!= (col("o_orderkey") % 2 === 0)).as("lxor"))
        .orderBy("o_orderkey")),

    "q_ilike" -> ((s, d) =>
      T(s, d, "part")
        .filter(col("p_name").ilike("%WiDgEt%"))
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")),

    // Same column name reachable through two aliases of one table —
    // the reference's most intricate tested resolution semantics
    // (record_aliases.rs:12-59).
    "q_alias_dup" -> ((s, d) => {
      Engine.registerViews(s, d)
      s.sql("""SELECT a.n_nationkey AS nk, a.n_name AS name_a, b.n_name AS name_b
              |FROM nation a JOIN nation b
              |  ON a.n_regionkey = b.n_regionkey AND a.n_nationkey <> b.n_nationkey
              |ORDER BY nk, name_b""".stripMargin)
    }),

    // Decimal types end-to-end (reference roadmap README.md:48) —
    // decimal projection, arithmetic, and a decimal-typed SUM. The
    // final string cast pins the EXACT decimal digits (including
    // scale), which a float-typed comparison could never do — any
    // drift in decimal arithmetic or scale handling hash-mismatches.
    "q_decimal" -> ((s, d) =>
      T(s, d, "lineitem")
        .filter(col("l_orderkey") < 200)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").cast("decimal(18,4)").cast("string").as("price_dec"),
          (col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)").cast("string").as("disc_dec"),
          (col("l_quantity").cast("decimal(12,2)") + lit(BigDecimal("1.50")).cast("decimal(12,2)"))
            .cast("string").as("qty_plus"))
        .orderBy("l_orderkey", "l_linenumber")),

    "q_decimal_agg" -> ((s, d) =>
      T(s, d, "lineitem")
        .groupBy("l_suppkey")
        .agg(
          sum(col("l_extendedprice").cast("decimal(18,4)")).cast("string").as("sum_price"),
          max((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("string").as("max_disc"))
        .orderBy("l_suppkey")),

    // Type-coercion lattice (the reference's common-type casts,
    // compute_value.rs:153-209): int×bigint, int×double, int
    // division→double, modulo, cross-type comparison.
    "q_coercion" -> ((s, d) =>
      T(s, d, "lineitem")
        .filter(col("l_orderkey") < 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_linenumber") + col("l_orderkey")).as("i_plus_l"),
          (col("l_linenumber") * col("l_discount")).as("i_times_d"),
          (col("l_orderkey") / 4).as("l_div"),
          (col("l_orderkey") % 4).as("l_mod"),
          (col("l_quantity") > col("l_linenumber")).as("d_gt_i"),
          (col("l_linenumber").cast("double") / (col("l_suppkey") + 1).cast("double")).as("dd"))
        .orderBy("l_orderkey", "l_linenumber")),

    // Semi-structured extraction over the events.props JSON column —
    // the training-data staple (metadata columns ride along as JSON).
    "q_json" -> ((s, d) =>
      T(s, d, "events")
        .filter(col("event_id") < 500)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id")),

    // Explode / unnest: corpus token frequencies via a generator.
    "q_explode" -> ((s, d) =>
      T(s, d, "documents")
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 50)
        .orderBy(col("cnt").desc, col("token"))),

    // Scalar function library depth (SURVEY §2.9): math, string,
    // date, and conditional families, each oracled.
    "q_math_funcs" -> ((s, d) =>
      T(s, d, "lineitem")
        .filter(col("l_orderkey") < 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          abs(col("l_discount") - 0.05).as("a"),
          round(col("l_extendedprice"), 1).as("r1"),
          floor(col("l_quantity") / 7).cast("double").as("fl"),
          ceil(col("l_quantity") / 7).cast("double").as("ce"),
          sqrt(col("l_extendedprice")).as("sq"),
          pow(col("l_quantity"), 2).as("p2"),
          signum(col("l_quantity") - 25).cast("long").as("sg"),
          greatest(col("l_quantity"), col("l_linenumber") * 10.0).as("gr"),
          least(col("l_quantity"), col("l_linenumber") * 10.0).as("le"))
        .orderBy("l_orderkey", "l_linenumber")),

    "q_string_funcs2" -> ((s, d) =>
      T(s, d, "part")
        .filter(col("p_partkey") < 300)
        .select(col("p_partkey"),
          regexp_replace(col("p_name"), " ", "_").as("rep"),
          lpad(col("p_brand"), 12, "*").as("lp"),
          rpad(col("p_brand"), 12, ".").as("rp"),
          reverse(col("p_name")).as("rev"),
          ltrim(col("p_name"), "sb").as("lt"),
          repeat(col("p_brand"), 2).as("rp2"),
          instr(col("p_name"), "a").cast("long").as("ps"),
          col("p_name").contains("ring").as("ct"),
          col("p_name").startsWith("small").as("sw"),
          col("p_name").endsWith("bolt").as("ew"))
        .orderBy("p_partkey")),

    "q_date_funcs2" -> ((s, d) =>
      T(s, d, "orders")
        .filter(col("o_orderkey") < 200)
        .select(col("o_orderkey"),
          quarter(col("o_orderdate")).cast("long").as("q"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          dayofyear(col("o_orderdate")).cast("long").as("doy"),
          date_add(to_date(col("o_orderdate")), 30).as("plus30"),
          last_day(to_date(col("o_orderdate"))).as("eom"),
          datediff(to_date(col("o_orderdate")), lit("1995-01-01")).cast("long").as("dd"))
        .orderBy("o_orderkey")),

    "q_cond_funcs" -> ((s, d) =>
      T(s, d, "orders")
        .filter(col("o_orderkey") < 200)
        .select(col("o_orderkey"),
          nullif(col("o_orderstatus"), lit("O")).as("nf"),
          coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open")).as("co"),
          ifnull(nullif(col("o_orderpriority"), lit("1-URGENT")), lit("urgent!")).as("inu"))
        .orderBy("o_orderkey")),

    // Array aggregation with deterministic ordering (sort_array) —
    // rendered to a string so the engines' list types compare exactly.
    "q_array_agg" -> ((s, d) =>
      T(s, d, "orders")
        .filter(col("o_custkey") < 50)
        .groupBy("o_custkey")
        .agg(
          concat_ws(",", sort_array(collect_list(col("o_orderkey") % 1000))).as("keys"),
          count(lit(1)).as("n"))
        .orderBy("o_custkey")),

    // "Read from table" (reference roadmap README.md:72): a named
    // catalog table over the same storage, queried by name.
    "q_read_table" -> ((s, d) => {
      s.sql("DROP TABLE IF EXISTS graft_nation")
      s.sql(s"CREATE TABLE graft_nation USING parquet LOCATION '$d/nation.parquet'")
      s.sql("SELECT n_nationkey, n_name, n_regionkey FROM graft_nation ORDER BY n_nationkey")
    }),

    // As-of join (events ← most recent order at-or-before each event,
    // per user) — oracled against DuckDB's native ASOF LEFT JOIN. The
    // right side is pre-deduped to one row per (key, time) so the
    // at-equal-times pick is well-defined in both engines.
    "q_asof" -> ((s, d) => {
      val e = T(s, d, "events").select(col("event_id"), col("user_id"), col("ts"))
      val o = T(s, d, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(max("o_orderkey").as("o_orderkey"),
          max_by(col("o_totalprice"), col("o_orderkey")).as("o_totalprice"))
      operators.AsofJoin.asofJoin(e, o,
          "user_id", "o_custkey", "ts", "o_orderdate",
          Seq("o_orderkey", "o_totalprice"))
        .select("event_id", "user_id", "o_orderkey", "o_totalprice")
        .orderBy("event_id")
    }),

    // Last-touch attribution: each purchase credits the user's most
    // recent view AT OR BEFORE it, but only within a 1-hour window —
    // the as-of join carries the candidate, the window test decides.
    // Views pre-aggregate to unique (user, ts) with a max-event_id
    // tie-break so the carried payload is deterministic (the same
    // discipline q_asof's oracle uses with ARG_MAX). Second arithmetic
    // floors epoch seconds on both engines (cast-long vs date_diff).
    "q_attribution" -> ((s, d) => {
      val e = T(s, d, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = e.filter(col("event_type") === "view")
        .groupBy(col("user_id").as("v_user"), col("ts").as("v_ts"))
        .agg(max("event_id").as("v_event_id"))
      val j = operators.AsofJoin.asofJoin(purchases, views,
        "user_id", "v_user", "ts", "v_ts", Seq("v_ts", "v_event_id"))
      val attributed = col("v_ts").isNotNull &&
        col("v_ts") >= col("ts") - expr("INTERVAL 1 HOUR")
      j.select(col("event_id"), col("user_id"),
          attributed.as("attributed"),
          when(attributed, col("v_event_id")).as("attr_view"),
          when(attributed,
            col("ts").cast("long") - col("v_ts").cast("long")).as("secs_since_view"))
        .orderBy("event_id")
    }),

    "q_udf_tier" -> ((s, d) => {
      functions.Udfs.register(s)
      T(s, d, "orders")
        .select(col("o_orderkey"), call_udf("price_tier", col("o_totalprice")).as("tier"))
        .orderBy("o_orderkey")
    }),

    "q_udaf_ssq" -> ((s, d) => {
      functions.Udfs.register(s)
      T(s, d, "orders")
        .groupBy("o_custkey")
        .agg(call_udf("ssq", col("o_orderkey") % 97).as("ssq"))
        .orderBy("o_custkey")
    })
  )

  private val ext2Oracles: Map[String, String] = Map(
    "q_join_right" -> ("SELECT c_custkey, o_orderkey, o_totalprice FROM orders " +
      "RIGHT JOIN customer ON o_custkey = c_custkey AND o_totalprice > 300000 " +
      "ORDER BY c_custkey, o_orderkey NULLS FIRST"),
    "q_join_full" -> ("SELECT COALESCE(a.nk, b.nk) AS nkey, n_cust, n_supp FROM " +
      "(SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer WHERE c_acctbal > 9900 GROUP BY 1) a " +
      "FULL JOIN (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier WHERE s_suppkey % 7 = 0 GROUP BY 1) b " +
      "ON a.nk = b.nk ORDER BY nkey"),
    "q_union_all" -> ("SELECT nkey FROM (SELECT c_nationkey AS nkey FROM customer " +
      "UNION ALL SELECT s_nationkey AS nkey FROM supplier) ORDER BY nkey"),
    "q_intersect_all" -> ("SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 200000 " +
      "INTERSECT ALL SELECT o_custkey AS ck FROM orders WHERE o_orderstatus = 'F' ORDER BY ck"),
    "q_except_all" -> ("SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 200000 " +
      "EXCEPT ALL SELECT o_custkey AS ck FROM orders WHERE o_orderstatus = 'F' ORDER BY ck"),
    "q_xor" -> ("SELECT o_orderkey, xor(o_orderkey, o_custkey) AS bxor, " +
      "(o_totalprice > 200000) <> (o_orderkey % 2 = 0) AS lxor FROM orders ORDER BY o_orderkey"),
    "q_ilike" -> ("SELECT p_partkey, p_name FROM part WHERE p_name ILIKE '%WiDgEt%' " +
      "ORDER BY p_partkey"),
    "q_alias_dup" -> ("SELECT a.n_nationkey AS nk, a.n_name AS name_a, b.n_name AS name_b " +
      "FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey AND a.n_nationkey <> b.n_nationkey " +
      "ORDER BY nk, name_b"),
    "q_decimal" -> ("SELECT l_orderkey, l_linenumber, " +
      "CAST(CAST(l_extendedprice AS DECIMAL(18,4)) AS VARCHAR) AS price_dec, " +
      "CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS VARCHAR) AS disc_dec, " +
      "CAST(CAST(l_quantity AS DECIMAL(12,2)) + CAST(1.50 AS DECIMAL(12,2)) AS VARCHAR) AS qty_plus " +
      "FROM lineitem WHERE l_orderkey < 200 ORDER BY l_orderkey, l_linenumber"),
    "q_decimal_agg" -> ("SELECT l_suppkey, " +
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS sum_price, " +
      "CAST(MAX(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS VARCHAR) AS max_disc " +
      "FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey"),
    "q_coercion" -> ("SELECT l_orderkey, l_linenumber, l_linenumber + l_orderkey AS i_plus_l, " +
      "l_linenumber * l_discount AS i_times_d, l_orderkey / 4 AS l_div, l_orderkey % 4 AS l_mod, " +
      "l_quantity > l_linenumber AS d_gt_i, " +
      "CAST(l_linenumber AS DOUBLE) / CAST(l_suppkey + 1 AS DOUBLE) AS dd " +
      "FROM lineitem WHERE l_orderkey < 100 ORDER BY l_orderkey, l_linenumber"),
    "q_json" -> ("SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k " +
      "FROM events WHERE event_id < 500 ORDER BY event_id"),
    "q_explode" -> ("SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM " +
      "(SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token FROM documents) " +
      "GROUP BY token HAVING COUNT(*) >= 50 ORDER BY cnt DESC, token"),
    "q_math_funcs" -> ("SELECT l_orderkey, l_linenumber, ABS(l_discount - 0.05) AS a, " +
      "ROUND(l_extendedprice, 1) AS r1, FLOOR(l_quantity / 7) AS fl, CEIL(l_quantity / 7) AS ce, " +
      "SQRT(l_extendedprice) AS sq, POWER(l_quantity, 2) AS p2, " +
      "CAST(SIGN(l_quantity - 25) AS BIGINT) AS sg, " +
      "GREATEST(l_quantity, l_linenumber * 10.0) AS gr, LEAST(l_quantity, l_linenumber * 10.0) AS le " +
      "FROM lineitem WHERE l_orderkey < 100 ORDER BY l_orderkey, l_linenumber"),
    "q_string_funcs2" -> ("SELECT p_partkey, REPLACE(p_name, ' ', '_') AS rep, " +
      "LPAD(p_brand, 12, '*') AS lp, RPAD(p_brand, 12, '.') AS rp, REVERSE(p_name) AS rev, " +
      "LTRIM(p_name, 'sb') AS lt, REPEAT(p_brand, 2) AS rp2, " +
      "CAST(STRPOS(p_name, 'a') AS BIGINT) AS ps, CONTAINS(p_name, 'ring') AS ct, " +
      "STARTS_WITH(p_name, 'small') AS sw, ENDS_WITH(p_name, 'bolt') AS ew " +
      "FROM part WHERE p_partkey < 300 ORDER BY p_partkey"),
    "q_date_funcs2" -> ("SELECT o_orderkey, CAST(QUARTER(o_orderdate) AS BIGINT) AS q, " +
      "CAST(DAY(o_orderdate) AS BIGINT) AS dom, CAST(DAYOFYEAR(o_orderdate) AS BIGINT) AS doy, " +
      "CAST(o_orderdate AS DATE) + 30 AS plus30, LAST_DAY(CAST(o_orderdate AS DATE)) AS eom, " +
      "DATE_DIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS dd " +
      "FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey"),
    "q_cond_funcs" -> ("SELECT o_orderkey, NULLIF(o_orderstatus, 'O') AS nf, " +
      "COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS co, " +
      "IFNULL(NULLIF(o_orderpriority, '1-URGENT'), 'urgent!') AS inu " +
      "FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey"),
    "q_array_agg" -> ("SELECT o_custkey, " +
      "ARRAY_TO_STRING(LIST_SORT(LIST(o_orderkey % 1000)), ',') AS keys, COUNT(*) AS n " +
      "FROM orders WHERE o_custkey < 50 GROUP BY o_custkey ORDER BY o_custkey"),
    "q_read_table" -> ("SELECT n_nationkey, n_name, n_regionkey FROM nation " +
      "ORDER BY n_nationkey"),
    "q_asof" -> ("WITH o AS (SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey, " +
      "ARG_MAX(o_totalprice, o_orderkey) AS o_totalprice FROM orders GROUP BY 1, 2) " +
      "SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice " +
      "FROM events e ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate " +
      "ORDER BY e.event_id"),
    // ASOF picks the latest view at-or-before; the window test and
    // the floored-second latency restate the engine's arithmetic.
    "q_attribution" -> ("WITH v AS (SELECT user_id AS v_user, ts AS v_ts, " +
      "MAX(event_id) AS v_event_id FROM events WHERE event_type = 'view' GROUP BY 1, 2), " +
      "p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'), " +
      "j AS (SELECT p.event_id, p.user_id, p.ts, v.v_ts, v.v_event_id " +
      "FROM p ASOF LEFT JOIN v ON p.user_id = v.v_user AND p.ts >= v.v_ts) " +
      "SELECT event_id, user_id, " +
      "(v_ts IS NOT NULL AND v_ts >= ts - INTERVAL 1 HOUR) AS attributed, " +
      "CASE WHEN v_ts IS NOT NULL AND v_ts >= ts - INTERVAL 1 HOUR THEN v_event_id END AS attr_view, " +
      "CASE WHEN v_ts IS NOT NULL AND v_ts >= ts - INTERVAL 1 HOUR " +
      "THEN date_diff('second', v_ts, ts) END AS secs_since_view " +
      "FROM j ORDER BY event_id"),

    "q_udf_tier" -> ("SELECT o_orderkey, CASE WHEN o_totalprice < 50000 THEN 'low' " +
      "WHEN o_totalprice < 150000 THEN 'mid' ELSE 'high' END AS tier FROM orders ORDER BY o_orderkey"),
    "q_udaf_ssq" -> ("SELECT o_custkey, CAST(SUM((o_orderkey % 97) * (o_orderkey % 97)) AS BIGINT) AS ssq " +
      "FROM orders GROUP BY o_custkey ORDER BY o_custkey")
  )

  // ===========================================================
  // Training-data-pipeline extensions: dedup / similarity / text
  // analysis / multimodal (graft.pipeline.*)
  // ===========================================================

  /** The explicit-fold cosine expression shared by the embedding
    * oracles (same sequential double arithmetic as Embeddings.dot).
    * The fold bound derives from len() so a future fixture with a
    * different embedding dim fails loudly instead of silently scoring
    * a 64-element prefix. */
  private def duckCos(a: String, b: String): String =
    s"(list_reduce(list_transform(range(1,len($a.v)+1), i -> $a.v[i]*$b.v[i]), (x,y) -> x+y) / " +
      s"(sqrt(list_reduce(list_transform(range(1,len($a.v)+1), i -> $a.v[i]*$a.v[i]), (x,y) -> x+y)) * " +
      s"sqrt(list_reduce(list_transform(range(1,len($b.v)+1), i -> $b.v[i]*$b.v[i]), (x,y) -> x+y))))"

  /** Exact brute-force top-k oracle shared by ann_topk and ann_ivf
    * (IVF training is deterministic and its probe set covers every
    * true neighbor on the fixtures, so it is held to exact equality). */
  private val annExactTopkSql: String =
    "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
      "q AS (SELECT vec_id AS query_id, v FROM v WHERE vec_id < 10), " +
      "scored AS (SELECT q.query_id, a.vec_id AS neighbor_id, " +
      duckCos("a", "q") + " AS cos FROM v a, q WHERE a.vec_id != q.query_id) " +
      "SELECT query_id, neighbor_id, cos, rank FROM (SELECT query_id, neighbor_id, cos, " +
      "CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank " +
      "FROM scored) WHERE rank <= 5 ORDER BY query_id, rank"

  /** Near-dup cluster assignment + quality as recursive-CTE SQL —
    * shared by q_corpus_clean and dedup_cluster_rep (the two cluster
    * consumers must agree on the same cc/q frames). */
  private val duckClusterBase: String = "WITH RECURSIVE " +
    "toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents), " +
    "sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1), " +
    "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM toks WHERE len(w) >= 3), " +
    "pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
    "WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / " +
    "(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8), " +
    "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs UNION SELECT doc_b, doc_a FROM pairs), " +
    "reach AS (SELECT src, dst FROM edges UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src), " +
    "members AS (SELECT doc_id, doc_id AS m FROM documents UNION SELECT src AS doc_id, dst AS m FROM reach), " +
    "cc AS (SELECT doc_id, MIN(m) AS cluster_id FROM members GROUP BY doc_id), " +
    "q AS (SELECT doc_id, " +
    "least(len(regexp_split_to_array(trim(lower(text)), '\\s+')) / 256.0, 1.0) * " +
    "(1.0 - CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text)) * " +
    "(0.5 + 0.5 * least(4.0 * CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), " +
    "t -> t IN ('the','and','of','to','in','is','a','that'))) AS DOUBLE) / " +
    "len(regexp_split_to_array(trim(lower(text)), '\\s+')), 1.0)) AS quality FROM documents) "

  /** Exact all-pairs cosine >= t — shared by dedup_embed (LSH
    * candidates, t=0.4) and dedup_embed_ivf (quantizer-cell
    * candidates, t=0.45: a k-means cell index co-locates genuinely
    * clustered pairs; the fixture's 0.40-0.43 pairs are isolated
    * near-orthogonal boundary cases outside an IVF index's contract,
    * which the LSH variant's 16 independent tables do cover). */
  private def duckEmbedPairs(t: String): String =
    "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) " +
      "SELECT vec_a, vec_b, cos FROM (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, " +
      duckCos("a", "b") + " AS cos FROM v a JOIN v b ON a.vec_id < b.vec_id) " +
      s"WHERE cos >= $t ORDER BY vec_a, vec_b"

  /** Distinct word trigrams of each doc's 60-char "title" — shared by
    * q_sim_join and q_fuzzy_link (the two SimilarityJoin consumers
    * must agree on the same gram sets; same tokenization as
    * duckJaccardPairs). Bare CTE bodies so q_fuzzy_link can prepend
    * WITH RECURSIVE. */
  private val duckTrigramCtes: String =
    "t AS (SELECT doc_id, substring(text, 1, 60) AS s FROM documents), " +
      "tk AS (SELECT doc_id, regexp_split_to_array(trim(lower(s)), '\\s+') AS w FROM t), " +
      "g AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1), " +
      "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gs FROM tk WHERE len(w) >= 3)"

  private val duckTrigramBase: String = "WITH " + duckTrigramCtes + " "

  /** DuckDB mirror of TextDedup.ngramJaccardPairs (k=3, threshold 0.8):
    * brute-force pairwise exact Jaccard over distinct word 3-shingles.
    * Also the oracle for the minhash / simhash variants, whose
    * verified output equals the exact join (candidate recall ≈ 1). */
  /** Shared BM25 CTE body (k1=1.2, b=0.75) ending in a `scored`
    * table — text_bm25 reads it whole, q_sql_search applies the TVF's
    * top-k cut, q_bm25_maxscore re-instantiates it with its own term
    * list. */
  private def duckBm25CteFor(terms: Seq[String]): String =
    "WITH toks AS (SELECT doc_id, " +
      "unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term " +
      "FROM documents WHERE length(trim(text)) > 0), " +
      "lens AS (SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY doc_id), " +
      "stats AS (SELECT COUNT(*) AS n_docs, AVG(len) AS avgdl FROM lens), " +
      "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks " +
      s"WHERE term IN (${terms.map(t => s"'$t'").mkString(", ")}) GROUP BY doc_id, term), " +
      "dfs AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), " +
      "contrib AS (SELECT tf.doc_id, " +
      "CAST(ln(1.0 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) * tf.tf * (1.2 + 1) / " +
      "(tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * lens.len / stats.avgdl)) AS DECIMAL(28,12)) AS c " +
      "FROM tf JOIN dfs USING (term) JOIN lens USING (doc_id) CROSS JOIN stats), " +
      "scored AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS score, " +
      "COUNT(*) AS n_terms FROM contrib GROUP BY doc_id)"

  private val duckBm25Cte: String =
    duckBm25CteFor(Seq("spark", "hash", "window"))

  /** Shared hybrid-RRF oracle (terms spark/hash/window, query vector =
    * embeddings row 7, kPerLeg 20, k0 60, top 15): BM25 leg from the
    * shared CTE, dense leg by brute cosine, integer `(w · 1e12) //
    * (60 + rank)` contributions — the weighted-fusion algebra
    * (integer multiply BEFORE the integer divide, exactly
    * [[pipeline.Retrieval.rrfFuse]]'s), with (1, 1) degenerating to
    * the classic unweighted RRF since `(1·S) div x = S div x`.
    * Serves q_hybrid_search (corpus-tier legs), q_hybrid_indexed /
    * q_sql_hybrid (persisted-index legs — identical fusions), and
    * q_sql_hybrid_weighted (lex 2, dense 1). */
  private def duckHybridBody(wLex: Long, wDen: Long): String = duckBm25Cte +
    ", lex AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank " +
    "FROM (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT 20)), " +
    "v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
    "q AS (SELECT v FROM v WHERE vec_id = 7), " +
    "dc AS (SELECT a.vec_id AS doc_id, " + duckCos("a", "q") + " AS cos FROM v a, q), " +
    "den AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INT) AS rank " +
    "FROM (SELECT * FROM dc ORDER BY cos DESC, doc_id LIMIT 20)), " +
    s"u AS (SELECT doc_id, (1000000000000 * $wLex) // (60 + rank) AS c FROM lex " +
    s"UNION ALL SELECT doc_id, (1000000000000 * $wDen) // (60 + rank) AS c FROM den), " +
    "f AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS rrf_score, COUNT(*) AS n_legs FROM u GROUP BY doc_id) " +
    "SELECT doc_id, rrf_score, n_legs FROM " +
    "(SELECT * FROM f ORDER BY rrf_score DESC, doc_id LIMIT 15) ORDER BY doc_id"
  private val duckHybridSql: String = duckHybridBody(1, 1)
  private val duckHybridWeightedSql: String = duckHybridBody(2, 1)

  /** Batch hybrid restated per query: BM25 legs from a VALUES query
    * table, dense legs by brute cosine against the stored vectors of
    * vec_id 1..3 (the fixture's embeddings), per-query integer RRF.
    * Query 3's term is corpus-absent, so its lex leg is empty and the
    * fusion must be dense-only (n_legs = 1 rows). */
  private val duckHybridManySql: String =
    "WITH toks AS (SELECT doc_id, " +
      "unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term " +
      "FROM documents WHERE length(trim(text)) > 0), " +
      "lens AS (SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY doc_id), " +
      "stats AS (SELECT COUNT(*) AS n_docs, AVG(len) AS avgdl FROM lens), " +
      "q(query_id, term) AS (VALUES (1, 'spark'), (1, 'join'), " +
      "(2, 'window'), (2, 'hash'), (2, 'scan'), (3, 'zzz_absent_term')), " +
      "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks " +
      "WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term), " +
      "dfs AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), " +
      "contrib AS (SELECT q.query_id, tf.doc_id, " +
      "CAST(ln(1.0 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) * tf.tf * (1.2 + 1) / " +
      "(tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * lens.len / stats.avgdl)) AS DECIMAL(28,12)) AS c " +
      "FROM q JOIN tf USING (term) JOIN dfs USING (term) JOIN lens USING (doc_id) CROSS JOIN stats), " +
      "scored AS (SELECT query_id, doc_id, CAST(SUM(c) AS DOUBLE) AS score " +
      "FROM contrib GROUP BY query_id, doc_id), " +
      "lexr AS (SELECT query_id, doc_id, CAST(row_number() OVER " +
      "(PARTITION BY query_id ORDER BY score DESC, doc_id) AS INT) AS rank FROM scored), " +
      "lex AS (SELECT query_id, doc_id, rank FROM lexr WHERE rank <= 20), " +
      "v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
      "qv AS (SELECT vec_id AS query_id, v FROM v WHERE vec_id IN (1, 2, 3)), " +
      "dc AS (SELECT qv.query_id, a.vec_id AS doc_id, " + duckCos("a", "qv") +
      " AS cos FROM v a, qv), " +
      "denr AS (SELECT query_id, doc_id, CAST(row_number() OVER " +
      "(PARTITION BY query_id ORDER BY cos DESC, doc_id) AS INT) AS rank FROM dc), " +
      "den AS (SELECT query_id, doc_id, rank FROM denr WHERE rank <= 20), " +
      "u AS (SELECT query_id, doc_id, 1000000000000 // (60 + rank) AS c FROM lex " +
      "UNION ALL SELECT query_id, doc_id, 1000000000000 // (60 + rank) AS c FROM den), " +
      "f AS (SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS rrf_score, " +
      "COUNT(*) AS n_legs FROM u GROUP BY query_id, doc_id), " +
      "r AS (SELECT *, row_number() OVER (PARTITION BY query_id " +
      "ORDER BY rrf_score DESC, doc_id) AS rn FROM f) " +
      "SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rrf_score, n_legs " +
      "FROM r WHERE rn <= 10 ORDER BY query_id, doc_id"

  /** Phrase counts ("table scan", top 25) restated by direct
    * token-array scan — an independent method from the index's
    * position-set intersection; shared by q_phrase_search (Scala API)
    * and q_sql_phrase (corpus_search TVF). */
  private val duckPhraseSql: String =
    "WITH t AS (SELECT doc_id, " +
      "regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents), " +
      "h AS (SELECT doc_id, CAST(len(list_filter(range(1, len(w)), " +
      "s -> w[s] = 'table' AND w[s + 1] = 'scan')) AS BIGINT) AS n_hits FROM t) " +
      "SELECT doc_id, n_hits FROM (SELECT * FROM h WHERE n_hits > 0 " +
      "ORDER BY n_hits DESC, doc_id LIMIT 25) ORDER BY doc_id"

  /** Batch BM25 restated with a VALUES query table: per-term df/idf
    * shared across queries, per-query top-10 by (score desc, doc_id).
    * Shared by q_search_many (index route, searchMany) and
    * q_sql_search_many (corpus route, bm25Many via the TVF) — the
    * two routes must serve identical decimals. */
  private val duckSearchManySql: String = "WITH toks AS (SELECT doc_id, " +
    "unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term " +
    "FROM documents WHERE length(trim(text)) > 0), " +
    "lens AS (SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY doc_id), " +
    "stats AS (SELECT COUNT(*) AS n_docs, AVG(len) AS avgdl FROM lens), " +
    "q(query_id, term) AS (VALUES (1, 'spark'), (1, 'join'), " +
    "(2, 'window'), (2, 'hash'), (2, 'scan'), (3, 'zzz_absent_term')), " +
    "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks " +
    "WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term), " +
    "dfs AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), " +
    "contrib AS (SELECT q.query_id, tf.doc_id, " +
    "CAST(ln(1.0 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) * tf.tf * (1.2 + 1) / " +
    "(tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * lens.len / stats.avgdl)) AS DECIMAL(28,12)) AS c " +
    "FROM q JOIN tf USING (term) JOIN dfs USING (term) JOIN lens USING (doc_id) CROSS JOIN stats), " +
    "scored AS (SELECT query_id, doc_id, CAST(SUM(c) AS DOUBLE) AS score, " +
    "COUNT(*) AS n_terms FROM contrib GROUP BY query_id, doc_id), " +
    "ranked AS (SELECT query_id, doc_id, score, n_terms, " +
    "row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn FROM scored) " +
    "SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score, n_terms " +
    "FROM ranked WHERE rn <= 10 ORDER BY query_id, doc_id"

  /** Batch phrase search restated as one top-k leg per phrase over a
    * shared token-array CTE; the absent-phrase leg yields no rows, so
    * batch composition cannot change any query's result. */
  private val duckPhraseManySql: String = {
    val phrases = Seq(1 -> Seq("table", "scan"), 2 -> Seq("hash", "join"),
      3 -> Seq("zzz", "absent"))
    val legs = phrases.map { case (qid, ts) =>
      val cond = ts.zipWithIndex
        .map { case (t, j) => s"w[s + $j] = '$t'" }.mkString(" AND ")
      s"SELECT CAST($qid AS BIGINT) AS query_id, doc_id, n_hits FROM " +
        "(SELECT doc_id, CAST(len(list_filter(range(1, len(w)), " +
        s"s -> $cond)) AS BIGINT) AS n_hits FROM t) " +
        "WHERE n_hits > 0 ORDER BY n_hits DESC, doc_id LIMIT 25"
    }
    "WITH t AS (SELECT doc_id, " +
      "regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents) " +
      "SELECT query_id, doc_id, n_hits FROM (" +
      legs.map(l => s"($l)").mkString(" UNION ALL ") +
      ") ORDER BY query_id, doc_id"
  }

  private val duckJaccardPairs: String =
    "WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents), " +
      "sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1), " +
      "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM toks WHERE len(w) >= 3) " +
      "SELECT doc_a, doc_b, jaccard FROM (" +
      "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
      "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / " +
      "(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard " +
      "FROM sh a JOIN sh b ON a.doc_id < b.doc_id) " +
      "WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b"

  /** Brute-force cross-set jaccard truth for the batch-vs-corpus
    * routes: the dedup_band_incr batch (doc_id%11, re-keyed +500000)
    * against the full corpus — shared by the indexed route
    * (dedup_band_incr) and the TVF's index-free fallback
    * (q_sql_neardup_batch), so both routes answer to the identical
    * oracle. */
  private val duckCrossJaccard: String =
    "WITH toks AS (SELECT doc_id, " +
      "regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents), " +
      "sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1), " +
      "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM toks WHERE len(w) >= 3) " +
      "SELECT doc_id, dup_of, jaccard FROM (" +
      "SELECT a.doc_id + 500000 AS doc_id, b.doc_id AS dup_of, " +
      "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / " +
      "(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard " +
      "FROM sh a JOIN sh b ON a.doc_id % 11 = 0) " +
      "WHERE jaccard >= 0.8 ORDER BY doc_id, dup_of"

  /** Transitive closure of the near-dup graph (min reachable doc_id
    * per component) — shared by the Scala path (dedup_clusters) and
    * the TVF's cluster mode (q_sql_dedup_clusters). */
  private val duckClusters: String = "WITH RECURSIVE " +
    "toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents), " +
    "sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1), " +
    "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM toks WHERE len(w) >= 3), " +
    "pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
    "WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / " +
    "(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8), " +
    "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs UNION SELECT doc_b, doc_a FROM pairs), " +
    "reach AS (SELECT src, dst FROM edges UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src), " +
    "members AS (SELECT doc_id, doc_id AS m FROM documents UNION SELECT src AS doc_id, dst AS m FROM reach) " +
    "SELECT doc_id, MIN(m) AS cluster_id FROM members GROUP BY doc_id ORDER BY doc_id"

  /** The (grp, n_docs, chars, id_sum) profile of the corpus store's
    * MERGED state restated from the plain documents table — shared by
    * the Scala read path (q_corpus_merge) and the read_store TVF
    * (q_sql_store), so both answer to identical truth. */
  private val duckMergedProfile: String = "WITH up AS (" +
    "SELECT doc_id, 'UPDATED ' || text AS text FROM documents WHERE doc_id % 97 = 0 " +
    "UNION ALL SELECT doc_id + 10000000 AS doc_id, 'NEW ' || text AS text " +
    "FROM documents WHERE doc_id % 103 = 0), " +
    "del AS (SELECT doc_id FROM documents WHERE doc_id % 101 = 0), " +
    "merged AS (SELECT d.doc_id, d.text FROM documents d " +
    "WHERE d.doc_id NOT IN (SELECT doc_id FROM up) " +
    "AND d.doc_id NOT IN (SELECT doc_id FROM del) " +
    "UNION ALL SELECT doc_id, text FROM up) " +
    "SELECT doc_id % 7 AS grp, COUNT(*) AS n_docs, " +
    "CAST(SUM(LENGTH(text)) AS BIGINT) AS chars, " +
    "CAST(SUM(doc_id) AS BIGINT) AS id_sum " +
    "FROM merged GROUP BY 1 ORDER BY 1"

  /** Same profile over the UNTOUCHED corpus — generation 0 of the
    * store (q_store_timetravel Scala path, q_sql_timetravel TVF). */
  private val duckOriginalProfile: String =
    "SELECT doc_id % 7 AS grp, COUNT(*) AS n_docs, " +
      "CAST(SUM(LENGTH(text)) AS BIGINT) AS chars, " +
      "CAST(SUM(doc_id) AS BIGINT) AS id_sum " +
      "FROM documents GROUP BY 1 ORDER BY 1"

  private val pipelineQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, d) =>
      pipeline.TextDedup.exact(T(s, d, "documents")).orderBy("doc_id")),

    // Incremental batch-vs-snapshot dedup: the incoming batch is built
    // inside the query — exact copies of every doc_id%7==0 text (must
    // all drop) plus genuinely-new " v2" texts (must all survive).
    // Result is exact by construction — the Bloom prefilter only
    // routes rows between the skip-the-join path and the verify path.
    "dedup_bloom_incr" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val incoming = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
        .unionAll(docs.filter(col("doc_id") % 7 === 1)
          .select((col("doc_id") + 200000).as("doc_id"),
            concat(col("text"), lit(" v2")).as("text")))
      pipeline.TextDedup.incrementalDedup(incoming, docs)
    }),

    "dedup_ngram" -> ((s, d) =>
      pipeline.TextDedup.ngramJaccardPairs(T(s, d, "documents"), 3, 0.8)),

    // Asymmetric containment: the direction Jaccard cannot see — a
    // doc that is another doc plus boilerplate. Rational threshold
    // 9/10, integer decision on both sides of the compare.
    "dedup_contain" -> ((s, d) =>
      pipeline.TextDedup.containmentPairs(T(s, d, "documents"), 3, 9, 10)),

    // Corpus-of-record MERGE: the store fixture applied one
    // deterministic recrawl delta (updates %97, inserts %103 at
    // +10M ids, deletes %101; deletes first, upserts win) through
    // CorpusStore.merge's partial-rewrite generation swap. The query
    // reads the LIVE generation back — so the oracle checks the whole
    // persisted lifecycle (bucket layout, partial rewrite, carry-by-
    // copy, swap commit), not just the merge algebra.
    "q_corpus_merge" -> ((s, d) =>
      pipeline.CorpusStore.read(s, corpusStoreDir(s, d))
        .groupBy((col("doc_id") % 7).as("grp"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("chars"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy("grp")),

    // Time travel on the same store: generation 0 is the pre-merge
    // grace copy, so VERSION AS OF 0 must read back the ORIGINAL
    // corpus bit-for-bit while the live generation serves the merge.
    "q_store_timetravel" -> ((s, d) =>
      pipeline.CorpusStore.readAsOf(s, corpusStoreDir(s, d), asOf = 0)
        .groupBy((col("doc_id") % 7).as("grp"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("chars"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy("grp")),

    // The corpus store through the SQL surface (read_store TVF):
    // generation-resolved live read (the merged state) and as_of=>0
    // time travel (the original corpus) — same profiles, no Scala.
    "q_sql_store" -> ((s, d) =>
      s.sql("SELECT doc_id % 7 AS grp, COUNT(*) AS n_docs, " +
        "CAST(SUM(LENGTH(text)) AS BIGINT) AS chars, " +
        "CAST(SUM(doc_id) AS BIGINT) AS id_sum " +
        s"FROM read_store('${corpusStoreDir(s, d)}') GROUP BY 1 ORDER BY 1")),

    "q_sql_timetravel" -> ((s, d) =>
      s.sql("SELECT doc_id % 7 AS grp, COUNT(*) AS n_docs, " +
        "CAST(SUM(LENGTH(text)) AS BIGINT) AS chars, " +
        "CAST(SUM(doc_id) AS BIGINT) AS id_sum " +
        s"FROM read_store('${corpusStoreDir(s, d)}', as_of=>0) " +
        "GROUP BY 1 ORDER BY 1")),

    // The pre-rollback audit from SQL: which committed generations
    // the store holds and their row counts (files/bytes are fs
    // metadata the oracle cannot restate, so the oracled projection
    // is the content truth: per-generation n_rows).
    "q_sql_store_stats" -> ((s, d) =>
      s.sql(s"SELECT partition AS generation, n_rows FROM " +
          s"corpus_index_stats('${corpusStoreDir(s, d)}') " +
          "ORDER BY generation")),

    // Incremental NEAR-dup: a re-labeled batch (doc_id%11==0, +500000)
    // probed against the PERSISTED band index over the full corpus —
    // the fuzzy counterpart of dedup_bloom_incr's exact batch-vs-
    // corpus join. Candidates from band-bucket collisions, partition-
    // pruned scans, exact jaccard verification; the oracle is the
    // brute-force cross-set jaccard join.
    "dedup_band_incr" -> ((s, d) => {
      val batch = T(s, d, "documents").filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 500000).as("doc_id"), col("text"))
      pipeline.TextDedup.nearDupsAgainstBandIndex(batch, bandIndexDir(s, d), 0.8)
    }),

    "dedup_minhash" -> ((s, d) =>
      pipeline.TextDedup.minhashLshPairs(T(s, d, "documents"), 3, 0.8)),

    "dedup_simhash" -> ((s, d) =>
      pipeline.TextDedup.simhashPairs(T(s, d, "documents"), 3, 0.8)),

    "dedup_clusters" -> ((s, d) =>
      pipeline.TextDedup.nearDupClusters(T(s, d, "documents"), 3, 0.8)),

    "dedup_passages" -> ((s, d) =>
      pipeline.TextDedup.sharedPassagePairs(T(s, d, "documents"), 10, 1)),

    "dedup_embed" -> ((s, d) =>
      pipeline.Embeddings.nearDupPairs(T(s, d, "embeddings"), 0.4)),

    // int8 scalar quantization round-trip audit: per-vector scale,
    // worst reconstruction error (bounded by scale/2), and the
    // original-vs-reconstructed cosine. The oracle restates the exact
    // round/scale arithmetic, so every double compares bit-for-bit.
    "q_embed_quant" -> ((s, d) => {
      val orig = T(s, d, "embeddings")
        .select(col("vec_id"), pipeline.Embeddings.asDouble(col("embedding")).as("v"))
      val dq = pipeline.Embeddings.dequantize(
          pipeline.Embeddings.quantize(T(s, d, "embeddings")))
        .select(col("vec_id"), col("scale"), col("v").as("dv"))
      orig.join(dq, "vec_id")
        .select(col("vec_id"), col("scale"),
          array_max(zip_with(col("v"), col("dv"), (a, b) => abs(a - b))).as("max_err"),
          pipeline.Embeddings.cosine(col("v"), col("dv")).as("cos_q"))
        .withColumn("ok",
          col("max_err") <= col("scale") * 0.5 + 1e-12 && col("cos_q") >= 0.999)
        .orderBy("vec_id")
    }),

    // The flagship pipeline composition: quality gate + near-dup
    // canonical selection = the "clean corpus" a training run reads.
    // Canonical = doc_id == cluster_id, because cluster labels ARE the
    // component-minimum doc id by construction.
    "q_corpus_clean" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val quality = pipeline.TextAnalysis.qualityScore(docs).select("doc_id", "quality")
      val clusters = pipeline.TextDedup.nearDupClusters(docs, 3, 0.8)
      docs.select("doc_id")
        .join(quality, "doc_id")
        .join(clusters, "doc_id")
        .filter(col("quality") >= 0.1 && col("doc_id") === col("cluster_id"))
        .select("doc_id")
        .orderBy("doc_id")
    }),

    // One-row-per-column table profile: counts/nulls/distincts/min/max
    // in one aggregate job (multi-distinct via a single Expand).
    // o_totalprice pre-cast to decimal so min/max render identically
    // on both engines (double→string formatting is engine-specific).
    "q_profile" -> ((s, d) =>
      pipeline.CorpusOps.profile(
        T(s, d, "orders").withColumn("o_totalprice",
          col("o_totalprice").cast("decimal(18,4)")),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
          "o_totalprice"),
        exact = true)),  // the oracle compares exact counts; approx is the scale default

    // Per-group z-score outlier detection — the numeric data-quality
    // twin of q_data_quality's schema checks. Both moments come from
    // order-free DECIMAL window sums, so mean/stddev (and therefore
    // the flag set) are bit-identical across engines: an anomaly
    // report that two engines can agree on row-for-row.
    "q_outliers" -> ((s, d) => {
      Engine.registerViews(s, d)
      s.sql("""WITH s AS (SELECT event_type, event_id, value,
              |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (PARTITION BY event_type) AS DOUBLE) AS sm,
              |  CAST(SUM(CAST(value * value AS DECIMAL(28,8))) OVER (PARTITION BY event_type) AS DOUBLE) AS s2,
              |  COUNT(*) OVER (PARTITION BY event_type) AS n
              |  FROM events)
              |SELECT event_type, event_id FROM (
              |  SELECT event_type, event_id,
              |         (value - sm/n) / sqrt((s2 - sm*sm/n)/(n-1)) AS z FROM s
              |  WHERE n > 1 AND (s2 - sm*sm/n) > 0)
              |WHERE abs(z) > 3.0 ORDER BY event_type, event_id""".stripMargin)
    }),

    // Quality-based cluster representatives: keep the BEST-quality doc
    // of each near-dup cluster (tie → lowest doc_id) instead of the
    // lowest-id one — what a production dedup actually ships. Composes
    // nearDupClusters + the codegen'd quality score + one window; the
    // quality doubles are bit-identical across engines (gated by
    // text_quality), so ordering by them is deterministic.
    "dedup_cluster_rep" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val clusters = pipeline.TextDedup.nearDupClusters(docs, 3, 0.8)
      val quality = pipeline.TextAnalysis.qualityScore(docs).select("doc_id", "quality")
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("quality").desc, col("doc_id"))
      clusters.join(quality, "doc_id")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("doc_id", "cluster_id")
        .orderBy("doc_id")
    }),

    // Set-similarity self-join (PPJoin prefix filtering): every pair of
    // 60-char "titles" whose word-trigram Jaccard >= 2/3. The decision
    // is integer cross-multiplication on exact counts, so the all-pairs
    // DuckDB restatement hashes identically — recall 1.0 is a theorem
    // of the prefix filter, not a tuning claim. Word shingles, not
    // character trigrams: the fixture's titles draw from a ~30-word
    // vocabulary, so the char-trigram alphabet is ~400 symbols with
    // dfs in the thousands — the prefix join's df² fan-out degenerates
    // to near-all-pairs (measured 60M candidate rows vs 121k for word
    // shingles at sf0.1). Gram scheme choice IS the scale lever.
    "q_sim_join" -> ((s, d) =>
      operators.SimilarityJoin.selfJoin(
        T(s, d, "documents")
          .select(col("doc_id"), substring(col("text"), 1, 60).as("title")),
        "doc_id", "title", 2, 3,
        grams = operators.SimilarityJoin.wordShingles(3))),

    // Deterministic 90/5/5 split assignment — membership is a pure
    // function of doc_id via the portable hash, so the same doc lands
    // in the same split on any engine, any partitioning, any rerun.
    "q_split" -> ((s, d) =>
      pipeline.CorpusOps.assignSplits(T(s, d, "documents"),
          Seq(("train", 90), ("val", 5), ("test", 5)))
        .select("doc_id", "lang", "split")
        .orderBy("doc_id")),

    // Corpus version diff: the dataset audit between two snapshots —
    // the "new" version is derived in-query (every 13th doc dropped,
    // every 7th rewritten), so the expected added/removed/kept counts
    // per source are exact by construction. Content identity, not
    // doc_id: a renamed row with identical text counts as kept.
    "q_corpus_diff" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val newCorpus = docs.filter(col("doc_id") % 13 =!= 0)
        .select(col("source"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")).as("text"))
      pipeline.CorpusOps.corpusDiff(docs, newCorpus, "source")
    }),

    // Two-table record linkage (R×S similarity join): a "query" side of
    // truncated 50-char titles links against the full 60-char title
    // corpus at word-trigram Jaccard >= 1/2 — every query finds its own
    // document (a truncated title is a gram-subset, J well above 1/2)
    // plus its near-duplicates. The (df, gram) prefix order is computed
    // over BOTH sides, which is what makes the R×S prefix filter exact.
    "q_sim_link" -> ((s, d) => {
      val docs = T(s, d, "documents")
      operators.SimilarityJoin.join(
        docs.filter(col("doc_id") % 20 === 0)
          .select(col("doc_id"), substring(col("text"), 1, 50).as("title")),
        "doc_id", "title",
        docs.select(col("doc_id"), substring(col("text"), 1, 60).as("title")),
        "doc_id", "title",
        1, 2, grams = operators.SimilarityJoin.wordShingles(3))
    }),

    // Fuzzy record linkage composed into the dedup family via
    // TextDedup.fuzzyLinkClusters: similarity pairs on near-identical
    // titles -> connected components (shared label propagation with
    // dedup_clusters) -> one representative row per cluster (longest
    // text, ties to lowest doc_id) with the member count. This is what
    // a training-data pipeline runs before exact dedup: near-identical
    // titles collapse to one canonical doc. The join's scale knobs are
    // explicit at the composition level: word shingles (the titles
    // draw from a ~30-word vocabulary — q_sim_join notes), and
    // prefixDfCap left open here because the oracle is exact; a
    // capped call trades bounded recall for hot-gram safety
    // (OperatorsSpec pins the cluster-level trade).
    "q_fuzzy_link" -> ((s, d) => {
      val docs = T(s, d, "documents")
      pipeline.TextDedup.fuzzyLinkClusters(
        docs.select(col("doc_id"), substring(col("text"), 1, 60).as("title"),
          col("n_chars")),
        "doc_id", "title", 2, 3,
        grams = operators.SimilarityJoin.wordShingles(3),
        prefixDfCap = None,
        qualityCol = Some("n_chars"))
    }),

    // Skew-safe two-phase aggregation on a hot low-cardinality key:
    // phase 1 groups by (key, salt) so one hot key spreads over 16
    // reducers, phase 2 merges the partials — results identical to the
    // plain groupBy (the oracle IS the plain groupBy). Decimal partials
    // keep the two-phase sum exact under any merge order.
    "q_skew_agg" -> ((s, d) =>
      pipeline.Skew.saltedAgg(T(s, d, "events"), Seq("event_type"),
          Seq(("n_events", count(lit(1)), sum(col("n_events"))),
            ("sum_value", sum(col("value").cast("decimal(18,4)")),
              sum(col("sum_value")).cast("double"))))
        .orderBy("event_type")),

    // Skew-safe equi-join (replicated small side, salted big side),
    // verified against the vanilla join's aggregate.
    "q_skew_join" -> ((s, d) => {
      val o = T(s, d, "orders").select(col("o_custkey").as("custkey"), col("o_totalprice"))
      val c = T(s, d, "customer").select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      pipeline.Skew.saltedJoin(o, c, Seq("custkey"), 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("c_mktsegment")
    }),

    // The sampler domainMixWeights prescribes: deterministic weighted
    // up/down-sampling toward the uniform group mixture. Grouped by
    // lang — the skewed fixture key (en 44% → weight ≈ 0.46
    // down-samples; fr 13% → weight ≈ 1.56 up-samples), so both paths
    // are live.
    "q_resample" -> ((s, d) =>
      pipeline.CorpusOps.resampleToMix(T(s, d, "documents"), "lang")),

    // Deterministic pipeline sampling: multiplicative-hash gate (exact
    // in int64, portable across engines — reproducible corpus splits).
    // doc_id is masked to 20 bits BEFORE the multiply so the product
    // (< 2^20 · 2654435761 ≈ 2^51.3) can never overflow int64: Spark
    // would wrap silently while DuckDB raises, so an unmasked gate
    // diverges exactly at the >2^31-doc scale it exists for.
    "q_sample" -> ((s, d) =>
      T(s, d, "documents")
        .filter((pmod(col("doc_id"), lit(1048576L)) * 2654435761L) % 100 < 10)
        .select("doc_id")
        .orderBy("doc_id")),

    // Stratified per-language sample: top-20 per stratum by hash
    // (same masked gate as q_sample — overflow-proof and portable).
    "q_stratified" -> ((s, d) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy((pmod(col("doc_id"), lit(1048576L)) * 2654435761L) % 97, col("doc_id"))
      T(s, d, "documents")
        .select(col("doc_id"), col("lang"), row_number().over(w).as("rn"))
        .filter(col("rn") <= 20)
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    }),

    // Corpus statistics by language — the pipeline's monitoring query.
    "q_corpus_stats" -> ((s, d) =>
      T(s, d, "documents")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(split(trim(lower(col("text"))), "\\s+")).cast("long")).as("total_tokens"),
          min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"))
        .orderBy("lang")),

    "ann_topk" -> ((s, d) =>
      pipeline.Embeddings.bruteForceTopK(T(s, d, "embeddings"), 10, 5)),

    // LSH top-k is approximate by construction, but the multiprobe
    // defaults hold measured recall 1.0 on the fixtures (see
    // ann_lsh_recall), and every candidate is re-ranked with the exact
    // cosine — so on this data the output EQUALS the brute-force top-k
    // and is held to the same exact oracle (the "exact-equality where
    // the fixture allows" gate form).
    "ann_lsh" -> ((s, d) =>
      pipeline.Embeddings.lshTopK(T(s, d, "embeddings"), 10, 5)),

    // IVF: deterministic k-means cells + exact re-rank. At the gated
    // nprobe/nlist scan fraction its top-k recall is < 1 on the
    // fixtures (neighbors are near-noise, cos ~0.3 — see
    // Embeddings.ivfTopK), so neighbor ids are NOT oracle-stable SQL;
    // the oracled projection pins the output CONTRACT (exactly k
    // ranked rows 1..k per query), while the semantic gates are
    // ann_ivf_recall (per-query recall floor vs brute force),
    // dedup_embed_ivf (exact pair retrieval through the same
    // quantizer), and PipelineSpec's measured mean recall.
    // Served through the PERSISTED index (writeIvfIndex → partitioned
    // layout → partition-pruned query): identical emitted rows to the
    // in-query ivfTopK, but the access path is the one that holds at
    // 100 TB — the corpus scan reads only the probed cells'
    // partitions. PlanSpec pins the PartitionFilters.
    "ann_ivf" -> ((s, d) =>
      pipeline.Embeddings.ivfTopKIndexed(s, ivfIndexDir(s, d), 10, 5)
        .select("query_id", "rank")),

    "dedup_embed_ivf" -> ((s, d) =>
      pipeline.Embeddings.ivfNearDupPairs(T(s, d, "embeddings"), 0.45)),

    // The SERVING read path: external query vectors (ids disjoint
    // from the corpus space) against the shared persisted index. The
    // oracle pins the k-ranked shape AND that every query's rank-1
    // neighbor is its own corpus twin (the vectors exist in the
    // corpus, so a serving path that loses the best cell fails the
    // self_at_1 column, not just a recall metric). `adaptive = true`
    // turns on the two-level re-probe escape, which makes the served
    // top-k EXACT at the same nprobe (PipelineSpec pins recall 1.0
    // vs brute force).
    "ann_ivf_serve" -> ((s, d) => {
      val ext = T(s, d, "embeddings").filter(col("vec_id") < 10)
        .select((col("vec_id") + 777000).as("qid"), col("embedding"))
      pipeline.Embeddings.ivfTopKIndexedFor(ext, ivfIndexDir(s, d), 5, nprobe = 5,
          adaptive = true)
        .select(col("query_id"), col("rank"),
          (col("neighbor_id") === col("query_id") - 777000).as("self_at_1"))
    }),

    // Filtered vector search: neighbors restricted to vec_id%3==0
    // (the "only this language/tenant" serving shape), adaptive so
    // the FILTERED result is exact — the oracle is the brute-force
    // cosine top-k over the filtered corpus, compared value-for-value.
    "ann_ivf_filtered" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      val ext = emb.filter(col("vec_id") < 10)
        .select((col("vec_id") + 888000).as("qid"), col("embedding"))
      pipeline.Embeddings.ivfTopKIndexedFor(ext, ivfIndexDir(s, d), 5,
        nprobe = 5, adaptive = true,
        allowedIds = Some(emb.filter(col("vec_id") % 3 === 0).select("vec_id")))
    }),

    // Index delete lifecycle: tombstone → purge-on-compaction → live
    // tombstone, then the pruned read. The oracle pins the surviving
    // query set and the k-ranked shape; `neighbor_live` turns any
    // deleted id served as a neighbor into a value mismatch (FALSE vs
    // the oracle's TRUE). Row-level exclusion is additionally spec'd
    // in-engine (PipelineSpec deleteFromIvfIndex).
    "ann_ivf_delete" -> ((s, d) =>
      pipeline.Embeddings.ivfTopKIndexed(s, ivfDeleteIndexDir(s, d), 10, 5)
        .select(col("query_id"), col("rank"),
          (!col("neighbor_id").isin(IvfDeletedIds: _*)).as("neighbor_live"))),

    // PQ-compressed ANN through the full faiss-style read path:
    // ADC shortlist over 32×-compressed codes, exact re-rank of the
    // shortlist only. Shortlist 50 (10× k): measured coverage of the
    // true top-k is 1.0 at EVERY fixture scale — at sf0.001 the
    // codebooks train on only ~500 vectors, so ADC is noisier and the
    // default 25 can drop a true neighbor. The re-rank cost is still
    // shortlist×queries exact cosines — negligible at any scale.
    "ann_pq" -> ((s, d) =>
      pipeline.Embeddings.pqTopKReranked(T(s, d, "embeddings"), 10, 5, shortlist = 50)),

    // IVFADC + refine — the composed read path over the ONE persisted
    // index (probe cells → partition-pruned ADC over compressed codes
    // → exact re-rank of the shortlist). The contract oracle pins the
    // k-ranked-rows shape (candidate coverage is approximate under
    // cell pruning, exactly as ann_ivf); the semantic gate is
    // ann_ivfpq_exact below, which holds the output to row-for-row
    // EQUALITY with the uncompressed indexed scan — the faiss
    // "refine recovers the exact ranking" property.
    "ann_ivfpq" -> ((s, d) =>
      pipeline.Embeddings.ivfPqTopKIndexed(s, ivfIndexDir(s, d), 10, 5)
        .select("query_id", "rank")),

    // The IVFADC refine gate: ADC shortlist (50 = 10× k, within the
    // probed partitions) + exact re-rank must reproduce EXACTLY what
    // the full-precision scan of the same probed cells produces —
    // per-(query, rank) equality of neighbor ids AND a 1e-12 cosine
    // match, all-true oracled.
    "ann_ivfpq_exact" -> ((s, d) => {
      val ivf = pipeline.Embeddings.ivfTopKIndexed(s, ivfIndexDir(s, d), 10, 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
      val pq = pipeline.Embeddings.ivfPqTopKIndexed(s, ivfIndexDir(s, d), 10, 5)
        .select(col("query_id").as("q2"), col("rank").as("r2"),
          col("neighbor_id").as("n2"), col("cos").as("c2"))
      ivf.join(pq, ivf("query_id") === pq("q2") && ivf("rank") === pq("r2"), "left")
        .groupBy("query_id")
        .agg((count(when(col("n2") === col("neighbor_id") &&
            abs(col("c2") - col("cos")) < 1e-12, 1)) === count(lit(1))).as("ok"))
        .orderBy("query_id")
    }),

    // PQ reconstruction audit: every vector's decoded v̂ must stay
    // within the gated cosine floor of the original (deterministic
    // codebooks → deterministic ok bits; oracle pins all-true).
    "q_embed_pq" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      val v = emb.select(col("vec_id"), pipeline.Embeddings.asDouble(col("embedding")).as("v"))
      val dec = pipeline.Embeddings.pqDecode(
        pipeline.Embeddings.pqEncode(emb, m = 16, k = 64, iters = 10),
        m = 16, k = 64, iters = 10, source = emb)
      v.join(dec, "vec_id")
        .select(col("vec_id"),
          (pipeline.Embeddings.cosine(col("v"), col("vhat")) >= 0.85).as("ok"))
        .orderBy("vec_id")
    }),

    // SemDeDup: embedding-level dedup with keep-first policy — drop a
    // vector iff a lower vec_id sits within the cosine threshold.
    // Candidates from the IVF quantizer (recall 1.0 at 0.45 on the
    // fixtures), so the oracle can restate the semantics as all-pairs.
    "dedup_semantic" -> ((s, d) =>
      pipeline.Embeddings.semanticDedup(T(s, d, "embeddings"), 0.45)),

    // Embedding-space eval-leak removal: train rows too close to any
    // eval row go; same IVF-cell candidates, all-pairs oracle.
    "q_semantic_decontam" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      pipeline.Embeddings.semanticDecontaminate(
        emb.filter(col("vec_id") % 10 =!= 0),
        emb.filter(col("vec_id") % 10 === 0), 0.45)
    }),

    // Recall gate runs through the same persisted index as ann_ivf.
    "ann_ivf_recall" -> ((s, d) => {
      val bf = pipeline.Embeddings.bruteForceTopK(T(s, d, "embeddings"), 10, 5)
        .select(col("query_id"), col("neighbor_id"))
      val ivf = pipeline.Embeddings.ivfTopKIndexed(s, ivfIndexDir(s, d), 10, 5)
        .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
      bf.join(ivf, bf("query_id") === ivf("q2") && bf("neighbor_id") === ivf("n2"), "left")
        .groupBy("query_id")
        .agg(((count(col("n2")).cast("double") / count(lit(1))) >= 0.6).as("ok"))
        .orderBy("query_id")
    }),

    // The hard gate for ann_lsh: per-query recall of the LSH top-k
    // against the exact top-k. The multiprobe defaults hold measured
    // recall 1.0 on the fixtures (theoretical miss ~6e-6/neighbor at
    // the fixture's cos≈0.6 regime), so the oracle pins every query's
    // recall at exactly 1.0 — any LSH regression hash-mismatches.
    "ann_lsh_recall" -> ((s, d) => {
      val bf = pipeline.Embeddings.bruteForceTopK(T(s, d, "embeddings"), 10, 5)
        .select(col("query_id"), col("neighbor_id"))
      val lsh = pipeline.Embeddings.lshTopK(T(s, d, "embeddings"), 10, 5)
        .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
      bf.join(lsh, bf("query_id") === lsh("q2") && bf("neighbor_id") === lsh("n2"), "left")
        .groupBy("query_id")
        .agg((count(col("n2")).cast("double") / count(lit(1))).as("recall"))
        .orderBy("query_id")
    }),

    "text_tokens" -> ((s, d) =>
      pipeline.TextAnalysis.tokenCounts(T(s, d, "documents"))),

    // Count-min-sketch-prefiltered heavy hitters: exact counts out,
    // sketch bounds the exchange (see CorpusOps.heavyHitterTokens).
    "q_heavy_hitters" -> ((s, d) =>
      pipeline.CorpusOps.heavyHitterTokens(T(s, d, "documents"), 500L)),

    "text_quality" -> ((s, d) =>
      pipeline.TextAnalysis.qualityScore(T(s, d, "documents"))),

    "text_langid" -> ((s, d) =>
      pipeline.TextAnalysis.languageId(T(s, d, "documents"))),

    "text_tfidf" -> ((s, d) =>
      pipeline.TextAnalysis.tfidfTopTerms(T(s, d, "documents"), 5)),

    "text_fingerprint" -> ((s, d) =>
      pipeline.TextAnalysis.fingerprint(T(s, d, "documents"))),

    // BM25 corpus search for a fixed 3-term query; deterministic: one
    // row per matching doc ordered by doc_id, scores decimal-rounded
    // on both sides so the hash compare is exact.
    "text_bm25" -> ((s, d) =>
      pipeline.TextAnalysis.bm25(T(s, d, "documents"),
        Seq("spark", "hash", "window"))),

    // Indexed BM25 serving path: the same deterministic top-15 as
    // q_sql_search, but from the persisted inverted index's pruned
    // postings scan (built half + appended half) — one oracle pins
    // index build, append, stats deltas, and scoring together.
    "q_bm25_indexed" -> ((s, d) =>
      pipeline.TextIndex.search(s, textIndexDir(s, d),
          Seq("spark", "hash", "window"), 15)
        .orderBy("doc_id")),

    // MaxScore/block-max serving path, FORCED (floor 0) over the
    // fine-blocked index: block-bound pruning + candidate rescore must
    // reproduce the exhaustive BM25 cut bit-for-bit — the oracle is an
    // independent exhaustive restatement, so a pruning bug that drops
    // or mis-scores a boundary doc hash-fails here. The route is
    // asserted: if pruning silently disengaged, this query ERRORS
    // rather than passing on the exhaustive path.
    "q_bm25_maxscore" -> ((s, d) => {
      s.conf.set("graft.textindex.maxscorePostingsFloor", "0")
      try {
        val r = pipeline.TextIndex.search(s, maxScoreIndexDir(s, d),
            Seq("spark", "data", "scan"), 12)
          .orderBy("doc_id")
        require(pipeline.TextIndex.lastRoute.startsWith("maxscore"),
          s"q_bm25_maxscore must take the pruned route, got '${pipeline.TextIndex.lastRoute}'")
        r
      } finally s.conf.unset("graft.textindex.maxscorePostingsFloor")
    }),

    // Exact phrase query from the positional postings: occurrence
    // counts by shifted-position intersection, the text never read.
    "q_phrase_search" -> ((s, d) =>
      pipeline.TextIndex.searchPhrase(s, textIndexDir(s, d), "table scan", 25)
        .orderBy("doc_id")),

    // Batch retrieval serving: three queries (one term-missing) ranked
    // in one pruned postings pass; each query's rows must equal a
    // per-query search() call (spec-pinned) and the shared-df oracle.
    "q_search_many" -> ((s, d) => {
      import s.implicits._
      val qs = Seq(
        (1L, Seq("spark", "join")),
        (2L, Seq("window", "hash", "scan")),
        (3L, Seq("zzz_absent_term"))
      ).toDF("query_id", "terms")
      pipeline.TextIndex.searchMany(s, textIndexDir(s, d), qs, 10)
    }),

    // Hybrid retrieval: BM25 lexical leg + dense cosine leg (query =
    // stored vector of vec_id 7) fused by reciprocal rank. RRF
    // contributions are integer `RrfScale div (k0 + rank)`, so the
    // fused scores hash-match the oracle's identical integer algebra;
    // leg ranks break score ties by doc_id on both engines.
    "q_hybrid_search" -> ((s, d) =>
      pipeline.Retrieval.hybridSearch(T(s, d, "documents"),
          T(s, d, "embeddings"), Seq("spark", "hash", "window"),
          queryVecId = 7L, kPerLeg = 20, topK = 15)
        .orderBy("doc_id")),

    // The same hybrid query served ENTIRELY from persisted indexes:
    // lexical leg from the text index's pruned postings, dense leg
    // from the IVF index (adaptive probing ⇒ exact over the live
    // corpus) — so the index tier must reproduce the corpus-tier
    // fusion bit-for-bit, and the oracle is the identical algebra.
    "q_hybrid_indexed" -> ((s, d) => {
      val lex = pipeline.Retrieval.topRanks(
        pipeline.TextIndex.search(s, textIndexDir(s, d),
          Seq("spark", "hash", "window"), 20),
        col("score"), "doc_id", 20)
      val q = T(s, d, "embeddings").filter(col("vec_id") === 7)
        .select(col("vec_id").as("qid"), col("embedding"))
      val den = pipeline.Embeddings.ivfTopKIndexedFor(q, ivfIndexDir(s, d),
          20, nprobe = 5, adaptive = true)
        .select(col("neighbor_id").as("doc_id"), col("rank").cast("int").as("rank"))
      pipeline.Retrieval.rrfFuse(Seq(lex, den), "doc_id", 60, 15)
        .orderBy("doc_id")
    }),

    // BPE iteration-0 pair table — the data-sized slice of tokenizer
    // training (the merge loop runs over the bounded vocabulary;
    // bpeTrain is spec-gated). lhs/rhs: LEFT/RIGHT are SQL keywords.
    "q_bpe_pairs" -> ((s, d) =>
      pipeline.TextAnalysis.bpePairCounts(T(s, d, "documents"))
        .select(col("left").as("lhs"), col("right").as("rhs"), col("pair_count"))
        .orderBy(col("pair_count").desc, col("lhs"), col("rhs"))
        .limit(30)),

    // CCNet-style perplexity filter: corpus-self-trained interpolated
    // bigram LM, per-doc negative log likelihood.
    "text_lm_score" -> ((s, d) =>
      pipeline.TextAnalysis.lmScore(T(s, d, "documents"))),

    // ... and its head/middle/tail tercile bucketing (broadcast cuts,
    // no global sort — the CCNet corpus split).
    "q_lm_buckets" -> ((s, d) =>
      pipeline.TextAnalysis.lmBuckets(T(s, d, "documents"))),

    // Per-language perplexity — the actual CCNet shape: one LM per
    // detected language (languageId composes in as the group key), so
    // minority-language docs are scored against their own model, not
    // the majority language's statistics.
    "text_lm_lang" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val pred = pipeline.TextAnalysis.languageId(docs)
        .select(col("doc_id"), col("predicted_lang"))
      pipeline.TextAnalysis.lmScore(docs.join(pred, "doc_id"),
        groupCol = Some("predicted_lang"))
    }),

    // ...and the CCNet head/middle/tail split per language: both the
    // model and the tercile cuts condition on the detected language —
    // a shared tercile over a mixed corpus would bucket whole minority
    // languages into `tail`.
    "q_lm_buckets_lang" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val pred = pipeline.TextAnalysis.languageId(docs)
        .select(col("doc_id"), col("predicted_lang"))
      pipeline.TextAnalysis.lmBuckets(docs.join(pred, "doc_id"),
        groupCol = Some("predicted_lang"))
    }),

    "mm_meta" -> ((s, d) =>
      pipeline.Multimodal.mediaMeta(T(s, d, "documents"))),

    "mm_frames" -> ((s, d) =>
      pipeline.Multimodal.frameSamples(
        T(s, d, "documents").filter(col("doc_id") < 100))),

    "mm_resize" -> ((s, d) =>
      pipeline.Multimodal.resizePlan(T(s, d, "documents"))),

    // Audio window geometry (the STFT frame plan; the DSP half is
    // windowEnergy, spec-gated over the real payload bytes).
    "mm_audio_windows" -> ((s, d) =>
      pipeline.Multimodal.audioWindows(T(s, d, "documents"))),

    // Perceptual hash (aHash) over payload bytes — integer-exact bit
    // decisions, so the DuckDB restatement agrees bit-for-bit.
    "mm_phash" -> ((s, d) =>
      pipeline.Multimodal.perceptualHash(
        pipeline.Multimodal.asMediaTable(T(s, d, "documents")))),

    // Media near-dups through the SQL surface (round 16): the last
    // pipeline family to reach the TVF story. Chunk-banded candidates
    // (never all-pairs) against the brute-force oracle.
    "q_sql_media_dedup" -> ((s, d) =>
      s.sql(s"SELECT * FROM corpus_dedup('${mediaTableDir(s, d)}', " +
        "mode=>'media', max_hamming=>6)")),

    // Corpus assembly: the steps between "clean documents" and
    // "training shards" (see pipeline.CorpusOps).
    "q_pack_tokens" -> ((s, d) =>
      pipeline.CorpusOps.packSequences(T(s, d, "documents"), 4096)),

    // Deterministic corpus shuffle: dense permutation rank from a
    // portable multiplicative hash — reproducible example-order
    // shuffling with no global sort (two-pass value-keyed rank).
    "q_shuffle_rank" -> ((s, d) =>
      pipeline.CorpusOps.shuffleRank(T(s, d, "documents"), seed = 7)
        .orderBy("doc_id")),

    // Shuffle ∘ pack: sequences assembled in shuffled order — the
    // composition a shard build actually runs.
    "q_shuffle_pack" -> ((s, d) =>
      pipeline.CorpusOps.packShuffled(T(s, d, "documents"), 4096, seed = 7)),

    // The training-shard builder end to end: quality gate →
    // decontaminate against the eval split → pack into 1024-token
    // sequences — three pipeline stages composed the way a corpus
    // build actually runs them, in one oracled plan. Each stage is
    // individually oracled elsewhere (text_quality, q_decontam,
    // q_pack_tokens); this pins their COMPOSITION.
    "q_corpus_build" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      val evalSet = docs.filter(col("doc_id") % 10 === 0)
      val qualified = train.join(
        pipeline.TextAnalysis.qualityScore(train)
          .filter(col("quality") >= 0.1).select("doc_id"), "doc_id")
      val clean = pipeline.CorpusOps.decontaminate(qualified, evalSet, 10)
      pipeline.CorpusOps.packSequences(docs.join(clean, "doc_id"), 1024)
    }),

    "q_decontam" -> ((s, d) => {
      val docs = T(s, d, "documents")
      pipeline.CorpusOps.decontaminate(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), 10)
    }),

    "q_quality_rep" -> ((s, d) =>
      pipeline.CorpusOps.repetitionStats(T(s, d, "documents"))),

    "q_domain_mix" -> ((s, d) =>
      pipeline.CorpusOps.domainMixWeights(T(s, d, "documents"), "source")),

    // Temperature mixing at τ=2: sqrt is IEEE-correctly-rounded and
    // the normalizer sums through decimal, so the oracle is exact.
    "q_temp_mix" -> ((s, d) =>
      pipeline.CorpusOps.temperatureMixWeights(T(s, d, "documents"), "lang")),

    // Token-budget slice per language: the first ~2000 tokens of each
    // lang in deterministic shuffled (Knuth-hash) order — mixture
    // weights turned into an actual bounded corpus cut. The oracle is
    // the plain per-group cumulative window; the engine computes the
    // same prefix sums via range-bucketed two-pass offsets (no
    // single-task-per-group window).
    "q_token_budget" -> ((s, d) =>
      pipeline.CorpusOps.tokenBudgetSample(T(s, d, "documents"), "lang", 2000L)),

    // Per-language contamination audit over the same synthetic split
    // as q_decontam (doc_id % 10 == 0 is the eval set).
    "q_contam_report" -> ((s, d) => {
      val docs = T(s, d, "documents")
      pipeline.CorpusOps.contaminationReport(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), "lang", 10)
    }),

    "q_span_dup" -> ((s, d) =>
      pipeline.CorpusOps.spanDupStats(T(s, d, "documents"), 3, 2)),

    "q_quality_calib" -> ((s, d) =>
      pipeline.CorpusOps.qualityCalibrate(T(s, d, "documents"), 0.7, "lang")),

    "q_span_removal" -> ((s, d) =>
      pipeline.CorpusOps.removeDupSpans(T(s, d, "documents"), 10, 2)),

    // Gopher filters beyond uni/bigram (q_quality_rep): top-3/4-gram
    // fractions + duplicated-5/10-gram token coverage, one compiled
    // pass per doc. Thresholds sit inside the fixture's top-gram
    // distribution so `keep` discriminates.
    "q_gopher_rep" -> ((s, d) =>
      pipeline.CorpusOps.gopherStats(T(s, d, "documents"), 0.05, 0.05)),

    "q_top_ngrams" -> ((s, d) =>
      pipeline.CorpusOps.topNgrams(T(s, d, "documents"), 3, 20)),

    "q_pmi" -> ((s, d) =>
      pipeline.CorpusOps.pmiCollocations(T(s, d, "documents"), 5, 20)),

    // Sliding-window chunking at a small window so the fixture's
    // ~30-200-token docs produce real multi-chunk overlaps.
    "q_chunk" -> ((s, d) =>
      pipeline.CorpusOps.chunkDocuments(T(s, d, "documents"), 64, 16)),

    // Z-order clustering key for two-dimensional data skipping
    // (pipeline.ZOrder; the layout policy behind OPTIMIZE ZORDER BY).
    "q_zorder" -> ((s, d) =>
      T(s, d, "lineitem").select(
          col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          pipeline.ZOrder.zValue(
            pmod(col("l_partkey"), lit(1024L)),
            pmod(col("l_suppkey"), lit(1024L)), 10).as("zkey"))
        .orderBy("zkey", "l_orderkey", "l_linenumber")),

    // Measured skipping win of the z-layout: mean per-"file" min/max
    // span on BOTH keys, vs a single-key sort. The oracle restates the
    // identical bucket arithmetic (ZOrder.skippingStatsSql).
    "q_zorder_skip" -> ((s, d) =>
      pipeline.ZOrder.skippingStats(
        T(s, d, "lineitem"), col("l_partkey"), col("l_suppkey")))
  )

  /** Shared DuckDB restatement of [[pipeline.Multimodal.perceptualHash]]
    * over a (doc_id, text)-shaped source (payload = UTF-8 text bytes):
    * 64 block-mean-vs-total-mean bits, exactly the engine's integer
    * comparison (bsum*n > total*len — no division). Used by mm_phash
    * and as the CTE of q_sql_media_dedup's brute-force hamming join. */
  private def duckPhashBody(src: String): String =
    "WITH m AS (SELECT doc_id, text, " +
      s"octet_length(encode(text)) AS n FROM $src " +
      "WHERE octet_length(encode(text)) >= 64), " +
      "tot AS (SELECT doc_id, text, n, " +
      "list_sum(list_transform(range(1, n + 1), i -> ord(substring(text, CAST(i AS INTEGER), 1)))) AS total " +
      "FROM m), " +
      "blocks AS (SELECT doc_id, n, total, text, unnest(range(64)) AS b FROM tot), " +
      "bits AS (SELECT doc_id, b, " +
      "CAST(b * n // 64 AS BIGINT) AS lo, CAST((b + 1) * n // 64 AS BIGINT) AS hi, " +
      "list_sum(list_transform(range(CAST(b * n // 64 AS BIGINT) + 1, CAST((b + 1) * n // 64 AS BIGINT) + 1), " +
      "i -> ord(substring(text, CAST(i AS INTEGER), 1)))) AS bsum, n, total FROM blocks) " +
      "SELECT doc_id, string_agg(CASE WHEN bsum * n > total * (hi - lo) THEN '1' ELSE '0' END, " +
      "'' ORDER BY b) AS phash FROM bits GROUP BY doc_id"

  private val pipelineOracles: Map[String, String] = Map(
    "dedup_exact" -> "SELECT min(doc_id) AS doc_id FROM documents GROUP BY text ORDER BY doc_id",

    "dedup_bloom_incr" -> ("WITH inc AS (" +
      "SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0 " +
      "UNION ALL " +
      "SELECT doc_id + 200000 AS doc_id, text || ' v2' AS text FROM documents WHERE doc_id % 7 = 1) " +
      "SELECT doc_id FROM inc i WHERE NOT EXISTS " +
      "(SELECT 1 FROM documents b WHERE b.text = i.text) ORDER BY doc_id"),

    "dedup_ngram" -> duckJaccardPairs,
    // Brute-force directed containment: compute each undirected pair's
    // intersection once, emit both directions with the respective
    // containee size, integer threshold decision matching the engine.
    "dedup_contain" -> ("WITH toks AS (SELECT doc_id, " +
      "regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents), " +
      "sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1), " +
      "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM toks WHERE len(w) >= 3), " +
      "pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, " +
      "len(list_intersect(a.s, b.s)) AS co, len(a.s) AS na, len(b.s) AS nb " +
      "FROM sh a JOIN sh b ON a.doc_id < b.doc_id), " +
      "dir AS (SELECT da AS doc_a, db AS doc_b, co, na FROM pairs " +
      "UNION ALL SELECT db AS doc_a, da AS doc_b, co, nb AS na FROM pairs) " +
      "SELECT doc_a, doc_b, CAST(co AS DOUBLE) / na AS containment " +
      "FROM dir WHERE co * 10 >= 9 * na ORDER BY doc_a, doc_b"),
    // Restates the merge algebra (deletes first, upserts win) over the
    // plain documents table; the engine side reads the persisted
    // post-merge store, so a lifecycle bug (lost bucket, stale
    // generation, double-applied delta) breaks the hash compare.
    "q_corpus_merge" -> duckMergedProfile,

    // Generation 0 = the untouched original corpus.
    "q_store_timetravel" -> duckOriginalProfile,

    // Same truths through the SQL surface (read_store TVF): the live
    // generation is the merged state, as_of=>0 the original corpus.
    "q_sql_store" -> duckMergedProfile,
    "q_sql_timetravel" -> duckOriginalProfile,

    // Per-generation store audit (corpus_index_stats over a corpus
    // store): generation 0 carries the original corpus count,
    // generation 1 the merged state's (upserts win, deletes drop,
    // new ids add — the same merged CTE as duckMergedProfile).
    "q_sql_store_stats" -> ("WITH up AS (" +
      "SELECT doc_id FROM documents WHERE doc_id % 97 = 0 " +
      "UNION ALL SELECT doc_id + 10000000 AS doc_id " +
      "FROM documents WHERE doc_id % 103 = 0), " +
      "del AS (SELECT doc_id FROM documents WHERE doc_id % 101 = 0), " +
      "merged AS (SELECT d.doc_id FROM documents d " +
      "WHERE d.doc_id NOT IN (SELECT doc_id FROM up) " +
      "AND d.doc_id NOT IN (SELECT doc_id FROM del) " +
      "UNION ALL SELECT doc_id FROM up) " +
      "SELECT * FROM (" +
      "SELECT CAST(0 AS INT) AS generation, COUNT(*) AS n_rows FROM documents " +
      "UNION ALL SELECT CAST(1 AS INT), COUNT(*) FROM merged) " +
      "ORDER BY generation"),

    // cross-set variant: every batch doc (re-labeled +500000) against
    // the whole corpus, self pair included (ids differ by the offset)
    "dedup_band_incr" -> duckCrossJaccard,
    "dedup_minhash" -> duckJaccardPairs,
    "dedup_simhash" -> duckJaccardPairs,

    // Connected components of the near-dup graph: transitive closure
    // in the oracle vs distributed label propagation in the engine —
    // same fixpoint (min reachable doc_id per component).
    "dedup_clusters" -> duckClusters,
    // The identical truth through the SQL surface (corpus_dedup TVF,
    // mode=>'clusters').
    "q_sql_dedup_clusters" -> duckClusters,

    "q_sample" -> ("SELECT doc_id FROM documents WHERE ((doc_id % 1048576) * 2654435761) % 100 < 10 " +
      "ORDER BY doc_id"),

    "dedup_passages" -> ("WITH toks AS (SELECT doc_id, " +
      "regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents), " +
      "sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 8), " +
      "i -> array_to_string(w[i:i+9], ' '))) AS s FROM toks WHERE len(w) >= 10) " +
      "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
      "CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_shared " +
      "FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
      "WHERE len(list_intersect(a.s, b.s)) >= 1 ORDER BY doc_a, doc_b"),

    "q_corpus_clean" -> (duckClusterBase +
      "SELECT d.doc_id FROM documents d JOIN cc ON d.doc_id = cc.doc_id JOIN q ON d.doc_id = q.doc_id " +
      "WHERE cc.cluster_id = d.doc_id AND q.quality >= 0.1 ORDER BY d.doc_id"),

    "q_profile" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority", "o_totalprice")
      val per = cols.map(c =>
        s"SELECT '$c' AS \"column\", CAST(COUNT(*) AS BIGINT) AS n_rows, " +
          s"CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls, " +
          s"CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct, " +
          s"CAST(MIN($c) AS VARCHAR) AS min_value, " +
          s"CAST(MAX($c) AS VARCHAR) AS max_value FROM t")
      "WITH t AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority, " +
        "CAST(o_totalprice AS DECIMAL(18,4)) AS o_totalprice FROM orders) " +
        "SELECT * FROM (" + per.mkString(" UNION ALL ") + ") ORDER BY \"column\""
    },

    "q_outliers" -> ("WITH s AS (SELECT event_type, event_id, value, " +
      "CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (PARTITION BY event_type) AS DOUBLE) AS sm, " +
      "CAST(SUM(CAST(value * value AS DECIMAL(28,8))) OVER (PARTITION BY event_type) AS DOUBLE) AS s2, " +
      "COUNT(*) OVER (PARTITION BY event_type) AS n FROM events) " +
      // guards: n > 1 (single-row group → z NaN) AND variance > 0 (a
      // (near-)constant group can make s2 - sm*sm/n float slightly
      // negative → sqrt NaN); NaN must never reach abs(z) > 3.0 — the
      // engines disagree on NaN comparisons (DuckDB sorts NaN above
      // all values → true; Spark's > returns false)
      "SELECT event_type, event_id FROM (" +
      "SELECT event_type, event_id, (value - sm/n) / sqrt((s2 - sm*sm/n)/(n-1)) AS z FROM s WHERE n > 1 AND (s2 - sm*sm/n) > 0) " +
      "WHERE abs(z) > 3.0 ORDER BY event_type, event_id"),

    "dedup_cluster_rep" -> (duckClusterBase +
      "SELECT doc_id, cluster_id FROM (SELECT cc.doc_id, cc.cluster_id, " +
      "ROW_NUMBER() OVER (PARTITION BY cc.cluster_id ORDER BY q.quality DESC, cc.doc_id) AS rn " +
      "FROM cc JOIN q ON cc.doc_id = q.doc_id) WHERE rn = 1 ORDER BY doc_id"),

    "q_sim_join" -> (duckTrigramBase +
      "SELECT id_a, id_b, n_shared, n_union FROM (" +
      "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
      "CAST(len(list_intersect(a.gs, b.gs)) AS BIGINT) AS n_shared, " +
      "CAST(len(a.gs) + len(b.gs) AS BIGINT) - CAST(len(list_intersect(a.gs, b.gs)) AS BIGINT) AS n_union " +
      "FROM g a JOIN g b ON a.doc_id < b.doc_id) " +
      "WHERE n_shared * 3 >= n_union * 2 ORDER BY id_a, id_b"),

    "q_split" -> DuckSplit,
    "q_sql_split" -> DuckSplit,

    "q_corpus_diff" -> DuckCorpusDiff,
    "q_sql_corpus_diff" -> DuckCorpusDiff,

    "q_sim_link" -> ("WITH lt AS (SELECT doc_id, substring(text, 1, 50) AS s FROM documents WHERE doc_id % 20 = 0), " +
      "ltk AS (SELECT doc_id, regexp_split_to_array(trim(lower(s)), '\\s+') AS w FROM lt), " +
      "lg AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1), " +
      "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gs FROM ltk WHERE len(w) >= 3), " +
      "rt AS (SELECT doc_id, substring(text, 1, 60) AS s FROM documents), " +
      "rtk AS (SELECT doc_id, regexp_split_to_array(trim(lower(s)), '\\s+') AS w FROM rt), " +
      "rg AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1), " +
      "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gs FROM rtk WHERE len(w) >= 3) " +
      "SELECT id_a, id_b, n_shared, n_union FROM (" +
      "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
      "CAST(len(list_intersect(a.gs, b.gs)) AS BIGINT) AS n_shared, " +
      "CAST(len(a.gs) + len(b.gs) AS BIGINT) - CAST(len(list_intersect(a.gs, b.gs)) AS BIGINT) AS n_union " +
      "FROM lg a JOIN rg b ON true) " +
      "WHERE n_shared * 2 >= n_union * 1 ORDER BY id_a, id_b"),

    "q_fuzzy_link" -> ("WITH RECURSIVE " + duckTrigramCtes + ", " +
      "pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM g a JOIN g b ON a.doc_id < b.doc_id " +
      "WHERE CAST(len(list_intersect(a.gs, b.gs)) AS BIGINT) * 3 >= " +
      "(CAST(len(a.gs) + len(b.gs) AS BIGINT) - CAST(len(list_intersect(a.gs, b.gs)) AS BIGINT)) * 2), " +
      "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs UNION SELECT doc_b, doc_a FROM pairs), " +
      "reach AS (SELECT src, dst FROM edges UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src), " +
      "members AS (SELECT doc_id, doc_id AS m FROM documents UNION SELECT src AS doc_id, dst AS m FROM reach), " +
      "cc AS (SELECT doc_id, MIN(m) AS cluster_id FROM members GROUP BY doc_id) " +
      "SELECT cluster_id, rep_doc_id, n_members FROM (" +
      "SELECT cc.cluster_id, cc.doc_id AS rep_doc_id, " +
      "CAST(COUNT(*) OVER (PARTITION BY cc.cluster_id) AS BIGINT) AS n_members, " +
      "ROW_NUMBER() OVER (PARTITION BY cc.cluster_id ORDER BY d.n_chars DESC, cc.doc_id) AS rn " +
      "FROM cc JOIN documents d ON cc.doc_id = d.doc_id) " +
      "WHERE rn = 1 ORDER BY cluster_id"),

    "q_stratified" -> ("SELECT doc_id, lang FROM (SELECT doc_id, lang, " +
      "ROW_NUMBER() OVER (PARTITION BY lang ORDER BY ((doc_id % 1048576) * 2654435761) % 97, doc_id) AS rn " +
      "FROM documents) WHERE rn <= 20 ORDER BY lang, doc_id"),

    // CAST the SUM itself: DuckDB SUM(BIGINT) yields HUGEINT, which
    // pandas materializes as float64 and hash-mismatches Spark's long.
    "q_corpus_stats" -> ("SELECT lang, COUNT(*) AS n_docs, " +
      "CAST(SUM(CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT)) AS BIGINT) AS total_tokens, " +
      "MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars " +
      "FROM documents GROUP BY lang ORDER BY lang"),

    "dedup_embed" -> duckEmbedPairs("0.4"),

    "q_embed_quant" -> ("WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
      "s AS (SELECT vec_id, v, greatest(list_max(list_transform(v, x -> abs(x))) / 127.0, 1e-30) AS scale FROM v), " +
      "d AS (SELECT vec_id, v, scale, " +
      "list_transform(v, x -> CAST(round(x / scale) AS INTEGER) * scale) AS dv FROM s), " +
      // range bound derived from len(v), not a hardcoded dim — a
      // fixture with a different embedding width fails loudly instead
      // of silently comparing over a 64-wide prefix.
      "m AS (SELECT vec_id, scale, " +
      "list_max(list_transform(range(1,len(v)+1), i -> abs(v[i] - dv[i]))) AS max_err, " +
      "(list_reduce(list_transform(range(1,len(v)+1), i -> v[i]*dv[i]), (x,y) -> x+y) / " +
      "(sqrt(list_reduce(list_transform(range(1,len(v)+1), i -> v[i]*v[i]), (x,y) -> x+y)) * " +
      "sqrt(list_reduce(list_transform(range(1,len(v)+1), i -> dv[i]*dv[i]), (x,y) -> x+y)))) AS cos_q FROM d) " +
      "SELECT vec_id, scale, max_err, cos_q, " +
      "(max_err <= scale * 0.5 + 1e-12 AND cos_q >= 0.999) AS ok FROM m ORDER BY vec_id"),

    "ann_lsh_recall" -> ("SELECT vec_id AS query_id, CAST(1.0 AS DOUBLE) AS recall " +
      "FROM embeddings WHERE vec_id < 10 ORDER BY query_id"),

    // Exact equality: with measured recall 1.0 (the gate above) and
    // exact re-ranking, the LSH output IS the brute-force top-k here.
    "ann_lsh" -> annExactTopkSql,

    // IVF contract gate: exactly k ranked rows 1..k per query (the
    // approximate neighbor values are gated by ann_ivf_recall /
    // dedup_embed_ivf instead — see the queries-side comment).
    "ann_ivf" -> ("SELECT vec_id AS query_id, CAST(range AS BIGINT) AS rank " +
      "FROM embeddings, range(1, 6) WHERE vec_id < 10 ORDER BY query_id, rank"),

    // Rank 1 must be the query's own corpus twin (cosine 1, lowest-id
    // tie-break); the remaining ranks fill k.
    "ann_ivf_serve" -> ("SELECT vec_id + 777000 AS query_id, " +
      "CAST(range AS BIGINT) AS rank, range = 1 AS self_at_1 " +
      "FROM embeddings, range(1, 6) WHERE vec_id < 10 ORDER BY query_id, rank"),

    // Deleted query id 3 leaves the query set; every surviving query
    // still fills k=5 ranks, and no served neighbor is a deleted id.
    "ann_ivf_delete" -> ("SELECT vec_id AS query_id, CAST(range AS BIGINT) AS rank, " +
      "TRUE AS neighbor_live FROM embeddings, range(1, 6) " +
      "WHERE vec_id < 10 AND vec_id <> 3 ORDER BY query_id, rank"),

    "ann_topk" -> annExactTopkSql,

    // Brute force over the FILTERED corpus — value-for-value (the
    // adaptive escape makes the filtered indexed read exact).
    "ann_ivf_filtered" -> ("WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
      "q AS (SELECT vec_id + 888000 AS query_id, v FROM v WHERE vec_id < 10), " +
      "a AS (SELECT * FROM v WHERE vec_id % 3 = 0), " +
      "scored AS (SELECT q.query_id, a.vec_id AS neighbor_id, " +
      duckCos("a", "q") + " AS cos FROM a, q) " +
      "SELECT query_id, neighbor_id, cos, rank FROM (SELECT query_id, neighbor_id, cos, " +
      "CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank " +
      "FROM scored) WHERE rank <= 5 ORDER BY query_id, rank"),

    // IVF pair retrieval is held to the SAME exact-equality form of
    // oracle as the LSH-candidate dedup_embed: identical emitted
    // semantics, two candidate indexes in front of the same exact
    // verify (threshold 0.45 — see duckEmbedPairs).
    "dedup_embed_ivf" -> duckEmbedPairs("0.45"),

    // Exact equality: with measured shortlist coverage 1.0 and exact
    // re-ranking, the PQ output IS the brute-force top-k here.
    "ann_pq" -> annExactTopkSql,

    // IVFADC contract gate (same form as ann_ivf): exactly k ranked
    // rows 1..k per query. Semantic equality with the uncompressed
    // indexed scan is pinned by ann_ivfpq_exact.
    "ann_ivfpq" -> ("SELECT vec_id AS query_id, CAST(range AS BIGINT) AS rank " +
      "FROM embeddings, range(1, 6) WHERE vec_id < 10 ORDER BY query_id, rank"),

    // Refine-equality gate: all-true by construction when the ADC
    // shortlist covers the probed-cell top-k (measured 1.0 at every
    // fixture scale with shortlist = 10× k).
    "ann_ivfpq_exact" -> ("SELECT vec_id AS query_id, true AS ok " +
      "FROM embeddings WHERE vec_id < 10 ORDER BY query_id"),

    "q_embed_pq" -> ("SELECT vec_id, true AS ok FROM embeddings ORDER BY vec_id"),

    "dedup_semantic" -> ("WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
      "p AS (SELECT b.vec_id AS dup FROM v a JOIN v b ON a.vec_id < b.vec_id " +
      "AND " + duckCos("a", "b") + " >= 0.45) " +
      "SELECT vec_id FROM embeddings WHERE vec_id NOT IN (SELECT dup FROM p) ORDER BY vec_id"),

    "q_semantic_decontam" -> ("WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
      "t AS (SELECT * FROM v WHERE vec_id % 10 != 0), " +
      "e AS (SELECT * FROM v WHERE vec_id % 10 = 0), " +
      "c AS (SELECT DISTINCT a.vec_id FROM t a JOIN e b ON " + duckCos("a", "b") + " >= 0.45) " +
      "SELECT vec_id FROM t WHERE vec_id NOT IN (SELECT vec_id FROM c) ORDER BY vec_id"),

    // IVF top-k recall floor: training is deterministic, so recall is
    // a fixed function of the data; the gate pins every query's
    // recall@5 >= 0.6 at a 10/16 scan fraction (the fixture's top-5
    // neighbors are near-noise, cos ~0.3 — see Embeddings.ivfTopK;
    // PipelineSpec additionally asserts the measured mean).
    "ann_ivf_recall" -> ("SELECT vec_id AS query_id, true AS ok " +
      "FROM embeddings WHERE vec_id < 10 ORDER BY query_id"),

    "text_tokens" -> DuckTextTokens,
    "q_sql_tokens" -> DuckTextTokens,

    "q_heavy_hitters" -> ("WITH toks AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok " +
      "FROM documents) SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM toks " +
      "GROUP BY tok HAVING COUNT(*) >= 500 ORDER BY n DESC, tok"),

    "text_quality" -> DuckTextQuality,
    "q_sql_quality" -> DuckTextQuality,

    "text_langid" -> DuckTextLangid,
    "q_sql_langid" -> DuckTextLangid,

    "text_tfidf" -> ("WITH toks AS (SELECT doc_id, " +
      "unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term FROM documents), " +
      "tf AS (SELECT doc_id, term, COUNT(*) AS n FROM toks GROUP BY doc_id, term), " +
      "lens AS (SELECT doc_id, SUM(n) AS len FROM tf GROUP BY doc_id), " +
      "dfs AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), " +
      "nd AS (SELECT COUNT(*) AS n_docs FROM documents), " +
      "s AS (SELECT doc_id, term, CAST(CAST((n / CAST(len AS DOUBLE)) * " +
      "ln(CAST(n_docs AS DOUBLE) / df) AS DECIMAL(18,12)) AS DOUBLE) AS score " +
      "FROM tf JOIN lens USING (doc_id) JOIN dfs USING (term), nd), " +
      "r AS (SELECT doc_id, term, score, " +
      "CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rank FROM s) " +
      "SELECT doc_id, term, score, rank FROM r WHERE rank <= 5 ORDER BY doc_id, rank"),

    // BPE pair table restated: same char/end-marker split, pairs
    // weighted by word frequency, same (count desc, lhs, rhs) order.
    "q_bpe_pairs" -> ("WITH words AS (SELECT w, COUNT(*) AS cnt FROM " +
      "(SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w FROM documents) " +
      "WHERE length(w) > 0 GROUP BY w), " +
      "pos AS (SELECT w, cnt, unnest(range(1, length(w) + 1)) AS i FROM words), " +
      "pairs AS (SELECT substring(w, CAST(i AS INTEGER), 1) AS lhs, " +
      "CASE WHEN i = length(w) THEN '</w>' " +
      "ELSE substring(w, CAST(i AS INTEGER) + 1, 1) END AS rhs, cnt FROM pos) " +
      "SELECT lhs, rhs, CAST(SUM(cnt) AS BIGINT) AS pair_count FROM pairs " +
      "GROUP BY lhs, rhs ORDER BY pair_count DESC, lhs, rhs LIMIT 30"),

    // BM25 restated term by term with the SAME expression tree
    // (association order matters: both sides compute
    // ((idf·tf)·(k1+1))/(tf + k1·((1−b) + (b·len)/avgdl)) in IEEE
    // doubles, then round through DECIMAL(28,12) before the sum).
    "text_bm25" -> (duckBm25Cte +
      " SELECT doc_id, score, n_terms FROM scored ORDER BY doc_id"),

    // The TVF's deterministic top-k cut over the same scores.
    "q_sql_search" -> (duckBm25Cte +
      " SELECT doc_id, score, n_terms FROM " +
      "(SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT 15) " +
      "ORDER BY doc_id"),

    // corpus_ann with vec 0's embedding as the external query: exact
    // brute-force cosine top-10, no self-exclusion (external-query
    // semantics — self lands at rank 1).
    "q_sql_ann" -> ("WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
      "q AS (SELECT v FROM v WHERE vec_id = 0), " +
      "scored AS (SELECT a.vec_id AS neighbor_id, " +
      duckCos("a", "q") + " AS cos FROM v a, q) " +
      "SELECT neighbor_id, cos, rank FROM (SELECT neighbor_id, cos, " +
      "CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank " +
      "FROM scored) WHERE rank <= 10 ORDER BY rank"),

    // The fixture re-keys vec_id<10 into query_id = vec_id + 999000;
    // external-query semantics (no self-exclusion), exact top-5 each.
    "q_sql_ann_many" -> ("WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
      "q AS (SELECT vec_id + 999000 AS query_id, v FROM v WHERE vec_id < 10), " +
      "scored AS (SELECT q.query_id, a.vec_id AS neighbor_id, " +
      duckCos("a", "q") + " AS cos FROM v a, q) " +
      "SELECT query_id, neighbor_id, cos, rank FROM (SELECT query_id, neighbor_id, cos, " +
      "CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank " +
      "FROM scored) WHERE rank <= 5 ORDER BY query_id, rank"),

    // Brute cosine over the FILTERED corpus (vec_id%3==0 — the same
    // predicate the allow-list fixture materializes; the oracle never
    // reads the fixture file). Adaptive serving makes the filtered
    // indexed read exact, so values compare one-for-one.
    "q_sql_ann_filtered" -> ("WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
      "q AS (SELECT vec_id + 999000 AS query_id, v FROM v WHERE vec_id < 10), " +
      "a AS (SELECT * FROM v WHERE vec_id % 3 = 0), " +
      "scored AS (SELECT q.query_id, a.vec_id AS neighbor_id, " +
      duckCos("a", "q") + " AS cos FROM a, q) " +
      "SELECT query_id, neighbor_id, cos, rank FROM (SELECT query_id, neighbor_id, cos, " +
      "CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank " +
      "FROM scored) WHERE rank <= 5 ORDER BY query_id, rank"),

    // The index must serve the exact same scores and cut.
    "q_bm25_indexed" -> (duckBm25Cte +
      " SELECT doc_id, score, n_terms FROM " +
      "(SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT 15) " +
      "ORDER BY doc_id"),

    // The MaxScore route must serve the exact same scores and cut as
    // this exhaustive restatement (different terms, forced pruning).
    "q_bm25_maxscore" -> (duckBm25CteFor(Seq("spark", "data", "scan")) +
      " SELECT doc_id, score, n_terms FROM " +
      "(SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT 12) " +
      "ORDER BY doc_id"),

    // RRF fusion restated with the same integer rank algebra: BM25
    // leg from the shared CTE, dense leg by brute cosine, both cut to
    // top-20 with doc_id tie-breaks, contributions 1e12 // (60+rank).
    "q_hybrid_search" -> duckHybridSql,

    // The index tier must reproduce the corpus-tier fusion exactly:
    // text-index BM25 ≡ corpus BM25 (q_bm25_indexed's gate) and the
    // adaptive IVF serve ≡ brute cosine (ann_ivf's gate), so the
    // oracle is the identical algebra.
    "q_hybrid_indexed" -> duckHybridSql,
    "q_sql_hybrid" -> duckHybridSql,
    "q_sql_hybrid_many" -> duckHybridManySql,

    // Weighted fusion (weights=>'2,1'): the same legs, contributions
    // scaled (w * 1e12) // (60 + rank) — integer multiply before the
    // integer divide, so both engines agree bit-for-bit.
    "q_sql_hybrid_weighted" -> duckHybridWeightedSql,

    // SQL write-back round trip: the Spark side PERSISTS the filtered
    // corpus_quality output via INSERT OVERWRITE DIRECTORY and
    // re-reads the parquet it wrote; the oracle computes the same
    // filtered projection directly — a hash match proves the persisted
    // bytes round-trip the exact doubles the query computed.
    "q_sql_writeback" -> ("SELECT doc_id, quality FROM (" + DuckTextQuality +
      ") WHERE quality >= 0.12 ORDER BY doc_id"),

    // Batch BM25 restated with a VALUES query table: per-term df/idf
    // shared across queries, per-query top-10 by (score desc, doc_id).
    "q_search_many" -> duckSearchManySql,

    // The TVF's batch face over a PLAIN corpus (bm25Many) must serve
    // the identical decimals the index route (searchMany) serves.
    "q_sql_search_many" -> duckSearchManySql,

    // Batch phrase mode through the SQL surface, served from the
    // index's positional postings; one leg per phrase.
    "q_sql_phrase_many" -> duckPhraseManySql,

    // Phrase counts restated by direct token-array scan — an
    // independent method from the index's position-set intersection.
    "q_phrase_search" -> duckPhraseSql,

    // SQL surface must serve the identical phrase result.
    "q_sql_phrase" -> duckPhraseSql,

    "text_lm_score" ->
      (LmNllCte + " SELECT doc_id, n_bigrams, sum_nll, avg_nll FROM nll ORDER BY doc_id"),

    // Per-language restatement: the langid CASE labels each doc, and
    // every count table of the bigram model gains the `lg` key —
    // within-language c(w1,w2), c(w), (N, V). Same DECIMAL(18,12)
    // rounding discipline as text_lm_score.
    "text_lm_lang" -> (LmLangNllCte +
      " SELECT doc_id, lg AS predicted_lang, n_bigrams, sum_nll, avg_nll " +
      "FROM nll ORDER BY doc_id"),

    // ...and the CCNet split per language: terciles WITHIN each
    // detected language's score distribution.
    "q_lm_buckets_lang" -> (LmLangNllCte + ", cuts AS (SELECT lg, " +
      "CAST(CAST(quantile_cont(avg_nll, 0.3333333333333333) AS DECIMAL(18,12)) AS DOUBLE) AS c1, " +
      "CAST(CAST(quantile_cont(avg_nll, 0.6666666666666666) AS DECIMAL(18,12)) AS DOUBLE) AS c2 " +
      "FROM nll GROUP BY lg) " +
      "SELECT doc_id, lg AS predicted_lang, n_bigrams, avg_nll, " +
      "CASE WHEN avg_nll <= c1 THEN 'head' WHEN avg_nll <= c2 THEN 'middle' ELSE 'tail' END AS bucket " +
      "FROM nll JOIN cuts USING (lg) ORDER BY doc_id"),


    "q_lm_buckets" -> (LmNllCte + ", cuts AS (SELECT " +
      "CAST(CAST(quantile_cont(avg_nll, 0.3333333333333333) AS DECIMAL(18,12)) AS DOUBLE) AS c1, " +
      "CAST(CAST(quantile_cont(avg_nll, 0.6666666666666666) AS DECIMAL(18,12)) AS DOUBLE) AS c2 " +
      "FROM nll) " +
      "SELECT doc_id, n_bigrams, avg_nll, " +
      "CASE WHEN avg_nll <= c1 THEN 'head' WHEN avg_nll <= c2 THEN 'middle' ELSE 'tail' END AS bucket " +
      "FROM nll, cuts ORDER BY doc_id"),

    "text_fingerprint" -> DuckTextFingerprint,
    "q_sql_fingerprint" -> DuckTextFingerprint,

    "mm_frames" -> ("WITH m AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, " +
      "CAST(1 + octet_length(encode(text)) % 16 AS BIGINT) AS frames FROM documents WHERE doc_id < 100) " +
      "SELECT doc_id, CAST(f AS BIGINT) AS frame_idx, " +
      "CAST((f * n_bytes) // frames AS BIGINT) AS byte_offset, " +
      "CAST(n_bytes // frames AS BIGINT) AS frame_bytes " +
      "FROM (SELECT doc_id, n_bytes, frames, unnest(range(frames)) AS f FROM m) " +
      "ORDER BY doc_id, frame_idx"),

    "mm_meta" -> ("SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, " +
      "CAST(64 + octet_length(encode(text)) % 192 AS BIGINT) AS width, " +
      "CAST(64 + (octet_length(encode(text)) // 7) % 192 AS BIGINT) AS height, " +
      "CAST(1 + octet_length(encode(text)) % 16 AS BIGINT) AS frames " +
      "FROM documents ORDER BY doc_id"),

    // aHash restated: same integer block bounds (b·n div 64), same
    // integer cross-multiplied bit decision, bits string-aggregated in
    // block order. ASCII fixture ⇒ ord(char) = byte value.
    "mm_phash" -> (duckPhashBody("documents") + " ORDER BY doc_id"),

    // The identical phash truth through the SQL surface (corpus_dedup
    // TVF, mode=>'media'): brute-force hamming over the shared phash
    // body vs the engine's chunk-banded candidate join — exact
    // equality (banding is lossless to hamming 7 by pigeonhole). The
    // md CTE rebuilds the planted-near-dup media fixture.
    "q_sql_media_dedup" -> ("WITH md AS (SELECT doc_id, text FROM documents " +
      "UNION ALL SELECT doc_id + 700000 AS doc_id, " +
      "'x' || substring(text, 2) AS text FROM documents WHERE doc_id % 17 = 0), " +
      "ph AS (" + duckPhashBody("md") + ") " +
      "SELECT doc_a, doc_b, hamming FROM (" +
      "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
      "CAST(list_sum(list_transform(range(1, 65), i -> " +
      "CASE WHEN substring(a.phash, CAST(i AS INTEGER), 1) <> " +
      "substring(b.phash, CAST(i AS INTEGER), 1) THEN 1 ELSE 0 END)) AS BIGINT) AS hamming " +
      "FROM ph a JOIN ph b ON a.doc_id < b.doc_id) " +
      "WHERE hamming <= 6 ORDER BY doc_a, doc_b"),

    "mm_audio_windows" -> ("WITH m AS (SELECT doc_id, " +
      "CAST(octet_length(encode(text)) AS BIGINT) AS n_samples FROM documents) " +
      "SELECT doc_id, CAST(window_idx AS BIGINT) AS window_idx, " +
      "CAST(window_idx * 32 AS BIGINT) AS sample_offset, CAST(64 AS BIGINT) AS window_samples " +
      "FROM (SELECT doc_id, unnest(range(0, (n_samples - 64) // 32 + 1)) AS window_idx " +
      "FROM m WHERE n_samples >= 64) ORDER BY doc_id, window_idx"),

    "mm_resize" -> ("WITH m AS (SELECT doc_id, " +
      "CAST(64 + octet_length(encode(text)) % 192 AS BIGINT) AS width, " +
      "CAST(64 + (octet_length(encode(text)) // 7) % 192 AS BIGINT) AS height " +
      "FROM documents) " +
      "SELECT doc_id, width AS in_w, height AS in_h, " +
      "CAST((width * 224) // greatest(width, height) AS BIGINT) AS out_w, " +
      "CAST((height * 224) // greatest(width, height) AS BIGINT) AS out_h " +
      "FROM m ORDER BY doc_id"),

    // Sequence packing: shard = exclusive-prefix-sum(tokens) div
    // budget over doc_id order — the oracle states it as one window
    // cumsum; the engine computes the identical sum distributed
    // (per-partition subtotals + broadcast offsets).
    "q_pack_tokens" -> DuckPackTokens,
    "q_sql_pack" -> DuckPackTokens,

    "q_shuffle_rank" -> DuckShuffleRank,
    "q_sql_shuffle" -> DuckShuffleRank,

    "q_shuffle_pack" -> ("WITH h AS (SELECT doc_id, text, " +
      "((doc_id + 7) % 1048576) * 2654435761 % 9999991 AS h FROM documents), " +
      "r AS (SELECT doc_id, text, CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS shuffle_rank FROM h), " +
      "t AS (SELECT doc_id, shuffle_rank, " +
      "CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT) AS n_tokens FROM r) " +
      "SELECT doc_id, shuffle_rank, n_tokens, CAST((SUM(n_tokens) OVER " +
      "(ORDER BY shuffle_rank ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) // 4096 AS BIGINT) AS seq_id " +
      "FROM t ORDER BY shuffle_rank"),

    "q_corpus_build" -> ("WITH toks AS (SELECT doc_id, " +
      "regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents), " +
      "qv AS (SELECT doc_id, " +
      "least(len(regexp_split_to_array(trim(lower(text)), '\\s+')) / 256.0, 1.0) * " +
      "(1.0 - CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text)) * " +
      "(0.5 + 0.5 * least(4.0 * CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), " +
      "t -> t IN ('the','and','of','to','in','is','a','that'))) AS DOUBLE) / " +
      "len(regexp_split_to_array(trim(lower(text)), '\\s+')), 1.0)) AS quality FROM documents), " +
      "qual AS (SELECT d.doc_id FROM documents d JOIN qv ON d.doc_id = qv.doc_id " +
      "WHERE d.doc_id % 10 <> 0 AND qv.quality >= 0.1), " +
      "sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 8), " +
      "i -> array_to_string(w[i:i+9], ' '))) AS s FROM toks WHERE len(w) >= 10), " +
      "evg AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 10 = 0), " +
      "tr AS (SELECT sh.doc_id, unnest(s) AS g FROM sh JOIN qual ON sh.doc_id = qual.doc_id), " +
      "bad AS (SELECT DISTINCT tr.doc_id AS doc_id FROM tr JOIN evg USING (g)), " +
      "keep AS (SELECT doc_id FROM qual WHERE doc_id NOT IN (SELECT doc_id FROM bad)), " +
      "t AS (SELECT k.doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM keep k " +
      "JOIN toks ON k.doc_id = toks.doc_id) " +
      "SELECT doc_id, n_tokens, CAST((SUM(n_tokens) OVER " +
      "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) // 1024 AS BIGINT) AS seq_id " +
      "FROM t ORDER BY doc_id"),

    "q_decontam" -> DuckDecontam,
    "q_sql_decontam" -> DuckDecontam,

    "q_temp_mix" -> DuckTempMix,
    "q_sql_mix_weights" -> DuckTempMix,

    "q_token_budget" -> DuckTokenBudget,
    "q_sql_mix_budget" -> DuckTokenBudget,

    "q_contam_report" -> DuckContamReport,
    "q_sql_contam" -> DuckContamReport,

    "q_quality_rep" -> DuckQualityRep,
    "q_sql_repetition" -> DuckQualityRep,

    "q_skew_agg" -> ("SELECT event_type, COUNT(*) AS n_events, " +
      "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value " +
      "FROM events GROUP BY event_type ORDER BY event_type"),

    "q_skew_join" -> ("SELECT c_mktsegment, COUNT(*) AS n, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total " +
      "FROM orders JOIN customer ON o_custkey = c_custkey " +
      "GROUP BY c_mktsegment ORDER BY c_mktsegment"),

    "q_gopher_rep" -> DuckGopherRep,
    "q_sql_gopher" -> DuckGopherRep,

    "q_resample" -> DuckResample,
    "q_sql_resample" -> DuckResample,

    // Explicit-recipe resampling (mix=>'en:50,fr:30,de:20'): weight =
    // (pct/100)·total/n_g in the SAME double-op order both engines,
    // the same Knuth-hash copy gate as DuckResample; es/zh are absent
    // from the recipe so every copy of them must vanish.
    "q_sql_mix_target" -> ("WITH t(lang, pct) AS (VALUES ('en', 50), ('fr', 30), ('de', 20)), " +
      "w AS (SELECT lang, COUNT(*) AS n_docs, " +
      "CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total FROM documents GROUP BY lang), " +
      "w2 AS (SELECT lang, CAST(pct AS DOUBLE) / 100.0 * total / n_docs AS weight " +
      "FROM w JOIN t USING (lang)), " +
      "c AS (SELECT doc_id, d.lang AS lang, " +
      "CAST(floor(weight) + CASE WHEN CAST(((doc_id % 1048576) * 2654435761) % 1048576 AS DOUBLE) < " +
      "(weight - floor(weight)) * 1048576.0 THEN 1 ELSE 0 END AS BIGINT) AS n_copies " +
      "FROM documents d JOIN w2 USING (lang)) " +
      "SELECT doc_id, lang, unnest(range(1, n_copies + 1)) AS copy_id " +
      "FROM c WHERE n_copies > 0 ORDER BY doc_id, copy_id"),

    "q_domain_mix" -> ("SELECT source, n_docs, " +
      "CAST(n_docs AS DOUBLE) / total AS frac, " +
      "CAST(total AS DOUBLE) / (n_groups * n_docs) AS weight " +
      "FROM (SELECT source, COUNT(*) AS n_docs, " +
      "CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total, COUNT(*) OVER () AS n_groups " +
      "FROM documents GROUP BY source) ORDER BY source"),

    "q_span_dup" -> ("WITH toks AS (SELECT doc_id, " +
      "regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents), " +
      "g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)-1), " +
      "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS gram FROM toks WHERE len(w) >= 3), " +
      "f AS (SELECT gram, count(*) AS nd FROM g GROUP BY gram) " +
      "SELECT doc_id, count(*) AS n_spans, " +
      "CAST(sum(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans, " +
      "CAST(sum(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_frac " +
      "FROM g JOIN f USING (gram) GROUP BY doc_id ORDER BY doc_id"),

    "q_span_removal" -> ("WITH t AS (SELECT doc_id, " +
      "regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents), " +
      "g AS (SELECT doc_id, i AS gpos, " +
      "list_aggregate(w[i:i+9], 'string_agg', ' ') AS gram " +
      "FROM t, unnest(range(1, len(w) - 8)) AS u(i) WHERE len(w) >= 10), " +
      "d AS (SELECT gram FROM (SELECT gram, count(DISTINCT doc_id) AS nd " +
      "FROM g GROUP BY gram) WHERE nd >= 2), " +
      "cov AS (SELECT DISTINCT g.doc_id, gpos + off AS pos " +
      "FROM g JOIN d USING (gram), unnest(range(0, 10)) AS o(off)), " +
      "tok AS (SELECT doc_id, i AS pos, w[i] AS tok " +
      "FROM t, unnest(range(1, len(w) + 1)) AS u(i)), " +
      "kept AS (SELECT tok.doc_id, tok.pos, tok.tok FROM tok " +
      "LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos " +
      "WHERE cov.pos IS NULL) " +
      "SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text, " +
      "count(*) AS n_kept FROM kept GROUP BY doc_id ORDER BY doc_id"),

    "q_quality_calib" -> ("WITH t AS (SELECT lang, length(text) AS lc, " +
      "regexp_split_to_array(trim(lower(text)), '\\s+') AS w, " +
      "CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct, " +
      "CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), " +
      "t -> t IN ('the','and','of','to','in','is','a','that'))) AS DOUBLE) AS stop " +
      "FROM documents), " +
      "q AS (SELECT lang, least(len(w) / 256.0, 1.0) * (1.0 - punct / lc) * " +
      "(0.5 + 0.5 * least(4.0 * stop / len(w), 1.0)) AS quality FROM t), " +
      "c AS (SELECT lang, CAST(CAST(quantile_cont(quality, 0.3) AS DECIMAL(18,12)) " +
      "AS DOUBLE) AS cutoff FROM q GROUP BY lang) " +
      "SELECT q.lang AS lang, max(cutoff) AS cutoff, count(*) AS n_docs, " +
      "CAST(sum(CASE WHEN quality >= cutoff THEN 1 ELSE 0 END) AS BIGINT) AS n_kept " +
      "FROM q JOIN c ON q.lang = c.lang GROUP BY q.lang ORDER BY q.lang"),

    "q_top_ngrams" -> ("WITH toks AS (SELECT doc_id, " +
      "regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents), " +
      "g AS (SELECT unnest(list_transform(range(1, len(w)-1), " +
      "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram FROM toks WHERE len(w) >= 3) " +
      "SELECT gram, count(*) AS n FROM g GROUP BY gram ORDER BY n DESC, gram LIMIT 20"),

    "q_pmi" -> ("WITH toks AS (SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents), " +
      "uni AS (SELECT t, COUNT(*) AS n FROM (SELECT unnest(w) AS t FROM toks) GROUP BY t), " +
      "ut AS (SELECT CAST(SUM(n) AS BIGINT) AS n_uni FROM uni), " +
      "bi AS (SELECT a, b, COUNT(*) AS n_ab FROM (" +
      "SELECT w[i] AS a, w[i+1] AS b FROM toks, unnest(range(1, len(w))) AS u(i) WHERE len(w) >= 2) " +
      "GROUP BY a, b HAVING COUNT(*) >= 5), " +
      "bt AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n_bi FROM bi) " +
      "SELECT a || ' ' || b AS gram, n_ab, " +
      "CAST(CAST(ln((n_ab / CAST(n_bi AS DOUBLE)) / ((ua.n / CAST(n_uni AS DOUBLE)) * " +
      "(ub.n / CAST(n_uni AS DOUBLE)))) AS DECIMAL(18,12)) AS DOUBLE) AS pmi " +
      "FROM bi JOIN uni ua ON bi.a = ua.t JOIN uni ub ON bi.b = ub.t, ut, bt " +
      "ORDER BY pmi DESC, gram LIMIT 20"),

    "q_chunk" -> DuckChunk,
    "q_sql_chunk" -> DuckChunk,

    "q_zorder" -> ("SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, " +
      "CAST(" + pipeline.ZOrder.zValueSql("l_partkey % 1024", "l_suppkey % 1024", 10) +
      " AS BIGINT) AS zkey FROM lineitem ORDER BY zkey, l_orderkey, l_linenumber"),

    "q_zorder_skip" ->
      pipeline.ZOrder.skippingStatsSql("lineitem", "l_partkey", "l_suppkey")
  )

  // ===========================================================
  // Round-3 extensions: TPC-H-shaped headline queries, sketch
  // aggregates with bounded-error gates, PII scrub
  // ===========================================================

  private val ext3Queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q3 (shipping priority): the selective-dimension-filter +
    // fact-join + top-N-by-aggregate shape. Plan to want at 100×:
    // segment filter applied BEFORE the join, one shuffle on the
    // orders⋈lineitem key, TakeOrderedAndProject for the top 10.
    "q_tpch_q3" -> ((s, d) => {
      val c = T(s, d, "customer"); val o = T(s, d, "orders"); val li = T(s, d, "lineitem")
      c.filter(col("c_mktsegment") === "BUILDING")
        .join(o, col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < "1998-06-01")
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > "1998-06-01")
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    }),

    // TPC-H Q10 (returned-item reporting): 4-way join, group by the
    // full customer tuple, top 20 by revenue.
    "q_tpch_q10" -> ((s, d) => {
      val c = T(s, d, "customer"); val o = T(s, d, "orders")
      val li = T(s, d, "lineitem"); val n = T(s, d, "nation")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1996-07-01")
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_returnflag") === "R")
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    }),

    // HLL++ sketch aggregate, gated by a deterministic bounded-error
    // check: the sketch is hash-based and merge-independent, so the
    // boolean is a fixed function of the data — the oracle pins it
    // true alongside the exact count. At 100 TB approx_count_distinct
    // is THE cardinality operator (no exact-distinct shuffle).
    "q_approx_distinct" -> ((s, d) =>
      T(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_orderkey")).as("n_exact"),
          approx_count_distinct(col("l_orderkey"), 0.05).as("approx"))
        .select(col("l_returnflag"), col("n_exact"),
          (abs(col("approx") - col("n_exact")) <= col("n_exact") * lit(0.15)).as("ok"))
        .orderBy("l_returnflag")),

    // Mergeable HLL sketches (datasketches): per-group sketches union
    // WITHOUT re-scanning — the distributed distinct-count pattern at
    // 100 TB (partial sketches merge associatively, like any partial
    // agg). Deterministic sketch (fixed lgk/seed) → the bounded-error
    // gate is a fixed function of the data, pinned true by the oracle.
    "q_hll_union" -> ((s, d) => {
      Engine.registerViews(s, d)
      s.sql("""WITH sk AS (SELECT l_returnflag, hll_sketch_agg(l_orderkey) AS sk
              |           FROM lineitem GROUP BY l_returnflag),
              |u AS (SELECT hll_sketch_estimate(hll_union_agg(sk)) AS approx_union FROM sk),
              |e AS (SELECT COUNT(DISTINCT l_orderkey) AS n_exact FROM lineitem)
              |SELECT n_exact,
              |  (abs(approx_union - n_exact) <= n_exact * 0.05) AS ok
              |FROM u, e""".stripMargin)
    }),

    // Deequ-style data-quality report: the corpus QA gate a production
    // ingest runs before promoting a snapshot — one aggregate pass.
    "q_data_quality" -> ((s, d) =>
      T(s, d, "documents").agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_distinct_ids"),
          sum(when(col("text").isNull || length(col("text")) === 0, 1L)
            .otherwise(0L)).as("n_empty_text"),
          sum(when(col("lang").isNull, 1L).otherwise(0L)).as("n_null_lang"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
        .withColumn("ids_unique", col("n_distinct_ids") === col("n_rows"))
        .withColumn("chars_in_bounds",
          col("min_chars") >= 0 && col("max_chars") <= 1000000)),

    // Quantile sketch (percentile_approx) against the exact
    // interpolated percentile, same bounded-error gating.
    "q_approx_quantile" -> ((s, d) =>
      T(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(expr("percentile(o_totalprice, 0.5)").as("p50_exact"),
          expr("percentile_approx(o_totalprice, 0.5, 10000)").as("p50_approx"))
        .select(col("o_orderpriority"), col("p50_exact"),
          (abs(col("p50_approx") - col("p50_exact")) <= col("p50_exact") * lit(0.02)).as("ok"))
        .orderBy("o_orderpriority")),

    // The dedup pipeline composed in PURE SQL via the injected native
    // functions (GraftExtensions.injectFunction): shingle_hashes /
    // sorted_intersect_size resolve through the analyzer like
    // built-ins and keep their codegen. Same inverted-index plan and
    // the same oracle as dedup_ngram — one operator, two surfaces.
    // Retrieval through the SQL surface: the corpus_search TVF wraps
    // TextAnalysis.bm25 with a deterministic (score desc, doc_id) cut.
    "q_sql_search" -> ((s, d) =>
      s.sql(s"SELECT doc_id, score, n_terms FROM " +
          s"corpus_search('$d/documents.parquet', 'spark hash window', k=>15)")
        .orderBy("doc_id")),

    // Phrase mode through the SQL surface, served from the persisted
    // index's positional postings (the TVF detects the layout) — same
    // oracle as q_phrase_search.
    "q_sql_phrase" -> ((s, d) =>
      s.sql(s"SELECT doc_id, n_hits FROM " +
          s"corpus_search('${textIndexDir(s, d)}', 'table scan', k=>25, mode=>'phrase')")
        .orderBy("doc_id")),

    // Batch retrieval through SQL: a parquet of (query_id, query)
    // external queries against the PLAIN corpus — one corpus scan
    // covers the whole batch (bm25Many); the index route of the same
    // batch is q_search_many's searchMany (same oracle algebra).
    "q_sql_search_many" -> ((s, d) =>
      s.sql(s"SELECT query_id, doc_id, score, n_terms FROM " +
          s"corpus_search('$d/documents.parquet', " +
          s"queries=>'${searchQueriesDir(s, d)}', k=>10)")
        .orderBy("query_id", "doc_id")),

    // Batch phrase serving from the positional index: one pruned
    // probe per phrase, absent-phrase leg contributes nothing.
    "q_sql_phrase_many" -> ((s, d) =>
      s.sql(s"SELECT query_id, doc_id, n_hits FROM " +
          s"corpus_search('${textIndexDir(s, d)}', " +
          s"queries=>'${phraseQueriesDir(s, d)}', k=>25, mode=>'phrase')")
        .orderBy("query_id", "doc_id")),

    // Vector search through the SQL surface: corpus_ann with vector 0's
    // embedding as the external query (driver-side single-row fixture
    // read at query-build time; Double.toString round-trips exactly, so
    // the TVF parses back the identical doubles the oracle computes
    // with). Self lands at rank 1; the rest is the exact brute-force
    // top-k the ann_topk family already pins.
    "q_sql_ann" -> ((s, d) => {
      val v = sources.Parquet.read(s, s"$d/embeddings.parquet")
        .filter(col("vec_id") === 0L).select("embedding")
        .head().getSeq[Float](0)
      val vecStr = v.map(f => f.toDouble.toString).mkString(",")
      s.sql(s"SELECT neighbor_id, cos, rank FROM " +
          s"corpus_ann('$d/embeddings.parquet', '$vecStr', k=>10)")
        .orderBy("rank")
    }),

    // Batch vector serving through SQL: a parquet of external query
    // vectors against the corpus — exact brute route, full-value
    // oracle (the indexed batch route is covered by ann_ivf_serve and
    // the SourcesSpec brute ≡ indexed pin).
    "q_sql_ann_many" -> ((s, d) =>
      s.sql(s"SELECT query_id, neighbor_id, cos, rank FROM " +
          s"corpus_ann('$d/embeddings.parquet', " +
          s"queries=>'${annQueriesDir(s, d)}', k=>5)")
        .orderBy("query_id", "rank")),

    // Tenant/language-scoped vector search from SQL (filter=>'path',
    // a one-column allow-list parquet): served through the IVF index
    // with the adaptive escape, so the FILTERED result is exact — the
    // oracle is brute cosine over the filtered corpus, the same
    // semantics ann_ivf_filtered pins on the Scala surface.
    "q_sql_ann_filtered" -> ((s, d) =>
      s.sql(s"SELECT query_id, neighbor_id, cos, rank FROM " +
          s"corpus_ann('${ivfIndexDir(s, d)}', " +
          s"queries=>'${annQueriesDir(s, d)}', k=>5, nprobe=>5, " +
          s"filter=>'${annFilterDir(s, d)}')")
        .orderBy("query_id", "rank")),

    "q_sql_dedup" -> ((s, d) => {
      Engine.registerViews(s, d)
      s.sql("""WITH sh AS (
              |  SELECT doc_id, shingle_hashes(text, 3) AS s FROM documents),
              |sh2 AS (SELECT * FROM sh WHERE size(s) > 0),
              |inv AS (SELECT doc_id, explode(s) AS h FROM sh2),
              |rare AS (SELECT h FROM inv GROUP BY h
              |         HAVING COUNT(*) >= 2 AND COUNT(*) <= 1000),
              |inv2 AS (SELECT inv.doc_id, inv.h FROM inv JOIN rare ON inv.h = rare.h),
              |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
              |         FROM inv2 x JOIN inv2 y ON x.h = y.h AND x.doc_id < y.doc_id),
              |j AS (SELECT doc_a, doc_b,
              |        CAST(sorted_intersect_size(a.s, b.s) AS DOUBLE) AS co,
              |        size(a.s) AS sa, size(b.s) AS sb
              |      FROM cand JOIN sh2 a ON cand.doc_a = a.doc_id
              |                JOIN sh2 b ON cand.doc_b = b.doc_id)
              |SELECT doc_a, doc_b, co / (sa + sb - co) AS jaccard
              |FROM j WHERE co / (sa + sb - co) >= 0.8
              |ORDER BY doc_a, doc_b""".stripMargin)
    }),

    // Fuzzy dedup through the SQL surface, SELF mode served from the
    // PERSISTED band index: all near-dup pairs among the indexed
    // corpus from stored band rows + shingle sets — no text is
    // re-read, no signature recomputed. Held to the same exact
    // all-pairs oracle as dedup_ngram/dedup_minhash (the 16×4 scheme
    // misses no true pair on this corpus, measured).
    "q_sql_neardup_index" -> ((s, d) =>
      s.sql(s"SELECT doc_a, doc_b, jaccard FROM " +
          s"corpus_dedup('${bandIndexDir(s, d)}') ORDER BY doc_a, doc_b")),

    // Batch mode against a PLAIN corpus — the index-free LSH
    // cross-set fallback (crossSetNearDupPairs): same batch parquet
    // and the same brute-force cross-join oracle as the indexed route
    // (dedup_band_incr), so both routes answer to identical truth.
    "q_sql_neardup_batch" -> ((s, d) =>
      s.sql(s"SELECT doc_id, dup_of, jaccard FROM " +
          s"corpus_dedup('$d/documents.parquet', " +
          s"batch=>'${dedupBatchDir(s, d)}', threshold=>0.8) " +
          "ORDER BY doc_id, dup_of")),

    // Cluster mode through the SQL surface: the near-dup graph's
    // connected components (label propagation) as a TVF — same
    // transitive-closure oracle as dedup_clusters.
    "q_sql_dedup_clusters" -> ((s, d) =>
      s.sql(s"SELECT doc_id, cluster_id FROM " +
          s"corpus_dedup('$d/documents.parquet', mode=>'clusters') " +
          "ORDER BY doc_id")),

    // SimHash banding through the SQL surface (round 18): the same
    // exact-Jaccard pair contract as dedup_simhash, candidates from
    // aligned simhash chunk buckets instead of shingle LSH — same
    // brute-force oracle (the verifier makes emitted pairs exact;
    // candidate recall is 1.0 on the fixtures, spec-measured).
    "q_sql_simhash" -> ((s, d) =>
      s.sql(s"SELECT doc_a, doc_b, jaccard FROM " +
        s"corpus_dedup('$d/documents.parquet', mode=>'simhash')")),

    // The curation-scoring pass through the SQL surface: the
    // corpus_quality TVF routes to the SAME qualityScore operator
    // text_quality serves, so one oracle body pins both surfaces.
    "q_sql_quality" -> ((s, d) =>
      s.sql(s"SELECT doc_id, n_tokens, punct_ratio, stop_ratio, quality " +
          s"FROM corpus_quality('$d/documents.parquet')")
        .orderBy("doc_id")),

    // Language-ID through the SQL surface (mode=>'langid'), same
    // stopword-hit scores + argmax oracle as text_langid.
    "q_sql_langid" -> ((s, d) =>
      s.sql(s"SELECT doc_id, actual_lang, score_en, score_fr, score_de, " +
          s"score_es, score_zh, predicted_lang FROM " +
          s"corpus_quality('$d/documents.parquet', mode=>'langid')")
        .orderBy("doc_id")),

    // Token accounting through the SQL surface (mode=>'tokens'),
    // same whitespace + BPE-ish regex counts oracle as text_tokens.
    "q_sql_tokens" -> ((s, d) =>
      s.sql(s"SELECT doc_id, n_ws_tokens, n_re_tokens, chars_per_token " +
          s"FROM corpus_quality('$d/documents.parquet', mode=>'tokens')")
        .orderBy("doc_id")),

    // Content fingerprinting through the SQL surface
    // (mode=>'fingerprint'), same rolling-hash oracle as
    // text_fingerprint.
    "q_sql_fingerprint" -> ((s, d) =>
      s.sql(s"SELECT doc_id, fp FROM " +
          s"corpus_quality('$d/documents.parquet', mode=>'fingerprint')")
        .orderBy("doc_id")),

    // The repetition/Gopher filter passes through the SQL surface —
    // corpus_quality threshold options reach the operators (the twins
    // pin default thresholds for repetition, the q_gopher_rep fixture
    // thresholds for gopher).
    "q_sql_repetition" -> ((s, d) =>
      s.sql(s"SELECT doc_id, rep_word_frac, top_word_frac, " +
          s"top_bigram_frac, keep FROM " +
          s"corpus_quality('$d/documents.parquet', mode=>'repetition')")
        .orderBy("doc_id")),

    "q_sql_gopher" -> ((s, d) =>
      s.sql(s"SELECT doc_id, top_3gram_frac, top_4gram_frac, " +
          s"dup_5gram_frac, dup_10gram_frac, keep FROM " +
          s"corpus_quality('$d/documents.parquet', mode=>'gopher', " +
          s"top3=>0.05, top4=>0.05)")
        .orderBy("doc_id")),

    // Mix construction through the SQL surface: each corpus_mix mode
    // routes to the SAME CorpusOps operator its Scala twin serves, so
    // one oracle body pins both surfaces (q_temp_mix, q_resample,
    // q_shuffle_rank, q_token_budget, q_pack_tokens respectively).
    "q_sql_mix_weights" -> ((s, d) =>
      s.sql(s"SELECT lang, n_docs, frac, weight FROM " +
          s"corpus_mix('$d/documents.parquet', group=>'lang')")
        .orderBy("lang")),

    "q_sql_resample" -> ((s, d) =>
      s.sql(s"SELECT doc_id, lang, copy_id FROM " +
          s"corpus_mix('$d/documents.parquet', mode=>'resample', group=>'lang')")
        .orderBy("doc_id", "copy_id")),

    // Explicit data recipe from SQL: resample the corpus to
    // 50% en / 30% fr / 20% de (resampleToTarget) — unlisted langs
    // (es, zh) drop, expected output size ≈ input size at the
    // recipe's mixture, every copy decision a deterministic pure
    // function of doc_id.
    "q_sql_mix_target" -> ((s, d) =>
      s.sql(s"SELECT doc_id, lang, copy_id FROM " +
          s"corpus_mix('$d/documents.parquet', mode=>'resample', " +
          s"group=>'lang', mix=>'en:50,fr:30,de:20')")
        .orderBy("doc_id", "copy_id")),

    "q_sql_shuffle" -> ((s, d) =>
      s.sql(s"SELECT doc_id, shuffle_rank FROM " +
          s"corpus_mix('$d/documents.parquet', mode=>'shuffle', seed=>7)")
        .orderBy("doc_id")),

    "q_sql_mix_budget" -> ((s, d) =>
      s.sql(s"SELECT doc_id, lang, n_tokens, cum_tokens FROM " +
          s"corpus_mix('$d/documents.parquet', mode=>'budget', " +
          s"group=>'lang', budget=>2000)")
        .orderBy("doc_id")),

    "q_sql_pack" -> ((s, d) =>
      s.sql(s"SELECT doc_id, n_tokens, seq_id FROM " +
          s"corpus_mix('$d/documents.parquet', mode=>'pack', budget=>4096)")
        .orderBy("doc_id")),

    "q_sql_chunk" -> ((s, d) =>
      s.sql(s"SELECT doc_id, chunk_id, n_chunk_tokens, chunk_text FROM " +
          s"corpus_mix('$d/documents.parquet', mode=>'chunk', " +
          s"max_tokens=>64, overlap=>16)")
        .orderBy("doc_id", "chunk_id")),

    // Deterministic split assignment through the SQL surface — every
    // input column passes through plus the split label, so the twin
    // selects the same (doc_id, lang, split) q_split pins.
    "q_sql_split" -> ((s, d) =>
      s.sql(s"SELECT doc_id, lang, split FROM " +
          s"corpus_mix('$d/documents.parquet', mode=>'split', " +
          s"weights=>'train:90,val:5,test:5')")
        .orderBy("doc_id")),

    // Decontamination through the SQL surface: the TVF takes TWO
    // paths (train, eval) — the arriving-files shape — built as
    // fixtures from the same doc_id%10 split the q_decontam oracle
    // derives in-query, so one DuckDB body pins both surfaces.
    "q_sql_decontam" -> ((s, d) => {
      val fx = decontamFixtureDir(s, d)
      s.sql(s"SELECT doc_id FROM " +
          s"corpus_decontam('$fx/train', '$fx/eval')")
        .orderBy("doc_id")
    }),

    // The per-group overlap audit (mode=>'report') — same eval-gram
    // broadcast plan as the filter mode, same oracle body as
    // q_contam_report.
    "q_sql_contam" -> ((s, d) => {
      val fx = decontamFixtureDir(s, d)
      s.sql(s"SELECT lang, n_docs, n_contaminated, frac_contaminated " +
          s"FROM corpus_decontam('$fx/train', '$fx/eval', " +
          s"mode=>'report', group=>'lang')")
        .orderBy("lang")
    }),

    // Hybrid retrieval through the SQL surface: BM25 leg from the
    // persisted text index, dense leg from the IVF index (adaptive =
    // exact), integer RRF fusion — the same legs and algebra as
    // q_hybrid_indexed, so the duckHybridSql body pins both surfaces.
    // The query vector is vec_id 7's embedding as a literal (the
    // serving shape: the application supplies the vector).
    "q_sql_hybrid" -> ((s, d) => {
      val v = sources.Parquet.read(s, s"$d/embeddings.parquet")
        .filter(col("vec_id") === 7L).select("embedding")
        .head().getSeq[Float](0)
      val vecStr = v.map(f => f.toDouble.toString).mkString(",")
      s.sql(s"SELECT doc_id, rrf_score, n_legs FROM " +
          s"corpus_hybrid('${textIndexDir(s, d)}', '${ivfIndexDir(s, d)}', " +
          s"'spark hash window', embedding=>'$vecStr', k=>15, " +
          s"k_per_leg=>20, k0=>60, nprobe=>5)")
        .orderBy("doc_id")
    }),

    // Batch hybrid serving through SQL: a parquet of (query_id,
    // query, embedding) rows against both indexes — per-query RRF
    // fusion (rrfFuseMany), query 3's term absent so its fusion is
    // dense-leg-only (batch composition must not change any query's
    // result).
    "q_sql_hybrid_many" -> ((s, d) =>
      s.sql(s"SELECT query_id, doc_id, rrf_score, n_legs FROM " +
          s"corpus_hybrid('${textIndexDir(s, d)}', '${ivfIndexDir(s, d)}', " +
          s"queries=>'${hybridQueriesDir(s, d)}', k=>10, k_per_leg=>20, " +
          s"k0=>60, nprobe=>5)")
        .orderBy("query_id", "doc_id")),

    // Weighted hybrid fusion (weights=>'2,1': lexical-heavy — the
    // exact-identifier serving shape): same indexes and legs as
    // q_sql_hybrid, contributions (w * RrfScale) div (k0 + rank) in
    // integer arithmetic so the DuckDB restatement is bit-identical.
    "q_sql_hybrid_weighted" -> ((s, d) => {
      val v = sources.Parquet.read(s, s"$d/embeddings.parquet")
        .filter(col("vec_id") === 7L).select("embedding")
        .head().getSeq[Float](0)
      val vecStr = v.map(f => f.toDouble.toString).mkString(",")
      s.sql(s"SELECT doc_id, rrf_score, n_legs FROM " +
          s"corpus_hybrid('${textIndexDir(s, d)}', '${ivfIndexDir(s, d)}', " +
          s"'spark hash window', embedding=>'$vecStr', k=>15, " +
          s"k_per_leg=>20, k0=>60, nprobe=>5, weights=>'2,1')")
        .orderBy("doc_id")
    }),

    // SQL write-back — the last statement of the SQL-only curation
    // story: persist a filtered corpus from corpus_quality output to a
    // named location (INSERT OVERWRITE DIRECTORY ... USING parquet —
    // idempotent, no catalog state), then re-read what was written.
    // The oracle computes the same projection directly, so the hash
    // gate proves the persisted parquet round-trips the exact doubles.
    "q_sql_writeback" -> ((s, d) => {
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_writeback_" + Integer.toHexString(d.hashCode)).getAbsolutePath
      s.sql(s"INSERT OVERWRITE DIRECTORY '$out' USING parquet " +
        s"SELECT doc_id, quality FROM corpus_quality('$d/documents.parquet') " +
        "WHERE quality >= 0.12")
      s.sql(s"SELECT doc_id, quality FROM read_files('$out')").orderBy("doc_id")
    }),

    // PII scrub through the SQL surface (mode=>'redact') over the
    // synthetic-PII fixture — same deterministic doc_id-derived PII
    // the q_pii_redact oracle reconstructs, so one body pins both
    // surfaces and the redaction is exercised on text that actually
    // contains emails/phones/IPs.
    "q_sql_redact" -> ((s, d) => {
      val px = piiDocsDir(s, d)
      s.sql(s"SELECT doc_id, clean FROM " +
          s"corpus_quality('$px', mode=>'redact')")
        .orderBy("doc_id")
    }),

    // Corpus snapshot diff through the SQL surface: old = the live
    // corpus parquet, new = the derived-snapshot fixture (every 13th
    // doc dropped, every 7th rewritten) — content identity, so the
    // q_corpus_diff oracle body pins both surfaces.
    "q_sql_corpus_diff" -> ((s, d) => {
      val nw = diffNewDir(s, d)
      s.sql(s"SELECT source, n_added, n_removed, n_kept FROM " +
          s"corpus_diff('$d/documents.parquet', '$nw', group=>'source')")
        .orderBy("source")
    }),

    // The reference's projection NAMING contract: unaliased computed
    // columns become unnamed_{i} (record_projection.rs:39-59) —
    // ReferenceProjection reproduces it; the oracle spells the same
    // names out explicitly.
    "q_unnamed_proj" -> ((s, d) =>
      operators.ReferenceProjection.select(
        T(s, d, "lineitem").filter(col("l_orderkey") < 100),
        "l_orderkey", "l_linenumber", "l_quantity * 2",
        "l_extendedprice + 1.0", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")),

    // PII scrub over the corpus: deterministic synthetic PII derived
    // from doc_id is appended, then redacted by the shared operator —
    // the oracle re-runs the same ERE chain in RE2.
    "q_pii_redact" -> ((s, d) =>
      T(s, d, "documents")
        .select(col("doc_id"),
          concat(col("text"),
            lit(" contact user"), col("doc_id"), lit("@mail.example.com or +1-555-"),
            lpad(pmod(col("doc_id") * 7, lit(10000)).cast("string"), 4, "0"),
            lit(" from 10."), pmod(col("doc_id"), lit(256)).cast("string"), lit(".0.1")).as("raw"))
        .select(col("doc_id"), pipeline.TextAnalysis.redactPii(col("raw")).as("clean"))
        .orderBy("doc_id"))
  )

  private val ext3Oracles: Map[String, String] = Map(
    "q_tpch_q3" -> ("SELECT l_orderkey, revenue, o_orderdate FROM (" +
      "SELECT l_orderkey, o_orderdate, " +
      "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue " +
      "FROM customer, orders, lineitem " +
      "WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey " +
      "AND o_orderdate < TIMESTAMP '1998-06-01' AND l_shipdate > TIMESTAMP '1998-06-01' " +
      "GROUP BY l_orderkey, o_orderdate) " +
      "ORDER BY revenue DESC, l_orderkey LIMIT 10"),

    "q_tpch_q10" -> ("SELECT c_custkey, c_name, revenue, c_acctbal, n_name FROM (" +
      "SELECT c_custkey, c_name, c_acctbal, n_name, " +
      "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue " +
      "FROM customer, orders, lineitem, nation " +
      "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND c_nationkey = n_nationkey " +
      "AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01' " +
      "AND l_returnflag = 'R' " +
      "GROUP BY c_custkey, c_name, c_acctbal, n_name) " +
      "ORDER BY revenue DESC, c_custkey LIMIT 20"),

    "q_sql_dedup" -> duckJaccardPairs,
    "q_sql_neardup_index" -> duckJaccardPairs,
    // simhash banding emits the same exact verified pairs (candidate
    // recall 1.0 on the fixtures), so the brute-force truth is shared
    "q_sql_simhash" -> duckJaccardPairs,
    "q_sql_neardup_batch" -> duckCrossJaccard,

    "q_unnamed_proj" -> ("SELECT l_orderkey, l_linenumber, " +
      "l_quantity * 2 AS unnamed_0, l_extendedprice + 1.0 AS unnamed_1, l_returnflag " +
      "FROM lineitem WHERE l_orderkey < 100 ORDER BY l_orderkey, l_linenumber"),

    "q_approx_distinct" -> ("SELECT l_returnflag, " +
      "CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_exact, true AS ok " +
      "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),

    "q_hll_union" -> ("SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_exact, " +
      "true AS ok FROM lineitem"),

    "q_data_quality" -> ("SELECT COUNT(*) AS n_rows, " +
      "CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct_ids, " +
      "CAST(SUM(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_text, " +
      "CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_lang, " +
      "min(n_chars) AS min_chars, max(n_chars) AS max_chars, " +
      "COUNT(DISTINCT doc_id) = COUNT(*) AS ids_unique, " +
      "(min(n_chars) >= 0 AND max(n_chars) <= 1000000) AS chars_in_bounds " +
      "FROM documents"),

    "q_approx_quantile" -> ("SELECT o_orderpriority, " +
      "quantile_cont(o_totalprice, 0.5) AS p50_exact, true AS ok " +
      "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),

    "q_pii_redact" -> DuckPiiRedact,
    "q_sql_redact" -> DuckPiiRedact
  )

  // ===========================================================
  // Round-6 extensions: the classic TPC-H analytical suite widened
  // (q1/q5/q6/q14/q18 join the existing q3/q10) — each one pins a
  // canonical plan shape the engine must get right at 100 TB.
  // ===========================================================

  /** Derived `partsupp` CTE: the fixture ships no partsupp table, so
    * q2/q11/q16 derive one from part × supplier with the official
    * TPC-H supplier-assignment formula (ps_suppkey =
    * (ps_partkey + i·(S/4 + (ps_partkey−1)/S)) mod S + 1, i ∈ 0..3 —
    * dbgen's four-suppliers-per-part rotation). Every expression is
    * engine-portable integer arithmetic (+ one IEEE double division
    * for supplycost), so Spark and DuckDB run the IDENTICAL statement
    * and must agree bit-for-bit. DISTINCT guards the tiny-S case
    * (sf0.001 has 10 suppliers) where the rotation can collide.
    * Scale note: at a real 100 TB scale partsupp would be a scanned
    * table; the derivation is a fixture shim, not the operator. */
  private val TpchPartsuppCte: String =
    """partsupp AS (
      |  SELECT DISTINCT ps_partkey, ps_suppkey,
      |         (ps_partkey * 37 + ps_suppkey * 11) % 9999 + 1 AS ps_availqty,
      |         CAST((ps_partkey * 13 + ps_suppkey * 7) % 100000 + 100 AS DOUBLE) / 100.0 AS ps_supplycost
      |  FROM (
      |    SELECT p_partkey AS ps_partkey,
      |           (p_partkey + quad.i * (CAST(FLOOR(CAST(sc.n AS DOUBLE) / 4.0) AS BIGINT)
      |              + CAST(FLOOR(CAST(p_partkey - 1 AS DOUBLE) / CAST(sc.n AS DOUBLE)) AS BIGINT))) % sc.n + 1 AS ps_suppkey
      |    FROM part
      |    CROSS JOIN (SELECT 0 AS i UNION ALL SELECT 1 UNION ALL SELECT 2 UNION ALL SELECT 3) quad
      |    CROSS JOIN (SELECT COUNT(*) AS n FROM supplier) sc
      |  ) ps0
      |)""".stripMargin

  /** TPC-H Q2 (minimum-cost supplier), adapted to the fixture columns
    * (no p_mfgr/s_address/s_phone/s_comment). Shape under test: a
    * correlated scalar MIN subquery over partsupp that Catalyst must
    * decorrelate into a per-part aggregate + join, not a per-row
    * re-scan. Identical text runs on both engines. */
  private val TpchQ2Sql: String =
    s"""WITH $TpchPartsuppCte
       |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_supplycost
       |FROM part, supplier, partsupp, nation, region
       |WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
       |  AND p_size < 15 AND p_type = 'LARGE'
       |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey AND r_name = 'ASIA'
       |  AND ps_supplycost = (SELECT MIN(ps2.ps_supplycost)
       |                       FROM partsupp ps2, supplier s2, nation n2, region r2
       |                       WHERE ps2.ps_partkey = p_partkey AND s2.s_suppkey = ps2.ps_suppkey
       |                         AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
       |                         AND r2.r_name = 'ASIA')
       |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin

  /** TPC-H Q11 (important stock): groupBy over partsupp with a HAVING
    * threshold from an UNCORRELATED scalar subquery over the same
    * join — computed once, broadcast into the filter. NATION_19 has
    * suppliers at every fixture scale. Decimal-cast products make the
    * sums order-free. */
  private val TpchQ11Sql: String =
    s"""WITH $TpchPartsuppCte
       |SELECT ps_partkey, CAST(SUM(CAST(ps_supplycost * ps_availqty AS DECIMAL(18,4))) AS DOUBLE) AS stock_value
       |FROM partsupp, supplier, nation
       |WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey AND n_name = 'NATION_19'
       |GROUP BY ps_partkey
       |HAVING CAST(SUM(CAST(ps_supplycost * ps_availqty AS DECIMAL(18,4))) AS DOUBLE) >
       |       (SELECT CAST(SUM(CAST(ps_supplycost * ps_availqty AS DECIMAL(18,4))) AS DOUBLE) * 0.001
       |        FROM partsupp, supplier, nation
       |        WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey AND n_name = 'NATION_19')
       |ORDER BY stock_value DESC, ps_partkey""".stripMargin

  /** TPC-H Q16 (parts/supplier relationship), adapted: the
    * "customer complaints" comment filter becomes s_acctbal < 0 (the
    * fixture has no s_comment). Shape under test: COUNT(DISTINCT)
    * after a NOT IN anti-join. */
  private val TpchQ16Sql: String =
    s"""WITH $TpchPartsuppCte
       |SELECT p_brand, p_type, p_size, CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
       |FROM partsupp, part
       |WHERE p_partkey = ps_partkey AND p_brand <> 'Brand#13' AND p_type NOT LIKE 'MEDIUM%'
       |  AND p_size IN (1, 4, 7, 10, 14, 19, 23, 36, 45, 49)
       |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
       |GROUP BY p_brand, p_type, p_size
       |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** TPC-H Q12 (shipping modes and order priority), with derived
    * l_shipmode/l_commitdate/l_receiptdate (the fixture lineitem has
    * none): shipmode rotates over dbgen's 7 modes by
    * (l_orderkey + l_linenumber) mod 7, commit/receipt are whole-day
    * offsets from l_shipdate. `dayAdd` abstracts the one
    * non-portable piece of syntax (Spark `timestampadd` vs DuckDB
    * interval multiplication); the VALUES are identical whole-day
    * shifts of a midnight timestamp, so the shared predicate body
    * can't drift. */
  private def tpchQ12Sql(dayAdd: (String, String) => String): String = {
    val commit = dayAdd("l_shipdate", "CAST((l_orderkey * 3 + l_linenumber) % 60 - 30 AS INT)")
    val receipt = dayAdd("l_shipdate", "CAST((l_orderkey * 5 + l_linenumber) % 30 + 1 AS INT)")
    s"""SELECT l_shipmode,
       |  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       |  CAST(SUM(CASE WHEN o_orderpriority <> '1-URGENT' AND o_orderpriority <> '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
       |FROM (
       |  SELECT l_orderkey, o_orderpriority,
       |    CASE (l_orderkey + l_linenumber) % 7 WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP' WHEN 2 THEN 'AIR'
       |         WHEN 3 THEN 'TRUCK' WHEN 4 THEN 'RAIL' WHEN 5 THEN 'REG AIR' ELSE 'FOB' END AS l_shipmode,
       |    l_shipdate, $commit AS l_commitdate, $receipt AS l_receiptdate
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey) x
       |WHERE l_shipmode IN ('MAIL', 'SHIP')
       |  AND l_commitdate < l_receiptdate AND l_shipdate < l_commitdate
       |  AND l_receiptdate >= TIMESTAMP '1996-01-01' AND l_receiptdate < TIMESTAMP '1997-01-01'
       |GROUP BY l_shipmode ORDER BY l_shipmode""".stripMargin
  }

  private val ext6Queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Drift observability through SQL (round 16): the RUNBOOK's
    // escape_cap operating rule reads ivfDriftStats before raising the
    // knob — now operable without Scala. DECIMAL(18,4)-insulated on
    // both sides (the per-row cosine is bit-identical — same
    // sequential fold — but the avg's partial-merge order is not).
    "q_sql_index_drift" -> ((s, d) =>
      s.sql("SELECT cell, n_rows, " +
        "CAST(CAST(mean_dist AS DECIMAL(18,4)) AS DOUBLE) AS mean_dist, " +
        "CAST(CAST(max_dist AS DECIMAL(18,4)) AS DOUBLE) AS max_dist " +
        s"FROM corpus_index_stats('${ivfIndexDir(s, d)}', mode=>'drift') " +
        "ORDER BY cell")),

    // TPC-H Q1 (pricing summary): THE full-scan aggregation. The plan
    // to want at 100×: filter at the scan, partial hash aggregate
    // map-side (6 accumulators × 4 groups — tiny exchange), one
    // shuffle of pre-combined rows. Averages are derived from the
    // exact decimal sums AFTER aggregation so the partial-agg merge
    // order can't move a bit.
    "q_tpch_q1" -> ((s, d) =>
      T(s, d, "lineitem")
        .filter(col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          // The 3-factor product is exact at 6 decimals (price/discount/
          // tax all sit on a 2-decimal grid), so decimal(18,6) recovers
          // the true value with no rounding tie — decimal(18,4) would
          // round .xxxx5 ties differently than DuckDB.
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")) *
            (lit(1) + col("l_tax"))).cast("decimal(18,6)")).cast("double")
            .as("sum_charge"),
          dsum(col("l_discount")).as("sum_disc"),
          count(lit(1)).as("count_order"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("sum_qty"), col("sum_base_price"), col("sum_disc_price"), col("sum_charge"),
          (col("sum_qty") / col("count_order")).as("avg_qty"),
          (col("sum_base_price") / col("count_order")).as("avg_price"),
          (col("sum_disc") / col("count_order")).as("avg_disc"),
          col("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // TPC-H Q5 (local supplier volume): the 6-way snowflake join.
    // Region filter pushes before anything joins; region and nation
    // broadcast (they are dimension-tiny at ANY scale factor); the
    // only big exchanges are the fact-table equijoins. The
    // customer-nation = supplier-nation condition rides the supplier
    // join as a second equi-key, not a post-filter.
    "q_tpch_q5" -> ((s, d) => {
      val c = T(s, d, "customer"); val o = T(s, d, "orders"); val li = T(s, d, "lineitem")
      val sup = T(s, d, "supplier"); val n = T(s, d, "nation"); val r = T(s, d, "region")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1997-01-01")
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r.filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // TPC-H Q6 (forecast revenue change): pure scan-filter-aggregate,
    // zero joins, one row out. The whole query must collapse into one
    // WholeStageCodegen span over the scan with every predicate pushed
    // (shipdate range + discount band + quantity reach the parquet
    // row-group stats).
    "q_tpch_q6" -> ((s, d) =>
      T(s, d, "lineitem")
        .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01" &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"))),

    // TPC-H Q14 (promotion effect): fact-dimension join + conditional
    // aggregate ratio. The month filter cuts lineitem to ~1/80 before
    // the part join; both sums come out of ONE aggregate (no second
    // scan for the denominator).
    "q_tpch_q14" -> ((s, d) => {
      val li = T(s, d, "lineitem"); val p = T(s, d, "part")
      li.filter(col("l_shipdate") >= "1996-09-01" && col("l_shipdate") < "1996-10-01")
        .join(p, col("l_partkey") === col("p_partkey"))
        .agg((lit(100.0) *
          dsum(when(col("p_type") === "PROMO",
            col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(lit(0.0))) /
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("promo_revenue"))
    }),

    // TPC-H Q18 (large-volume customers): the self-referencing
    // HAVING subquery. The qualifying-order set is computed once with
    // a map-side-combined aggregate (doc-scale rows collapse to
    // order-scale), semi-joined back into the fact, and only then do
    // customer/orders attach — the big table crosses exactly two
    // exchanges (the groupBy and the semi-join, same key, so AQE can
    // even reuse the partitioning).
    "q_tpch_q18" -> ((s, d) => {
      val c = T(s, d, "customer"); val o = T(s, d, "orders"); val li = T(s, d, "lineitem")
      val big = li.groupBy("l_orderkey")
        .agg(dsum(col("l_quantity")).as("okq"))
        .filter(col("okq") > 250).select("l_orderkey")
      o.join(big, col("o_orderkey") === col("l_orderkey"))
        .join(c, col("c_custkey") === col("o_custkey"))
        .join(li.select(col("l_orderkey").as("lk"), col("l_quantity")),
          col("o_orderkey") === col("lk"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
        .limit(100)
    }),

    // TPC-H Q17 (small-quantity-order revenue), adapted to the fixture
    // (no p_container → p_size band). The point is the CORRELATED
    // SCALAR subquery per part: Catalyst must decorrelate it into one
    // per-partkey aggregate joined back — lineitem is scanned twice
    // total (outer + subquery agg), never once per part row. PlanSpec
    // pins that shape.
    "q_tpch_q17" -> ((s, d) => {
      Engine.registerViews(s, d)
      s.sql("""SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0
              |  AS DOUBLE) AS avg_yearly
              |FROM lineitem, part
              |WHERE p_partkey = l_partkey AND p_brand = 'Brand#23' AND p_size < 15
              |AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem
              |                  WHERE l_partkey = p_partkey)""".stripMargin)
    }),

    // TPC-H Q20 (potential part promotion), adapted (no partsupp →
    // the supplier's shipped quantity per part stands in for
    // ps_availqty). Shape under test: IN-subquery (semi-join) whose
    // body is a grouped aggregate with a correlated scalar subquery in
    // HAVING — two decorrelation layers in one plan.
    "q_tpch_q20" -> ((s, d) => {
      Engine.registerViews(s, d)
      s.sql("""SELECT s_name, s_suppkey FROM supplier WHERE s_suppkey IN (
              |  SELECT l1.l_suppkey FROM lineitem l1
              |  JOIN part ON p_partkey = l1.l_partkey
              |  WHERE p_name = 'red widget'
              |  GROUP BY l1.l_suppkey, l1.l_partkey
              |  HAVING SUM(l1.l_quantity) > (SELECT 1.8 * avg(l2.l_quantity)
              |                               FROM lineitem l2
              |                               WHERE l2.l_partkey = l1.l_partkey))
              |ORDER BY s_suppkey""".stripMargin)
    }),

    // TPC-H Q4 (order-priority checking), adapted ("late" =
    // l_returnflag 'R', as in q21): EXISTS decorrelates to one
    // semi-join on the order key, grouped counts per priority.
    "q_tpch_q4" -> ((s, d) => {
      Engine.registerViews(s, d)
      s.sql("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count FROM orders
              |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
              |AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
              |            AND l_returnflag = 'R')
              |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }),

    // TPC-H Q9 (product-type profit), adapted (no ps_supplycost →
    // 0.5 · p_retailprice stands in): 5-way join + per-(nation, year)
    // profit. The amount expression stays on a 4-decimal grid, so the
    // decimal sum is exact.
    "q_tpch_q9" -> ((s, d) => {
      Engine.registerViews(s, d)
      s.sql("""SELECT nation, o_year, CAST(SUM(CAST(amount AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit FROM (
              | SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
              |        l_extendedprice * (1 - l_discount) - 0.5 * p_retailprice * l_quantity AS amount
              | FROM part, supplier, lineitem, orders, nation
              | WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey AND o_orderkey = l_orderkey
              |   AND s_nationkey = n_nationkey AND p_name LIKE '%red%')
              |GROUP BY nation, o_year ORDER BY nation, o_year DESC""".stripMargin)
    }),

    // TPC-H Q13 (customer order-count distribution): LEFT OUTER with
    // an ON-clause residual predicate, then a second-level aggregate
    // over the first — zero-order customers must survive as c_count=0.
    "q_tpch_q13" -> ((s, d) => {
      Engine.registerViews(s, d)
      s.sql("""SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM (
              | SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
              | FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
              |   AND o_orderpriority <> '1-URGENT'
              | GROUP BY c_custkey)
              |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)
    }),

    // TPC-H Q15 (top supplier): the revenue "view" + uncorrelated MAX
    // subquery — the aggregate computes once, its max broadcasts into
    // the filter, and the double equality is safe because both sides
    // come from the same exact decimal sum.
    "q_tpch_q15" -> ((s, d) => {
      Engine.registerViews(s, d)
      s.sql("""WITH revenue0 AS (SELECT l_suppkey AS supplier_no,
              |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
              |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              |    AND l_shipdate < TIMESTAMP '1996-04-01'
              |  GROUP BY l_suppkey)
              |SELECT s_suppkey, s_name, total_revenue
              |FROM supplier JOIN revenue0 ON s_suppkey = supplier_no
              |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue0)
              |ORDER BY s_suppkey""".stripMargin)
    }),

    // TPC-H Q19 (discounted revenue): the disjunction-of-conjunctions
    // join predicate — the equi key must still be extracted so the
    // plan is a hash join with the OR block as a residual filter, not
    // a nested loop.
    "q_tpch_q19" -> ((s, d) => {
      Engine.registerViews(s, d)
      s.sql("""SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
              |FROM lineitem, part WHERE p_partkey = l_partkey AND (
              | (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity >= 1 AND l_quantity <= 11)
              | OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity >= 10 AND l_quantity <= 20)
              | OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 20 AND l_quantity <= 30))""".stripMargin)
    }),

    // TPC-H Q7 (volume shipping): the two-nation bidirectional join —
    // both nation dimensions broadcast, the OR-pair condition rides
    // the joins, one decimal-exact aggregate per (supp, cust, year).
    "q_tpch_q7" -> ((s, d) => {
      Engine.registerViews(s, d)
      s.sql("""SELECT supp_nation, cust_nation, l_year,
              |CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS revenue FROM (
              | SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
              |        CAST(year(l_shipdate) AS BIGINT) AS l_year,
              |        l_extendedprice * (1 - l_discount) AS volume
              | FROM supplier, lineitem, orders, customer, nation n1, nation n2
              | WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey AND c_custkey = o_custkey
              |   AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
              |   AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              |     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
              |   AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01')
              |GROUP BY supp_nation, cust_nation, l_year
              |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)
    }),

    // TPC-H Q8 (national market share): the 8-table snowflake with a
    // conditional-share aggregate. Decimal sums on both numerator and
    // denominator make the ratio bit-stable across engines.
    "q_tpch_q8" -> ((s, d) => {
      Engine.registerViews(s, d)
      s.sql("""SELECT o_year,
              |CAST(CAST(SUM(CASE WHEN nation = 'NATION_1' THEN CAST(volume AS DECIMAL(18,4))
              |                   ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
              | / CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS DOUBLE) AS mkt_share FROM (
              | SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
              |        l_extendedprice * (1 - l_discount) AS volume,
              |        n2.n_name AS nation
              | FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
              | WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey AND l_orderkey = o_orderkey
              |   AND o_custkey = c_custkey AND c_nationkey = n1.n_nationkey
              |   AND n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
              |   AND s_nationkey = n2.n_nationkey AND p_type = 'ECONOMY')
              |GROUP BY o_year ORDER BY o_year""".stripMargin)
    }),

    // TPC-H Q22 (global sales opportunity), adapted (no c_phone →
    // "positive-balance customers above the mean with no URGENT
    // order"). Shape under test: an UNCORRELATED scalar subquery
    // (computed once, broadcast into the filter) + NOT EXISTS
    // anti-join. The mean is a decimal-sum ÷ count — exact and
    // order-free — so the boundary comparison can't drift between
    // engines the way a partial-summed double avg could.
    "q_tpch_q22" -> ((s, d) => {
      Engine.registerViews(s, d)
      s.sql("""SELECT n_name, CAST(COUNT(*) AS BIGINT) AS numcust,
              |CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
              |FROM customer JOIN nation ON c_nationkey = n_nationkey
              |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
              |                          / COUNT(*)
              |                   FROM customer WHERE c_acctbal > 0.0)
              |AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
              |                AND o_orderpriority = '1-URGENT')
              |GROUP BY n_name ORDER BY n_name""".stripMargin)
    }),

    // TPC-H Q21 (suppliers who kept waiting), adapted (no
    // l_receiptdate/l_commitdate → "late" = l_returnflag 'R' in a
    // finished order). Shape under test: EXISTS + NOT EXISTS both
    // correlated on the SAME fact table — Catalyst plans one
    // left-semi and one left-anti join on l_orderkey, three lineitem
    // scans total, no per-row re-scan.
    "q_tpch_q21" -> ((s, d) => {
      Engine.registerViews(s, d)
      s.sql("""SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait FROM supplier
              |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
              |JOIN orders ON o_orderkey = l1.l_orderkey
              |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
              |AND EXISTS (SELECT 1 FROM lineitem l2
              |            WHERE l2.l_orderkey = l1.l_orderkey
              |            AND l2.l_suppkey <> l1.l_suppkey)
              |AND NOT EXISTS (SELECT 1 FROM lineitem l3
              |                WHERE l3.l_orderkey = l1.l_orderkey
              |                AND l3.l_suppkey <> l1.l_suppkey
              |                AND l3.l_returnflag = 'R')
              |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin)
    }),

    // q2/q11/q16: the same statement string IS the oracle (shared
    // constants above) — both engines must decorrelate/evaluate the
    // derived-partsupp CTE to identical rows.
    "q_tpch_q2" -> ((s, d) => { Engine.registerViews(s, d); s.sql(TpchQ2Sql) }),
    "q_tpch_q11" -> ((s, d) => { Engine.registerViews(s, d); s.sql(TpchQ11Sql) }),
    "q_tpch_q16" -> ((s, d) => { Engine.registerViews(s, d); s.sql(TpchQ16Sql) }),

    // q12: shared body; only the whole-day date-shift syntax differs
    // per engine (Spark timestampadd here, DuckDB interval·n in the
    // oracle).
    "q_tpch_q12" -> ((s, d) => {
      Engine.registerViews(s, d)
      s.sql(tpchQ12Sql((ts, n) => s"timestampadd(DAY, $n, $ts)"))
    })
  )

  // Event-analytics suite over the events table: sessionization,
  // funnel, cohort retention — the windowed-analytics workloads a
  // warehouse engine runs daily. All window/aggregate plans: one
  // shuffle on user_id, window functions stream within partitions,
  // deterministic tiebreaks on event_id.

  /** Gaps-and-islands sessionization over events (30-min inactivity):
    * lag marks session starts, a running sum numbers them, one
    * aggregate per (user, session). Epoch-microsecond arithmetic is
    * integer-exact on both engines. Shared by q_sessionize and the
    * session-attribution range join. */
  /** The ordered view→click→purchase stage frames (first view, first
    * click after it, first purchase after that) — shared by q_funnel
    * (reach counts) and q_funnel_latency (conversion timing) so the
    * stage semantics can't drift between the two. */
  private def funnelStages(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val e = T(s, d, "events").withColumn("tus", unix_micros(col("ts")))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("tus").as("t_view"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("tus") > col("t_view"))
      .groupBy("user_id").agg(min("tus").as("t_click"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("tus") > col("t_click"))
      .groupBy("user_id").agg(min("tus").as("t_purchase"))
    (v, c, p)
  }

  private def sessionsOf(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    T(s, d, "events")
      .withColumn("tus", unix_micros(col("ts")))
      .withColumn("prev", lag("tus", 1).over(w))
      .withColumn("ns",
        when(col("prev").isNull || col("tus") - col("prev") > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum("ns").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("tus").as("start_us"), max("tus").as("end_us"),
        dsum(col("value")).as("sum_value"))
  }

  /** The sessionization CTE as DuckDB SQL (kept adjacent to
    * [[sessionsOf]] so the two can't drift). `breakOp` is the
    * gap-break comparator — the two session surfaces disagree at the
    * EXACT boundary: the hand-rolled [[sessionsOf]] breaks only when
    * gap > 30 min (an exactly-30-min gap stays in-session), while
    * Spark's built-in session_window is half-open ([start, last+gap)):
    * an event arriving exactly gapDuration later starts a NEW session,
    * i.e. it breaks when gap >= 30 min. Each oracle states its own
    * engine's convention so a fixture with minute-grid timestamps
    * can't silently hash-mismatch. */
  private def duckSessionsWith(breakOp: String): String =
    "WITH g AS (SELECT user_id, event_id, value, epoch_us(ts) AS tus, " +
      "lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), " +
      "n AS (SELECT user_id, event_id, value, tus, " +
      s"CASE WHEN prev IS NULL OR tus - prev $breakOp 1800000000 THEN 1 ELSE 0 END AS ns FROM g), " +
      "sx AS (SELECT user_id, value, tus, CAST(SUM(ns) OVER (PARTITION BY user_id " +
      "ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM n), " +
      "sess AS (SELECT user_id, session_id, COUNT(*) AS n_events, " +
      "min(tus) AS start_us, max(tus) AS end_us, " +
      "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value " +
      "FROM sx GROUP BY user_id, session_id) "

  /** Oracle CTE for the hand-rolled sessionization (strict-> break). */
  private val duckSessions: String = duckSessionsWith(">")

  private val analyticsQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sessionize" -> ((s, d) =>
      sessionsOf(s, d).orderBy("user_id", "session_id")),

    // Per-user session rollup — the summary a product-analytics
    // pipeline reads off sessionization (count, size, dwell time).
    // Divisions happen ONCE over exact integer sums (micros, event
    // counts), so the doubles are bit-identical across engines.
    "q_session_stats" -> ((s, d) =>
      sessionsOf(s, d)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          sum("n_events").cast("long").as("n_events"),
          (sum("n_events").cast("double") / count(lit(1))).as("avg_events"),
          (sum(col("end_us") - col("start_us")).cast("double") / count(lit(1)) / lit(1e6))
            .as("avg_dur_s"))
        .orderBy("user_id")),

    // Sessions × error events through the KEYED range join: equi on
    // user_id, err_us within [start_us, end_us] — error counts
    // attributed to the session they happened in. Composes two custom
    // operators (sessionization + RangeJoin) in one oracled plan.
    "q_session_err" -> ((s, d) => {
      val sessions = sessionsOf(s, d)
        .select("user_id", "session_id", "start_us", "end_us")
      val errors = T(s, d, "events").filter(col("event_type") === "error")
        .select(col("user_id"), unix_micros(col("ts")).as("err_us"))
      // No explicit width: RangeJoin.autoWidth derives W from the
      // median session span (one bounded 1-row aggregate).
      operators.RangeJoin.pointInIntervalByKey(errors, sessions,
          Seq("user_id"), "err_us", "start_us", "end_us")
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_errors"))
        .orderBy("user_id", "session_id")
    }),

    // Trailing-hour RANGE frame per user: a VALUE-based window frame
    // (range on event-time microseconds, not row counts) — the
    // time-decayed-metrics shape. One user_id shuffle; the frame
    // streams within each partition.
    "q_window_range" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("tus")
        .rangeBetween(-3600000000L, 0L)
      T(s, d, "events")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tus"),
          col("value"))
        .withColumn("n_trailing_hr", count(lit(1)).over(w))
        .withColumn("sum_trailing_hr",
          sum(col("value").cast("decimal(18,4)")).over(w).cast("double"))
        .select("event_id", "user_id", "n_trailing_hr", "sum_trailing_hr")
        .orderBy("event_id")
    }),

    // The built-in session_window in BATCH mode, held to the same
    // oracle as the hand-rolled gaps-and-islands form: window.start =
    // first event, window.end = last event + gap. One shuffle on
    // (user_id, session assignment), map-side combined.
    "q_session_window" -> ((s, d) =>
      T(s, d, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_gap_us"),
          col("n_events"))
        .orderBy("user_id", "start_us")),

    // Ordered funnel: earliest view, first click AFTER that view,
    // first purchase after that click — per-user stage timestamps via
    // conditional window minima, then one aggregate row per stage
    // reached. The corpus shuffles once on user_id.
    "q_funnel" -> ((s, d) => {
      val (v, c, p) = funnelStages(s, d)
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .agg(count(lit(1)).as("n_view"),
          count(col("t_click")).as("n_click"),
          count(col("t_purchase")).as("n_purchase"))
    }),

    // Conversion latency: how long the full view→click→purchase path
    // takes for users who complete it. One division per column over
    // exact integer micros — hash-stable doubles.
    "q_funnel_latency" -> ((s, d) => {
      val (v, _, p) = funnelStages(s, d)
      p.join(v, "user_id")
        .select((col("t_purchase") - col("t_view")).as("lat_us"))
        .agg(count(lit(1)).as("n_converted"),
          (sum("lat_us").cast("double") / count(lit(1)) / lit(1e6)).as("avg_s"),
          (min("lat_us").cast("double") / lit(1e6)).as("min_s"),
          (max("lat_us").cast("double") / lit(1e6)).as("max_s"))
    }),

    // Path analysis: the top event-type transitions over per-user
    // time-ordered sequences (the "where do users go next" product
    // query). One user_id exchange feeds the lead() window; the
    // transition aggregate is map-side combined over |event_types|²
    // keys.
    "q_event_paths" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      T(s, d, "events")
        .select(col("user_id"), col("event_type"),
          lead(col("event_type"), 1).over(w).as("next_type"))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("from_type"), col("to_type"))
        .limit(20)
    }),

    // Correlated LATERAL subquery with per-row LIMIT — top-2 nations
    // per region: the "top-N per group via lateral" idiom (decorrelates
    // to a ranked window under Catalyst, never a per-row re-scan).
    "q_lateral" -> ((s, d) => {
      Engine.registerViews(s, d)
      s.sql("""SELECT r_name, n_name FROM region,
              |LATERAL (SELECT n_name FROM nation
              |         WHERE n_regionkey = r_regionkey
              |         ORDER BY n_name LIMIT 2)
              |ORDER BY r_name, n_name""".stripMargin)
    }),

    // Pure range join (no equi key): orders bucketed into price bands
    // via interval bucket expansion (operators.RangeJoin) — a plain
    // shuffled equi-join on the coarse bucket id instead of the
    // BroadcastNestedLoop Spark would otherwise plan. PlanSpec pins
    // the no-BNL property.
    "q_range_join" -> ((s, d) => {
      val bands = s.range(50).select(col("id").as("band_id"),
        (col("id") * 10000.0).as("lo"),
        ((col("id") + 1) * 10000.0 - 0.01).as("hi"))
      // No explicit width: derived from the median band span (~10k).
      operators.RangeJoin.pointInInterval(
          T(s, d, "orders").select("o_orderkey", "o_totalprice"),
          bands, "o_totalprice", "lo", "hi")
        .groupBy("band_id")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy("band_id")
    }),

    // Weekly cohort retention: cohort = week of first activity;
    // n_users active at each whole-week offset. date_trunc('week')
    // aligns to Monday on both engines; UTC makes week arithmetic
    // exact integer division.
    "q_retention" -> ((s, d) => {
      val e = T(s, d, "events")
      val first = e.groupBy("user_id")
        .agg(date_trunc("week", min("ts")).cast("long").as("cohort_s"))
      val active = e.select(col("user_id"),
          date_trunc("week", col("ts")).cast("long").as("week_s"))
        .distinct()
      active.join(first, "user_id")
        .select(col("cohort_s"),
          ((col("week_s") - col("cohort_s")) / 604800L).cast("long").as("week_offset"))
        .groupBy("cohort_s", "week_offset")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_s", "week_offset")
    })
  )

  private val analyticsOracles: Map[String, String] = Map(
    "q_sessionize" -> (duckSessions +
      "SELECT user_id, session_id, n_events, start_us, end_us, sum_value " +
      "FROM sess ORDER BY user_id, session_id"),

    "q_session_stats" -> (duckSessions +
      "SELECT user_id, COUNT(*) AS n_sessions, " +
      "CAST(SUM(n_events) AS BIGINT) AS n_events, " +
      "CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS avg_events, " +
      "CAST(SUM(end_us - start_us) AS DOUBLE) / COUNT(*) / 1000000.0 AS avg_dur_s " +
      "FROM sess GROUP BY user_id ORDER BY user_id"),

    "q_session_err" -> (duckSessions +
      "SELECT sess.user_id AS user_id, session_id, COUNT(*) AS n_errors " +
      "FROM sess JOIN (SELECT user_id, epoch_us(ts) AS err_us FROM events " +
      "WHERE event_type = 'error') e " +
      "ON sess.user_id = e.user_id AND err_us >= start_us AND err_us <= end_us " +
      "GROUP BY sess.user_id, session_id ORDER BY user_id, session_id"),

    "q_window_range" -> ("SELECT event_id, user_id, " +
      "COUNT(*) OVER w AS n_trailing_hr, " +
      "CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_trailing_hr " +
      "FROM (SELECT event_id, user_id, epoch_us(ts) AS tus, value FROM events) " +
      "WINDOW w AS (PARTITION BY user_id ORDER BY tus " +
      "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) ORDER BY event_id"),

    // >= break: Spark's session_window is half-open — see
    // duckSessionsWith's doc for the boundary convention.
    "q_session_window" -> (duckSessionsWith(">=") +
      "SELECT user_id, start_us, end_us + 1800000000 AS end_gap_us, n_events " +
      "FROM sess ORDER BY user_id, start_us"),

    "q_funnel" -> ("WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events), " +
      "v AS (SELECT user_id, min(tus) AS t_view FROM e WHERE event_type = 'view' GROUP BY user_id), " +
      "c AS (SELECT e.user_id, min(tus) AS t_click FROM e JOIN v USING (user_id) " +
      "WHERE event_type = 'click' AND tus > t_view GROUP BY e.user_id), " +
      "p AS (SELECT e.user_id, min(tus) AS t_purchase FROM e JOIN c USING (user_id) " +
      "WHERE event_type = 'purchase' AND tus > t_click GROUP BY e.user_id) " +
      "SELECT COUNT(*) AS n_view, COUNT(t_click) AS n_click, COUNT(t_purchase) AS n_purchase " +
      "FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)"),

    "q_funnel_latency" -> ("WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events), " +
      "v AS (SELECT user_id, min(tus) AS t_view FROM e WHERE event_type = 'view' GROUP BY user_id), " +
      "c AS (SELECT e.user_id, min(tus) AS t_click FROM e JOIN v USING (user_id) " +
      "WHERE event_type = 'click' AND tus > t_view GROUP BY e.user_id), " +
      "p AS (SELECT e.user_id, min(tus) AS t_purchase FROM e JOIN c USING (user_id) " +
      "WHERE event_type = 'purchase' AND tus > t_click GROUP BY e.user_id), " +
      "lat AS (SELECT t_purchase - t_view AS lat_us FROM p JOIN v USING (user_id)) " +
      "SELECT COUNT(*) AS n_converted, " +
      "CAST(SUM(lat_us) AS DOUBLE) / COUNT(*) / 1000000.0 AS avg_s, " +
      "CAST(MIN(lat_us) AS DOUBLE) / 1000000.0 AS min_s, " +
      "CAST(MAX(lat_us) AS DOUBLE) / 1000000.0 AS max_s FROM lat"),

    "q_event_paths" -> ("WITH seq AS (SELECT user_id, event_type, " +
      "LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type " +
      "FROM events) " +
      "SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n " +
      "FROM seq WHERE next_type IS NOT NULL " +
      "GROUP BY event_type, next_type ORDER BY n DESC, from_type, to_type LIMIT 20"),
    "q_lateral" -> ("SELECT r_name, n_name FROM region, " +
      "LATERAL (SELECT n_name FROM nation WHERE n_regionkey = r_regionkey " +
      "ORDER BY n_name LIMIT 2) ORDER BY r_name, n_name"),

    "q_range_join" -> ("WITH bands AS (SELECT i AS band_id, i * 10000.0 AS lo, " +
      "(i + 1) * 10000.0 - 0.01 AS hi FROM range(50) t(i)) " +
      "SELECT band_id, COUNT(*) AS n_orders, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue " +
      "FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice <= hi " +
      "GROUP BY band_id ORDER BY band_id"),

    "q_retention" -> ("WITH f AS (SELECT user_id, " +
      "CAST(epoch(date_trunc('week', min(ts))) AS BIGINT) AS cohort_s FROM events GROUP BY user_id), " +
      "a AS (SELECT DISTINCT user_id, CAST(epoch(date_trunc('week', ts)) AS BIGINT) AS week_s FROM events) " +
      "SELECT cohort_s, CAST((week_s - cohort_s) / 604800 AS BIGINT) AS week_offset, " +
      "COUNT(*) AS n_users FROM a JOIN f USING (user_id) " +
      "GROUP BY cohort_s, week_offset ORDER BY cohort_s, week_offset")
  )

  private val ext6Oracles: Map[String, String] = Map(
    // Restates the cosine-to-frozen-centroid aggregate over the index
    // parquet itself (__IVFDIR__ — the shared deterministic index the
    // ann_* oracles also assume; base generation, no tombstones).
    // DuckDB's list_reduce left fold matches the engine's sequential-
    // fold dot product per row; the cross-row avg/max round through
    // DECIMAL(18,4) on both sides.
    "q_sql_index_drift" -> ("WITH c AS (SELECT CAST(cell AS INT) AS cell, centroid, " +
      "sqrt(list_reduce(list_transform(range(1, len(centroid)+1), i -> centroid[i]*centroid[i]), (x,y) -> x+y)) AS cnrm " +
      "FROM read_parquet('__IVFDIR__/centroids/*.parquet')), " +
      "r AS (SELECT CAST(cell AS INT) AS cell, v, nrm " +
      "FROM read_parquet('__IVFDIR__/corpus/*/*.parquet', hive_partitioning=true)), " +
      "dd AS (SELECT r.cell, 1.0 - (list_reduce(list_transform(range(1, len(r.v)+1), i -> r.v[i]*c.centroid[i]), (x,y) -> x+y) " +
      "/ (r.nrm * c.cnrm)) AS cdist FROM r JOIN c USING (cell)), " +
      "u AS (SELECT cell, COUNT(*) AS n_rows, AVG(cdist) AS m, MAX(cdist) AS x FROM dd GROUP BY cell " +
      "UNION ALL SELECT -1, COUNT(*), AVG(cdist), MAX(cdist) FROM dd) " +
      "SELECT cell, n_rows, CAST(CAST(m AS DECIMAL(18,4)) AS DOUBLE) AS mean_dist, " +
      "CAST(CAST(x AS DECIMAL(18,4)) AS DOUBLE) AS max_dist FROM u ORDER BY cell"),

    "q_tpch_q1" -> ("SELECT l_returnflag, l_linestatus, " +
      "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty, " +
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price, " +
      "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price, " +
      "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge, " +
      "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty, " +
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_price, " +
      "CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_disc, " +
      "COUNT(*) AS count_order " +
      "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' " +
      "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),

    "q_tpch_q5" -> ("SELECT n_name, " +
      "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue " +
      "FROM customer, orders, lineitem, supplier, nation, region " +
      "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey " +
      "AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey " +
      "AND n_regionkey = r_regionkey AND r_name = 'ASIA' " +
      "AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01' " +
      "GROUP BY n_name ORDER BY revenue DESC, n_name"),

    "q_tpch_q6" -> ("SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue " +
      "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' " +
      "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"),

    "q_tpch_q14" -> ("SELECT 100.0 * " +
      "CAST(SUM(CAST(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE) / " +
      "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS promo_revenue " +
      "FROM lineitem, part WHERE l_partkey = p_partkey " +
      "AND l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'"),

    "q_tpch_q18" -> ("SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, " +
      "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty " +
      "FROM customer, orders, lineitem " +
      "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey " +
      "HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 250) " +
      "AND c_custkey = o_custkey AND o_orderkey = l_orderkey " +
      "GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice " +
      "ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100"),

    // q17/q20/q21: the Spark side is ANSI SQL over the same views, so
    // the oracle IS the same statement run by DuckDB — both engines
    // must decorrelate to the same row sets.
    "q_tpch_q17" -> ("SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 " +
      "AS DOUBLE) AS avg_yearly FROM lineitem, part " +
      "WHERE p_partkey = l_partkey AND p_brand = 'Brand#23' AND p_size < 15 " +
      "AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem WHERE l_partkey = p_partkey)"),

    "q_tpch_q20" -> ("SELECT s_name, s_suppkey FROM supplier WHERE s_suppkey IN (" +
      "SELECT l1.l_suppkey FROM lineitem l1 JOIN part ON p_partkey = l1.l_partkey " +
      "WHERE p_name = 'red widget' GROUP BY l1.l_suppkey, l1.l_partkey " +
      "HAVING SUM(l1.l_quantity) > (SELECT 1.8 * avg(l2.l_quantity) FROM lineitem l2 " +
      "WHERE l2.l_partkey = l1.l_partkey)) ORDER BY s_suppkey"),

    "q_tpch_q4" -> ("SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count FROM orders " +
      "WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01' " +
      "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R') " +
      "GROUP BY o_orderpriority ORDER BY o_orderpriority"),

    "q_tpch_q9" -> ("SELECT nation, o_year, CAST(SUM(CAST(amount AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit FROM (" +
      "SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year, " +
      "l_extendedprice * (1 - l_discount) - 0.5 * p_retailprice * l_quantity AS amount " +
      "FROM part, supplier, lineitem, orders, nation " +
      "WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey AND o_orderkey = l_orderkey " +
      "AND s_nationkey = n_nationkey AND p_name LIKE '%red%') " +
      "GROUP BY nation, o_year ORDER BY nation, o_year DESC"),

    "q_tpch_q13" -> ("SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM (" +
      "SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count " +
      "FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey " +
      "AND o_orderpriority <> '1-URGENT' GROUP BY c_custkey) " +
      "GROUP BY c_count ORDER BY custdist DESC, c_count DESC"),

    "q_tpch_q15" -> ("WITH revenue0 AS (SELECT l_suppkey AS supplier_no, " +
      "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue " +
      "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' " +
      "AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY l_suppkey) " +
      "SELECT s_suppkey, s_name, total_revenue " +
      "FROM supplier JOIN revenue0 ON s_suppkey = supplier_no " +
      "WHERE total_revenue = (SELECT max(total_revenue) FROM revenue0) " +
      "ORDER BY s_suppkey"),

    "q_tpch_q19" -> ("SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue " +
      "FROM lineitem, part WHERE p_partkey = l_partkey AND (" +
      "(p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity >= 1 AND l_quantity <= 11) " +
      "OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity >= 10 AND l_quantity <= 20) " +
      "OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 20 AND l_quantity <= 30))"),

    "q_tpch_q7" -> ("SELECT supp_nation, cust_nation, l_year, " +
      "CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS revenue FROM (" +
      "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, " +
      "CAST(year(l_shipdate) AS BIGINT) AS l_year, " +
      "l_extendedprice * (1 - l_discount) AS volume " +
      "FROM supplier, lineitem, orders, customer, nation n1, nation n2 " +
      "WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey AND c_custkey = o_custkey " +
      "AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey " +
      "AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') " +
      "OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) " +
      "AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01') " +
      "GROUP BY supp_nation, cust_nation, l_year ORDER BY supp_nation, cust_nation, l_year"),

    "q_tpch_q8" -> ("SELECT o_year, " +
      "CAST(CAST(SUM(CASE WHEN nation = 'NATION_1' THEN CAST(volume AS DECIMAL(18,4)) " +
      "ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) " +
      "/ CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS DOUBLE) AS mkt_share FROM (" +
      "SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, " +
      "l_extendedprice * (1 - l_discount) AS volume, n2.n_name AS nation " +
      "FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region " +
      "WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey AND l_orderkey = o_orderkey " +
      "AND o_custkey = c_custkey AND c_nationkey = n1.n_nationkey " +
      "AND n1.n_regionkey = r_regionkey AND r_name = 'ASIA' " +
      "AND s_nationkey = n2.n_nationkey AND p_type = 'ECONOMY') " +
      "GROUP BY o_year ORDER BY o_year"),

    "q_tpch_q22" -> ("SELECT n_name, CAST(COUNT(*) AS BIGINT) AS numcust, " +
      "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal " +
      "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
      "WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) " +
      "FROM customer WHERE c_acctbal > 0.0) " +
      "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
      "AND o_orderpriority = '1-URGENT') " +
      "GROUP BY n_name ORDER BY n_name"),

    "q_tpch_q21" -> ("SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait FROM supplier " +
      "JOIN lineitem l1 ON s_suppkey = l1.l_suppkey " +
      "JOIN orders ON o_orderkey = l1.l_orderkey " +
      "WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R' " +
      "AND EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey " +
      "AND l2.l_suppkey <> l1.l_suppkey) " +
      "AND NOT EXISTS (SELECT 1 FROM lineitem l3 WHERE l3.l_orderkey = l1.l_orderkey " +
      "AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R') " +
      "GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100"),

    "q_tpch_q2" -> TpchQ2Sql,
    "q_tpch_q11" -> TpchQ11Sql,
    "q_tpch_q16" -> TpchQ16Sql,
    "q_tpch_q12" -> tpchQ12Sql((ts, n) => s"$ts + INTERVAL 1 DAY * $n")
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    parityQueries ++ aggQueries ++ joinQueries ++ ext2Queries ++ ext3Queries ++
      pipelineQueries ++ ext6Queries ++ analyticsQueries

  /** The testdata dir the oracle SQL should reference for oracles that
    * must call read_parquet directly (file-level features like
    * file_row_number that a view cannot surface). Set by Verify.main
    * before [[oracleSql]] is serialized; the default matches the
    * driver's gate SF. */
  @volatile var oracleSfDir: String = "/root/testdata/sf0.01"

  def oracleSql: Map[String, String] = {
    // the shared IVF index the drift oracle reads directly: the SAME
    // path derivation ivfIndexDir builds for the current verify sfDir
    // (persisted on disk, so DuckDB sees it after the Verify run that
    // built it)
    val ivfDir = ivfIndexPath(oracleSfDir)
    (parityOracles ++ aggOracles ++ joinOracles ++ ext2Oracles ++ ext3Oracles ++
      pipelineOracles ++ ext6Oracles ++ analyticsOracles)
      .map { case (k, v) =>
        k -> v.replace("__SFDIR__", oracleSfDir).replace("__IVFDIR__", ivfDir)
      }
  }
}
