package graft.pipeline

import graft.functions.NativeExpressions
import graft.sources.Parquet
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines, at shuffle scale.
  *
  * All operators take a `documents`-shaped DataFrame
  * (doc_id bigint, text string, ...) and are pure DataFrame→DataFrame
  * transforms, so Catalyst plans and AQE re-plans them like any other
  * relational operator.
  *
  * Scale design (100 TB stance):
  *  - exact dedup shuffles only a 128-bit fingerprint (two independent
  *    64-bit hashes) + doc_id per row — document bodies never cross an
  *    exchange;
  *  - every similarity variant reduces each doc ONCE (map-side, one
  *    compiled ShingleHashes evaluation) to a sorted array of 64-bit
  *    shingle hashes; candidate generation and exact verification both
  *    run on those 8-byte-per-shingle sets, never on strings;
  *  - the n-gram similarity join is the classic inverted-index
  *    (shingle → doc) co-occurrence join with a document-frequency cap
  *    on shingles (hot shingles — the f²-pairs skew killer — are
  *    excluded from candidate generation, never from verification);
  *  - MinHash+LSH replaces the similarity join's candidate generation
  *    with banded signature buckets keyed by an 8-byte xxhash64: cost
  *    O(n · perms) + one shuffle on the band key;
  *  - SimHash computes one 64-bit signature of the shingle set and
  *    bands it by 8-bit chunks (pigeonhole: any pair within hamming 7
  *    shares a chunk), then prunes candidates with a codegen'd
  *    bit_count(xor) hamming filter BEFORE any per-pair set join;
  *  - every candidate pair is verified with the exact Jaccard before
  *    being emitted. Candidate generation is probabilistic in general
  *    (a true pair whose signatures never collide is missed — measured
  *    recall on the fixtures is 1.0 for the defaults at sf0.01 and
  *    sf0.1; see PipelineSpec), so the verified output equals the
  *    exact similarity join w.h.p., not by construction.
  */
object TextDedup {

  /** Distinct word k-shingles ("w1 w2 w3") as strings, first-occurrence
    * order — the reference semantic that ShingleHashes reproduces in
    * hashed form. Served by the compiled
    * [[NativeExpressions.ShingleStrings]] kernel: the declarative HOF
    * form (`array_distinct(transform(sequence(...), concat_ws(...)))`)
    * re-split the text inside every lambda element (no subexpression
    * elimination in interpreted higher-order lambdas) and measured ~10×
    * slower on the similarity-join family. Identical output values
    * (same lower/trim/split, same order). Empty for docs with < k
    * tokens. NULL text is NULL-out (the kernels follow the standard
    * unary-expression null contract; the pre-r18 HOF form returned an
    * empty array) — every engine path filters `size(...) > 0`, which
    * drops null and empty alike, so only direct callers observe the
    * difference (pinned in OperatorsSpec). */
  def shingles(text: Column, k: Int = 3): Column =
    NativeExpressions.shingle_strings(text, k)

  /** Sorted distinct 64-bit hashes of the word k-shingles — the
    * compiled set representation every dedup variant runs on. */
  def shingleHashes(text: Column, k: Int = 3): Column =
    NativeExpressions.shingle_hashes(text, k)

  /** Exact dedup: one surviving doc_id (the smallest) per distinct
    * text. The grouping key is a 128-bit fingerprint (two independent
    * xxhash64 seeds via a salt column), so the exchange carries 16
    * bytes + doc_id per row — never the text. 128 bits makes a
    * cross-text collision (the only way this can differ from GROUP BY
    * text) vanishingly unlikely: ~n²/2^129 ≈ 10⁻²⁰ at a trillion docs.
    * (Reference has no dedup; this is the driver-mandated extension.) */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(
        xxhash64(col("text")).as("fp_a"),
        xxhash64(lit("graft.dedup.salt"), col("text")).as("fp_b"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")

  /** Incremental exact dedup: the doc_ids of `incoming` whose text does
    * NOT already appear in `base` — the daily-batch-vs-corpus-snapshot
    * step of a continuously ingested training corpus. Output is EXACT
    * (identical to an anti-join of texts) regardless of `fpp`.
    *
    * Plan: a Bloom filter over the base corpus's 64-bit text
    * fingerprints is built once (distributed treeAggregate; only the
    * final sketch lands on the driver) and probed inside the incoming
    * scan's codegen span ([[NativeExpressions.BloomMightContain]]).
    * Bloom-negative rows are definitely clean and SKIP the join
    * entirely — they never shuffle; only bloom-positive rows (true
    * duplicates + an `fpp` sliver of false positives) enter the exact
    * verification anti-join against the base's 128-bit fingerprints,
    * which clears every false positive. For the typical incremental
    * mix (most of the batch is new) this cuts the joined fraction of
    * the incoming side to ~dup_rate + fpp, and the base side of that
    * join ships 16-byte fingerprints, never text.
    *
    * Scale envelope: the sketch costs ~1.2 bits × ln(1/fpp)/ln²2 per
    * base key (~1.4 GiB per 10⁹ docs at 1%) and ships once per
    * executor. Beyond ~10⁹ base docs, partition the build: range-split
    * base by fp_a, build one sketch per range, and probe incoming
    * against its range's sketch — same plan shape, bounded sketch
    * size; or fall back to [[exact]] over base ∪ incoming. */
  def incrementalDedup(incoming: DataFrame, base: DataFrame,
                       expectedBaseDocs: Long = 0L, fpp: Double = 0.01): DataFrame = {
    def fps(df: DataFrame): DataFrame = df.select(col("doc_id"),
      xxhash64(col("text")).as("fp_a"),
      xxhash64(lit("graft.dedup.salt"), col("text")).as("fp_b"))
    val baseFp = fps(base)
    // an EMPTY base (first batch, or a corpus whose every doc was taken
    // down) admits everything — and must short-circuit: Spark's
    // bloomFilter aggregate NPEs on zero input rows
    if (baseFp.isEmpty) return incoming.select("doc_id").orderBy("doc_id")
    val n = math.max(1L,
      if (expectedBaseDocs > 0) expectedBaseDocs else base.count())
    val bloom = baseFp.stat.bloomFilter("fp_a", n, fpp)
    val inFp = fps(incoming)
      .withColumn("maybe", NativeExpressions.bloom_might_contain(col("fp_a"), bloom))
    val definitelyClean = inFp.filter(!col("maybe")).select("doc_id")
    val verifiedClean = inFp.filter(col("maybe"))
      .join(baseFp.select("fp_a", "fp_b"), Seq("fp_a", "fp_b"), "left_anti")
      .select("doc_id")
    // The two branches are disjoint by construction (maybe vs !maybe),
    // so a bag union suffices — no distinct shuffle.
    definitelyClean.union(verifiedClean).orderBy("doc_id")
  }

  private[graft] def withHashes(docs: DataFrame, k: Int): DataFrame =
    graft.Engine.fanOut(docs)
      .select(col("doc_id"), shingleHashes(col("text"), k).as("sh"))
      .filter(size(col("sh")) > 0)

  /** Verify candidate pairs (doc_a, doc_b) against exact Jaccard of
    * the docs' shingle-hash sets; emit pairs with jaccard >= threshold.
    * Intersections are linear merges over the sorted 8-byte sets. */
  private def verifyJaccard(cands: DataFrame, sh: DataFrame, threshold: Double,
                            sorted: Boolean = true): DataFrame = {
    val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val out = cands.join(a, "doc_a").join(b, "doc_b")
      .withColumn("co",
        NativeExpressions.sorted_intersect_size(col("sh_a"), col("sh_b")).cast("double"))
      .withColumn("jaccard",
        col("co") / (size(col("sh_a")) + size(col("sh_b")) - col("co")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    // `sorted = false` is for ORDER-AGNOSTIC consumers (label
    // propagation): the global sort costs a range-partitioner sample
    // job plus a sort exchange per call, and a min-groupBy downstream
    // reads the rows in any order. Every declared pair QUERY keeps the
    // sorted face (the oracle hash compares ordered rows).
    if (sorted) out.orderBy("doc_a", "doc_b") else out
  }

  /** Exact n-gram Jaccard similarity join: emit (doc_a, doc_b, jaccard)
    * for all pairs with word-k-shingle Jaccard >= threshold.
    * AllPairs-prefix inverted-index candidates (each doc indexes only
    * its n − ⌈θ·n⌉ + 1 rarest shingles under the global (df, hash)
    * order — recall 1.0 is the prefix theorem, see the inline note),
    * df-capped at `maxShingleDF` for hot shingles (one shingle in f
    * docs makes f²/2 candidate pairs — the cap bounds skew;
    * verification still uses the FULL shingle sets, so emitted jaccard
    * values are exact). A jaccard>=t pair is missed only if every one
    * of its prefix-shared shingles is hotter than the cap — impossible
    * below corpus-dup scale and measured recall 1.0 on the fixtures
    * (max observed DF there is 25). */
  def ngramJaccardPairs(docs: DataFrame, k: Int = 3, threshold: Double = 0.8,
                        maxShingleDF: Int = 1000): DataFrame =
    ngramJaccardPairsCore(docs, k, threshold, maxShingleDF, sorted = true)

  /** [[ngramJaccardPairs]] without the final global sort — the
    * clustering consumers ([[nearDupClusters]]) aggregate the pairs
    * order-free, and the sort costs a sample job + range exchange. */
  private[graft] def ngramJaccardPairsUnsorted(
      docs: DataFrame, k: Int = 3, threshold: Double = 0.8,
      maxShingleDF: Int = 1000): DataFrame =
    ngramJaccardPairsCore(docs, k, threshold, maxShingleDF, sorted = false)

  private def ngramJaccardPairsCore(docs: DataFrame, k: Int, threshold: Double,
                                    maxShingleDF: Int, sorted: Boolean): DataFrame = {
    val sh = withHashes(docs, k)
    val inv = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val freq = inv.groupBy("s").agg(count(lit(1)).as("df"))
    // AllPairs prefix filter (r18 — the same discipline as
    // [[graft.operators.SimilarityJoin]], ported to the hash-shingle
    // path): sort each doc's grams rarest-first under the global
    // (df, s) order and index only the first n − ⌈θ·n⌉ + 1. A J ≥ θ
    // pair shares ≥ ⌈θ·n⌉ grams with either side, so it MUST share
    // one inside both prefixes — recall 1.0 by the prefix theorem,
    // not tuning — while the candidate self-join touches O(prefix·df)
    // rows instead of O(n·df). Float-θ safety: plen uses
    // ceil(θ·n − 1e−9), which can only UNDERSHOOT the exact ceil, so
    // the emitted prefix is never shorter than the exact-arithmetic
    // one (extra length only adds candidates). Every shared gram has
    // df ≥ 2 by construction (both docs hold it), so the df ≥ 2
    // emission filter drops only pair-less grams; df > maxShingleDF
    // remains the documented hot-gram recall trade (a pair is missed
    // only if EVERY prefix-shared gram is hotter than the cap).
    val pref = inv.join(freq, "s")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("df"), col("s")))).as("sg"),
        count(lit(1)).cast("int").as("n"))
      .withColumn("plen",
        col("n") - ceil(col("n") * lit(threshold) - lit(1e-9)).cast("int") + 1)
      .select(col("doc_id"), col("n"),
        explode(expr("slice(sg, 1, plen)")).as("pg"))
      .filter(col("pg.df") >= 2 && col("pg.df") <= maxShingleDF)
      .select(col("doc_id"), col("n"), col("pg.s").as("s"))
    // AllPairs length filter, lossless with slack on the float side:
    // J ≥ θ ⇒ θ·max(|A|,|B|) ≤ min(|A|,|B|); the 1e−9 loosening can
    // only keep extra candidates for the exact verify to reject.
    val cands = pref.as("x").join(pref.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id") &&
          col("x.n") * lit(threshold) <= col("y.n") + lit(1e-9) &&
          col("y.n") * lit(threshold) <= col("x.n") + lit(1e-9))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(cands, sh, threshold, sorted)
  }

  /** Asymmetric CONTAINMENT join: emit (doc_a, doc_b, containment) for
    * every ordered pair with |shingles(A) ∩ shingles(B)| / |shingles(A)|
    * ≥ tNum/tDen — "doc A is (nearly) contained in doc B", the
    * direction Jaccard cannot see: a page that is another page plus
    * boilerplate sits far below any symmetric threshold (the union is
    * inflated by the wrapper) while its containment is ~1.0. The
    * training-data use is wrapper/boilerplate dedup: drop or re-rank
    * containees whose content already ships inside a kept container.
    *
    * The threshold is RATIONAL and both the blocking and the verify
    * use integer cross-multiplication (co·tDen ≥ tNum·|A|), so engine
    * and oracle agree bit-for-bit — and the prefix length below is
    * exact, where a float ceil(0.9·10) = ceil(9.000000000000002)
    * would silently shrink the prefix and drop true pairs.
    *
    * Plan (containment prefix filter — the PPJoin family's asymmetric
    * variant; only the CONTAINEE side has a prefix):
    *   1. gram document frequencies (one map-side-combined groupBy);
    *   2. containee prefixes: A sorts its grams rarest-first by
    *      (df, gram) and emits its |A| − ceil(t·|A|) + 1 rarest — a
    *      qualifying pair has overlap ≥ ceil(t·|A|), so dropping only
    *      |A| − ceil(t·|A|) grams cannot empty the intersection:
    *      recall 1.0, exact blocking;
    *   3. the CONTAINER side has no prefix (any gram of B may carry
    *      the match) — the index is the full gram stream, df-capped by
    *      `maxShingleDF` as an EXPLICIT recall trade for hot grams
    *      (candidate fan-out per gram is df_prefix(g)·df(g); a pair is
    *      missed only if every prefix gram of A that lands in B is
    *      hotter than the cap);
    *   4. exact verify on the full sorted-hash sets (linear merge
    *      intersect), integer decision, containment emitted exact.
    *
    * At 100 TB the only data-sized exchanges carry (doc_id, 8-byte
    * gram hash) rows; full shingle arrays move once, into the verify
    * join. Rarest-first prefixes keep the hot-gram quadratic term out
    * of the candidate join by construction. */
  def containmentPairs(docs: DataFrame, k: Int = 3,
                       tNum: Int = 9, tDen: Int = 10,
                       maxShingleDF: Int = 1000): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      s"threshold $tNum/$tDen must be in (0, 1]")
    val sh = withHashes(docs, k)
    val inv = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val freq = inv.groupBy("s").agg(count(lit(1)).as("df"))
    val prefixes = inv.join(freq, "s")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("df"), col("s")))).as("sg"),
        count(lit(1)).cast("int").as("n"))
      // plen = n − ceil(t·n) + 1, in exact integers
      .withColumn("plen",
        col("n") - expr(s"($tNum * n + $tDen - 1) div $tDen").cast("int") + 1)
      .select(col("doc_id").as("doc_a"),
        explode(expr("slice(sg, 1, plen)")).as("pg"))
      .select(col("doc_a"), col("pg.s").as("s"))
    val index = inv.join(freq.filter(col("df") <= maxShingleDF).select("s"), "s")
      .select(col("doc_id").as("doc_b"), col("s"))
    val cands = prefixes.join(index, "s")
      .filter(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    cands.join(a, "doc_a").join(b, "doc_b")
      .withColumn("co", NativeExpressions.sorted_intersect_size(col("sh_a"), col("sh_b")))
      .filter(col("co") * tDen >= size(col("sh_a")).cast("long") * tNum)
      .select(col("doc_a"), col("doc_b"),
        (col("co").cast("double") / size(col("sh_a"))).as("containment"))
      .orderBy("doc_a", "doc_b")
  }

  /** Materialize an iteration frame with flat lineage. With a session
    * checkpoint dir configured (production: durable storage), a
    * RELIABLE checkpoint — blocks survive executor loss and
    * dynamic-allocation decommission, the requirement for multi-hour
    * 100 TB builds. Without one (default; local runs and the bench), a
    * localCheckpoint — executor-memory blocks, faster, but an executor
    * loss fails the job (lineage is truncated, nothing can recompute)
    * and the caller must rerun. */
  private[pipeline] def materialize(df: DataFrame, eager: Boolean): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /** Near-duplicate CLUSTERS: connected components over the near-dup
    * pair graph, labels = min doc_id of the component (singletons keep
    * their own id). Distributed min-label propagation — per iteration
    * one join of the edge list against current labels plus a map-side
    * combined min; iterations needed = component diameter, which for
    * near-dup graphs is tiny (near-dups of a doc are near-dups of each
    * other, so components are almost cliques). Each step materializes
    * through [[materialize]], so lineage never replays; configure a
    * checkpoint dir to make the materializations durable at scale. */
  def nearDupClusters(docs: DataFrame, k: Int = 3, threshold: Double = 0.8,
                      maxIters: Int = 20): DataFrame =
    // unsorted pairs: label propagation is order-agnostic, and the
    // sorted face's global sort costs a sample job + range exchange
    clustersFromPairs(docs, ngramJaccardPairsUnsorted(docs, k, threshold), maxIters)

  /** Connected components over ANY similarity-pair frame (columns
    * `doc_a`, `doc_b`) — the clustering half of [[nearDupClusters]],
    * factored out so other pair producers (e.g.
    * [[graft.operators.SimilarityJoin]] fuzzy title linkage) reuse the
    * same label propagation instead of reimplementing it. NOTE: eagerly
    * materializes the pair frame at call time (one Spark job); with no
    * checkpoint dir configured the fallback is localCheckpoint, whose
    * blocks do not survive executor loss.
    *
    * `maxIters` bounds only the distributed propagation loop. The
    * driver fast path (edge list within `spark.graft.clusters.maxLocalEdges`)
    * returns exact components whatever `maxIters` is, so a small
    * `maxIters` truncates labels only on graphs over the edge cap. */
  def clustersFromPairs(docs: DataFrame, pairFrame: DataFrame,
                        maxIters: Int = 20): DataFrame = {
    // Materialize the pair join BEFORE symmetrizing: a union of the
    // raw plan with its swap evaluates the whole inverted-index join
    // twice inside one job (the exchange is reused but the post-
    // shuffle verify work is not); union over the materialized frame
    // reads cached blocks twice instead.
    val pairs = materialize(pairFrame.select("doc_a", "doc_b"), eager = true)
    // Size-gated driver fast path (guide §1.2 / §3.1): when the edge
    // list at the decision point is broadcast-small — the near-dup
    // pair graph is a tiny fraction of any corpus — solving the
    // components on the driver replaces the whole propagation loop
    // (~25 scheduler round-trips of sub-50 ms jobs at micro scale:
    // per-hop join + aggregate + convergence check, each an AQE job
    // chain) with ONE bounded collect over the already-materialized
    // blocks, exactly the byte volume a broadcast join of the labels
    // would ship to the driver anyway. Union-find with smaller-root-
    // wins unions gives each component's min id as its root — the
    // same fixpoint the distributed min-label propagation converges
    // to (OperatorsSpec pins equality on both routes). Over the gate
    // (or gate 0) the distributed loop below runs unchanged — that is
    // the 100 TB shape, where the edge list outgrows any driver.
    val spark = docs.sparkSession
    val localEdgeCap = math.min(spark.conf
      .get("spark.graft.clusters.maxLocalEdges", "1000000").toLong,
      (Int.MaxValue - 1).toLong)
    // One CAPPED collect decides the route AND fetches the edges: a
    // limit(cap+1) over the materialized blocks never ships more than
    // cap+1 rows to the driver, whichever route wins. On the
    // large-graph route that is a one-time cost per call: at most
    // cap+1 rows (default 1M edges, ~16 MB) reach the driver and are
    // dropped before the distributed loop starts.
    val headEdges: Array[org.apache.spark.sql.Row] =
      if (localEdgeCap >= 1) pairs.limit(localEdgeCap.toInt + 1).collect()
      else Array.empty
    if (localEdgeCap >= 1 && headEdges.length <= localEdgeCap) {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      headEdges.foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
      val labelRows = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size())
      parent.keySet().forEach { v =>
        labelRows.add(org.apache.spark.sql.Row(v.longValue(), find(v)))
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("edge_doc",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cluster_id",
          org.apache.spark.sql.types.LongType, nullable = false)))
      val labels = spark.createDataFrame(labelRows, schema)
      return docs.select(col("doc_id"))
        .join(labels, col("doc_id") === col("edge_doc"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        .orderBy("doc_id")
    }
    // Symmetrize and hash-partition the edge list by `dst` ONCE, behind
    // its own checkpoint: the join key is loop-invariant, and a
    // checkpoint preserves outputPartitioning, so every hop's
    // edges ⋈ labels join finds BOTH sides pre-partitioned (labels come
    // out of the previous hop's groupBy(doc_id)) and plans zero
    // exchanges for the join — down from re-shuffling both sides every
    // hop (guide §2.4: two operations keyed the same way share one
    // exchange). Lazy: the first hop's job materializes it.
    val edges = materialize(pairs
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .repartition(col("dst")), eager = false)
    // Propagate only over vertices that HAVE an edge — the near-dup
    // subgraph is a small fraction of the corpus; singletons rejoin at
    // the end with their own id. Each step eagerly checkpoints, so the
    // plan stays O(1) deep across iterations.
    //
    // One hop = one join + one aggregate (r18): new(v) =
    // min(cur(v), min{cur(u) : (v,u) ∈ edges}), expressed as the
    // neighbor messages UNIONed with the current labels under a single
    // min-groupBy. Same algebra as the previous msgs-then-left-join
    // form (OperatorsSpec pins equivalence), one exchange per hop
    // instead of three.
    def step(cur: DataFrame): DataFrame =
      edges.join(cur, edges("dst") === cur("doc_id"))
        .select(col("src").as("doc_id"), col("cluster_id"))
        .union(cur.select(col("doc_id"), col("cluster_id")))
        .groupBy(col("doc_id")).agg(min("cluster_id").as("cluster_id"))
    // Convergence via the monotone invariant: min-propagation can only
    // LOWER a label, so sum(cluster_id) strictly decreases until the
    // fixpoint — equality of consecutive sums IS convergence. That
    // replaces the join+count changed-row check with a plain aggregate,
    // and because each frame is LAZILY materialized, the same
    // aggregate job also materializes it: one Spark job per loop turn.
    def sumMaterialize(df: DataFrame): (DataFrame, Long) = {
      val ck = materialize(df, eager = false)
      (ck, ck.agg(coalesce(sum("cluster_id"), lit(0L))).first().getLong(0))
    }
    var (labels, prevSum) = sumMaterialize(
      edges.select(col("src").as("doc_id")).distinct()
        .withColumn("cluster_id", col("doc_id")))
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // two propagation hops per materialization/convergence check —
      // halves the driver-side action count; worst case one spare hop
      val (next, s) = sumMaterialize(step(step(labels)))
      labels = next
      converged = s == prevSum
      prevSum = s
      i += 2
    }
    docs.select(col("doc_id"))
      .join(labels.withColumnRenamed("doc_id", "edge_doc"),
        col("doc_id") === col("edge_doc"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .orderBy("doc_id")
  }

  /** Fuzzy record linkage composed end-to-end, with the similarity
    * join's SCALE KNOBS surfaced as explicit parameters:
    * [[graft.operators.SimilarityJoin.selfJoin]] pairs at Jaccard ≥
    * thetaNum/thetaDen → [[clustersFromPairs]] label propagation →
    * one representative per cluster (highest `qualityCol`, ties to
    * the lowest id) with the member count — the canonicalize-before-
    * exact-dedup pass a training-data pipeline runs over titles.
    *
    * The knobs exist because the pair join dominates at corpus scale:
    *  - `grams` picks the shingle scheme — word shingles for
    *    title-like short strings over a small vocabulary (SparkEntry
    *    q_sim_join notes), [[graft.operators.SimilarityJoin.charTrigrams]]
    *    (default) for raw-text keys;
    *  - `prefixDfCap` bounds the candidate blow-up of hot prefix
    *    grams (a gram of document frequency df contributes O(df²)
    *    candidate pairs). Precision is 1.0 either way — verification
    *    stays exact — and the only possible loss is a MISSED pair
    *    whose every shared prefix gram is hotter than the cap, which
    *    at cluster level can only SPLIT a cluster, never wrongly
    *    merge one (OperatorsSpec pins the trade at both levels);
    *  - `broadcastFreq` as in [[graft.operators.SimilarityJoin.selfJoin]].
    *
    * Returns (cluster_id, rep_doc_id, n_members), one row per
    * cluster. `qualityCol = None` ranks representatives by
    * `length(strCol)`. */
  def fuzzyLinkClusters(docs: DataFrame, idCol: String, strCol: String,
                        thetaNum: Int, thetaDen: Int,
                        grams: Column => Column =
                          graft.operators.SimilarityJoin.charTrigrams,
                        prefixDfCap: Option[Long] = None,
                        broadcastFreq: Option[Boolean] = None,
                        qualityCol: Option[String] = None,
                        maxIters: Int = 20): DataFrame = {
    val ids = docs.select(col(idCol).as("doc_id"))
    // unsorted pairs: the clustering aggregates them order-free, and
    // the sorted face's global sort costs a sample job + range
    // exchange, executed for real behind clustersFromPairs' checkpoint
    val pairs = graft.operators.SimilarityJoin.selfJoinUnsorted(
        docs.select(col(idCol).as("doc_id"), col(strCol)),
        "doc_id", strCol, thetaNum, thetaDen, broadcastFreq, grams, prefixDfCap)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val clusters = clustersFromPairs(ids, pairs, maxIters)
    val quality = qualityCol
      .map(q => docs.select(col(idCol).as("doc_id"), col(q).as("q")))
      .getOrElse(docs.select(col(idCol).as("doc_id"),
        length(col(strCol)).cast("long").as("q")))
    val byQuality = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("q").desc, col("doc_id"))
    clusters.join(quality, "doc_id")
      .withColumn("rn", row_number().over(byQuality))
      .withColumn("n_members", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("rep_doc_id"), col("n_members"))
      .orderBy("cluster_id")
  }

  /** Verbatim passage reuse: pairs of docs sharing >= `minShared`
    * distinct k-gram passages (long k, default 10 words — catches
    * copied passages that sit far below any whole-document similarity
    * threshold). Same inverted-index candidate plan as the jaccard
    * join; n_shared is the exact distinct-passage intersection. */
  def sharedPassagePairs(docs: DataFrame, k: Int = 10, minShared: Int = 1,
                         maxShingleDF: Int = 1000): DataFrame = {
    val sh = withHashes(docs, k)
    val inv = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val rare = inv.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxShingleDF)
      .select("s")
    val inv2 = inv.join(rare, "s")
    val cands = inv2.as("x").join(inv2.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    cands.join(a, "doc_a").join(b, "doc_b")
      .withColumn("n_shared",
        NativeExpressions.sorted_intersect_size(col("sh_a"), col("sh_b")))
      .filter(col("n_shared") >= minShared)
      .select(col("doc_a"), col("doc_b"), col("n_shared"))
      .orderBy("doc_a", "doc_b")
  }

  // --- MinHash + LSH ------------------------------------------------

  /** MinHash signature column (array<bigint> of `perms` mins) over the
    * doc's shingle-hash set (compiled, codegen-fused). */
  def minhashSignature(sh: Column, perms: Int): Column =
    NativeExpressions.minhash_sig(sh, perms)

  /** MinHash-LSH near-dup pairs. Signatures are banded (`bands` ×
    * `rowsPerBand`); each band key is folded to 8 bytes with xxhash64
    * (band index + signature slice), so the candidate shuffle/join key
    * is a single long; docs sharing any band bucket become candidates;
    * candidates are verified with exact Jaccard. With 16×4 over
    * threshold 0.8 the candidate-miss probability per true pair is
    * (1 - 0.8^4)^16 ≈ 2e-4 (measured 0 missed on both fixtures), so
    * the verified output matches the exact join w.h.p. while scanning
    * each doc only once. */
  def minhashLshPairs(docs: DataFrame, k: Int = 3, threshold: Double = 0.8,
                      bands: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val sh = withHashes(docs, k)
    val banded = bandRows(sh, bands, rowsPerBand)
    val cands = banded.as("x").join(banded.as("y"),
        col("x.key") === col("y.key") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(cands, sh, threshold)
  }

  /** Exploded (doc_id, key) LSH band rows of a (doc_id, sh) frame:
    * each band key is the 8-byte xxhash64 fold of (band index,
    * signature slice) — the single-long join key both the in-memory
    * pair join and the persisted band index use. */
  private def bandRows(sh: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sh.withColumn("sig", minhashSignature(col("sh"), bands * rowsPerBand))
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          bnd => xxhash64(bnd, slice(col("sig"), bnd * rowsPerBand + 1, lit(rowsPerBand)))))
          .as("key"))

  // --- Persisted band index: incremental near-dup -------------------

  /** MinHash-LSH band index persisted to `dir` — the NEAR-dup
    * counterpart of the Bloom-prefiltered exact [[incrementalDedup]]:
    * exact dedup of a new batch against the corpus of record is
    * already O(batch); this makes near-dup O(batch-side) too, so a
    * streaming ingest can drop fuzzy duplicates of the landed corpus
    * per micro-batch instead of re-running a batch pair join.
    *
    * Layout (all appends, never rewrites):
    *   dir/meta/      one row (k, bands, rows_per_band, buckets) —
    *                  the LSH scheme is frozen at build time; append
    *                  and query read it back, so parameter drift
    *                  between writers is impossible by construction
    *   dir/bands/     (key, doc_id) partitioned by bucket =
    *                  pmod(key, buckets) — the candidate equi-join side
    *   dir/shingles/  (doc_id, sh) partitioned by pmod(doc_id,
    *                  buckets) — the exact-verification side
    *
    * Scale stance, same shape as the IVF index: the batch side's
    * bucket sets are collected as LITERALS (bounded: ≤ buckets ints),
    * so both index scans are partition-pruned; joins are unhinted —
    * AQE's runtime conversion broadcasts the (micro-batch-sized)
    * probe side from its observed size. The index is never shuffled:
    * candidates and verification move batch-side rows to index-side
    * partitions, O(batch × bands) join rows per call. A build over an
    * existing index replaces it ([[Stores.reset]]). */
  def writeBandIndex(docs: DataFrame, dir: String, k: Int = 3,
                     bands: Int = 16, rowsPerBand: Int = 4,
                     buckets: Int = 32): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    Seq((k, bands, rowsPerBand, buckets))
      .toDF("k", "bands", "rows_per_band", "buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    Stores.reset(spark, dir, BandStores)
    // Cluster by bucket before each partitioned write: without it every
    // input partition emits a file into every bucket dir (measured ~2k
    // tiny files for a 32-bucket index), and every pruned probe pays
    // the footer opens (guide §6 small-files).
    val sh = withHashes(docs, k)
    sh.withColumn("bucket", pmod(col("doc_id"), lit(buckets)).cast("int"))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/shingles")
    bandRows(sh, bands, rowsPerBand)
      .withColumn("bucket", pmod(col("key"), lit(buckets.toLong)).cast("int"))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/bands")
  }

  /** O(batch) maintenance: append a new batch's band rows + shingle
    * sets under the index's frozen LSH scheme. Appends add files
    * inside matching bucket directories of the LIVE store generation —
    * existing files untouched, same crash story as the IVF corpus
    * append (a torn append is repaired by rebuilding from the corpus
    * of record, which the index is a pure function of). */
  def appendToBandIndex(docs: DataFrame, dir: String): Unit = {
    val spark = docs.sparkSession
    val m = Parquet.read(spark, s"$dir/meta").head()
    val (k, bands, rpb, buckets) = (m.getAs[Int]("k"), m.getAs[Int]("bands"),
      m.getAs[Int]("rows_per_band"), m.getAs[Int]("buckets"))
    val sh = withHashes(docs, k)
    sh.withColumn("bucket", pmod(col("doc_id"), lit(buckets)).cast("int"))
      .repartition(col("bucket")) // one delta file per touched bucket
      .write.mode("append").partitionBy("bucket")
      .parquet(liveStore(spark, dir, "shingles"))
    bandRows(sh, bands, rpb)
      .withColumn("bucket", pmod(col("key"), lit(buckets.toLong)).cast("int"))
      .repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket")
      .parquet(liveStore(spark, dir, "bands"))
  }

  /** Logical deletes for a band index — the takedown path's dedup
    * half: a doc removed from the corpus of record must stop gating
    * future arrivals as their "already seen" near-dup (the IVF
    * counterpart is [[graft.pipeline.Embeddings.deleteFromIvfIndex]]).
    * O(batch) tombstone append; [[nearDupsAgainstBandIndex]] excludes
    * the ids immediately, the next [[compactBandIndex]] purges the
    * bytes. `ids` = one `doc_id` column. */
  def deleteFromBandIndex(ids: DataFrame, dir: String): Unit =
    bandLedger(ids.sparkSession, dir).write(ids)

  /** The band index's two stores. */
  private val BandStores = Seq("bands", "shingles")

  /** The band index's takedown ledger ([[Stores]]). */
  private def bandLedger(spark: org.apache.spark.sql.SparkSession,
                         dir: String): Stores.Ledger =
    Stores.ledger(spark, dir, "doc_id")

  /** Live generation of a band-index store (`bands` or `shingles`). */
  private def liveStore(spark: org.apache.spark.sql.SparkSession,
                        dir: String, name: String): String =
    Stores.liveGeneration(spark, dir, name)

  /** Layout detection for the SQL surface: a persisted band index is a
    * dir with the frozen-scheme `meta/` AND a bands store (base or any
    * compaction generation) — distinguishes it from a text index
    * (meta + postings) and from a plain corpus parquet. */
  def isBandIndex(spark: org.apache.spark.sql.SparkSession,
                  dir: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    fs.exists(new org.apache.hadoop.fs.Path(s"$dir/meta")) &&
      fs.exists(p) && fs.listStatus(p).exists { st =>
        val n = st.getPath.getName
        st.isDirectory && (n == "bands" || n.startsWith("bands_v"))
      }
  }

  /** Pay the band index's small-file debt: per-batch appends add one
    * file per touched bucket per store per trigger, so at streaming
    * cadence file counts grow without bound. Per store, buckets above
    * `maxFilesPerBucket` or holding a tombstoned doc are rewritten in
    * one Spark job, `repartition(cols=bucket)` so each lands in one
    * file, into the next `<store>_v<N>` of a
    * [[Stores.swapGeneration]]; the tombstones purged from both stores
    * go through the [[Stores.Ledger]]. Returns buckets rewritten
    * across both stores (0 = nothing to do, no generation written).
    * Serialized with appends in the ingest's foreachBatch. */
  def compactBandIndex(spark: org.apache.spark.sql.SparkSession,
                       dir: String, maxFilesPerBucket: Int = 4): Int = {
    require(maxFilesPerBucket >= 1,
      s"maxFilesPerBucket $maxFilesPerBucket must be >= 1")
    val ledger = bandLedger(spark, dir)
    val tombFiles = ledger.pending()
    val tombs = ledger.idsOf(tombFiles)
    val n = BandStores.map(compactStore(spark, dir, _, maxFilesPerBucket, tombs)).sum
    // ids matching no live row must still consume, or they would
    // re-force rewrites forever
    ledger.consume(tombFiles)
    n
  }

  /** Ids present in the band index (distinct doc_ids of the live
    * shingles store), optionally including tombstoned and purged ones:
    * the [[Stores.Ledger.ids]] view [[reconcileBandIndex]] diffs
    * against. */
  def bandIndexIds(spark: org.apache.spark.sql.SparkSession, dir: String,
                   includeTombstoned: Boolean = false): DataFrame =
    bandLedger(spark, dir).ids(
      Parquet.read(spark, liveStore(spark, dir, "shingles")), includeTombstoned)

  /** Targeted repair of a band index against the corpus of record
    * through [[Stores.Ledger.reconcile]], for the crash window the
    * ingest documents (corpus append committed, band append lost, or
    * vice versa): append band rows + shingles for docs the index is
    * missing, tombstone index ids whose docs are gone. O(drift).
    * Returns (appended docs, tombstoned orphans). */
  def reconcileBandIndex(record: DataFrame, dir: String): (Long, Long) = {
    val spark = record.sparkSession
    bandLedger(spark, dir).reconcile(record.select(col("doc_id"), col("text")),
      Parquet.read(spark, liveStore(spark, dir, "shingles")), "doc_id")(
      appendToBandIndex(_, dir))
  }

  /** Operational snapshot of a band index — what sizes the compaction
    * cadence (the counterpart of
    * [[graft.pipeline.Embeddings.ivfIndexStats]]): one row per
    * (store, bucket) with row count, parquet file count, on-disk
    * bytes, and the store's live generation. File geometry from
    * filesystem metadata; row counts one pruneable aggregate per
    * store. */
  def bandIndexStats(spark: org.apache.spark.sql.SparkSession,
                     dir: String): DataFrame = {
    Seq("bands", "shingles").map { name =>
      val live = liveStore(spark, dir, name)
      Stores.storeStats(spark, live, "bucket=", "bucket")
        .withColumn("store", lit(name))
        .withColumn("generation", lit(Stores.generationOf(live, name)))
    }.reduce(_.unionByName(_))
      .select("store", "bucket", "n_rows", "n_files", "bytes", "generation")
      .orderBy("store", "bucket")
  }

  private def compactStore(spark: org.apache.spark.sql.SparkSession,
                           dir: String, name: String, maxFiles: Int,
                           tombs: Option[DataFrame]): Int = {
    val live = liveStore(spark, dir, name)
    val fs = new org.apache.hadoop.fs.Path(live)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // tombstoned buckets force into the rewrite set (bounded collect:
    // ≤ buckets ints) — a raw file copy cannot drop rows
    val tombBuckets: Set[Int] = tombs match {
      case None => Set.empty
      case Some(t) => Parquet.read(spark, live).join(t, Seq("doc_id"))
        .select("bucket").distinct().collect().map(_.getInt(0)).toSet
    }
    val (rewrite, within) = Stores.partitions(spark, live, "bucket=").partition {
      case (b, d) => Stores.parquetFiles(fs, d).length > maxFiles || tombBuckets(b)
    }
    if (rewrite.nonEmpty)
      Stores.swapGeneration(spark, dir, name, live, within.map(_._2)) { next =>
        val bs = rewrite.map(_._1)
        val toRewrite = Parquet.read(spark, live).filter(col("bucket").isin(bs: _*))
        tombs.map(t => toRewrite.join(t, Seq("doc_id"), "left_anti"))
          .getOrElse(toRewrite)
          .repartition(bs.length, col("bucket"))
          .write.mode("append").partitionBy("bucket").parquet(next)
      }
    rewrite.length
  }

  /** Near-duplicates of `batch` docs within the indexed corpus:
    * (doc_id, dup_of, jaccard) with exact word-k-shingle Jaccard ≥
    * `threshold` — candidates from band-bucket collisions (recall as
    * [[minhashLshPairs]]: miss probability per true pair ≈
    * (1−t^rows)^bands), verification exact against the persisted
    * shingle sets, so precision is 1.0 and emitted values are exact.
    * Ids present on both sides never match themselves. */
  def nearDupsAgainstBandIndex(batch: DataFrame, dir: String,
                               threshold: Double = 0.8): DataFrame = {
    val spark = batch.sparkSession
    val m = Parquet.read(spark, s"$dir/meta").head()
    val (k, bands, rpb, buckets) = (m.getAs[Int]("k"), m.getAs[Int]("bands"),
      m.getAs[Int]("rows_per_band"), m.getAs[Int]("buckets"))
    requireThresholdServable(dir, threshold, bands, rpb)
    val bsh = materialize(withHashes(batch, k), eager = true)
    val bband = bandRows(bsh, bands, rpb)
      .withColumn("bucket", pmod(col("key"), lit(buckets.toLong)).cast("int"))
    // Bounded collect: ≤ buckets ints — partition-pruning literals.
    val hit: Array[Int] =
      bband.select("bucket").distinct().collect().map(_.getInt(0))
    if (hit.isEmpty)
      return bsh.limit(0).select(col("doc_id"), col("doc_id").as("dup_of"),
        lit(0.0).as("jaccard"))
    val idx = Parquet.read(spark, liveStore(spark, dir, "bands"))
      .filter(col("bucket").isin(hit.toIndexedSeq: _*))
      .select(col("bucket"), col("key"), col("doc_id").as("dup_of"))
    // takedowns leave immediately: tombstoned corpus ids drop at the
    // candidate stage (no tombstones -> no join in the plan at all)
    val tombFiles = bandLedger(spark, dir).tombstones
    val rawCands = idx.join(bband, Seq("bucket", "key"))
      .filter(col("dup_of") =!= col("doc_id"))
      .select(col("doc_id"), col("dup_of")).distinct()
    val cands = materialize(
      if (tombFiles.isEmpty) rawCands
      else rawCands.join(
        Parquet.read(spark, tombFiles.map(_.toString): _*)
          .select(col("doc_id").as("dup_of")).distinct(),
        Seq("dup_of"), "left_anti"),
      eager = true)
    // Bounded collect: the candidates' shingle-bucket union.
    val cbuckets: Array[Int] = cands
      .select(pmod(col("dup_of"), lit(buckets.toLong)).cast("int").as("bucket"))
      .distinct().collect().map(_.getInt(0))
    if (cbuckets.isEmpty)
      return bsh.limit(0).select(col("doc_id"), col("doc_id").as("dup_of"),
        lit(0.0).as("jaccard"))
    val csh = Parquet.read(spark, liveStore(spark, dir, "shingles"))
      .filter(col("bucket").isin(cbuckets.toIndexedSeq: _*))
      .select(col("doc_id").as("dup_of"), col("sh").as("sh_b"))
    cands.join(bsh.select(col("doc_id"), col("sh").as("sh_a")), "doc_id")
      .join(csh, "dup_of")
      .withColumn("co",
        NativeExpressions.sorted_intersect_size(col("sh_a"), col("sh_b")).cast("double"))
      .withColumn("jaccard",
        col("co") / (size(col("sh_a")) + size(col("sh_b")) - col("co")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id"), col("dup_of"), col("jaccard"))
      .orderBy("doc_id", "dup_of")
  }

  /** All near-dup pairs AMONG the indexed corpus, served from the
    * persisted layout alone — text is never re-read and the LSH
    * signatures are never recomputed: candidates come from a bands-
    * store self-join on the 8-byte band key (the exact join
    * [[minhashLshPairs]] runs in memory, here over rows the index
    * already paid to compute), verification reads the persisted
    * shingle sets. Output contract is [[ngramJaccardPairs]]'s
    * (doc_a, doc_b, jaccard), doc_a < doc_b, exact values.
    *
    * Tombstoned docs leave results immediately (anti-join at the
    * candidate stage, both roles — same delete semantics as
    * [[nearDupsAgainstBandIndex]]). Recall is the index scheme's
    * ((1−t^rows)^bands candidate-miss per true pair); precision 1.0.
    * Scale shape: one (key, doc_id) self-join — 16-byte rows, no
    * text — then candidate-sized shingle lookups; the corpus-of-
    * record is not touched at all. */
  /** The frozen LSH scheme's DESIGN threshold: the similarity at
    * which a true pair's candidate probability crosses 1/2 under
    * (bands b, rows_per_band r) — t* = (1/b)^(1/r), the standard
    * S-curve midpoint. Candidate recall collapses exponentially below
    * it (per-pair miss probability (1−t^r)^b → 1), so an index-served
    * query asking for a materially lower threshold would silently
    * return a small fraction of the true pairs while LOOKING exact
    * (verification is exact — precision stays 1.0 either way). */
  def bandIndexDesignThreshold(bands: Int, rowsPerBand: Int): Double =
    math.pow(1.0 / bands, 1.0 / rowsPerBand)

  /** The threshold sibling of the frozen-k conflict guard: the scheme
    * is frozen at build time, so a query threshold below its design
    * threshold must fail LOUD (rebuild the index with a looser
    * scheme, or run the plain-corpus route) rather than silently
    * serve collapsed recall. Read paths that already hold the meta
    * row pass its values; others read it here. */
  private def requireThresholdServable(dir: String, threshold: Double,
                                       bands: Int, rowsPerBand: Int): Unit = {
    val design = bandIndexDesignThreshold(bands, rowsPerBand)
    require(threshold >= design,
      f"threshold $threshold%.3f is below the design threshold $design%.3f " +
        f"of the frozen LSH scheme (bands=$bands, rows_per_band=$rowsPerBand) " +
        s"at $dir — candidate recall collapses below it; rebuild the index " +
        "with a looser scheme or run the plain-corpus route")
  }

  /** The bands store minus tombstoned docs — the live candidate rows
    * every index-served read path starts from. */
  private def liveBandRows(spark: org.apache.spark.sql.SparkSession,
                           dir: String): DataFrame = {
    val bands = Parquet.read(spark, liveStore(spark, dir, "bands"))
    val ledger = bandLedger(spark, dir)
    ledger.idsOf(ledger.tombstones)
      .fold(bands)(t => bands.join(t, Seq("doc_id"), "left_anti"))
  }

  /** Pair candidates + exact verification over PRE-RESOLVED index
    * frames — the shared core of [[nearDupPairsInBandIndex]] and
    * [[clustersInBandIndex]], factored so a caller that needs both
    * the live rows and the pairs resolves the bands generation ONCE
    * (two independent resolutions could tear across a concurrent
    * compaction commit). */
  private def pairsFromLiveRows(live: DataFrame, shingles: DataFrame,
                                threshold: Double,
                                sorted: Boolean = true): DataFrame = {
    val cands = live.as("x").join(live.as("y"),
        col("x.key") === col("y.key") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(cands, shingles.select(col("doc_id"), col("sh")), threshold,
      sorted)
  }

  def nearDupPairsInBandIndex(spark: org.apache.spark.sql.SparkSession,
                              dir: String,
                              threshold: Double = 0.8): DataFrame = {
    val m = Parquet.read(spark, s"$dir/meta").head()
    requireThresholdServable(dir, threshold,
      m.getAs[Int]("bands"), m.getAs[Int]("rows_per_band"))
    pairsFromLiveRows(liveBandRows(spark, dir),
      Parquet.read(spark, liveStore(spark, dir, "shingles")), threshold)
  }

  /** Near-dup CLUSTERS of the indexed corpus, served from the
    * persisted layout alone: index pairs → [[clustersFromPairs]]
    * label propagation, with the doc universe = the index's live
    * (non-tombstoned) ids — resolved ONCE and shared with the pair
    * frame, so a concurrent compaction commit cannot tear universe
    * and edges across generations. Singletons carry their own id;
    * cluster_id = the component's min doc_id, ordered by doc_id.
    *
    * Universe caveat vs [[nearDupClusters]]: the index only ever
    * contained docs with ≥ k words (shorter docs have no shingles and
    * are skipped at build/append time), so such docs appear as
    * singletons in the plain-corpus route but are ABSENT here — the
    * index serves what it indexed. */
  def clustersInBandIndex(spark: org.apache.spark.sql.SparkSession,
                          dir: String,
                          threshold: Double = 0.8,
                          maxIters: Int = 20): DataFrame = {
    val m = Parquet.read(spark, s"$dir/meta").head()
    requireThresholdServable(dir, threshold,
      m.getAs[Int]("bands"), m.getAs[Int]("rows_per_band"))
    val live = liveBandRows(spark, dir)
    val sh = Parquet.read(spark, liveStore(spark, dir, "shingles"))
    clustersFromPairs(
      live.select(col("doc_id")).distinct(),
      // unsorted: label propagation is order-agnostic (see
      // nearDupClusters); the pair-query face keeps the sort
      pairsFromLiveRows(live, sh, threshold, sorted = false), maxIters)
  }

  /** Near-duplicates of `batch` docs within a PLAIN (doc_id, text)
    * corpus — the index-free fallback of [[nearDupsAgainstBandIndex]]
    * for a corpus nobody has indexed yet: same LSH candidate scheme
    * (band-key equi-join across the two sets, never all-pairs), same
    * exact-Jaccard verification, same (doc_id, dup_of, jaccard)
    * output. Ids present on both sides never match themselves.
    *
    * Scale shape: the corpus crosses the plan twice (band rows into
    * the candidate join, shingle sets into the verify) — at recurring-
    * batch cadence build the persisted index once instead and pay
    * O(batch) per call; this route is for one-shot linkage. The batch
    * side is micro-batch-sized and broadcasts via AQE's runtime
    * conversion, unhinted. */
  def crossSetNearDupPairs(batch: DataFrame, corpus: DataFrame,
                           k: Int = 3, threshold: Double = 0.8,
                           bands: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val bsh = materialize(withHashes(batch, k), eager = true)
    val csh = withHashes(corpus, k)
    val cands = bandRows(csh, bands, rowsPerBand)
      .select(col("key"), col("doc_id").as("dup_of"))
      .join(bandRows(bsh, bands, rowsPerBand), "key")
      .filter(col("dup_of") =!= col("doc_id"))
      .select(col("doc_id"), col("dup_of")).distinct()
    cands.join(bsh.select(col("doc_id"), col("sh").as("sh_a")), "doc_id")
      .join(csh.select(col("doc_id").as("dup_of"), col("sh").as("sh_b")), "dup_of")
      .withColumn("co",
        NativeExpressions.sorted_intersect_size(col("sh_a"), col("sh_b")).cast("double"))
      .withColumn("jaccard",
        col("co") / (size(col("sh_a")) + size(col("sh_b")) - col("co")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id"), col("dup_of"), col("jaccard"))
      .orderBy("doc_id", "dup_of")
  }

  // --- SimHash ------------------------------------------------------

  /** 64-bit SimHash of the doc's shingle-hash set: bit k is set iff
    * the sum of ±1 contributions (sign of bit k of each shingle hash)
    * is > 0. Computed over SHINGLES, not tokens: token-multiset
    * simhash clusters template-generated corpora so tightly that
    * banding buckets degenerate (measured 9.4M candidates vs 408k at
    * sf0.1), while shingle-set simhash tracks the jaccard criterion
    * the verifier applies. */
  def simhash(text: Column, k: Int = 3): Column =
    NativeExpressions.simhash_bits(shingleHashes(text, k))

  /** Aligned band-chunk rows over a [[withHashes]] frame — the simhash
    * candidate join's bucketing, exposed to `ScaleProbe fuzzy` so the
    * candidate-volume measurement shares this exact derivation. */
  private[graft] def simhashChunks(sh: DataFrame, bandBits: Int): DataFrame = {
    require(bandBits == 8 || bandBits == 16,
      s"bandBits must be 8 or 16 (got $bandBits)")
    val sg = sh.select(col("doc_id"), NativeExpressions.simhash_bits(col("sh")).as("h"))
    val mask = (1L << bandBits) - 1
    sg.select(col("doc_id"), col("h"),
      explode(array((0 until 64 / bandBits).map(c =>
        struct(lit(c).as("c"),
          shiftrightunsigned(col("h"), bandBits * c).bitwiseAND(lit(mask)).as("v"))): _*)).as("ck"))
      .select(col("doc_id"), col("h"), col("ck.c"), col("ck.v"))
  }

  /** SimHash near-dup pairs: aligned `bandBits`-bit chunk-bucket
    * candidates (by pigeonhole, recall 1.0 for pairs within hamming
    * 64/bandBits − 1 of each other — at the 8-bit default, hamming 7;
    * measured max true-pair hamming is 7 at sf0.01 and 12 at sf0.1,
    * the tail caught by bucket luck; measured candidate recall 1.0 on
    * both fixtures), pruned by a codegen'd hamming filter
    * (bit_count(h_a ^ h_b) <= maxHamming) while the join rows are
    * still 16 bytes, then exact Jaccard verification — same emitted
    * semantics as the other dedup variants.
    *
    * `bandBits` is the 100-TB knob (see
    * [[graft.pipeline.Multimodal.phashDupPairs]]): unrelated items
    * collide per band with probability ≥ 2^-bandBits, so stray
    * candidates grow ~(64/bandBits)·N²/2^bandBits — 16-bit chunks cut
    * them ~512× at the cost of the pigeonhole radius dropping to
    * hamming 3 (beyond it, candidate recall becomes bucket luck; the
    * Jaccard verifier keeps emitted pairs exact either way, only
    * recall is at stake). Measured in FUZZY_SCALE.md's hamming
    * section. */
  def simhashPairs(docs: DataFrame, k: Int = 3, threshold: Double = 0.8,
                   maxHamming: Int = 16, bandBits: Int = 8): DataFrame = {
    val sh = withHashes(docs, k)
    val chunked = simhashChunks(sh, bandBits)
    val cands = chunked.as("x").join(chunked.as("y"),
        col("x.c") === col("y.c") && col("x.v") === col("y.v") &&
          col("x.doc_id") < col("y.doc_id"))
      .filter(bit_count(col("x.h").bitwiseXOR(col("y.h"))) <= maxHamming)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(cands, sh, threshold)
  }
}
