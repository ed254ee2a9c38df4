package graft.pipeline

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Hybrid retrieval: reciprocal-rank fusion (RRF) of independently
  * produced ranked lists — the standard way a retrieval stack combines
  * a lexical leg (BM25, [[TextAnalysis.bm25]] / [[TextIndex.search]])
  * with a dense leg (cosine ANN, [[Embeddings.ivfTopKIndexedFor]])
  * without having to calibrate their incomparable score scales.
  * Cormack et al., "Reciprocal Rank Fusion outperforms Condorcet and
  * individual rank learning methods" (SIGIR 2009): fused score of a
  * document is Σ_legs 1/(k0 + rank_leg).
  *
  * The reference engine has no retrieval surface at all (its roadmap
  * stops at scalar SQL, /root/reference/README.md:44-75); this
  * completes the repo's retrieval family — keyword (BM25 + persisted
  * text index), semantic (IVF/PQ vector index), and now their fusion,
  * which is what a production RAG/data-curation pipeline actually
  * serves.
  *
  * Determinism discipline: RRF contributions are computed in INTEGER
  * arithmetic — `RrfScale div (k0 + rank)` — so the fused scores and
  * their ordering are bit-identical across engines (the DuckDB oracle
  * restates the same integer division; a double 1/(k0+r) sum would
  * depend on addition order). Ranks themselves are deterministic:
  * every leg breaks score ties by id.
  *
  * Scale shape: each leg is a top-k list (k rows, driver-bounded by
  * contract), so fusion moves ≤ Σ legs·k rows through one tiny
  * hash aggregate — the heavy lifting lives in the legs, which are
  * the already-gated retrieval operators. [[topRanks]] cuts a scored
  * corpus to (id, rank) with `orderBy(...).limit(k)` — Spark plans
  * TakeOrderedAndProject (per-partition top-k + driver merge), never
  * a global sort — and only then numbers the k survivors in one
  * ungrouped aggregate (its input is k rows in one partition, not the
  * corpus). */
object Retrieval {

  /** Contribution of rank r is `RrfScale div (k0 + r)` — large enough
    * that distinct (k0, rank) pairs in any practical regime map to
    * distinct integers (k0 + r up to ~1e6 still leaves 6 significant
    * digits). */
  val RrfScale: Long = 1000000000000L

  /** Cut a scored frame to its deterministic top-k as (idCol, rank)
    * with rank 1..k — ties in `score` broken by ascending id. The cut
    * is TakeOrderedAndProject (no global sort, one output partition).
    * The k survivors are numbered by sorting them into one array in an
    * ungrouped aggregate and exploding it with positions: no exchange,
    * no job, and none of the "No Partition Defined for Window
    * operation!" WARN an unpartitioned rank window logs per call. The
    * comparator is the cut's own order: score desc (nulls last, NaN
    * highest as in Spark's ordering), then id asc. */
  def topRanks(scored: DataFrame, score: Column, idCol: String, k: Int): DataFrame = {
    val top = scored.orderBy(score.desc, col(idCol)).limit(k)
    def before(l: Column, r: Column): Column = {
      val (ls, rs) = (l("s"), r("s"))
      when(ls.isNull =!= rs.isNull, when(ls.isNull, 1).otherwise(-1))
        .when(ls > rs, -1).when(ls < rs, 1)
        .otherwise(when(l("id") < r("id"), -1).when(l("id") > r("id"), 1)
          .otherwise(0))
    }
    top.agg(array_sort(collect_list(struct(score.as("s"), col(idCol).as("id"))),
        before _).as("ranked"))
      .select(posexplode(col("ranked")))
      .select(col("col.id").as(idCol), (col("pos") + 1).cast("int").as("rank"))
  }

  /** Per-leg integer weights for weighted fusion: `weights(i)` scales
    * leg i's contribution to `(w·RrfScale) div (k0 + rank)` — integer
    * multiply BEFORE the integer divide, so the fused scores stay
    * bit-identical across engines (the DuckDB oracle restates the same
    * `(w * 1e12) // (k0 + rank)`), and weight 1 is EXACTLY today's
    * unweighted algebra (`(1·S) div x = S div x`). Real hybrid
    * deployments weight legs (dense-heavy for paraphrase queries,
    * lexical-heavy for exact identifiers); integer weights keep the
    * determinism discipline a double multiplier would break. Empty =
    * all legs weight 1. */
  private def legWeights(what: String, legs: Seq[DataFrame],
                         weights: Seq[Long]): Seq[Long] =
    if (weights.isEmpty) Seq.fill(legs.size)(1L)
    else {
      require(weights.size == legs.size,
        s"$what: ${weights.size} weights for ${legs.size} legs")
      require(weights.forall(_ >= 1),
        s"$what: leg weights must be >= 1, got ${weights.mkString(", ")} " +
          "(drop a leg instead of weighting it 0)")
      // upper bound guards the int64 multiply: w * RrfScale (1e12)
      // overflows at w ≈ 9.2e6, where Spark wraps silently while
      // DuckDB raises — the same engine-divergence the masked-doc_id
      // algebra elsewhere refuses. 1e6 keeps w·RrfScale ≤ 1e18 < 2^63.
      require(weights.forall(_ <= MaxLegWeight),
        s"$what: leg weights must be <= $MaxLegWeight " +
          s"(w * RrfScale must stay in int64), got ${weights.mkString(", ")}")
      weights
    }

  /** Largest allowed per-leg fusion weight: keeps `w * RrfScale`
    * (1e6 · 1e12 = 1e18) inside int64 for Spark AND the DuckDB
    * oracle. Enforced in [[legWeights]] and at the `corpus_hybrid`
    * `weights=>` parse. */
  val MaxLegWeight: Long = 1000000L

  /** Fuse ranked legs — each a DataFrame with columns (`idCol`,
    * `rank`), ranks starting at 1 and at most one row per id per leg
    * (the [[topRanks]] contract) — into the RRF top-k: (idCol,
    * `rrf_score`, `n_legs`), ordered score-desc with id tie-break.
    * An id missing from a leg simply gets no contribution from it
    * (the standard RRF convention). `weights` (optional, one per leg)
    * scales contributions in integer arithmetic — see [[legWeights]]. */
  def rrfFuse(legs: Seq[DataFrame], idCol: String = "doc_id",
              k0: Int = 60, topK: Int = 15,
              weights: Seq[Long] = Nil): DataFrame = {
    require(legs.nonEmpty, "rrfFuse needs at least one ranked leg")
    require(k0 >= 1, s"k0 must be >= 1, got $k0")
    val ws = legWeights("rrfFuse", legs, weights)
    val contribs = legs.zip(ws).map { case (leg, w) => leg.select(
      col(idCol),
      expr(s"(${w}L * ${RrfScale}L) div ($k0 + rank)").as("c")) }
    contribs.reduce(_ union _)
      .groupBy(idCol)
      .agg(sum(col("c")).as("rrf_score"), count(lit(1)).as("n_legs"))
      .orderBy(col("rrf_score").desc, col(idCol))
      .limit(topK)
  }

  /** Per-query RRF over BATCHED legs — each leg a DataFrame with
    * columns (query_id, `idCol`, rank), ranks starting at 1 within
    * each query_id (at most one row per (query_id, id) per leg: the
    * per-query [[topRanks]] contract the batch retrieval ops emit).
    * Returns (query_id, idCol, rrf_score, n_legs): each query's RRF
    * top-k, ordered (query_id, id). A query absent from one leg
    * (e.g. no lexical hits) fuses from the legs that served it — the
    * same convention as a missing id within a leg.
    *
    * Scale shape: every leg is ≤ batch·k rows by the serving
    * contract, so the fusion aggregate and the per-query rank window
    * run over bounded frames — the window partitions by query_id over
    * ≤ legs·k rows per query, never over a corpus. */
  def rrfFuseMany(legs: Seq[DataFrame], idCol: String = "doc_id",
                  k0: Int = 60, topK: Int = 15,
                  weights: Seq[Long] = Nil): DataFrame = {
    require(legs.nonEmpty, "rrfFuseMany needs at least one ranked leg")
    require(k0 >= 1, s"k0 must be >= 1, got $k0")
    val ws = legWeights("rrfFuseMany", legs, weights)
    val contribs = legs.zip(ws).map { case (leg, w) => leg.select(
      col("query_id"), col(idCol),
      expr(s"(${w}L * ${RrfScale}L) div ($k0 + rank)").as("c")) }
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_score").desc, col(idCol))
    // NOTE (r19, measured): do NOT pre-repartition the unioned
    // contributions by query_id to fuse the aggregate's and window's
    // exchanges into one. The plan does lose an Exchange, but the A/B
    // (fresh JVM, 5 hybrid queries, REPS=3) read +1.35 s WORSE
    // (8.91 → 10.26 s): the explicit RepartitionByExpression shuffles
    // RAW contribution rows with no map-side partial aggregation and
    // pins a shape AQE would otherwise coalesce — same lesson as the
    // r18 accessor fan-out revert.
    contribs.reduce(_ union _)
      .groupBy("query_id", idCol)
      .agg(sum(col("c")).as("rrf_score"), count(lit(1)).as("n_legs"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK).drop("rn")
      .orderBy(col("query_id"), col(idCol))
  }

  /** Self-contained hybrid search over a document corpus: BM25 leg on
    * `docs` (columns doc_id, text) for `terms`, dense leg on
    * `embeddings` (columns vec_id, embedding — vec_id keyed to
    * doc_id) against the stored vector of `queryVecId`, RRF-fused.
    * The dense leg here is the brute-force tier (one corpus pass,
    * broadcast single-row query) — at index scale, produce the leg
    * from [[Embeddings.ivfTopKIndexedFor]] / [[TextIndex.search]]
    * instead and fuse with [[rrfFuse]] directly; the fusion is
    * agnostic to how a leg was served. */
  def hybridSearch(docs: DataFrame, embeddings: DataFrame, terms: Seq[String],
                   queryVecId: Long, kPerLeg: Int = 20, k0: Int = 60,
                   topK: Int = 15): DataFrame = {
    val lex = topRanks(TextAnalysis.bm25(docs, terms), col("score"), "doc_id", kPerLeg)
    val v = embeddings.select(col("vec_id"),
      Embeddings.asDouble(col("embedding")).as("v"))
    // the query vector is one keyed row — resolve it loud on the
    // driver (an absent id would otherwise degrade the hybrid to a
    // plausible-looking lexical-only result with no error)
    val qvRows = v.filter(col("vec_id") === queryVecId).limit(2).collect()
    require(qvRows.nonEmpty,
      s"[QUERY_VEC_MISSING] vec_id $queryVecId has no embedding — " +
        "the dense leg would be silently empty")
    val qv = typedLit(qvRows.head.getSeq[Double](1))
    val scored = v
      .select(col("vec_id").as("doc_id"),
        Embeddings.cosine(col("v"), qv).as("cos"))
    val den = topRanks(scored, col("cos"), "doc_id", kPerLeg)
    rrfFuse(Seq(lex, den), "doc_id", k0, topK)
  }
}
