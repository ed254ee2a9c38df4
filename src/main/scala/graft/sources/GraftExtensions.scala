package graft.sources

import graft.functions.NativeExpressions
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, NamedArgumentExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** A table function's analysis-time builder: literal arguments in,
  * the resolved logical plan out. */
trait TableFunction {
  def build(args: Seq[Expression]): LogicalPlan
}

/** Shared positional/named argument parsing for the corpus TVFs —
  * ONE literal-extraction truth (string; int/long including the
  * parser's `UnaryMinus(Literal)` shape for negatives; decimal/double
  * for thresholds) instead of a per-TVF copy that drifts, and one
  * unknown-option rejection (a typo'd key must fail loud, never
  * silently serve the default behavior). */
private[graft] object TvfArgs {
  def parse(tvf: String, args: Seq[Expression], allowed: Set[String])
      : (List[String], Map[String, String]) = {
    def str(e: Expression, what: String): String = e match {
      case Literal(s: UTF8String, StringType) => s.toString
      case other => throw new IllegalArgumentException(
        s"$tvf: $what must be a literal, got $other")
    }
    var pos = List.empty[String]
    val opts = scala.collection.mutable.Map[String, String]()
    args.foreach {
      case NamedArgumentExpression(key, value) =>
        opts(key.toLowerCase) = value match {
          case Literal(v: Int, IntegerType) => v.toString
          case Literal(v: Long, LongType) => v.toString
          case org.apache.spark.sql.catalyst.expressions.UnaryMinus(
              Literal(v: Int, IntegerType), _) => (-v).toString
          case org.apache.spark.sql.catalyst.expressions.UnaryMinus(
              Literal(v: Long, LongType), _) => (-v).toString
          case Literal(v, _: org.apache.spark.sql.types.DecimalType) =>
            v.toString
          case Literal(v: Double, org.apache.spark.sql.types.DoubleType) =>
            v.toString
          case other => str(other, s"argument $key")
        }
      case lit => pos = pos :+ str(lit, "positional argument")
    }
    val unknown = opts.keySet -- allowed
    require(unknown.isEmpty,
      s"$tvf: unknown option(s) ${unknown.mkString(", ")} " +
        s"(expected ${allowed.toSeq.sorted.mkString(", ")})")
    (pos, opts.toMap)
  }

  /** Scoped MaxScore serving knobs (`corpus_search`/`corpus_hybrid`):
    * `maxscore=>'on'|'off'` and `theta_rows=>N` override the
    * `graft.textindex.maxscore` / `graft.textindex.maxscoreThetaRows`
    * confs FOR THIS STATEMENT ONLY — via
    * [[graft.pipeline.TextIndex.confOverrides]], the per-thread
    * override scope the route decision consults before the session
    * conf. NOT a session-conf set/finally-restore: QueryService plans
    * concurrent statements on ONE shared session, where interleaved
    * restores can permanently leak a statement's knob into the session
    * and a knob-less neighbor's route decision can read an in-flight
    * value — the ThreadLocal makes the statement scope exact (the
    * route is decided synchronously inside `body` on this thread) and
    * leaves the session conf untouched as the deployment-wide
    * fallback. The knobs tune the text-index pruned route, so they
    * fail loud when the path is a plain corpus (where the lexical leg
    * is a scan, not an index probe). */
  def withMaxScoreConfs[T](tvf: String, spark: SparkSession,
                           opts: Map[String, String],
                           isIndex: => Boolean)(body: => T): T = {
    val confs: Seq[(String, String)] =
      opts.get("maxscore").map { v =>
        val on = v.toLowerCase match {
          case "on" | "true" => "true"
          case "off" | "false" => "false"
          case other => throw new IllegalArgumentException(
            s"$tvf: maxscore must be on or off, got '$other'")
        }
        "graft.textindex.maxscore" -> on
      }.toSeq ++
      opts.get("theta_rows").map { v =>
        val n = try v.toLong catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$tvf: theta_rows must be an integer, got '$v'") }
        require(n >= 1, s"$tvf: theta_rows $n must be >= 1")
        "graft.textindex.maxscoreThetaRows" -> n.toString
      }
    if (confs.isEmpty) return body
    require(isIndex,
      s"$tvf: maxscore/theta_rows tune the text-index pruned serving " +
        "route; this path is a plain corpus scan (build a TextIndex to " +
        "use them)")
    val holder = graft.pipeline.TextIndex.confOverrides
    val prior = holder.get()
    holder.set(prior ++ confs)
    try body
    finally holder.set(prior)
  }

  /** Normalize an external batch parquet to the canonical
    * (idCol, payloadCol) shape — ONE reading truth for the batch
    * TVFs: columns are selected BY NAME when the expected names exist
    * (case-insensitive, any order, extra columns ignored). When
    * exactly ONE expected name is present it binds by name and the
    * other column resolves positionally from the REMAINING columns —
    * a (n_rows, query) file must never silently bind a stray numeric
    * column as the id just because full-name matching failed — loud
    * when that remainder is ambiguous (≥2 candidates). Only a file
    * matching NEITHER name falls back to the documented positional
    * contract (first = id, second = payload, for unnamed exports); a
    * file that can satisfy nothing fails loud NAMING the expectation
    * instead of surfacing a downstream cast/dim error from the wrong
    * column.
    *
    * Every batch passes the serving micro-batch cap
    * ([[graft.pipeline.ServingLimits.collectMicroBatch]]) here,
    * BEFORE any caller touches it: the driver-bounded contract is
    * enforced, not documented — an oversized `queries=>` file fails
    * loud naming the cap and the knob instead of OOMing the driver.
    * Enforcement rides ONE collect (limit cap+1, the two resolved
    * columns only), returned alongside a DRIVER-LOCAL frame over the
    * same rows: every downstream validation pass (ids, dims, nulls)
    * reads the rows or runs a trivial local job instead of its own
    * parquet scan — the serving-latency shape (r14's
    * 3-jobs-per-batch-TVF plan-build tax was measurable on
    * q_sql_ann_many). */
  def batchFrame(tvf: String, df: org.apache.spark.sql.DataFrame,
                 idCol: String, payloadCol: String)
      : (Array[org.apache.spark.sql.Row], org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions.col
    val byName = df.columns.map(c => c.toLowerCase -> c).toMap
    def theOther(matched: String, missing: String): String = {
      val rest = df.columns.filter(_ != matched)
      require(rest.length == 1,
        s"$tvf: batch parquet matches column '$matched' but the $missing " +
          s"column cannot be resolved from the remaining " +
          s"[${rest.mkString(", ")}] — name the $missing column" +
          (if (rest.length > 1) " or drop the extras" else ""))
      rest.head
    }
    val shaped = (byName.get(idCol), byName.get(payloadCol)) match {
      case (Some(i), Some(p)) =>
        df.select(col(i).as(idCol), col(p).as(payloadCol))
      case (Some(i), None) =>
        df.select(col(i).as(idCol),
          col(theOther(i, payloadCol)).as(payloadCol))
      case (None, Some(p)) =>
        df.select(col(theOther(p, idCol)).as(idCol),
          col(p).as(payloadCol))
      case (None, None) =>
        require(df.columns.length >= 2,
          s"$tvf: batch parquet must carry ($idCol, $payloadCol) columns " +
            "(matched by name in any order) or at least two columns in " +
            s"that positional order; got [${df.columns.mkString(", ")}]")
        df.select(col(df.columns.head).as(idCol),
          col(df.columns(1)).as(payloadCol))
    }
    val rows = graft.pipeline.ServingLimits.collectMicroBatch(
      tvf, s"($idCol, $payloadCol)", shaped)
    (rows, df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), shaped.schema))
  }

  /** The id-side contract every batch TVF shares: ids cast to long,
    * no nulls (a null id would NPE downstream with no context), no
    * duplicates (an id names ONE query/doc's result rows — duplicate
    * ids would silently merge two different inputs' results under
    * one key on the grouped routes while unioned routes emit both,
    * so the two routes of the same TVF could diverge). Driver-side
    * over the collected micro-batch, loud on violation. */
  def requireIds(tvf: String, what: String, ids: Seq[Any]): Unit = {
    require(!ids.contains(null),
      s"$tvf: null $what in the batch parquet")
    val dups = ids.groupBy(identity).collect { case (id, g) if g.size > 1 => id }
    require(dups.isEmpty,
      s"$tvf: duplicate $what(s) ${dups.mkString(", ")} in the batch " +
        s"parquet — each $what identifies one input's result rows")
  }
}

/** The query side and the two scoring legs the retrieval TVFs share
  * (`corpus_search`'s BM25, `corpus_ann`'s dense search, and
  * `corpus_hybrid`, which fuses one of each): term normalization, the
  * query-vector literal, the batch embedding guards, and each leg's
  * layout routing are stated here once, so the TVFs cannot drift
  * apart on any of them. */
private[sources] object TvfRetrieval {
  import org.apache.spark.sql.{DataFrame, Row}
  import org.apache.spark.sql.functions.{col, size}

  /** Whitespace terms, trimmed, lower-cased and de-duplicated — the
    * same Scala normalization on the single-query and batch paths. */
  def termsOf(q: String): Seq[String] =
    q.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq

  /** A comma-separated query-vector literal (SQL literals cannot carry
    * arrays into a TVF argument list); `what` names the argument. */
  def vector(tvf: String, what: String, v: String): Array[Double] = {
    val vec =
      try v.split(",").map(_.trim).filter(_.nonEmpty).map(_.toDouble)
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"$tvf: $what must be comma-separated numbers, got '$v'") }
    require(vec.nonEmpty, s"$tvf: empty $what")
    vec
  }

  /** The one dimension of a collected batch's embeddings (column `i`),
    * None for an empty batch. Every row is checked, not just the
    * first: parquet fixes the array ELEMENT type, not per-row array
    * length, so a batch can mix dims — and a null embedding fails
    * loud here instead of inside a scoring kernel. Driver-side over
    * rows already collected, so the guard runs no job. */
  def batchDim(tvf: String, rows: Seq[Row], i: Int): Option[Int] = {
    require(!rows.exists(_.isNullAt(i)),
      s"$tvf: null embedding in the batch parquet")
    val dims = rows.map(r => r.get(i) match {
      case v: scala.collection.Seq[_] => v.length
      case other => throw new IllegalArgumentException(
        s"$tvf: batch embeddings must be arrays of numbers, got " +
          other.getClass.getSimpleName)
    }).distinct.sorted
    require(dims.size <= 1,
      s"$tvf: query vectors mix dimensions ${dims.mkString(", ")}")
    dims.headOption
  }

  /** The BM25 leg for one query's terms (Left) or a (query_id, terms)
    * batch (Right): a text index at `path` serves from its pruned
    * postings, a plain (doc_id, text) parquet from one corpus scan,
    * under the statement's MaxScore knobs ([[TvfArgs.withMaxScoreConfs]]).
    * Every index-routed call writes `[<tvf>] route=<route>` to stderr:
    * the decision is per-thread and was just taken inside this build,
    * so the line names this statement's route, never a neighbor's. */
  def lexical(tvf: String, spark: SparkSession, opts: Map[String, String],
              path: String, isIndex: Boolean, k: Int,
              queries: Either[Seq[String], Seq[(Long, Seq[String])]]): DataFrame = {
    import graft.pipeline.{TextAnalysis, TextIndex}
    import spark.implicits._
    val scored = TvfArgs.withMaxScoreConfs(tvf, spark, opts, isIndex) {
      (queries, isIndex) match {
        case (Left(terms), true) => TextIndex.search(spark, path, terms, k)
        case (Left(terms), false) =>
          TextAnalysis.bm25(Parquet.read(spark, path), terms)
            .orderBy(col("score").desc, col("doc_id")).limit(k)
        case (Right(batch), true) =>
          TextIndex.searchMany(spark, path, batch.toDF("query_id", "terms"), k)
        case (Right(batch), false) =>
          TextAnalysis.bm25Many(Parquet.read(spark, path), batch, k)
      }
    }
    if (isIndex) System.err.println(s"[$tvf] route=${TextIndex.lastRoute}")
    scored
  }

  /** The dense leg over (query_id, embedding) `queries` of dimension
    * `qDim`: an IVF index at `path` serves the adaptive two-level
    * probe (exact over the live corpus; at most `escapeCap` extra
    * cells when set), a plain (vec_id, embedding) parquet one
    * brute-force pass. `qDim` is checked BEFORE any corpus scan — a
    * mismatch would rank truncated dot products silently — and
    * `allowedIds` (a `vec_id` frame) restricts the neighbors. */
  def dense(tvf: String, spark: SparkSession, queries: DataFrame,
            qDim: Option[Int], path: String, k: Int, nprobe: Int,
            escapeCap: Option[Int] = None,
            allowedIds: Option[DataFrame] = None): DataFrame = {
    import graft.pipeline.Embeddings
    def requireDim(dim: Int): Unit = qDim.foreach(qd =>
      require(qd == dim,
        s"$tvf: query vector has $qd dims but the vectors at $path have $dim"))
    if (IndexLayouts.requireServable(spark, path, tvf, IndexLayouts.IvfIndex)) {
      requireDim(Embeddings.indexDim(spark, path))
      Embeddings.ivfTopKIndexedFor(queries, path, k, nprobe = nprobe,
        adaptive = true, escapeCap = escapeCap.getOrElse(Int.MaxValue),
        allowedIds = allowedIds)
    } else {
      require(escapeCap.isEmpty,
        s"$tvf: escape_cap applies to the IVF index route; the " +
          s"brute-force route over $path is already exact")
      val corpus = Parquet.read(spark, path)
      corpus.select(size(col("embedding"))).head(1)
        .foreach(r => requireDim(r.getInt(0)))
      Embeddings.bruteForceTopKFor(queries,
        allowedIds.fold(corpus)(a => corpus.join(a, Seq("vec_id"), "left_semi")), k)
    }
  }
}

/** Size-gated fan-out under text-kernel projections in RAW SQL plans
  * (guide §2.5): a `shingle_hashes(text, k)` projection straight over
  * a small single-row-group parquet scan plans as ONE task and
  * serializes the whole kernel pass on one core — the Scala operators
  * all route through [[graft.Engine.fanOut]], but a raw-SQL statement
  * (q_sql_dedup) has no hook for the caller to do the same without
  * changing the pinned SQL text. This rule inserts the identical
  * round-robin repartition below the kernel projection, under the
  * identical byte gate ([[graft.Engine.FanOutMaxBytes]], 1 GiB): scans
  * the file scanner already splits into enough tasks (the 100 TB case,
  * where stats read large) pass through untouched, so the exchange
  * exists only where the map stage would otherwise be single-task.
  * Results are unchanged — a round-robin exchange reorders rows only,
  * and every declared SQL query orders its output.
  *
  * Scope guard: fires only when the kernel projection sits on a
  * NARROW chain (project/filter) over a file relation — a child that
  * already contains its own exchange (repartition from fanOut, join,
  * aggregate) keeps its planned shape, which also makes the rule a
  * fixpoint (the inserted Repartition blocks a second insertion).
  * A projection whose rows reach a LIMIT through a narrow chain is
  * left alone too: the limit reads only the first rows of the scan,
  * and an exchange below it would read the whole scan first. */
private[sources] case class FanOutKernelScans(spark: SparkSession)
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical._

  private def hasKernel(p: Project): Boolean =
    p.projectList.exists(_.exists(
      _.isInstanceOf[NativeExpressions.ShingleHashes]))

  private def narrowScan(plan: LogicalPlan): Boolean = plan match {
    case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
    case f: Filter => narrowScan(f.child)
    case p: Project => narrowScan(p.child)
    case s: SubqueryAlias => narrowScan(s.child)
    case _ => false // joins/aggregates/repartitions keep their shape
  }

  override def apply(plan: LogicalPlan): LogicalPlan = fanOut(plan, limited = false)

  /** Bottom-up like `transformUp`; `limited` says a LIMIT sits above
    * `plan` with only narrow nodes in between. */
  private def fanOut(plan: LogicalPlan, limited: Boolean): LogicalPlan = {
    val underLimit = plan match {
      case _: LocalLimit | _: GlobalLimit => true
      case _: Project | _: Filter | _: SubqueryAlias => limited
      case _ => false
    }
    plan.mapChildren(fanOut(_, underLimit)) match {
      case p: Project
          if !limited && hasKernel(p) && narrowScan(p.child) &&
            p.child.stats.sizeInBytes < graft.Engine.FanOutMaxBytes =>
        p.withNewChildren(Seq(Repartition(
          spark.sparkContext.defaultParallelism, shuffle = true, p.child)))
      case other => other
    }
  }
}

/** Catalyst-native registration of the reference's `read_files` table
  * function and the corpus TVFs. With the extension installed,
  * `SELECT ... FROM read_files('glob' [, name=>'value']...)` resolves
  * through the analyzer like any built-in TVF: string literals are
  * naturally inert, and the produced plan is the ordinary file-source
  * relation (full pushdown/pruning). Every TVF resolves `connection=>`
  * against the connections [[ReadFiles.sql]] scopes to its statement.
  *
  * Install via `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.sources.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    // size-gated fan-out for kernel projections in raw SQL (see
    // FanOutKernelScans) — inert above the byte gate
    ext.injectOptimizerRule(FanOutKernelScans(_))

    tableFunctions.foreach { case (name, tvf) =>
      ext.injectTableFunction((FunctionIdentifier(name),
        new ExpressionInfo(tvf.getClass.getName, name), tvf.build _))
    }

    // The pipeline's native expressions as first-class SQL scalar
    // functions — the reference's extension-registry vision
    // (operator_task_registry.rs:74-94) applied to functions: a SQL
    // user composes the whole dedup/similarity pipeline without
    // touching the Scala API, and the expressions keep their codegen.
    inject(ext, "shingle_hashes") {
      case Seq(t) => NativeExpressions.ShingleHashes(t, 3)
      case Seq(t, k) => NativeExpressions.ShingleHashes(t, intArg(k, "shingle_hashes"))
    }
    inject(ext, "sorted_intersect_size") {
      case Seq(a, b) => NativeExpressions.SortedIntersectSize(a, b)
    }
    inject(ext, "minhash_sig") {
      case Seq(c, p) => NativeExpressions.MinHashSig(c, intArg(p, "minhash_sig"))
    }
    inject(ext, "simhash_bits") {
      case Seq(c) => NativeExpressions.SimHashBits(c)
    }
    inject(ext, "dot_product") {
      case Seq(a, b) => NativeExpressions.DotProduct(a, b)
    }
    inject(ext, "poly_fingerprint") {
      case Seq(t) => NativeExpressions.PolyFingerprint(t)
    }
    // Built directly on catalyst RegExpReplace (a functions-API Column
    // would reach the builder as an unresolvable ColumnNodeExpression).
    inject(ext, "redact_pii") {
      case Seq(t) =>
        graft.pipeline.TextAnalysis.PiiPatterns.foldLeft(t) {
          case (e, (re, token)) =>
            org.apache.spark.sql.catalyst.expressions.RegExpReplace(
              e, Literal(re), Literal(token))
        }
    }
  }
}

object GraftExtensions {
  /** Every table function the extension registers, by SQL name. */
  private val tableFunctions: Seq[(String, TableFunction)] = Seq(
    "read_files" -> ReadFilesTVF,
    "corpus_search" -> CorpusSearchTVF,
    "corpus_ann" -> CorpusAnnTVF,
    "corpus_hybrid" -> CorpusHybridTVF,
    "corpus_dedup" -> CorpusDedupTVF,
    "read_store" -> ReadStoreTVF,
    "corpus_quality" -> CorpusQualityTVF,
    "corpus_mix" -> CorpusMixTVF,
    "corpus_decontam" -> CorpusDecontamTVF,
    "corpus_diff" -> CorpusDiffTVF,
    "corpus_index_stats" -> CorpusIndexStatsTVF)

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn: expected an integer literal argument, got $other")
  }

  private def inject(ext: SparkSessionExtensions, name: String)(
      builder: PartialFunction[Seq[Expression], Expression]): Unit =
    ext.injectFunction((
      FunctionIdentifier(name),
      new ExpressionInfo(NativeExpressions.getClass.getName, name),
      (args: Seq[Expression]) => builder.applyOrElse(args, (a: Seq[Expression]) =>
        throw new IllegalArgumentException(
          s"$name: unexpected argument count ${a.size}"))))
}

/** `corpus_search(path, query [, k=>10] [, mode=>'bm25'|'phrase']
  * [, connection=>name])`: top-k retrieval for SQL users with no
  * Scala in sight — BM25 ranking by default, exact consecutive-phrase
  * occurrence counts with `mode=>'phrase'`.
  * Whitespace-tokenized query, deterministic ranking (score desc,
  * doc_id asc — scores are the decimal-exact
  * [[graft.pipeline.TextAnalysis.bm25]] values, so the cut is stable
  * across engines and runs).
  *
  * Batch serving: `corpus_search(path, queries=>'qpath' [, k] [,
  * mode])` reads external queries from a (query_id, query) parquet
  * instead of a literal — the SQL face of
  * [[graft.pipeline.TextIndex.searchMany]]'s batch shape — and emits
  * (query_id, doc_id, score, n_terms) (bm25) or (query_id, doc_id,
  * n_hits) (phrase) with per-query top-k, ordered (query_id,
  * doc_id). One pruned postings pass (index,
  * [[graft.pipeline.TextIndex.searchMany]] /
  * [[graft.pipeline.TextIndex.searchPhraseMany]]) or one corpus scan
  * (plain parquet, [[graft.pipeline.TextAnalysis.bm25Many]] /
  * phraseCountsMany) covers the whole batch in BOTH modes — plan
  * size is fixed regardless of batch size. Query ids must be unique
  * and non-null (loud failure otherwise); blank queries yield no
  * rows, like a term-missing single query.
  *
  * `path` may be either a (doc_id, text) parquet corpus — scored by a
  * corpus scan — or a persisted [[graft.pipeline.TextIndex]] layout
  * (detected by its `meta/` + postings stores), which serves the SAME
  * deterministic scores from the query terms' pruned postings buckets
  * instead of scanning the corpus: point the TVF at the index and the
  * query cost follows the query, not the data.
  *
  * MaxScore serving knobs (index + bm25 mode only, loud otherwise):
  * `maxscore=>'on'|'off'` forces/disables the block-max pruned route,
  * `theta_rows=>N` deepens the threshold pass's per-term prefix (for
  * corpora whose impact ranking poorly predicts totals) — both scoped
  * to THIS statement via [[TvfArgs.withMaxScoreConfs]] (no session
  * leakage), results exact on every route. Every index-routed BM25
  * statement logs its route (`[corpus_search] route=...`, the rule
  * [[TvfRetrieval.lexical]] applies to every BM25 leg) so deployments
  * can observe and tune the pruned/exhaustive decision. */
object CorpusSearchTVF extends TableFunction {
  def build(args: Seq[Expression]): LogicalPlan = {
    // options change result SEMANTICS (mode), so a typo'd key fails
    // loud inside the shared parser, not silently serving defaults
    val (pos, opts) = TvfArgs.parse("corpus_search", args,
      Set("k", "mode", "connection", "queries", "maxscore", "theta_rows"))
    val (path, query) = (pos, opts.get("queries")) match {
      case (p :: q :: Nil, None) => (p, Some(q))
      case (p :: Nil, Some(_)) => (p, None)
      case _ => throw new IllegalArgumentException(
        "corpus_search: expected (path, query) positional arguments, or " +
          "(path) with queries=>'path' for a batch")
    }
    val k = opts.get("k").map(_.toInt).getOrElse(10)
    require(k >= 1, s"corpus_search: k $k must be >= 1")
    val mode = opts.getOrElse("mode", "bm25").toLowerCase
    require(mode == "bm25" || mode == "phrase",
      s"corpus_search: unknown mode '$mode' (bm25 | phrase)")
    // MaxScore knobs tune the BM25 pruned route only — the family's
    // mode-option discipline: an option for a different mode fails
    // loud, never gets silently ignored
    require(mode == "bm25" ||
        (!opts.contains("maxscore") && !opts.contains("theta_rows")),
      s"corpus_search: maxscore/theta_rows apply to mode=>'bm25' " +
        s"(the BM25 pruned serving route), got mode '$mode'")
    val spark = SparkSession.active
    val resolve = (p: String) => ReadFiles.resolve(opts.get("connection"), p)
    val resolved = resolve(path)
    import org.apache.spark.sql.functions.col
    val isIndex = IndexLayouts.requireServable(
      spark, resolved, "corpus_search", IndexLayouts.TextIdx)
    // batch queries are collected driver-side (driver-bounded by the
    // serving contract) so terms normalize exactly like the single
    // query's; an int32 query_id (pyarrow's default for small ints)
    // casts, and a null query/id or duplicate id fails loud instead of
    // NPE-ing in termsOf or silently merging two queries' results
    val batch: Option[Seq[(Long, String)]] = query match {
      case Some(_) => None
      case None =>
        val (_, raw) = TvfArgs.batchFrame("corpus_search",
          Parquet.read(spark, resolve(opts("queries"))), "query_id", "query")
        val rows = raw.select(col("query_id").cast("long"), col("query")).collect()
        TvfArgs.requireIds("corpus_search", "query_id", rows.map(_.get(0)).toSeq)
        val nulls = rows.filter(_.isNullAt(1)).map(_.getLong(0))
        require(nulls.isEmpty,
          s"corpus_search: null query for query_id(s) ${nulls.mkString(", ")}")
        Some(rows.map(r => (r.getLong(0), r.getString(1))).toSeq)
    }
    val result = (mode, batch) match {
      case ("bm25", None) =>
        val terms = TvfRetrieval.termsOf(query.get)
        require(terms.nonEmpty, "corpus_search: empty query")
        TvfRetrieval.lexical("corpus_search", spark, opts, resolved, isIndex,
          k, Left(terms))
      case ("bm25", Some(qs)) =>
        TvfRetrieval.lexical("corpus_search", spark, opts, resolved, isIndex,
          k, Right(qs.map { case (qid, q) => (qid, TvfRetrieval.termsOf(q)) }))
      // exact consecutive-phrase counts: positional postings when the
      // path is an index, direct token scan for a plain corpus
      case ("phrase", None) =>
        if (isIndex) graft.pipeline.TextIndex.searchPhrase(spark, resolved, query.get, k)
        else graft.pipeline.TextAnalysis.phraseCounts(
          Parquet.read(spark, resolved), query.get, k)
      // index route: ONE pruned positional probe for the whole batch
      // (searchPhraseMany — the per-phrase verify is data, not plan,
      // so plan size stays FIXED however large the batch file is).
      // Plain-corpus route: ONE shared scan for the whole batch
      // (phraseCountsMany — N separate phraseCounts legs would scan
      // the full corpus N times). Blank phrases contribute no rows;
      // per-query results identical either way.
      case ("phrase", Some(qs)) =>
        if (isIndex)
          graft.pipeline.TextIndex.searchPhraseMany(spark, resolved, qs, k)
        else graft.pipeline.TextAnalysis.phraseCountsMany(
          Parquet.read(spark, resolved), qs, k)
          .orderBy("query_id", "doc_id")
      case _ => throw new IllegalStateException("unreachable")
    }
    result.queryExecution.analyzed
  }
}

/** `corpus_ann(path, queryVec [, k=>10] [, nprobe=>10]
  * [, connection=>name])`: exact top-k cosine neighbors of one
  * external query vector, for SQL users with no Scala in sight.
  * `queryVec` is a comma-separated number string (SQL literals cannot
  * carry arrays into a TVF argument list); output is (neighbor_id,
  * cos, rank) ranked score-desc with neighbor-id tie-break — the same
  * deterministic contract as the Scala serving paths.
  *
  * Batch serving: `corpus_ann(path, queries=>'qpath' [, k] [,
  * nprobe])` reads external query vectors from a (query_id,
  * embedding) parquet instead of a literal — the SQL face of
  * [[graft.pipeline.Embeddings.ivfTopKIndexedFor]]'s batch shape —
  * and emits (query_id, neighbor_id, cos, rank) per query.
  *
  * Filtered serving: `filter=>'path'` restricts the NEIGHBOR side to
  * the ids in a one-column parquet — tenant/language-scoped search,
  * the SQL face of `allowedIds`. Exact on both routes: the index
  * route keeps the adaptive escape (the radius bound is conservative
  * for any subset), the brute route scans the semi-joined corpus.
  *
  * `path` may be a plain (vec_id, embedding) parquet — scored by one
  * brute-force corpus pass — or a persisted
  * [[graft.pipeline.Embeddings.writeIvfIndex]] layout (detected by
  * its committed `centroids` store), served with the adaptive
  * two-level probe: partition-pruned to the probed cells AND still
  * exact top-k over the live corpus, so both routes return identical
  * rows and the query cost follows the query, not the data. */
object CorpusAnnTVF extends TableFunction {
  def build(args: Seq[Expression]): LogicalPlan = {
    val (pos, opts) = TvfArgs.parse("corpus_ann", args,
      Set("k", "nprobe", "connection", "queries", "escape_cap", "filter"))
    val (path, vecStr) = (pos, opts.get("queries")) match {
      case (p :: v :: Nil, None) => (p, Some(v))
      case (p :: Nil, Some(_)) => (p, None)
      case _ => throw new IllegalArgumentException(
        "corpus_ann: expected (path, queryVec) positional arguments, or " +
          "(path) with queries=>'path' for a batch")
    }
    val k = opts.get("k").map(_.toInt).getOrElse(10)
    require(k >= 1, s"corpus_ann: k $k must be >= 1")
    val nprobe = opts.get("nprobe").map(_.toInt).getOrElse(10)
    require(nprobe >= 1, s"corpus_ann: nprobe $nprobe must be >= 1")
    // escape_cap bounds the adaptive re-probe per query (index route
    // only): unset = exact top-k; 0 = fixed-nprobe only; N = at most
    // N extra cells, most promising first — the cost ceiling for
    // radii-loose corpora (ANN_SCALE.md).
    val escapeCap = opts.get("escape_cap").map(_.toInt)
    escapeCap.foreach(c =>
      require(c >= 0, s"corpus_ann: escape_cap $c must be >= 0"))
    val spark = SparkSession.active
    val resolve = (p: String) => ReadFiles.resolve(opts.get("connection"), p)
    val resolved = resolve(path)
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // batch mode reads (query_id, embedding) rows from a parquet; the
    // single-vector mode wraps the parsed literal as a one-row batch
    val (q, qDim): (org.apache.spark.sql.DataFrame, Option[Int]) = vecStr match {
      case Some(v) =>
        val vec = TvfRetrieval.vector("corpus_ann", "queryVec", v)
        (Seq((0L, vec)).toDF("vec_id", "embedding"), Some(vec.length))
      case None =>
        // columns by name (positional fallback) + the shared id
        // contract, checked over the collected micro-batch
        val (rows, b) = TvfArgs.batchFrame("corpus_ann",
          Parquet.read(spark, resolve(opts("queries"))), "query_id", "embedding")
        TvfArgs.requireIds("corpus_ann", "query_id",
          b.select(col("query_id").cast("long")).collect().map(_.get(0)).toSeq)
        (b, TvfRetrieval.batchDim("corpus_ann", rows.toSeq, 1))
    }
    // filter=>'path': extra columns are rejected loud — a (vec_id,
    // lang) file is a predicate the caller should apply, not an id
    // list. The frame stays distributed (never collected), so no
    // micro-batch cap applies: an allow-list scales with the corpus.
    val allowed: Option[org.apache.spark.sql.DataFrame] =
      opts.get("filter").map { fp =>
        val f = Parquet.read(spark, resolve(fp))
        require(f.columns.length == 1,
          s"corpus_ann: filter parquet must carry exactly one id column, " +
            s"got [${f.columns.mkString(", ")}]")
        f.select(col(f.columns.head).cast("long").as("vec_id"))
      }
    val result = TvfRetrieval.dense("corpus_ann", spark, q, qDim, resolved,
      k, nprobe, escapeCap, allowed)
    val out =
      if (vecStr.isEmpty) result.select(col("query_id"), col("neighbor_id"),
        col("cos"), col("rank")).orderBy("query_id", "rank")
      else result.select(col("neighbor_id"), col("cos"), col("rank"))
        .orderBy("rank")
    out.queryExecution.analyzed
  }
}

/** `corpus_dedup(path [, batch=>'bpath'] [, threshold=>0.8] [, k=>3]
  * [, connection=>name])`: near-duplicate detection for SQL users
  * with no Scala in sight — the fuzzy-dup face of the TVF family.
  *
  * Self mode (no `batch`): all near-dup pairs WITHIN the corpus at
  * `path` as (doc_a, doc_b, jaccard), doc_a < doc_b — exact
  * word-k-shingle Jaccard ≥ threshold, ordered (doc_a, doc_b).
  * A plain (doc_id, text) parquet runs the inverted-index exact join
  * ([[graft.pipeline.TextDedup.ngramJaccardPairs]]); a persisted band
  * index serves the same pairs from its stored band rows + shingle
  * sets without re-reading any text
  * ([[graft.pipeline.TextDedup.nearDupPairsInBandIndex]]).
  *
  * Batch mode (`batch=>'bpath'`, a (doc_id, text) parquet): near-dups
  * of the batch docs within the corpus as (doc_id, dup_of, jaccard) —
  * the recurring-ingest gate shape. Against a band index the call is
  * O(batch) with partition-pruned index scans
  * ([[graft.pipeline.TextDedup.nearDupsAgainstBandIndex]]); against a
  * plain corpus the index-free LSH cross-join fallback runs
  * ([[graft.pipeline.TextDedup.crossSetNearDupPairs]]).
  *
  * `mode=>'clusters'` (self mode only): connected components of the
  * near-dup graph as (doc_id, cluster_id) — label propagation over
  * the pair frame, singletons carrying their own id
  * ([[graft.pipeline.TextDedup.nearDupClusters]] /
  * [[graft.pipeline.TextDedup.clustersInBandIndex]]).
  *
  * `mode=>'simhash'` (self mode only): the same exact-Jaccard pair
  * contract served from SIMHASH banding instead of shingle LSH —
  * [[graft.pipeline.TextDedup.simhashPairs]]: 64-bit shingle-set
  * simhash, aligned `band_bits`-wide chunk-bucket candidates, a
  * codegen'd hamming prefilter (`max_hamming`, default 16 — recall
  * beyond the pigeonhole radius is bucket luck by design; the Jaccard
  * verifier keeps every EMITTED pair exact), then the shared
  * verification. `band_bits=>8|16` defaults to 8 and is NEVER
  * auto-narrowed here (unlike media mode, the radius contract is
  * intentionally soft). Plain corpora only — a band index stores
  * shingle-LSH artifacts, not simhashes, and fails loud.
  *
  * `mode=>'media'` (self mode only): near-duplicate MEDIA pairs by
  * perceptual-hash hamming distance over a media parquet (doc_id,
  * payload binary) — (doc_a, doc_b, hamming) with hamming ≤
  * `max_hamming` (default 6; chunk banding guarantees recall to 7)
  * via [[graft.pipeline.Multimodal.phashDupPairs]]: candidates from
  * aligned chunk collisions, never all-pairs, payloads never
  * shuffle. `band_bits=>8|16` picks the chunk width — the 100-TB
  * knob (FUZZY_SCALE.md's hamming table: 16-bit bands cut stray
  * candidates ~512×, recall contract drops to hamming 3); omitted =
  * auto by corpus size
  * ([[graft.pipeline.Multimodal.AutoBandBits16Threshold]]), where an
  * auto-16 with max_hamming > 3 fails loud naming both ways out. A
  * corpus without a payload column fails loud naming the text-mode
  * alternative; threshold/k (text-shingle options) fail loud under
  * media mode and max_hamming/band_bits fail loud outside it.
  *
  * `k` (shingle width) applies to the plain-corpus routes only — an
  * index's scheme is frozen in its meta store, so passing a
  * conflicting k fails loud instead of silently serving under
  * different grams than asked for. The same frozen-scheme discipline
  * covers `threshold` on the index routes: a threshold below the
  * scheme's design threshold (where LSH candidate recall collapses)
  * fails loud ([[graft.pipeline.TextDedup.bandIndexDesignThreshold]])
  * instead of silently missing most true pairs. */
object CorpusDedupTVF extends TableFunction {
  def build(args: Seq[Expression]): LogicalPlan = {
    val (pos, opts) = TvfArgs.parse("corpus_dedup", args,
      Set("batch", "threshold", "k", "connection", "mode", "max_hamming",
        "band_bits"))
    val mode = opts.getOrElse("mode", "pairs").toLowerCase
    require(mode == "pairs" || mode == "clusters" || mode == "media" ||
        mode == "simhash",
      s"corpus_dedup: unknown mode '$mode' (expected pairs, clusters, media, simhash)")
    require(mode == "pairs" || !opts.contains("batch"),
      "corpus_dedup: mode=>'" + mode + "' applies to self mode only " +
        "(batch gating emits text pairs)")
    // mode-option discipline (the corpus_mix convention): an option
    // for a different mode must fail loud, never be silently ignored
    require(mode == "media" || mode == "simhash" || !opts.contains("max_hamming"),
      s"corpus_dedup: max_hamming applies to mode=>'media'/'simhash' only (got mode '$mode')")
    require(mode == "media" || mode == "simhash" || !opts.contains("band_bits"),
      s"corpus_dedup: band_bits applies to mode=>'media'/'simhash' only (got mode '$mode')")
    require(mode != "media" ||
        (!opts.contains("threshold") && !opts.contains("k")),
      "corpus_dedup: threshold/k are text-shingle options — " +
        "mode=>'media' bounds hamming distance with max_hamming=>N")
    val path = pos match {
      case p :: Nil => p
      case _ => throw new IllegalArgumentException(
        "corpus_dedup: expected exactly one positional path argument")
    }
    val threshold = opts.get("threshold").map { t =>
      val v = try t.toDouble catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"corpus_dedup: threshold must be a number, got '$t'") }
      require(v > 0.0 && v <= 1.0,
        s"corpus_dedup: threshold $v must be in (0, 1]")
      v
    }.getOrElse(0.8)
    val kOpt = opts.get("k").map(_.toInt)
    kOpt.foreach(k => require(k >= 1, s"corpus_dedup: k $k must be >= 1"))
    val spark = SparkSession.active
    val resolve = (p: String) => ReadFiles.resolve(opts.get("connection"), p)
    val resolved = resolve(path)
    val maxHammingOpt: Option[Int] = opts.get("max_hamming").map { h =>
      try h.toInt catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"corpus_dedup: max_hamming must be an integer, got '$h'") }
    }
    // band_bits=>8|16 routes straight to the banding knob; each mode
    // applies its own default (media: auto by corpus size; simhash: 8
    // — its default radius intentionally exceeds both widths'
    // pigeonhole guarantee, recall beyond it is bucket luck while the
    // Jaccard verifier keeps emitted pairs exact, so auto-narrowing
    // would silently change recall)
    val bandBitsOpt: Option[Int] = opts.get("band_bits").map { bb =>
      val v = try bb.toInt catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"corpus_dedup: band_bits must be an integer, got '$bb'") }
      require(v == 8 || v == 16,
        s"corpus_dedup: band_bits must be 8 or 16, got $v")
      v
    }
    if (mode == "simhash") {
      // SimHash near-dup pairs over a plain (doc_id, text) corpus —
      // the banding alternative to the default shingle-LSH route
      // (fewer, coarser candidates at the same exact Jaccard emit).
      // A band index stores shingle-LSH artifacts, not simhashes: the
      // index route cannot serve this mode and fails loud naming it.
      val fam = IndexLayouts.familyOf(spark, resolved)
      require(fam.isEmpty,
        s"corpus_dedup: mode=>'simhash' reads a plain (doc_id, text) " +
          s"corpus (simhashes are computed, not stored), got " +
          s"${fam.map(_.label).getOrElse("")} at $resolved")
      return graft.pipeline.TextDedup.simhashPairs(
          Parquet.read(spark, resolved), kOpt.getOrElse(3), threshold,
          maxHammingOpt.getOrElse(16), bandBitsOpt.getOrElse(8))
        .queryExecution.analyzed
    }
    if (mode == "media") {
      // media near-dups: perceptual-hash hamming pairs over a media
      // parquet (the phashDupPairs chunk-banding path — candidates
      // from 8-way aligned chunks, never all-pairs). Indexes are a
      // text-shingle artifact; a media corpus is raw rows.
      val fam = IndexLayouts.familyOf(spark, resolved)
      require(fam.isEmpty,
        s"corpus_dedup: mode=>'media' reads a media parquet " +
          s"(doc_id, payload), got ${fam.map(_.label).getOrElse("")} at $resolved")
      val maxH = maxHammingOpt.getOrElse(6)
      val bandBits = bandBitsOpt.getOrElse(graft.pipeline.Multimodal.BandBitsAuto)
      val media = Parquet.read(spark, resolved)
      val cols = media.columns.toSet
      require(cols.contains("doc_id") && cols.contains("payload"),
        s"corpus_dedup: mode=>'media' needs (doc_id, payload) columns " +
          s"— $resolved has (${media.columns.mkString(", ")}); for text " +
          "near-dups use the default mode over (doc_id, text)")
      return graft.pipeline.Multimodal.phashDupPairs(media, maxH, bandBits)
        .queryExecution.analyzed
    }
    val isIndex = IndexLayouts.requireServable(
      spark, resolved, "corpus_dedup", IndexLayouts.BandIndex)
    // an index's gram scheme is frozen at build time: a conflicting
    // k must fail loud, not silently serve different grams
    if (isIndex) kOpt.foreach { k =>
      val metaK = Parquet.read(spark, s"$resolved/meta").head().getAs[Int]("k")
      require(k == metaK, s"corpus_dedup: k $k conflicts with the index's " +
        s"frozen shingle width $metaK at $resolved")
    }
    val result = (opts.get("batch"), mode) match {
      case (None, "clusters") =>
        if (isIndex)
          graft.pipeline.TextDedup.clustersInBandIndex(
            spark, resolved, threshold)
        else graft.pipeline.TextDedup.nearDupClusters(
          Parquet.read(spark, resolved), kOpt.getOrElse(3), threshold)
      case (None, _) =>
        if (isIndex)
          graft.pipeline.TextDedup.nearDupPairsInBandIndex(
            spark, resolved, threshold)
        else graft.pipeline.TextDedup.ngramJaccardPairs(
          Parquet.read(spark, resolved), kOpt.getOrElse(3), threshold)
      case (Some(bpath), _) =>
        // same reading truth as the sibling batch TVFs: (doc_id,
        // text) by name, positional fallback, loud on neither
        val (_, batch) = TvfArgs.batchFrame("corpus_dedup",
          Parquet.read(spark, resolve(bpath)), "doc_id", "text")
        if (isIndex)
          graft.pipeline.TextDedup.nearDupsAgainstBandIndex(
            batch, resolved, threshold)
        else graft.pipeline.TextDedup.crossSetNearDupPairs(
          batch, Parquet.read(spark, resolved), kOpt.getOrElse(3), threshold)
    }
    result.queryExecution.analyzed
  }
}

/** Which graft index family (if any) lives at a path — the shared
  * routing truth for the corpus TVFs. A TVF pointed at a SIBLING
  * family must fail NAMING the layout it found (e.g. `corpus_search`
  * at a band index), not fall through to the plain-corpus route and
  * surface an opaque schema/read error from the wrong code path. */
object IndexLayouts {
  sealed abstract class Family(val label: String)
  case object IvfIndex extends Family("an IVF index")
  case object BandIndex extends Family("a band index")
  case object TextIdx extends Family("a text index")

  def familyOf(spark: SparkSession, path: String): Option[Family] =
    if (graft.pipeline.Embeddings.isIvfIndex(spark, path)) Some(IvfIndex)
    else if (graft.pipeline.TextDedup.isBandIndex(spark, path)) Some(BandIndex)
    else if (graft.pipeline.TextIndex.isTextIndex(spark, path)) Some(TextIdx)
    else None

  /** Fail loud when `path` holds an index family the TVF cannot
    * serve from; `served` is the family the TVF does route to.
    * Returns whether the path IS the served family. */
  def requireServable(spark: SparkSession, path: String, tvf: String,
                      served: Family): Boolean = {
    val fam = familyOf(spark, path)
    require(fam.isEmpty || fam.contains(served),
      s"$tvf: $path is ${fam.get.label} — expected ${served.label} " +
        "or a plain corpus parquet")
    fam.isDefined
  }
}

/** `read_store(path [, as_of=>N] [, connection=>name])`: read a
  * [[graft.pipeline.CorpusStore]] layout from SQL — the
  * generation-RESOLVED view (`read_files` over the raw directory
  * would union stale generations and tear across a concurrent merge
  * swap; this TVF resolves the live `_SUCCESS`-committed generation
  * exactly once, the same contract every Scala reader follows).
  *
  * `as_of=>N` is SQL time travel (`VERSION AS OF` semantics,
  * [[graft.pipeline.CorpusStore.readAsOf]]): generation N under the
  * store's one-grace-cycle retention — a pruned generation fails
  * loud (`GENERATION_PRUNED`) rather than serving a silently partial
  * snapshot. Pointing the TVF at a non-store path fails loud too. */
object ReadStoreTVF extends TableFunction {
  def build(args: Seq[Expression]): LogicalPlan = {
    val (pos, opts) = TvfArgs.parse("read_store", args,
      Set("as_of", "connection"))
    val path = pos match {
      case p :: Nil => p
      case _ => throw new IllegalArgumentException(
        "read_store: expected exactly one positional path argument")
    }
    val asOf = opts.get("as_of").map { v =>
      try v.toInt catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"read_store: as_of must be an integer generation, got '$v'") }
    }
    val spark = SparkSession.active
    val resolved = ReadFiles.resolve(opts.get("connection"), path)
    // ONE generation listing serves the loud non-store guard, the
    // live resolution, and the time-travel lookup — plan-time I/O
    // matters when the store lives on an object store
    val gens = graft.pipeline.CorpusStore.generations(spark, resolved)
    val live = graft.pipeline.Stores.liveOf(spark, resolved, "corpus", gens)
    require(live.isDefined,
      s"read_store: $resolved is not a corpus store layout " +
        "(no corpus generation found)")
    val result = asOf match {
      case None => Parquet.read(spark, live.get).drop("bucket")
      case Some(n) =>
        graft.pipeline.CorpusStore.readAsOf(spark, resolved, n, Some(gens))
    }
    result.queryExecution.analyzed
  }
}

/** The corpus-input resolution every per-document TVF shares
  * (corpus_quality, corpus_mix): a plain (doc_id, text, ...) parquet
  * serves directly; a [[graft.pipeline.CorpusStore]] layout serves
  * generation-RESOLVED under the live rule `read_store` and every
  * Scala reader share ([[graft.pipeline.Stores.liveOf]]) — TVFs cannot
  * nest, so `f(read_store(...))` is inexpressible and the store
  * resolution must live here; a persisted index layout fails loud
  * NAMING the family (one routing truth with the serving TVFs),
  * never falling through to a schema error. */
private[sources] object TvfCorpus {
  def docs(tvf: String, spark: SparkSession, path: String,
           connection: Option[String]): org.apache.spark.sql.DataFrame = {
    val resolved = ReadFiles.resolve(connection, path)
    IndexLayouts.familyOf(spark, resolved).foreach(fam =>
      throw new IllegalArgumentException(
        s"$tvf: $resolved is ${fam.label} — expected a " +
          "(doc_id, text) corpus parquet or a corpus store"))
    // ONE listing decides store-vs-plain and the live generation
    val gens = graft.pipeline.CorpusStore.generations(spark, resolved)
    graft.pipeline.Stores.liveOf(spark, resolved, "corpus", gens)
      .fold(Parquet.read(spark, resolved))(Parquet.read(spark, _).drop("bucket"))
  }
}

/** `corpus_quality(path [, mode=>'quality'|'langid'|'tokens'|
  * 'fingerprint'] [, connection=>name])`: per-document text scoring
  * for SQL users with no Scala in sight — the curation face of the
  * TVF family (corpus_search = retrieval, corpus_dedup = near-dups,
  * corpus_quality = the filter/score passes that decide what text
  * survives into a training mix). Each mode routes to the SAME gated
  * pipeline operator the Scala surface serves, so results are
  * identical on either surface and every 100 TB plan judgment
  * (one scan, no shuffle for quality/tokens/fingerprint; langid's
  * scores are one codegen'd projection) carries over unchanged:
  *
  *   - `quality` (default): (doc_id, n_tokens, punct_ratio,
  *     stop_ratio, quality) — [[graft.pipeline.TextAnalysis.qualityScore]]
  *   - `langid`: stopword-hit scores + argmax prediction —
  *     [[graft.pipeline.TextAnalysis.languageId]] (needs a `lang`
  *     column for the actual-vs-predicted comparison)
  *   - `tokens`: whitespace + BPE-ish regex token counts —
  *     [[graft.pipeline.TextAnalysis.tokenCounts]]
  *   - `fingerprint`: rolling polynomial content fingerprint —
  *     [[graft.pipeline.TextAnalysis.fingerprint]]
  *   - `repetition`: uni/bigram repetition fractions + keep verdict
  *     (`top1=>`/`top2=>` thresholds) —
  *     [[graft.pipeline.CorpusOps.repetitionStats]]
  *   - `gopher`: top-3/4-gram fractions + duplicated-5/10-gram token
  *     coverage + keep verdict (`top3=>`/`top4=>`/`dup5=>`/`dup10=>`
  *     thresholds) — [[graft.pipeline.CorpusOps.gopherStats]]
  *   - `redact`: (doc_id, clean) with the email/phone/IP PII chain
  *     applied — [[graft.pipeline.TextAnalysis.redactDocs]]
  *
  * Threshold options apply only to their own mode — a `dup5=>` on
  * mode `quality` fails loud rather than being silently ignored.
  * `path` is a (doc_id, text[, lang]) parquet corpus, or a
  * [[graft.pipeline.CorpusStore]] layout — served generation-RESOLVED
  * under `read_store`'s exact live rule (marker-free base included),
  * because TVFs cannot nest: `corpus_quality(read_store(...))` is not
  * expressible, so the store resolution must live here too. Pointing
  * it at an index layout fails loud naming the family (one routing
  * truth with the serving TVFs). */
object CorpusQualityTVF extends TableFunction {
  def build(args: Seq[Expression]): LogicalPlan = {
    val (pos, opts) = TvfArgs.parse("corpus_quality", args,
      Set("mode", "connection", "top1", "top2", "top3", "top4",
        "dup5", "dup10"))
    val path = pos match {
      case p :: Nil => p
      case _ => throw new IllegalArgumentException(
        "corpus_quality: expected exactly one positional path argument")
    }
    val mode = opts.getOrElse("mode", "quality").toLowerCase
    require(Set("quality", "langid", "tokens", "fingerprint",
        "repetition", "gopher", "redact")(mode),
      s"corpus_quality: unknown mode '$mode' " +
        "(quality | langid | tokens | fingerprint | repetition | gopher | redact)")
    // threshold options belong to the repetition/gopher filters only;
    // a threshold on a scoring mode is a spelled-out mistake
    val thresholdKeys = Map(
      "repetition" -> Set("top1", "top2"),
      "gopher" -> Set("top3", "top4", "dup5", "dup10"))
    val stray = (opts.keySet - "mode" - "connection") --
      thresholdKeys.getOrElse(mode, Set.empty)
    require(stray.isEmpty,
      s"corpus_quality: option(s) ${stray.toSeq.sorted.mkString(", ")} " +
        s"do not apply to mode '$mode'")
    def d(key: String, dflt: Double): Double =
      opts.get(key).map(_.toDouble).getOrElse(dflt)
    val spark = SparkSession.active
    val docs = TvfCorpus.docs("corpus_quality", spark, path, opts.get("connection"))
    val result = mode match {
      case "quality" => graft.pipeline.TextAnalysis.qualityScore(docs)
      case "langid" => graft.pipeline.TextAnalysis.languageId(docs)
      case "tokens" => graft.pipeline.TextAnalysis.tokenCounts(docs)
      case "fingerprint" => graft.pipeline.TextAnalysis.fingerprint(docs)
      case "repetition" => graft.pipeline.CorpusOps.repetitionStats(docs,
        d("top1", 0.2), d("top2", 0.18))
      case "gopher" => graft.pipeline.CorpusOps.gopherStats(docs,
        d("top3", 0.18), d("top4", 0.16), d("dup5", 0.30), d("dup10", 0.20))
      case "redact" => graft.pipeline.TextAnalysis.redactDocs(docs)
    }
    result.queryExecution.analyzed
  }
}

/** `corpus_mix(path [, mode=>...] [, group=>col] [, budget=>N]
  * [, seed=>N] [, tau=>T] [, connection=>name])`: training-mix
  * construction for SQL users with no Scala in sight — the
  * shard-assembly face of the TVF family (corpus_quality decides
  * what text survives; corpus_mix decides how much of each slice the
  * model sees and in what order). Each mode routes to the SAME gated
  * [[graft.pipeline.CorpusOps]] operator the Scala surface serves,
  * so results are identical on either surface and every scale
  * judgment (broadcast mixture weights, value-keyed two-pass prefix
  * sums, no global sort, no single-task-per-group window) carries
  * over unchanged:
  *
  *   - `weights` (default): per-group temperature mixture weights —
  *     [[graft.pipeline.CorpusOps.temperatureMixWeights]]
  *     (`group=>` column, default `lang`; `tau=>` temperature,
  *     default 2.0)
  *   - `resample`: deterministic weighted up/down-sampling toward
  *     the uniform group mixture —
  *     [[graft.pipeline.CorpusOps.resampleToMix]] — or toward an
  *     EXPLICIT recipe with `mix=>'en:50,fr:30,de:20'` (integer
  *     percents summing to 100; unlisted groups drop, a label with
  *     no rows fails loud) —
  *     [[graft.pipeline.CorpusOps.resampleToTarget]]
  *   - `shuffle`: dense deterministic permutation rank (`seed=>`) —
  *     [[graft.pipeline.CorpusOps.shuffleRank]]
  *   - `budget`: per-group token-budget slice in shuffled order
  *     (`budget=>` required, `group=>`, `seed=>`) —
  *     [[graft.pipeline.CorpusOps.tokenBudgetSample]]
  *   - `pack`: fixed-budget sequence packing (`budget=>` required) —
  *     [[graft.pipeline.CorpusOps.packSequences]]
  *   - `chunk`: sliding-window document chunking
  *     (`max_tokens=>`/`overlap=>`) —
  *     [[graft.pipeline.CorpusOps.chunkDocuments]]
  *   - `split`: deterministic train/val/test assignment
  *     (`weights=>'train:90,val:5,test:5'`, integer percents summing
  *     to 100) — [[graft.pipeline.CorpusOps.assignSplits]]; every
  *     input column passes through plus the `split` label, and
  *     membership is a pure function of doc_id (zero exchanges)
  *
  * Options belong to their mode — a `budget=>` on mode `weights`
  * fails loud rather than being silently ignored.
  * `path` resolves through [[TvfCorpus.docs]] — plain corpus
  * parquet, or a corpus store served generation-resolved; index
  * layouts fail loud naming the family. */
object CorpusMixTVF extends TableFunction {
  def build(args: Seq[Expression]): LogicalPlan = {
    val (pos, opts) = TvfArgs.parse("corpus_mix", args,
      Set("mode", "group", "budget", "seed", "tau", "max_tokens",
        "overlap", "weights", "mix", "connection"))
    val path = pos match {
      case p :: Nil => p
      case _ => throw new IllegalArgumentException(
        "corpus_mix: expected exactly one positional path argument")
    }
    val mode = opts.getOrElse("mode", "weights").toLowerCase
    // per-mode option contract: an option another mode owns must fail
    // loud, never be silently ignored (a budget=> on mode 'weights'
    // is a spelled-out mistake about what the query computes)
    val modeKeys = Map(
      "weights" -> Set("group", "tau"),
      "resample" -> Set("group", "mix"),
      "shuffle" -> Set("seed"),
      "budget" -> Set("group", "budget", "seed"),
      "pack" -> Set("budget"),
      "chunk" -> Set("max_tokens", "overlap"),
      "split" -> Set("weights"))
    // 'label:int[,label:int...]' percents — shared grammar of split's
    // weights=> and resample's mix=> (sum-to-100 is the ops' own loud
    // require, so both surfaces state it identically)
    def pcts(what: String, spec: String): Seq[(String, Int)] =
      spec.split(",").toSeq.map { part =>
        part.split(":") match {
          case Array(label, pct) if pct.trim.matches("\\d+") =>
            (label.trim, pct.trim.toInt)
          case _ => throw new IllegalArgumentException(
            s"corpus_mix: $what must be 'label:percent[,label:percent...]' " +
              s"with integer percents, got '$part'")
        }
      }
    require(modeKeys.contains(mode),
      s"corpus_mix: unknown mode '$mode' " +
        s"(${modeKeys.keys.toSeq.sorted.mkString(" | ")})")
    val stray = (opts.keySet - "mode" - "connection") -- modeKeys(mode)
    require(stray.isEmpty,
      s"corpus_mix: option(s) ${stray.toSeq.sorted.mkString(", ")} " +
        s"do not apply to mode '$mode'")
    val group = opts.getOrElse("group", "lang")
    val seed = opts.get("seed").map(_.toLong).getOrElse(0L)
    def budget: Long = opts.get("budget").map(_.toLong).getOrElse(
      throw new IllegalArgumentException(
        s"corpus_mix: mode '$mode' requires budget=>N (tokens)"))
    val spark = SparkSession.active
    val docs = TvfCorpus.docs("corpus_mix", spark, path, opts.get("connection"))
    val result = mode match {
      case "weights" =>
        val tau = opts.get("tau").map(_.toDouble).getOrElse(2.0)
        graft.pipeline.CorpusOps.temperatureMixWeights(docs, group, tau)
      case "resample" =>
        // mix=>'en:50,fr:30,de:20' moves the mixture to an EXPLICIT
        // recipe (resampleToTarget); omitted = the uniform target
        opts.get("mix") match {
          case Some(spec) =>
            graft.pipeline.CorpusOps.resampleToTarget(docs, group,
              pcts("mix", spec))
          case None =>
            graft.pipeline.CorpusOps.resampleToMix(docs, group)
        }
      case "shuffle" =>
        graft.pipeline.CorpusOps.shuffleRank(docs, seed)
      case "budget" =>
        graft.pipeline.CorpusOps.tokenBudgetSample(docs, group, budget, seed)
      case "pack" =>
        graft.pipeline.CorpusOps.packSequences(docs, budget)
      case "chunk" =>
        graft.pipeline.CorpusOps.chunkDocuments(docs,
          opts.get("max_tokens").map(_.toInt).getOrElse(512),
          opts.get("overlap").map(_.toInt).getOrElse(64))
      case "split" =>
        graft.pipeline.CorpusOps.assignSplits(docs,
          pcts("weights", opts.getOrElse("weights", "train:90,val:5,test:5")))
    }
    result.queryExecution.analyzed
  }
}

/** `corpus_hybrid(text_path, vector_path, 'query terms',
  * embedding=>'v1,v2,...' [, k=>15] [, k_per_leg=>20] [, k0=>60]
  * [, nprobe=>5] [, weights=>'2,1'] [, connection=>name])`: hybrid
  * retrieval from pure
  * SQL — the fusion of the family's two serving TVFs (corpus_search's
  * BM25 leg, corpus_ann's dense leg) by integer reciprocal-rank
  * fusion ([[graft.pipeline.Retrieval.rrfFuse]]): fused score =
  * Σ_legs RrfScale div (k0 + rank), bit-identical across engines.
  * Each leg routes by layout exactly like its standalone TVF:
  * `text_path` serves from a persisted text index (pruned postings)
  * or a plain (doc_id, text) corpus; `vector_path` from an IVF index
  * (adaptive probing — exact over the live corpus) or a plain
  * (vec_id, embedding) parquet (brute force). Fusion moves only
  * Σ legs·k_per_leg rows — the cost lives in the legs, which are the
  * already-gated operators, so every scale judgment carries over.
  * `weights=>'2,1'` weights the (lexical, dense) legs with integer
  * multipliers — contribution `(w·RrfScale) div (k0 + rank)`, still
  * bit-identical across engines; omitted = both legs weight 1,
  * exactly the unweighted algebra. `maxscore`/`theta_rows` tune the
  * lexical leg's pruned route exactly like `corpus_search`'s knobs
  * (statement-scoped, loud when the text side is a plain corpus), and
  * an index-routed lexical leg logs its route under `corpus_search`'s
  * rule (`[corpus_hybrid] route=...`, [[TvfRetrieval.lexical]]).
  * Returns (doc_id, rrf_score, n_legs) ordered score-desc. */
object CorpusHybridTVF extends TableFunction {
  def build(args: Seq[Expression]): LogicalPlan = {
    val (pos, opts) = TvfArgs.parse("corpus_hybrid", args,
      Set("embedding", "queries", "k", "k_per_leg", "k0", "nprobe",
        "weights", "connection", "maxscore", "theta_rows"))
    val (textPath, vecPath, queryStr) = (pos, opts.get("queries")) match {
      case (t :: v :: q :: Nil, None) => (t, v, Some(q))
      case (t :: v :: Nil, Some(_)) => (t, v, None)
      case _ => throw new IllegalArgumentException(
        "corpus_hybrid: expected (text_path, vector_path, 'query terms') " +
          "positional arguments, or (text_path, vector_path) with " +
          "queries=>'path' for a batch")
    }
    // the family's fail-loud stray-option discipline: batch mode reads
    // every query's embedding from the batch parquet, so an embedding=>
    // literal alongside queries=> is a spelled-out conflict — it must
    // fail naming it, never be silently ignored
    require(queryStr.isDefined || opts.get("embedding").isEmpty,
      "corpus_hybrid: embedding=> conflicts with queries=> — batch mode " +
        "reads each query's embedding from the batch parquet's " +
        "embedding column")
    val k = opts.get("k").map(_.toInt).getOrElse(15)
    val kPerLeg = opts.get("k_per_leg").map(_.toInt).getOrElse(20)
    val k0 = opts.get("k0").map(_.toInt).getOrElse(60)
    val nprobe = opts.get("nprobe").map(_.toInt).getOrElse(5)
    require(k >= 1 && kPerLeg >= 1 && nprobe >= 1,
      s"corpus_hybrid: k/k_per_leg/nprobe must be >= 1")
    // weights=>'2,1' — integer per-leg fusion weights in (lexical,
    // dense) order; count/positivity/overflow bounds (>= 1, <=
    // Retrieval.MaxLegWeight so w*RrfScale stays in int64) live in
    // rrfFuseMany's legWeights (ONE weighting truth with the Scala
    // surface), which fires at TVF plan build
    val legWeights: Seq[Long] = opts.get("weights").map { ws =>
      try ws.split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"corpus_hybrid: weights must be comma-separated integers " +
            s"(lexical, dense), got '$ws'") }
    }.getOrElse(Nil)
    val spark = SparkSession.active
    val resolve = (p: String) => ReadFiles.resolve(opts.get("connection"), p)
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // resolve the query set: a single (terms, vector) pair from the
    // literals, or a (query_id, query, embedding) batch parquet — the
    // serving shape for application query batches arriving as files.
    // Batch columns resolve BY NAME (order-free); null/duplicate ids,
    // null queries, and null embeddings fail loud with context.
    // Single-query literals wrap into a one-row batch (query_id 0) so
    // both shapes flow through ONE leg + fusion code path.
    val (termPairs, qVecs, qDim) = queryStr match {
      case None =>
        // ONE cap-enforced collect (this TVF reads three named
        // columns, so it cannot go through batchFrame's two-column
        // normalization) — id/null validation then runs on the
        // collected rows and the dense-leg frame is driver-local,
        // so no further plan-build job touches the parquet
        val raw = Parquet.read(spark, resolve(opts("queries")))
        val byName = raw.columns.map(c => c.toLowerCase -> c).toMap
        val cols = Seq("query_id", "query", "embedding").map(n =>
          byName.getOrElse(n, throw new IllegalArgumentException(
            s"corpus_hybrid: batch parquet must carry (query_id, query, " +
              s"embedding) columns; got [${raw.columns.mkString(", ")}]")))
        val shaped = raw.select(col(cols(0)).cast("long").as("query_id"),
          col(cols(1)).as("query"), col(cols(2)).as("embedding"))
        val rows = graft.pipeline.ServingLimits.collectMicroBatch(
          "corpus_hybrid", "(query_id, query, embedding)", shaped)
        TvfArgs.requireIds("corpus_hybrid", "query_id", rows.map(_.get(0)).toSeq)
        require(!rows.exists(_.isNullAt(1)),
          "corpus_hybrid: null query in the batch parquet")
        val qDim = TvfRetrieval.batchDim("corpus_hybrid", rows.toSeq, 2)
        val b = spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), shaped.schema)
        (rows.map(r => (r.getLong(0), TvfRetrieval.termsOf(r.getString(1)))).toSeq,
          b.select(col("query_id"), col("embedding")), qDim)
      case Some(query) =>
        val vec = TvfRetrieval.vector("corpus_hybrid", "embedding",
          opts.getOrElse("embedding", throw new IllegalArgumentException(
            "corpus_hybrid: embedding=>'v1,v2,...' is required (the dense " +
              "leg's query vector)")))
        val terms = TvfRetrieval.termsOf(query)
        require(terms.nonEmpty, "corpus_hybrid: empty query")
        (Seq((0L, terms)), Seq((0L, vec)).toDF("query_id", "embedding"),
          Some(vec.length))
    }
    require(termPairs.forall(_._2.nonEmpty),
      s"corpus_hybrid: empty query for query_id(s) " +
        termPairs.filter(_._2.isEmpty).map(_._1).mkString(", "))
    // lexical leg — corpus_search's routing; per-query ranks assigned
    // over the leg's bounded top-k output
    val tp = resolve(textPath)
    val lexIndexed = IndexLayouts.requireServable(
      spark, tp, "corpus_hybrid", IndexLayouts.TextIdx)
    val lexScored = TvfRetrieval.lexical("corpus_hybrid", spark, opts, tp,
      lexIndexed, kPerLeg, Right(termPairs))
    val lexW = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    val lex = lexScored.select(col("query_id"), col("doc_id"), col("score"))
      .withColumn("rank",
        org.apache.spark.sql.functions.row_number().over(lexW).cast("int"))
      .select("query_id", "doc_id", "rank")
    // dense leg — corpus_ann's routing and dim guard
    val den = TvfRetrieval.dense("corpus_hybrid", spark, qVecs, qDim,
        resolve(vecPath), kPerLeg, nprobe)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").cast("int").as("rank"))
    val fused = graft.pipeline.Retrieval.rrfFuseMany(Seq(lex, den), "doc_id",
      k0, k, weights = legWeights)
    val out =
      if (queryStr.isEmpty) fused
      else fused.drop("query_id")
        .orderBy(col("rrf_score").desc, col("doc_id"))
    out.queryExecution.analyzed
  }
}

/** `corpus_decontam(train_path, eval_path [, mode=>'filter'|'report']
  * [, k=>N] [, group=>col])`: eval-set decontamination from pure SQL
  * — the two-corpus member of the TVF family. `filter` (default)
  * returns the doc_ids of training documents that share NO word
  * k-gram (default k=10) with ANY eval document —
  * [[graft.pipeline.CorpusOps.decontaminate]]'s exact contract
  * (matching on 64-bit gram hashes; a collision over-removes, never
  * contaminates). `report` returns the per-`group` overlap audit
  * (n_docs, n_contaminated, frac_contaminated) —
  * [[graft.pipeline.CorpusOps.contaminationReport]] — the number a
  * data owner reads before dropping anything. Scale shape carries
  * over unchanged from the gated operators: eval grams deduplicate
  * map-side and broadcast; training grams NEVER shuffle. Both paths
  * resolve through [[TvfCorpus.docs]] (plain parquet or a corpus
  * store served generation-resolved; index layouts fail loud naming
  * the family). */
object CorpusDecontamTVF extends TableFunction {
  def build(args: Seq[Expression]): LogicalPlan = {
    val (pos, opts) = TvfArgs.parse("corpus_decontam", args,
      Set("mode", "k", "group", "connection"))
    val (trainPath, evalPath) = pos match {
      case t :: e :: Nil => (t, e)
      case _ => throw new IllegalArgumentException(
        "corpus_decontam: expected exactly two positional arguments " +
          "(train_path, eval_path)")
    }
    val mode = opts.getOrElse("mode", "filter").toLowerCase
    val modeKeys = Map(
      "filter" -> Set("k"),
      "report" -> Set("k", "group"))
    require(modeKeys.contains(mode),
      s"corpus_decontam: unknown mode '$mode' (filter | report)")
    val stray = (opts.keySet - "mode" - "connection") -- modeKeys(mode)
    require(stray.isEmpty,
      s"corpus_decontam: option(s) ${stray.toSeq.sorted.mkString(", ")} " +
        s"do not apply to mode '$mode'")
    val k = opts.get("k").map(_.toInt).getOrElse(10)
    val spark = SparkSession.active
    val conn = opts.get("connection")
    val train = TvfCorpus.docs("corpus_decontam", spark, trainPath, conn)
    val evalSet = TvfCorpus.docs("corpus_decontam", spark, evalPath, conn)
    val result = mode match {
      case "filter" =>
        graft.pipeline.CorpusOps.decontaminate(train, evalSet, k)
      case "report" =>
        graft.pipeline.CorpusOps.contaminationReport(train, evalSet,
          opts.getOrElse("group", "lang"), k)
    }
    result.queryExecution.analyzed
  }
}

/** `corpus_diff(old_path, new_path [, group=>col])`: the corpus
  * snapshot audit from pure SQL — per-`group` (default `source`)
  * added/removed/kept counts BY CONTENT between two corpus versions,
  * via [[graft.pipeline.CorpusOps.corpusDiff]] (identity is the
  * house 128-bit content fingerprint, so renamed doc_ids with
  * identical text count as kept and the only data-sized exchange
  * carries 16 bytes + group per row). Both paths resolve through
  * [[TvfCorpus.docs]] — diffing a live store generation against a
  * plain parquet snapshot works, and index layouts fail loud. */
object CorpusDiffTVF extends TableFunction {
  def build(args: Seq[Expression]): LogicalPlan = {
    val (pos, opts) = TvfArgs.parse("corpus_diff", args,
      Set("group", "connection"))
    val (oldPath, newPath) = pos match {
      case o :: n :: Nil => (o, n)
      case _ => throw new IllegalArgumentException(
        "corpus_diff: expected exactly two positional arguments " +
          "(old_path, new_path)")
    }
    val spark = SparkSession.active
    val conn = opts.get("connection")
    val oldCorpus = TvfCorpus.docs("corpus_diff", spark, oldPath, conn)
    val newCorpus = TvfCorpus.docs("corpus_diff", spark, newPath, conn)
    graft.pipeline.CorpusOps.corpusDiff(oldCorpus, newCorpus,
        opts.getOrElse("group", "source"))
      .queryExecution.analyzed
  }
}

/** `corpus_index_stats(path [, connection=>name])`: operational
  * health of any persisted index layout, from SQL — the numbers that
  * size the compaction cadence and spot skew, unified across the
  * three index families into one schema:
  *
  *   (store, partition, n_rows, n_files, bytes, generation)
  *
  *   - IVF index ([[graft.pipeline.Embeddings.ivfIndexStats]]):
  *     store = "corpus", partition = cell id. A cell with many times
  *     the mean n_rows is a skewed centroid; many small files =
  *     compaction due; a rising generation = compactions happening.
  *   - band index ([[graft.pipeline.TextDedup.bandIndexStats]]):
  *     store = "bands" / "shingles", partition = bucket.
  *   - text index ([[graft.pipeline.TextIndex.indexStats]]):
  *     store = "postings", partition = bucket.
  *   - corpus store ([[graft.pipeline.CorpusStore]]): store =
  *     "corpus", partition = GENERATION number (one row per committed
  *     generation — at most grace + live under the one-cycle
  *     retention), generation = the live one. The pre-rollback audit:
  *     which snapshots exist, at what row counts.
  *
  * Cost: filesystem metadata (bounded by the partition count) plus
  * one column-pruned row-count aggregate per store — no index data
  * is decoded. Pointing it at anything that is not a graft index or
  * corpus-store layout fails loud (stats over a plain parquet are
  * `read_files` + SQL's job, not this TVF's).
  *
  * `mode=>'drift'` (IVF layouts only) routes to
  * [[graft.pipeline.Embeddings.ivfDriftStats]] instead: per cell (plus
  * the overall cell=-1 row) the live vectors' mean/max cosine distance
  * to their frozen centroid — the RUNBOOK's rebuild trigger (the
  * number that decays BEFORE recall visibly does; raise `escape_cap`
  * while it is elevated, rebuild as the durable fix). Schema:
  * (cell, n_rows, mean_dist, max_dist). Unlike the default mode this
  * reads vector data (one pass over the live corpus, centroids
  * broadcast); drift is a quantizer property, so any non-IVF layout
  * fails loud. */
object CorpusIndexStatsTVF extends TableFunction {
  def build(args: Seq[Expression]): LogicalPlan = {
    val (pos, opts) = TvfArgs.parse("corpus_index_stats", args,
      Set("connection", "mode"))
    val path = pos match {
      case p :: Nil => p
      case _ => throw new IllegalArgumentException(
        "corpus_index_stats: expected exactly one positional path argument")
    }
    val spark = SparkSession.active
    val resolved = ReadFiles.resolve(opts.get("connection"), path)
    val mode = opts.getOrElse("mode", "stats").toLowerCase
    require(mode == "stats" || mode == "drift",
      s"corpus_index_stats: unknown mode '$mode' (expected 'stats' or 'drift')")
    if (mode == "drift") {
      val fam = IndexLayouts.familyOf(spark, resolved)
      if (!fam.contains(IndexLayouts.IvfIndex))
        throw new IllegalArgumentException(
          "corpus_index_stats: mode=>'drift' requires an IVF index layout " +
            "— centroid drift is a quantizer property; got " +
            fam.map(_.label).getOrElse("a non-index path") + s" at $resolved")
      return graft.pipeline.Embeddings.ivfDriftStats(spark, resolved)
        .queryExecution.analyzed
    }
    import org.apache.spark.sql.functions.{col, lit => slit}
    // one routing truth with the serving TVFs: dispatch on familyOf,
    // so a new index family cannot silently diverge between routing
    // and stats
    val unified = IndexLayouts.familyOf(spark, resolved) match {
      case Some(IndexLayouts.IvfIndex) =>
        graft.pipeline.Embeddings.ivfIndexStats(spark, resolved)
          .select(slit("corpus").as("store"), col("cell").as("partition"),
            col("n_rows"), col("n_files"), col("bytes"), col("generation"))
      case Some(IndexLayouts.BandIndex) =>
        graft.pipeline.TextDedup.bandIndexStats(spark, resolved)
          .select(col("store"), col("bucket").as("partition"),
            col("n_rows"), col("n_files"), col("bytes"), col("generation"))
      case Some(IndexLayouts.TextIdx) =>
        graft.pipeline.TextIndex.indexStats(spark, resolved)
          .select(slit("postings").as("store"), col("bucket").as("partition"),
            col("n_rows"), col("n_files"), col("bytes"), col("generation"))
      case None =>
        // the corpus-of-record store joins the unified schema: one row
        // per COMMITTED generation (partition = generation number —
        // under the one-grace-cycle retention that is at most two),
        // generation = the live one. The audit a data owner reads
        // before a time-travel rollback: which snapshots exist and
        // their row counts. Cost: fs metadata + one footer-count
        // aggregate per generation.
        val gens = graft.pipeline.CorpusStore.generations(spark, resolved)
        if (gens.isEmpty) throw new IllegalArgumentException(
          s"corpus_index_stats: $resolved is not a graft index or corpus " +
            "store layout (expected an IVF index, a band index, a text " +
            "index, or a committed corpus store)")
        import org.apache.spark.sql.functions.{count, lit}
        val live = gens.map(_._1).max
        gens.map { case (g, path) =>
          val root = new org.apache.hadoop.fs.Path(path)
          val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val it = fs.listFiles(root, true)
          var nFiles = 0L; var bytes = 0L
          while (it.hasNext) {
            val f = it.next()
            val n = f.getPath.getName
            if (n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")) {
              nFiles += 1; bytes += f.getLen
            }
          }
          Parquet.read(spark, path).agg(count(lit(1)).as("n_rows"))
            .select(lit("corpus").as("store"), lit(g).as("partition"),
              col("n_rows"), lit(nFiles).as("n_files"), lit(bytes).as("bytes"),
              lit(live).as("generation"))
        }.reduce(_ unionByName _)
    }
    unified.orderBy("store", "partition").queryExecution.analyzed
  }
}

/** `read_files('glob' [, connection=>name] [, format=>'csv'|'json'|
  * 'orc'|'parquet'] [, header=>, inferschema=>] [, mergeschema=>]
  * [, mode=>] [, rowid=>'true'])`: the reference's table function
  * (read_files_task.rs:64-115) as the ordinary file-source relation,
  * so pushdown and pruning apply to the scan.
  *
  * Options beyond the reference grammar (its roadmap formats):
  * `format` (else inferred from the extension), `header`/`inferschema`
  * for CSV, `mergeschema=>'true'` for schema-drifted parquet
  * directories (the reference's schema-drift TODO,
  * DEV_NOTES.md:151-152), `mode` for text formats and `rowid`. */
object ReadFilesTVF extends TableFunction {
  def build(args: Seq[Expression]): LogicalPlan = {
    val (pos, opts) = TvfArgs.parse("read_files", args, Set("connection",
      "format", "header", "inferschema", "mergeschema", "mode", "rowid"))
    val path = pos match {
      case p :: Nil => ReadFiles.resolve(opts.get("connection"), p)
      case _ => throw new IllegalArgumentException(
        "read_files: expected exactly one positional path argument")
    }
    val spark = SparkSession.active
    val fmt = opts.getOrElse("format", ReadFiles.inferFormat(path))
    // mode=>'permissive' (default; malformed rows → nulls) |
    // 'dropmalformed' | 'failfast' — Spark's malformed-record
    // policies for text formats, where real-world files are never as
    // clean as the schema claims.
    val parseMode = opts.getOrElse("mode", "PERMISSIVE").toUpperCase
    val base = fmt match {
      case "csv" => spark.read
        .option("header", opts.getOrElse("header", "true"))
        .option("inferSchema", opts.getOrElse("inferschema", "true"))
        .option("mode", parseMode)
        .csv(path)
      case "json" => spark.read.option("mode", parseMode).json(path)
      case "orc" => spark.read.orc(path)
      // schema-drifted directories: Spark's inference merges every footer
      case _ if opts.get("mergeschema").exists(_.toBoolean) =>
        spark.read.option("mergeSchema", "true").parquet(path)
      // footer route: one footer read on the driver, no analysis job;
      // a FLOAT16 footer goes straight to WidenedParquet
      case _ => Parquet.read(spark, path)
    }
    // rowid=>'true': STABLE record identity per row — the reference
    // assigns record ids during the scan (read_files_task.rs:156-289);
    // Spark's `_metadata` struct carries the same (file, physical row
    // position) identity without a window or an indeterminate id.
    // Parquet only (the row-index metadata column is a parquet-reader
    // feature).
    val df =
      if (opts.get("rowid").contains("true") && fmt == "parquet") {
        import org.apache.spark.sql.functions.col
        base.select(col("*"), col("_metadata.file_name").as("_file"),
          col("_metadata.row_index").as("_row_id"))
      } else base
    df.queryExecution.analyzed
  }
}
