package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions: the 100 TB stance is only real if
  * the plans hold it. Filters and projections must reach the parquet
  * scan, dimensions must broadcast, top-k must not global-sort, and
  * custom expressions must stay inside whole-stage codegen. AQE is
  * disabled per-assertion so children are visible pre-execution; the
  * underlying plan shapes are identical. */
class PlanSpec extends AnyFunSuite with SparkFixture {

  private def planOf(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  private def withoutAqe[A](f: => A): A = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)

  test("filter and projection push into the parquet scan") {
    withoutAqe {
      val s = planOf(q("q_scan_filter")).toString
      assert(s.contains("PushedFilters: [IsNotNull(l_orderkey), LessThan(l_orderkey,100)]"), s)
      // pruned read schema: only the 4 projected columns are read
      assert(s.contains("ReadSchema") &&
        s.contains("l_quantity") && !s.contains("l_shipdate"), s)
    }
  }

  test("corpus TVFs keep column pruning: the quality scan reads only (doc_id, text)") {
    withoutAqe {
      // the TVF returns an ANALYZED plan over the gated operator, so
      // Catalyst's column pruning must still reach the parquet scan —
      // a TVF that accidentally materialized or fenced the plan would
      // read lang/source/n_chars for a doc_id+text computation.
      // Cleared cache + direct requiredSchema inspection: the shared
      // test session may have `documents` cached by another suite,
      // which would swap the scan for an InMemoryRelation.
      spark.catalog.clearCache()
      val df = spark.sql(
        s"SELECT doc_id, quality FROM corpus_quality('$sfDir/documents.parquet')")
      val scans = planOf(df).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty, s"no file scan in:\n${planOf(df)}")
      val cols = scans.head.requiredSchema.fieldNames.toSet
      assert(cols == Set("doc_id", "text"),
        s"scan must be pruned to (doc_id, text), read $cols")
    }
  }

  test("q_join5 broadcasts every dimension and shuffles only the fact join") {
    withoutAqe {
      val p = planOf(q("q_join5"))
      val broadcasts = p.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }
      // all three dimensions broadcast; at this tiny SF orders may
      // broadcast as well (at scale it exceeds the threshold and the
      // fact join becomes the one shuffle join)
      assert(broadcasts.size >= 3, s"expected >=3 broadcast joins, got ${broadcasts.size}")
      val shuffles = p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      // lineitem⋈orders (2 sides) + final agg + orderBy — never a
      // shuffle per dimension
      assert(shuffles.size <= 4, s"too many shuffles (${shuffles.size}):\n$p")
    }
  }

  test("order-by + limit plans as TakeOrderedAndProject, not a global sort") {
    withoutAqe {
      val p = planOf(q("q_orderby_limit"))
      assert(p.collect {
        case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
      }.nonEmpty, p.toString)
      assert(p.collect {
        case s: org.apache.spark.sql.execution.SortExec if s.global => s
      }.isEmpty, "global sort for a top-10")
    }
  }

  test("q_top_ngrams: partial agg before the exchange, top-k without a global sort") {
    withoutAqe {
      val p = planOf(q("q_top_ngrams"))
      val s = p.toString
      // hot grams combine map-side: a partial_count must sit below the
      // hashpartitioning exchange, so skewed boilerplate grams ship
      // one row per task, not one per occurrence
      val exchange = s.indexOf("Exchange hashpartitioning")
      assert(exchange > 0, s)
      assert(s.indexOf("partial_count", exchange) > exchange, s)
      assert(p.collect {
        case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
      }.nonEmpty, s)
      assert(p.collect {
        case x: org.apache.spark.sql.execution.SortExec if x.global => x
      }.isEmpty, "global sort for a top-20")
    }
  }

  test("q_span_dup: hash-partitioned exchanges carry 8-byte keys, never text") {
    withoutAqe {
      val p = planOf(q("q_span_dup"))
      val shuffles = p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.nonEmpty)
      // text reduces to span hashes inside the scan's codegen span, so
      // every KEYED exchange (df count, frequency join, per-doc agg)
      // ships (doc_id, 8-byte hash) rows only. The one exchange allowed
      // to carry text is Engine.fanOut's round-robin spread, which
      // exists only for sub-1GB inputs and is a passthrough at scale.
      shuffles.foreach { e =>
        val roundRobin = e.outputPartitioning
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning]
        assert(roundRobin || !e.child.output.exists(_.name == "text"),
          s"keyed shuffle carries text: ${e.child.output.map(_.name)}")
      }
    }
  }

  test("q_span_removal: the corpus body crosses at most one keyed exchange") {
    withoutAqe {
      val p = planOf(q("q_span_removal"))
      val bodyShuffles = p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if !e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning] &&
            e.child.output.exists(a => a.name == "w" || a.name == "text") => e
      }
      // span-frequency stages move 8-byte hashes and int positions
      // only; the token arrays ship once, into the reconstruction join
      assert(bodyShuffles.size <= 1,
        s"corpus body shuffled ${bodyShuffles.size} times")
    }
  }

  test("aggregation runs partial before the exchange (map-side combine)") {
    withoutAqe {
      val p = planOf(q("q_agg_groupby"))
      val s = p.toString
      val exchange = s.indexOf("Exchange hashpartitioning")
      assert(exchange > 0, s)
      // a HashAggregate below (after, in top-down print) the exchange
      assert(s.indexOf("HashAggregate", exchange) > 0, s)
    }
  }

  test("native expressions stay inside whole-stage codegen") {
    withoutAqe {
      // text_quality is pure column arithmetic over one scan: the
      // whole thing should be a single codegen span over the scan.
      val s = q("text_quality").queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(!s.contains("CodegenFallback"), s)
      // shingle/minhash/simhash path: its project stage must be
      // codegen'd too (kernel-call doGenCode, not interpreted)
      val sim = pipeline.TextDedup.simhash(org.apache.spark.sql.functions.col("text"))
      val df = Engine.table(spark, sfDir, "documents").select(sim.as("h"))
      val fmt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(fmt.contains("Project [codegen id :"), fmt) // fused, not interpreted
    }
  }

  test("raw-SQL shingle kernel pass fans out under the byte gate; " +
      "fanned frames are not re-partitioned") {
    import org.apache.spark.sql.catalyst.plans.logical.Repartition
    Engine.registerViews(spark, sfDir)
    // the q_sql_dedup shape: kernel projection straight over the scan —
    // FanOutKernelScans must insert ONE round-robin repartition below
    // it (the fixture is far under the 1 GiB gate), parallelizing the
    // single-row-group kernel pass without touching the SQL text
    val raw = spark.sql("SELECT doc_id, shingle_hashes(text, 3) AS s FROM documents")
    val rawReps = raw.queryExecution.optimizedPlan.collect {
      case r: Repartition => r }
    assert(rawReps.size == 1, raw.queryExecution.optimizedPlan.toString)
    // under a LIMIT the scan is read only up to the limit: an exchange
    // below it would read the whole scan first, so none is inserted
    val limited = spark.sql(
      "SELECT doc_id, shingle_hashes(text, 3) FROM documents LIMIT 5")
    val limitedReps = limited.queryExecution.optimizedPlan.collect {
      case r: Repartition => r }
    assert(limitedReps.isEmpty, limited.queryExecution.optimizedPlan.toString)
    // a frame that already fans out (withHashes -> Engine.fanOut) must
    // keep exactly its own repartition: the rule's narrow-scan guard
    // stops a second exchange (also what makes the rule a fixpoint)
    val fanned = pipeline.TextDedup.withHashes(
      Engine.table(spark, sfDir, "documents"), 3)
    val fannedReps = fanned.queryExecution.optimizedPlan.collect {
      case r: Repartition => r }
    assert(fannedReps.size == 1,
      fanned.queryExecution.optimizedPlan.toString)
  }

  test("ann_topk broadcasts the query side, never shuffles the corpus") {
    withoutAqe {
      val p = planOf(q("ann_topk"))
      assert(p.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
        case n: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => n
      }.nonEmpty, p.toString)
      val corpusShuffles = p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      // fanOut repartitions (2 branches of the small local input) +
      // window top-k + final sort; the scored corpus join itself must
      // not add one — scoring happens map-side against the broadcast
      assert(corpusShuffles.size <= 4, p.toString)
    }
  }

  test("minhash-LSH candidate join keys are 8-byte longs, not strings") {
    withoutAqe {
      val p = planOf(pipeline.TextDedup.minhashLshPairs(
        Engine.table(spark, sfDir, "documents"), 3, 0.8))
      val joins = p.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j.leftKeys
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j.leftKeys
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j.leftKeys
      }
      assert(joins.nonEmpty)
      // every equi-join key in the dedup plan is integral (band-key
      // xxhash64 longs / doc ids) — a string key would mean the band
      // signature leaked into the shuffle
      val keyTypes = joins.flatten.map(_.dataType).distinct
      assert(keyTypes.forall(t => t == org.apache.spark.sql.types.LongType),
        s"non-long join keys: $keyTypes")
    }
  }

  test("decontaminate broadcasts the eval-gram side of the contamination join") {
    withoutAqe {
      val p = planOf(q("q_decontam"))
      // the join on the 64-bit gram hash `g` must be a broadcast hash
      // join: a mis-estimated sort-merge here would shuffle the whole
      // corpus's exploded k-gram stream
      val gramBroadcast = p.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if b.leftKeys.exists(_.toString.startsWith("g#")) => b
      }
      assert(gramBroadcast.nonEmpty, p.toString)
      assert(p.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if j.leftKeys.exists(_.toString.startsWith("g#")) => j
      }.isEmpty, s"gram join fell back to sort-merge:\n$p")
    }
  }

  test("q_tpch_q3 pushes the segment filter to the scan and top-10s without a global sort") {
    withoutAqe {
      val p = planOf(q("q_tpch_q3"))
      val s = p.toString
      assert(s.contains("EqualTo(c_mktsegment,BUILDING)"), s)
      assert(p.collect {
        case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
      }.nonEmpty, s)
    }
  }

  test("q_tpch_q6 pushes every predicate to the scan and shuffles once") {
    withoutAqe {
      val p = planOf(q("q_tpch_q6"))
      val s = p.toString
      // PushedFilters is truncated in toString — assert the list opens
      // with the shipdate filters and the full predicate set survives
      // in the (untruncated) Filter node.
      assert(s.contains("PushedFilters: [IsNotNull(l_shipdate)"), s)
      assert(s.contains(">= 1996-01-01") && s.contains("< 1997-01-01") &&
        s.contains("< 24.0)"), s)
      val shuffles = p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      // scan -> partial agg -> single-partition exchange -> final agg
      assert(shuffles.size <= 1, s"q6 should be one exchange:\n$p")
    }
  }

  test("q_tpch_q5 broadcasts the region/nation dimensions") {
    withoutAqe {
      val p = planOf(q("q_tpch_q5"))
      val s = p.toString
      assert(s.contains("EqualTo(r_name,ASIA)"), s)
      val broadcasts = p.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }
      assert(broadcasts.size >= 2, s"region+nation must broadcast:\n$p")
    }
  }

  test("q_tpch_q7: OR-paired nation condition stays on broadcast joins, no cartesian") {
    withoutAqe {
      val p = planOf(q("q_tpch_q7"))
      val broadcasts = p.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }
      assert(broadcasts.size >= 2, s"both nation sides must broadcast:\n$p")
      assert(p.collect {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }.isEmpty, "cartesian/BNL in q7")
    }
  }

  test("q_tpch_q15: the revenue view computes at most twice, max broadcasts into the filter") {
    withoutAqe {
      val p = planOf(q("q_tpch_q15"))
      // the uncorrelated MAX is a scalar subquery (one extra aggregate
      // over the view), not a per-row re-evaluation: lineitem appears
      // at most twice in the whole plan
      val liScans = p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.inputFiles.exists(_.contains("lineitem")) => f
      }
      assert(liScans.size <= 2, s"expected <=2 lineitem scans, got ${liScans.size}:\n$p")
      assert(p.collect {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }.isEmpty, "cartesian in q15")
    }
  }

  test("q_tpch_q8: 8-table snowflake broadcasts all dims, no cartesian") {
    withoutAqe {
      val p = planOf(q("q_tpch_q8"))
      val s = p.toString
      // region + both nation sides broadcast; p_type filter pushed
      assert(s.contains("EqualTo(r_name,ASIA)"), s)
      assert(s.contains("EqualTo(p_type,ECONOMY)"), s)
      val broadcasts = p.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }
      assert(broadcasts.size >= 3, s"region + 2x nation must broadcast:\n$p")
      assert(p.collect {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }.isEmpty, "cartesian/BNL in q8")
    }
  }

  test("q_tpch_q19: OR-of-ANDs join stays a hash join on the extracted equi key") {
    withoutAqe {
      val p = planOf(q("q_tpch_q19"))
      assert(p.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }.nonEmpty, s"no hash/SMJ join in q19:\n$p")
      assert(p.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }.isEmpty, "q19 degenerated to a nested loop")
    }
  }

  test("dedup_bloom_incr: bloom-negative rows bypass the only join") {
    withoutAqe {
      val p = planOf(q("dedup_bloom_incr"))
      // the bloom probe runs inside the scan stage...
      assert(p.toString.toLowerCase.contains("bloommightcontain"), p.toString)
      // ...and the only joins are verify ANTI-joins (Catalyst may
      // push one through each incoming-union branch): no equi-join
      // ever sees the bloom-negative rows.
      val joins = p.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      assert(joins.nonEmpty && joins.size <= 2 &&
        joins.forall(_.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti),
        s"expected only verify anti-joins:\n$p")
    }
  }

  test("q_sessionize reuses one user_id partitioning for window and aggregate") {
    withoutAqe {
      val p = planOf(q("q_sessionize"))
      val shuffles = p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      // one hash exchange on user_id (window + session aggregate share
      // it — HashPartitioning(user_id) satisfies the (user_id,
      // session_id) clustering) + the final presentation range sort
      assert(shuffles.size <= 2, s"sessionize should shuffle once + sort:\n$p")
    }
  }

  test("q_bucketed_join: join AND keyed aggregation run with zero shuffle") {
    withoutAqe {
      val p = planOf(q("q_bucketed_join"))
      // the layout investment pays here: both scans report
      // HashPartitioning(key, 8) from the bucket spec, the sort-merge
      // join's distribution requirement is pre-satisfied, and the
      // (o_orderkey, o_orderpriority) aggregation is clustered by the
      // join's output partitioning — the ONLY exchange in the whole
      // query is the final presentation sort
      assert(p.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }.nonEmpty, s"expected a sort-merge join over the bucketed pair:\n$p")
      val shuffles = p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.size <= 1, s"bucketed join should not shuffle:\n$p")
      shuffles.foreach { e =>
        assert(e.outputPartitioning.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.RangePartitioning],
          s"the one allowed exchange is the presentation sort:\n$e")
      }
    }
  }

  test("q_tpch_q18: top-100 via TakeOrderedAndProject, bounded exchanges") {
    withoutAqe {
      val p = planOf(q("q_tpch_q18"))
      assert(p.collect {
        case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
      }.nonEmpty, p.toString)
      val shuffles = p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      // lineitem groupBy + semi-join reuse the l_orderkey key; orders/
      // customer attach; never one exchange per join side beyond that
      assert(shuffles.size <= 5, s"q18 exchange storm (${shuffles.size}):\n$p")
    }
  }

  test("q_window_range: one user_id exchange feeds the running frame") {
    withoutAqe {
      val p = planOf(q("q_window_range"))
      val shuffles = p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      // hash(user_id) for the window + the presentation sort
      assert(shuffles.size <= 2, s"window range should shuffle once + sort:\n$p")
    }
  }

  test("q_pmi: map-side combined gram aggregates, top-k without a global sort") {
    withoutAqe {
      val p = planOf(q("q_pmi"))
      val s = p.toString
      assert(s.contains("partial_count"), s) // hot grams combine before the exchange
      assert(p.collect {
        case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
      }.nonEmpty, s)
      assert(p.collect {
        case so: org.apache.spark.sql.execution.SortExec if so.global => so
      }.isEmpty, "global sort for a top-20")
    }
  }

  test("text_tfidf: raw tokens cross exactly one exchange") {
    withoutAqe {
      val p = planOf(q("text_tfidf"))
      // every Generate (explode) must sit BELOW the first exchange of
      // its branch: exchanges above carry aggregated rows only
      val exchanges = p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      exchanges.foreach { e =>
        val gens = e.child.collect {
          case g: org.apache.spark.sql.execution.GenerateExec => g
        }
        val aggsBelow = e.child.collect {
          case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
        }
        // a generate under an exchange is fine only if an aggregate
        // already combined its output map-side
        if (gens.nonEmpty)
          assert(aggsBelow.nonEmpty,
            s"token explode shuffles unaggregated:\n$e")
      }
    }
  }

  test("text_lm_score: AQE stage reuse collapses the model to two corpus passes") {
    // lmScore's count tables are all derived from two shared subtrees
    // (the per-doc bigram aggregate and the unigram aggregate), so at
    // runtime AQE must REUSE their shuffle stages rather than re-scan
    // the corpus per consumer: 5 logical scan branches, 2 physical
    // corpus passes.
    // Other suites in the shared session may have cached `documents`;
    // a cache hit substitutes InMemoryTableScan for the parquet scan
    // and invalidates both counters below, so pin against a clean
    // cache.
    spark.catalog.clearCache()
    val df = q("text_lm_score")
    df.queryExecution.toRdd.count()
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("isFinalPlan=true"), s)
    // the adaptive plan prints Final AND Initial sections; only the
    // final one is what ran
    val finalPlan = s.split("== Initial Plan ==")(0)
    val reused = "ReusedExchange".r.findAllIn(finalPlan).length
    val scans = "Scan parquet".r.findAllIn(finalPlan).length
    assert(reused >= 3, s"expected >=3 reused exchanges, got $reused:\n$s")
    assert(scans <= 2, s"expected <=2 live corpus scans, got $scans:\n$s")
  }

  test("text_lm_lang: the grouped model keeps AQE stage reuse — no per-consumer re-scan") {
    // Same reuse contract as text_lm_score, for the per-language
    // variant: the group key rides the existing aggregate/join keys,
    // so the shared subtrees (per-doc bigram aggregate, unigram
    // aggregate — now keyed by language) must still canonicalize
    // identically and reuse their shuffle stages. Without reuse the
    // grouped model re-scans the corpus per count table — 5+ passes
    // instead of the languageId pass + two model passes, a real cost
    // multiplier at 100 TB.
    spark.catalog.clearCache()
    val df = q("text_lm_lang")
    df.queryExecution.toRdd.count()
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("isFinalPlan=true"), s)
    val finalPlan = s.split("== Initial Plan ==")(0)
    val reused = "ReusedExchange".r.findAllIn(finalPlan).length
    val scans = "Scan parquet".r.findAllIn(finalPlan).length
    assert(reused >= 3, s"expected >=3 reused exchanges, got $reused:\n$s")
    assert(scans <= 3, s"expected <=3 live corpus scans, got $scans:\n$s")
  }

  test("hive-partitioned write prunes partitions at read time") {
    // The first-line data-skipping story (complementing z-order):
    // a partitionBy write + a partition-key predicate must become a
    // PartitionFilter (directory pruning — skipped files never open),
    // not a post-scan filter.
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    try {
      Engine.table(spark, sfDir, "lineitem")
        .write.partitionBy("l_returnflag").mode("overwrite").parquet(dir)
      withoutAqe {
        val read = spark.read.parquet(dir)
          .filter(org.apache.spark.sql.functions.col("l_returnflag") === "R")
          .select("l_orderkey", "l_quantity")
        val s = planOf(read).toString
        assert(s.contains("PartitionFilters") &&
          s.contains("(l_returnflag#") && s.contains("= R)"), s)
        // the partition key never appears as a pushed DATA filter
        assert(!s.contains("EqualTo(l_returnflag,R)"), s)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("q_range_join plans as an equi-join, never BroadcastNestedLoop") {
    withoutAqe {
      val p = planOf(q("q_range_join"))
      assert(p.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
      }.isEmpty, s"range join degenerated to BNL:\n$p")
      val equiJoins = p.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.leftKeys.nonEmpty => j
      }
      assert(equiJoins.nonEmpty, s"expected a keyed join on the bucket id:\n$p")
    }
  }

  test("bucketed tables join co-located: sort-merge with zero shuffles") {
    // The 100 TB co-location story: both sides bucketed on the join
    // key at write time -> the join reads pre-partitioned buckets and
    // the exchange disappears entirely.
    val o = Engine.table(spark, sfDir, "orders")
    val c = Engine.table(spark, sfDir, "customer")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    o.write.bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("b_orders")
    c.write.bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("b_customer")
    try withoutAqe {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = spark.table("b_orders").join(spark.table("b_customer"),
          org.apache.spark.sql.functions.col("o_custkey") ===
            org.apache.spark.sql.functions.col("c_custkey"))
        val p = planOf(joined)
        assert(p.collect {
          case s: org.apache.spark.sql.execution.joins.SortMergeJoinExec => s
        }.nonEmpty, p.toString)
        assert(p.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }.isEmpty, s"bucketed join must not shuffle:\n$p")
        // and it still returns the right rows
        assert(joined.count() ==
          o.join(c, o("o_custkey") === c("c_custkey")).count())
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("AQE splits a skewed shuffle join at runtime (skew=true in the final plan)") {
    // One hot key owns half the big side. With broadcast disabled and
    // the skew thresholds scaled to the fixture, AQE must re-plan the
    // sort-merge join's hot partition into splits at runtime — the
    // mechanism Engine.tune relies on for residual skew the salted
    // operators don't cover.
    import org.apache.spark.sql.functions.{col, lit, when}
    val conf = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "8KB")
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val big = spark.range(300000).select(
        when(col("id") < 150000, lit(0L)).otherwise(col("id")).as("k"),
        col("id").as("v"))
      val small = spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = big.join(small, "k")
      // execute THIS dataset's own plan (a write/count would build a
      // fresh QueryExecution and leave this one unfinalized)
      joined.queryExecution.toRdd.count()
      val s = joined.queryExecution.executedPlan.toString
      assert(s.contains("isFinalPlan=true"), s)
      assert(s.contains("skew=true"), s"AQE did not mark the join skewed:\n$s")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q_heavy_hitters: sketch probe filters below the exchange, partial count above it") {
    withoutAqe {
      val p = planOf(q("q_heavy_hitters"))
      val s = p.toString
      // the CMS probe must sit BELOW the hashpartitioning exchange —
      // the long tail dies map-side, only candidates shuffle
      val exchange = s.indexOf("Exchange hashpartitioning")
      val probe = s.toLowerCase.indexOf("cmsatleast")
      assert(exchange > 0, s)
      assert(probe > exchange, s"CMS probe not below the exchange:\n$s")
      // and the survivors still combine map-side before shipping
      assert(s.indexOf("partial_count", exchange) > exchange, s)
    }
  }

  test("persisted band index: verification reads only the candidates' bucket partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_band_plan").toString
    val docs = Engine.table(spark, sfDir, "documents").select("doc_id", "text")
    graft.pipeline.TextDedup.writeBandIndex(docs, dir) // 32 buckets
    withoutAqe {
      // one probe doc -> at most 16 band keys -> at most 16 of 32
      // bucket partitions; pruning must be visible in the file count
      val one = docs.filter(org.apache.spark.sql.functions.col("doc_id") === 1L)
        .select(org.apache.spark.sql.functions.col("doc_id")
          .plus(900000L).as("doc_id"),
          org.apache.spark.sql.functions.col("text"))
      // the bands scan is consumed inside the eager candidate
      // materialization (ExistingRDD in the final plan); the
      // verification-side shingles scan uses the same literal-IN
      // pruning mechanism and is visible here — pin that one
      val p = planOf(graft.pipeline.TextDedup.nearDupsAgainstBandIndex(one, dir))
      val shingleScans = p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("shingles")) &&
            f.partitionFilters.nonEmpty => f
      }
      assert(shingleScans.nonEmpty, s"no partition-filtered shingles scan:\n$p")
      val pruned = shingleScans.head
      val staticFilters = pruned.partitionFilters.filterNot(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression]))
      assert(staticFilters.nonEmpty, "no static bucket IN (...) partition filter")
      val selected = pruned.relation.location.listFiles(staticFilters, Nil).length
      assert(selected < 32 && selected >= 1,
        s"expected a strict subset of 32 bucket partitions after pruning, got $selected")
    }
  }

  test("text index: search reads only the query terms' bucket partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tidx_plan").toString
    val docs = Engine.table(spark, sfDir, "documents").select("doc_id", "text")
    graft.pipeline.TextIndex.write(docs, dir, buckets = 64)
    withoutAqe {
      // 3 query terms -> at most 3 of 64 bucket partitions survive the
      // static bucket IN (...) pruning
      val p = planOf(graft.pipeline.TextIndex.search(
        spark, dir, Seq("spark", "hash", "window"), 10))
      val postingScans = p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("postings")) &&
            f.partitionFilters.nonEmpty => f
      }
      assert(postingScans.nonEmpty, s"no partition-filtered postings scan:\n$p")
      val pruned = postingScans.head
      val staticFilters = pruned.partitionFilters.filterNot(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression]))
      assert(staticFilters.nonEmpty, "no static bucket IN (...) partition filter")
      val selected = pruned.relation.location.listFiles(staticFilters, Nil).length
      assert(selected <= 3,
        s"3 terms must probe <= 3 of 64 buckets, got $selected")
      // the term filter pushes into the probed buckets' scan
      assert(p.toString.contains("PushedFilters") &&
        p.toString.contains("In(term"), p.toString.take(4000))
    }
  }

  test("text index: searchMany prunes to the batch's term buckets in one scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tidx_plan_many").toString
    val docs = Engine.table(spark, sfDir, "documents").select("doc_id", "text")
    graft.pipeline.TextIndex.write(docs, dir, buckets = 64)
    withoutAqe {
      val batch = Seq((1L, Seq("spark", "join")), (2L, Seq("window", "hash")))
        .toDF("query_id", "terms")
      val p = planOf(graft.pipeline.TextIndex.searchMany(spark, dir, batch, 10))
      val postingScans = p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("postings")) &&
            f.partitionFilters.nonEmpty => f
      }
      // one pruned scan serves the whole batch (the df branch and the
      // contrib branch share it; no per-query scans)
      assert(postingScans.nonEmpty, s"no partition-filtered postings scan:\n$p")
      postingScans.foreach { pruned =>
        val staticFilters = pruned.partitionFilters.filterNot(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression]))
        assert(staticFilters.nonEmpty, "no static bucket IN (...) partition filter")
        val selected = pruned.relation.location.listFiles(staticFilters, Nil).length
        assert(selected <= 4,
          s"4 distinct terms must probe <= 4 of 64 buckets, got $selected")
      }
    }
  }

  test("persisted IVF index: queries read only the probed cells' partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_plan").toString
    val emb = Engine.table(spark, sfDir, "embeddings")
    graft.pipeline.Embeddings.writeIvfIndex(emb, dir, nlist = 16)
    withoutAqe {
      // nprobe=1: ten queries probe at most ten of the sixteen cells,
      // so pruning must be visible in the partition count.
      val p = planOf(graft.pipeline.Embeddings.ivfTopKIndexed(spark, dir, 10, 5, nprobe = 1))
      val corpusScans = p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("corpus")) &&
            f.partitionFilters.nonEmpty => f
      }
      assert(corpusScans.nonEmpty, s"no partition-filtered corpus scan:\n$p")
      val pruned = corpusScans.head
      assert(pruned.partitionFilters.mkString.contains("cell"),
        pruned.partitionFilters.mkString)
      // static literal filters only — the DPP subquery (a bonus second
      // pruning layer from the broadcast join) can't eval pre-execution
      val staticFilters = pruned.partitionFilters.filterNot(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression]))
      assert(staticFilters.nonEmpty, "no static cell IN (...) partition filter")
      val selected = pruned.relation.location
        .listFiles(staticFilters, Nil).length
      assert(selected <= 10 && selected >= 1,
        s"expected <=10 of 16 cell partitions after pruning, got $selected")
    }
  }

  test("profile default (approx) plans without Expand; exact opt-in keeps it") {
    val orders = Engine.table(spark, sfDir, "orders")
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus")
    withoutAqe {
      val approx = planOf(graft.pipeline.CorpusOps.profile(orders, cols))
      val approxExpands = approx.collect {
        case e: org.apache.spark.sql.execution.ExpandExec => e }
      assert(approxExpands.isEmpty,
        s"approx profile still plans an Expand (row blowup at scale):\n$approx")
      val exact = planOf(graft.pipeline.CorpusOps.profile(orders, cols, exact = true))
      val exactExpands = exact.collect {
        case e: org.apache.spark.sql.execution.ExpandExec => e }
      assert(exactExpands.nonEmpty, "sanity: exact path should use Expand")
    }
    // approx and exact agree on everything except distinct counts, and
    // the approx distincts are within HLL++ tolerance on the fixture
    val a = graft.pipeline.CorpusOps.profile(orders, cols)
      .select("column", "n_distinct").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val e = graft.pipeline.CorpusOps.profile(orders, cols, exact = true)
      .select("column", "n_distinct").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    cols.foreach { c =>
      assert(math.abs(a(c) - e(c)) <= math.max(4L, (e(c) * 0.05).toLong),
        s"$c: approx ${a(c)} vs exact ${e(c)}")
    }
  }

  test("packShuffled: rank frame is materialized once (no duplicate window subtree)") {
    val docs = Engine.table(spark, sfDir, "documents")
    val out = graft.pipeline.CorpusOps.packShuffled(docs, 4096, seed = 7L)
    // The rank frame is referenced twice (pack ordering + map-back).
    // After the eager materialization both references must be scans of
    // the checkpointed frame — the shuffleRank hash expression (its
    // Knuth constant) may appear ZERO times in the final plan, not
    // once per reference.
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("2654435761"),
      s"shuffleRank recomputed inside packShuffled's plan:\n$plan")
    val rdds = out.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.ExternalRDD[_] => l
      case l: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
        if l.getClass.getSimpleName == "LogicalRDD" => l
    }
    assert(rdds.size >= 2, s"expected both rank references to scan the materialized frame:\n${out.queryExecution.optimizedPlan}")
  }

  test("serving path: external-query scan is partition-pruned like the self-query path") {
    // ivfTopKIndexedFor shares the probe → literal cell IN core with
    // the audit path; this pins that the SERVING shape (the one an
    // application actually calls at 100 TB) keeps the pruning — an
    // accidental corpus-wide scan here would be invisible to the
    // row-equality specs.
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfserve_plan").toString
    val emb = Engine.table(spark, sfDir, "embeddings")
    graft.pipeline.Embeddings.writeIvfIndex(emb, dir, nlist = 16)
    val queries = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    withoutAqe {
      val p = planOf(graft.pipeline.Embeddings.ivfTopKIndexedFor(queries, dir, 5, nprobe = 2))
      val corpusScans = p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("corpus")) &&
            f.partitionFilters.nonEmpty => f
      }
      assert(corpusScans.nonEmpty, s"no pruned corpus scan in the serving plan:\n$p")
      corpusScans.foreach { sc =>
        val staticFilters = sc.partitionFilters.filterNot(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression]))
        assert(staticFilters.nonEmpty, "no static cell IN (...) partition filter")
        val selected = sc.relation.location.listFiles(staticFilters, Nil).length
        assert(selected <= 10 && selected >= 1,
          s"expected a pruned subset of 16 cell partitions, got $selected")
      }
    }
  }

  test("filtered serving: the allowedIds semi-join keeps the cell IN partition pruning") {
    // corpus_ann's filter=> route semi-joins an allow-list ONTO the
    // pruned corpus scan — if the join planned below the partition
    // filter (or forced a corpus-wide scan to feed it), tenant-scoped
    // search would silently cost a full pass at 100 TB while the
    // row-equality gates stayed green.
    val dir = java.nio.file.Files.createTempDirectory("graft_ivffilt_plan").toString
    val emb = Engine.table(spark, sfDir, "embeddings")
    graft.pipeline.Embeddings.writeIvfIndex(emb, dir, nlist = 16)
    val queries = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val allowed = emb.filter(org.apache.spark.sql.functions.col("vec_id") % 3 === 0)
      .select("vec_id")
    // adaptive=true with an unbounded escape legitimately reads every
    // cell on this loose-radii fixture (the measured exactness
    // premium, ANN_SCALE.md) — the pruning question the filter raises
    // is about the FIRST pass and the CAPPED adaptive shape, so those
    // are what this pin holds.
    for (mk <- Seq(
        () => graft.pipeline.Embeddings.ivfTopKIndexedFor(
          queries, dir, 5, nprobe = 2, allowedIds = Some(allowed)),
        () => graft.pipeline.Embeddings.ivfTopKIndexedFor(
          queries, dir, 5, nprobe = 2, adaptive = true, escapeCap = 0,
          allowedIds = Some(allowed)))) withoutAqe {
      val p = planOf(mk())
      val corpusScans = p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("corpus")) &&
            f.partitionFilters.nonEmpty => f
      }
      assert(corpusScans.nonEmpty,
        s"no pruned corpus scan under the allow-list semi-join:\n$p")
      corpusScans.foreach { sc =>
        val staticFilters = sc.partitionFilters.filterNot(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression]))
        assert(staticFilters.nonEmpty, "no static cell IN (...) partition filter")
        val selected = sc.relation.location.listFiles(staticFilters, Nil).length
        assert(selected <= 10 && selected >= 1,
          s"expected a pruned subset of 16 cell partitions, got $selected")
      }
    }
  }

  test("IVFADC: ADC scan is partition-pruned AND reads codes, not full vectors") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_plan").toString
    val emb = Engine.table(spark, sfDir, "embeddings")
    graft.pipeline.Embeddings.writeIvfIndex(emb, dir, nlist = 16)
    withoutAqe {
      val p = planOf(graft.pipeline.Embeddings.ivfPqTopKIndexed(spark, dir, 10, 5, nprobe = 1))
      val corpusScans = p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("corpus")) &&
            f.partitionFilters.nonEmpty => f
      }
      // both tiers (ADC shortlist + exact refine) read the index pruned
      assert(corpusScans.size >= 2, s"expected >=2 pruned corpus scans:\n$p")
      corpusScans.foreach { sc =>
        val staticFilters = sc.partitionFilters.filterNot(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression]))
        assert(staticFilters.nonEmpty, "no static cell IN (...) partition filter")
        val selected = sc.relation.location.listFiles(staticFilters, Nil).length
        assert(selected <= 10 && selected >= 1,
          s"expected <=10 of 16 cell partitions after pruning, got $selected")
      }
      // the ADC tier's bytes-per-vector claim: the scan that feeds the
      // shortlist reads the compressed codes column and NOT the
      // full-precision vector (column pruning keeps `v` out)
      val adcScans = corpusScans.filter(_.schema.fieldNames.contains("codes"))
      assert(adcScans.nonEmpty, s"no corpus scan reading codes:\n$p")
      adcScans.foreach { sc =>
        assert(!sc.schema.fieldNames.contains("v"),
          s"ADC scan reads full vectors: ${sc.schema.fieldNames.mkString(",")}")
      }
    }
  }

  test("q_tpch_q17: correlated scalar subquery decorrelates to one agg + join") {
    withoutAqe {
      val p = planOf(q("q_tpch_q17"))
      // never a nested-loop / cartesian re-evaluation per outer row
      assert(p.collect {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }.isEmpty, "cartesian product in decorrelated q17")
      // lineitem is scanned exactly twice: outer fact + the per-partkey
      // average — NOT once per part row
      val liScans = p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.inputFiles.exists(_.contains("lineitem")) => f
      }
      assert(liScans.size == 2, s"expected 2 lineitem scans, got ${liScans.size}:\n$p")
      // the subquery aggregate keys on l_partkey (the correlation key)
      assert(p.toString.contains("partial_avg"), p.toString)
    }
  }

  test("q_tpch_q21: EXISTS/NOT EXISTS plan as semi/anti joins, three lineitem scans") {
    withoutAqe {
      val p = planOf(q("q_tpch_q21"))
      val s = p.toString
      assert(s.contains("LeftSemi"), s"no semi join:\n$s")
      assert(s.contains("LeftAnti"), s"no anti join:\n$s")
      assert(p.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }.isEmpty, "nested-loop/cartesian in decorrelated q21")
      val liScans = p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.inputFiles.exists(_.contains("lineitem")) => f
      }
      assert(liScans.size == 3, s"expected 3 lineitem scans, got ${liScans.size}:\n$p")
    }
  }

  test("q_tpch_q2: correlated MIN over derived partsupp decorrelates to equi-joins") {
    withoutAqe {
      val p = planOf(q("q_tpch_q2"))
      // the min-cost subquery must become a per-part aggregate joined
      // back on ps_partkey — never a per-outer-row re-evaluation
      assert(p.collect {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }.isEmpty, s"cartesian product in decorrelated q2:\n$p")
      val s = p.toString
      assert(s.contains("min(") || s.contains("partial_min"), s"no min aggregate:\n$s")
    }
  }

  test("q_tpch_q11: HAVING threshold is one reused scalar subquery, no nested loop") {
    withoutAqe {
      val p = planOf(q("q_tpch_q11"))
      // the global-total subquery must be an independent scalar
      // subquery evaluated once and broadcast into the filter — never
      // a join-per-group or cartesian re-aggregation
      assert(p.collect {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }.isEmpty, s"cartesian in q11:\n$p")
      // nested loops may only broadcast the partsupp derivation's tiny
      // frames (the 4-row quad union / the 1-row supplier count) —
      // i.e. a constant frame or a global (groupless) aggregate, never
      // raw table rows
      p.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j.right
      }.foreach { build =>
        val hasScan = build.find {
          case _: org.apache.spark.sql.execution.FileSourceScanExec => true
          case _ => false
        }.nonEmpty
        val oneRowAgg = build.find {
          case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec =>
            a.groupingExpressions.isEmpty
          case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec =>
            a.groupingExpressions.isEmpty
          case _ => false
        }.nonEmpty
        assert(!hasScan || oneRowAgg,
          s"nested loop broadcasts raw table rows in q11:\n$build")
      }
      val scalarSubqueries = p.collect { case n => n }
        .flatMap(_.expressions)
        .flatMap(_.collect {
          case s: org.apache.spark.sql.execution.ScalarSubquery => s
        })
      assert(scalarSubqueries.nonEmpty, s"no scalar subquery in q11's filter:\n$p")
    }
  }

  test("q_tpch_q12: derived-column predicates evaluate below the orders join") {
    withoutAqe {
      val p = planOf(q("q_tpch_q12"))
      // the shipmode/commit/receipt predicates are pure lineitem
      // functions, so the filter must sit on the lineitem side of the
      // join — the join sees pre-filtered rows, not the full fact
      val pushed = p.collect {
        case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.toString.contains("MAIL") &&
            f.collectLeaves().exists {
              case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
                sc.relation.location.inputFiles.exists(_.contains("lineitem"))
              case _ => false
            } &&
            f.find {
              case _: org.apache.spark.sql.execution.joins.SortMergeJoinExec => true
              case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => true
              case _ => false
            }.isEmpty => f
      }
      assert(pushed.nonEmpty, s"shipmode filter not pushed below the join:\n$p")
    }
  }

  test("similarity joins: no join is cartesian; freq join broadcasts at runtime") {
    // Static pin (AQE off): prefix filtering is exact equi-join
    // blocking — a cartesian or nested-loop anywhere means the
    // blocking collapsed to all-pairs.
    withoutAqe {
      for (name <- Seq("q_sim_join", "q_sim_link")) {
        val p = planOf(q(name))
        assert(p.collect {
          case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
          case n: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => n
        }.isEmpty, s"cartesian/nested-loop join in $name:\n$p")
      }
    }
    // Runtime pin (AQE on — the production path): the freq-join
    // strategy is decided from the size of the BUILT freq exchange,
    // never by a plan-time probe job. For this corpus's bounded gram
    // alphabet the executed plan must end up with the freq join as a
    // broadcast — either statically or via AQE's shuffled→broadcast
    // conversion.
    val df = q("q_sim_join")
    df.write.format("noop").mode("overwrite").save()
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("BroadcastHashJoin"),
      s"freq join did not broadcast at runtime:\n$s")
  }

  test("runtime bloom filter: a selective dim filter prunes the fact scan of a shuffle join") {
    // Engine.tune enables the optimizer rule at Spark's default
    // thresholds (inject only when the creation side is small and the
    // application side scan is large); the fixture is far below those
    // sizes, so this pin lowers them to prove the INJECTION SHAPE the
    // 100 TB plan gets: the fact side gains a might_contain(...) scan
    // filter fed by a bloom_filter_agg over the filtered dim keys —
    // non-joining fact rows die at the scan, before the shuffle.
    val c = spark.conf
    c.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    c.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    c.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a shuffle join
    try {
      import org.apache.spark.sql.functions.{col, sum}
      val li = Engine.table(spark, sfDir, "lineitem")
      val o = Engine.table(spark, sfDir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority").agg(sum("l_quantity"))
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        s"no runtime bloom filter injected:\n${plan.take(3000)}")
      // the probe must sit on the FACT (lineitem) side keyed on its key
      assert(plan.contains("might_contain") &&
        plan.linesIterator.exists(l => l.contains("might_contain") && l.contains("l_orderkey")),
        s"bloom probe not applied to the fact key:\n${plan.take(3000)}")
    } finally {
      c.unset("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      c.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      c.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("CBO: analyzed catalog tables carry row counts and reorder a pessimal join") {
    // Isolation: analyzeTables marks its dir JVM-globally and the
    // session is shared across suites — run against a symlink alias of
    // the fixture dir so every other test keeps its direct-read plans.
    val alias = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_cbo_sfdir").toPath
    java.nio.file.Files.deleteIfExists(alias)
    java.nio.file.Files.createSymbolicLink(alias, java.nio.file.Paths.get(sfDir))
    val d = alias.toString
    Engine.analyzeTables(spark, d, Seq("lineitem", "orders", "customer", "nation"))
    import org.apache.spark.sql.functions.{col, count, lit}
    // row-count statistics attached to the relation Engine.table serves
    val liStats = Engine.table(spark, d, "lineitem")
      .queryExecution.optimizedPlan.stats
    assert(liStats.rowCount.isDefined, "catalog row count missing")
    assert(liStats.rowCount.get.toLong ==
      Engine.table(spark, d, "lineitem").count())
    // pessimal declaration order: fact ⋈ fact first, the selective
    // dimension chain last — CBO must cost-reorder it (a declaration-
    // order executor joins the two big tables before the filters cut)
    def pessimal() = {
      val li = Engine.table(spark, d, "lineitem")
      val o = Engine.table(spark, d, "orders")
      val c2 = Engine.table(spark, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      val n = Engine.table(spark, d, "nation")
        .filter(col("n_name") === "FRANCE")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c2, o("o_custkey") === c2("c_custkey"))
        .join(n, c2("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name").agg(count(lit(1)).as("cnt"))
    }
    def leafOrder(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collectLeaves().map(_.toString)
        .map { s =>
          Seq("lineitem", "orders", "customer", "nation")
            .find(t => s.contains(s"graft_") && s.contains(t)).getOrElse("?")
        }
    // reorder is OFF by default (Engine.tune — measured decision, see
    // its comment); this pin proves the rescue MECHANISM works when a
    // session enables it over pessimal declared orders
    val declared = leafOrder(pessimal())
    val reordered = {
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      try leafOrder(pessimal())
      finally spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
    }
    assert(declared != reordered,
      s"CBO did not reorder the pessimal join: declared=$declared reordered=$reordered")
    // the two big tables must no longer be the first join pair
    assert(reordered.take(2).toSet != Set("lineitem", "orders"),
      s"fact-fact still joins first: $reordered")
  }

  test("service SQL session: join reorder ON for service SQL, OFF for the host") {
    // Same isolation trick as the CBO test above: analyze a symlink
    // alias so the shared session's direct-read plans are untouched.
    val alias = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_cbo_sfdir").toPath
    java.nio.file.Files.deleteIfExists(alias)
    java.nio.file.Files.createSymbolicLink(alias, java.nio.file.Paths.get(sfDir))
    val d = alias.toString
    Engine.analyzeTables(spark, d, Seq("lineitem", "orders", "customer", "nation"))
    val root = java.nio.file.Files.createTempDirectory("graft_svc_reorder").toString
    val svc = new service.QueryService(spark, root)
    try {
      // the split itself: host session keeps the measured OFF default
      // (fact-first DataFrame declarations), the service's dedicated
      // SQL session plans with reorder ON for arbitrary user SQL
      assert(spark.conf.get("spark.sql.cbo.joinReorder.enabled") == "false")
      assert(svc.sqlSession.conf.get("spark.sql.cbo.joinReorder.enabled") == "true")
      // and the child session inherits the rest of the engine tuning
      assert(svc.sqlSession.conf.get("spark.sql.cbo.enabled") == "true")
      assert(svc.sqlSession.conf.get("spark.sql.session.timeZone") == "UTC")
      // a pessimal fact-fact-first declared order, as arbitrary
      // service SQL would write it, against the analyzed catalog
      // tables both sessions share (SharedState holds the catalog)
      def t(n: String) = s"graft_${Engine.catalogTag(d)}_$n"
      val sql =
        s"""SELECT n_name, count(1) AS cnt
           |FROM ${t("lineitem")} li
           |JOIN ${t("orders")} o ON li.l_orderkey = o.o_orderkey
           |JOIN (SELECT * FROM ${t("customer")} WHERE c_mktsegment = 'BUILDING') c
           |  ON o.o_custkey = c.c_custkey
           |JOIN (SELECT * FROM ${t("nation")} WHERE n_name = 'FRANCE') n
           |  ON c.c_nationkey = n.n_nationkey
           |GROUP BY n_name""".stripMargin
      def leafOrder(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collectLeaves().map(_.toString)
          .map { s =>
            Seq("lineitem", "orders", "customer", "nation")
              .find(t => s.contains("graft_") && s.contains(t)).getOrElse("?")
          }
      val host = leafOrder(spark.sql(sql))
      val svcPlan = leafOrder(svc.sqlSession.sql(sql))
      assert(host.take(2).toSet == Set("lineitem", "orders"),
        s"host should keep the declared order: $host")
      assert(svcPlan.take(2).toSet != Set("lineitem", "orders"),
        s"service SQL session did not rescue the pessimal order: $svcPlan")
      // identical results either way (reorder is plan-only)
      assert(spark.sql(sql).collect().toSeq == svc.sqlSession.sql(sql).collect().toSeq)
    } finally svc.close()
  }

  test("read_store TVF plans scan ONLY the live generation; corpus_dedup index route never reads text") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("graft_plan_tvf").toString
    graft.pipeline.CorpusStore.write(docs, s"$base/store", buckets = 4)
    graft.pipeline.CorpusStore.merge(spark, s"$base/store",
      docs.filter(col("doc_id") % 9 === 0), docs.limit(0).select("doc_id"))
    // after the merge the live generation is corpus_v1: the TVF's
    // scan must root there and ONLY there — a raw-dir scan would
    // union the grace generation and double-count
    def scanRoots(df: DataFrame): Seq[String] = planOf(df).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    val liveRoots = scanRoots(spark.sql(s"SELECT * FROM read_store('$base/store')"))
    assert(liveRoots.nonEmpty && liveRoots.forall(_.contains("corpus_v1")),
      s"live read must scan corpus_v1 only: $liveRoots")
    val gen0Roots = scanRoots(
      spark.sql(s"SELECT * FROM read_store('$base/store', as_of=>0)"))
    assert(gen0Roots.nonEmpty && gen0Roots.forall(r =>
      r.endsWith("/corpus") || r.contains("/corpus/")),
      s"as_of=>0 must scan the base generation only: $gen0Roots")
    // index-served near-dup pairs: the candidate join materializes
    // eagerly at TVF-build time (its bands scans become ExistingRDD —
    // same shape the nearDupsAgainstBandIndex pin documents), so the
    // pin here is the NEGATIVE guarantee: nothing in the final plan
    // roots at the corpus parquet — the text is never re-read (what
    // makes the route O(index), not O(corpus))
    graft.pipeline.TextDedup.writeBandIndex(docs, s"$base/band")
    val dedupPlan = planOf(
      spark.sql(s"SELECT * FROM corpus_dedup('$base/band')"))
    val dedupRoots = dedupPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(!dedupRoots.exists(_.contains("documents.parquet")),
      s"index route re-read the corpus text: $dedupRoots")
    assert(!dedupPlan.toString.contains("documents.parquet"),
      "corpus parquet leaked into the index-served plan")
  }

  test("corpus_hybrid, one query over index layouts: no range-sort exchange, no query_id window") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("graft_plan_hybrid").toString
    val emb = Engine.table(spark, sfDir, "embeddings")
    graft.pipeline.TextIndex.write(
      Engine.table(spark, sfDir, "documents").select("doc_id", "text"),
      s"$base/text", buckets = 8)
    graft.pipeline.Embeddings.writeIvfIndex(emb, s"$base/ivf", nlist = 8)
    val vec = emb.filter(col("vec_id") === 7L).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).mkString(",")
    // every cell probed, as in the serving benchmark's hybrid statement
    def hybrid() = spark.sql(
      s"SELECT * FROM corpus_hybrid('$base/text', '$base/ivf', " +
        s"'spark hash window', embedding=>'$vec', k=>15, k_per_leg=>20, nprobe=>8)")
    hybrid().collect() // first use reads and caches the index metadata
    val (df, analysisJobs, _) = jobsDuring(hybrid())
    val (rows, execJobs, _) = jobsDuring(df.collect())
    info(s"Spark jobs, warm: $analysisJobs at analysis, $execJobs at execution")
    assert(rows.nonEmpty)
    // the executed (AQE final) plan, query stages included: every
    // ranked frame is at most k rows in one partition, so a range sort
    // or a window partitioned by query_id is a scheduling round trip
    // the data does not need
    val p = df.queryExecution.executedPlan
    assert(p.toString.contains("isFinalPlan=true"), p.toString)
    val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val rangeSorts = aqe.collect(p) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(rangeSorts.isEmpty, s"range-sort exchange in a one-query hybrid:\n$p")
    val perQuery = aqe.collect(p) {
      case w: WindowExec if w.partitionSpec.exists(_.references.exists(_.name == "query_id")) => w
    }
    assert(perQuery.isEmpty, s"query_id window in a one-query hybrid:\n$p")
  }
}
