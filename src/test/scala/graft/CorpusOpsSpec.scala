package graft

import graft.pipeline.{CorpusOps, ZOrder}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CorpusOpsSpec extends AnyFunSuite with SparkFixture {

  private lazy val docs = Engine.table(spark, sfDir, "documents").cache()

  import spark.implicits._

  // --- sequence packing --------------------------------------------

  test("packSequences equals the single-threaded prefix-sum definition") {
    val budget = 4096L
    val got = CorpusOps.packSequences(docs, budget)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val toks = docs
      .select(col("doc_id"), size(split(trim(lower(col("text"))), "\\s+")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var cum = 0L
    val want = toks.map { case (id, n) =>
      val seq = cum / budget; cum += n; (id, n, seq)
    }
    assert(got.sameElements(want))
  }

  test("packSequences is invariant to the partition count") {
    val a = CorpusOps.packSequences(docs, 2048, parts = 3).collect().toSeq
    val b = CorpusOps.packSequences(docs, 2048, parts = 7).collect().toSeq
    assert(a == b)
    val seqIds = a.map(_.getLong(2))
    assert(seqIds.zip(seqIds.tail).forall { case (x, y) => x <= y }, "seq_id monotone")
    assert(seqIds.distinct.length > 1, "budget should produce multiple shards")
  }

  test("shuffleRank is a dense deterministic permutation, partition-invariant") {
    val a = CorpusOps.shuffleRank(docs, seed = 7, parts = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = CorpusOps.shuffleRank(docs, seed = 7, parts = 11)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.sortBy(_._1).sameElements(b.sortBy(_._1)),
      "rank must not depend on the bucket count")
    // dense permutation: ranks are exactly 0..N-1
    val ranks = a.map(_._2).sorted
    assert(ranks.sameElements(ranks.indices.map(_.toLong)), "not a dense permutation")
    // equals the single-threaded definition: sort by (hash, doc_id)
    val want = a.map { case (id, _) =>
      (id, ((id + 7) % 1048576L) * 2654435761L % 9999991L)
    }.sortBy { case (id, h) => (h, id) }.map(_._1).zipWithIndex
      .map { case (id, i) => (id, i.toLong) }.sortBy(_._1)
    assert(a.sortBy(_._1).sameElements(want))
    // a different seed produces a different order (it actually shuffles)
    val c = CorpusOps.shuffleRank(docs, seed = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!c.sortBy(_._1).sameElements(a.sortBy(_._1)), "seed must change the permutation")
  }

  test("shuffleRank plans with no corpus-wide unpartitioned window") {
    // the only global window allowed is the offsets frame over the
    // <= parts bucket-count rows; the per-row rank must partition by bk
    val p = CorpusOps.shuffleRank(docs, seed = 7).queryExecution.executedPlan
    val globalWindows = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    globalWindows.foreach { w =>
      val aggBelow = w.find {
        case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec => true
        case _: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => true
        case _: org.apache.spark.sql.execution.aggregate.SortAggregateExec => true
        case _ => false
      }
      assert(aggBelow.nonEmpty,
        s"unpartitioned window over raw corpus rows (not the bucket frame):\n$w")
    }
  }

  test("tokenBudgetSample equals the single-threaded per-group prefix definition") {
    val budget = 2000L
    val got = CorpusOps.tokenBudgetSample(docs, "lang", budget)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // single-threaded truth: per lang, cumsum in (knuth-hash, doc_id)
    // order, keep while inclusive cum <= budget
    val toks = docs.select(col("doc_id"), col("lang"),
        size(split(trim(lower(col("text"))), "\\s+")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val want = toks.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      var cum = 0L
      rows.sortBy { case (id, _, _) => ((id % 1048576L) * 2654435761L % 9999991L, id) }
        .flatMap { case (id, lang, n) =>
          cum += n
          if (cum <= budget) Some((id, lang, n, cum)) else None
        }
    }.sortBy(_._1)
    assert(got.sameElements(want))
    assert(got.nonEmpty && got.map(_._2).distinct.length > 1,
      "budget must keep a non-trivial slice of more than one group")
    // partition-invariant (the bucket count must not change the slice)
    val b = CorpusOps.tokenBudgetSample(docs, "lang", budget, parts = 7)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(b.sameElements(got))
    // a different seed cuts a different slice (it actually shuffles)
    val c = CorpusOps.tokenBudgetSample(docs, "lang", budget, seed = 9)
      .collect().map(_.getLong(0)).toSet
    assert(c != got.map(_._1).toSet, "seed must change the slice")
  }

  test("resample family: weights broadcast, the corpus crosses no exchange before the copy explode") {
    // the scale claim both resamplers make: one (group, count)
    // partial-agg shuffle computes the weights, the weights BROADCAST
    // back, and the corpus flows scan → join → explode without an
    // exchange (the final orderBy is the deterministic-output
    // contract, after the explode). AQE off so the join strategy and
    // exchanges are visible directly.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
      def shufflesOutsideBroadcast(n: SparkPlan): Seq[SparkPlan] = n match {
        case _: BroadcastExchangeExec => Nil
        case s: ShuffleExchangeExec =>
          s +: n.children.flatMap(shufflesOutsideBroadcast)
        case _ => n.children.flatMap(shufflesOutsideBroadcast)
      }
      for (df <- Seq(
          CorpusOps.resampleToMix(docs, "lang"),
          CorpusOps.resampleToTarget(docs, "lang", Seq(("en", 60), ("fr", 40))))) {
        val p = df.queryExecution.executedPlan
        assert(p.collect {
          case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
        }.nonEmpty, s"weights must broadcast onto the corpus:\n$p")
        val gens = p.collect {
          case g: org.apache.spark.sql.execution.GenerateExec => g
        }
        assert(gens.nonEmpty, s"no copy explode in the plan:\n$p")
        gens.foreach { g =>
          val below = g.children.flatMap(shufflesOutsideBroadcast)
          assert(below.isEmpty,
            s"corpus rows crossed an exchange before the explode:\n$g")
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("tokenBudgetSample plans with no single-task-per-group window") {
    // every window over corpus rows must partition by (group, bucket);
    // a bare PARTITION BY lang window serializes each group through
    // one task — the skew shape this op exists to avoid. AQE off so
    // the executed plan exposes the WindowExec nodes directly.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = CorpusOps.tokenBudgetSample(docs, "lang", 2000L)
        .queryExecution.executedPlan
      val windows = p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty)
      windows.foreach { w =>
        val aggBelow = w.find {
          case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec => true
          case _: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => true
          case _: org.apache.spark.sql.execution.aggregate.SortAggregateExec => true
          case _ => false
        }
        assert(w.partitionSpec.size >= 2 || aggBelow.nonEmpty,
          s"corpus-row window must partition by (group, bucket):\n$w")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("writeShards materializes deterministic, prunable training shards") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString
    CorpusOps.writeShards(docs, dir, seqLen = 1024, seqsPerShard = 8)
    val back = spark.read.parquet(dir)
    // all docs land exactly once, with their text intact
    assert(back.count() == docs.count())
    assert(back.columns.contains("text") && back.columns.contains("shard_id"))
    // shard membership = seq_id div 8 of the pure prefix-sum packing
    val want = CorpusOps.packSequences(docs, 1024)
      .withColumn("shard_id", expr("seq_id div 8L"))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    back.selectExpr("doc_id", "cast(shard_id as long) AS shard_id").collect()
      .foreach(r => assert(want(r.getLong(0)) == r.getLong(1)))
    // loading one shard partition-prunes (the data-loader read path)
    val one = spark.read.parquet(dir).filter(col("shard_id") === 0)
    val scan = one.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.partitionFilters.nonEmpty, "shard read must partition-prune")
    // a re-run writes identical membership (auditable/resumable)
    CorpusOps.writeShards(docs, dir, seqLen = 1024, seqsPerShard = 8)
    spark.read.parquet(dir).selectExpr("doc_id", "cast(shard_id as long) AS shard_id")
      .collect().foreach(r => assert(want(r.getLong(0)) == r.getLong(1)))
  }

  test("writeShards with a shuffle seed mixes doc_id ranges into each shard") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shuf_shards").toString
    CorpusOps.writeShards(docs, dir, seqLen = 1024, seqsPerShard = 8,
      shuffleSeed = Some(7L))
    val back = spark.read.parquet(dir)
    assert(back.count() == docs.count())
    // membership = seq_id div 8 of the SHUFFLED packing, deterministically
    val want = CorpusOps.packShuffled(docs, 1024, seed = 7L)
      .withColumn("shard_id", expr("seq_id div 8L"))
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    back.selectExpr("doc_id", "cast(shard_id as long) AS shard_id").collect()
      .foreach(r => assert(want(r.getLong(0)) == r.getLong(1)))
    // the point of shuffling: shard 0 is no longer the lowest doc_ids.
    // Under doc_id-ordered packing, shard 0's max doc_id < shard 1's
    // min; after shuffling the ranges must interleave.
    val byShard = back.selectExpr("doc_id", "cast(shard_id as long) AS shard_id")
      .collect().groupBy(_.getLong(1)).view.mapValues(_.map(_.getLong(0))).toMap
    if (byShard.size > 1) {
      val lo = byShard.keys.min
      val s0 = byShard(lo)
      val rest = byShard.collect { case (k, v) if k != lo => v }.flatten
      assert(s0.max > rest.min, "shuffled shard 0 should interleave doc_id ranges")
    }
  }

  // --- decontamination ---------------------------------------------

  test("decontaminate drops exactly the train docs sharing a k-gram with eval") {
    val evalSet = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val train = Seq(
      // shares the full 6-gram with the eval doc -> contaminated
      (1L, "intro words then alpha beta gamma delta epsilon zeta closing"),
      // shares only a 5-gram -> clean at k=6
      (2L, "alpha beta gamma delta epsilon other tail words here now"),
      (3L, "entirely unrelated text with enough words to form grams")
    ).toDF("doc_id", "text")
    val clean = CorpusOps.decontaminate(train, evalSet, k = 6)
      .collect().map(_.getLong(0)).toSet
    assert(clean == Set(2L, 3L))
  }

  test("decontaminate keeps docs too short to form a k-gram") {
    val evalSet = Seq((100L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val train = Seq((1L, "a b c")).toDF("doc_id", "text")
    assert(CorpusOps.decontaminate(train, evalSet, k = 10)
      .collect().map(_.getLong(0)).toSet == Set(1L))
  }

  // --- repetition quality ------------------------------------------

  test("repetitionStats computes the documented fractions") {
    val d = Seq((1L, "a a a a b"), (2L, "q r s t u v w x y z zz")).toDF("doc_id", "text")
    val rows = CorpusOps.repetitionStats(d).collect()
      .map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
    val (rep1, top1, bg1, keep1) = rows(1L)
    assert(rep1 == 1.0 - 2.0 / 5.0)     // 2 distinct of 5
    assert(top1 == 4.0 / 5.0)           // "a" x4
    assert(bg1 == 3.0 / 4.0)            // "a a" x3 of 4 bigrams
    assert(!keep1)
    val (rep2, top2, bg2, keep2) = rows(2L)
    assert(rep2 == 0.0 && top2 == 1.0 / 11.0 && bg2 == 1.0 / 10.0)
    assert(keep2)
  }

  // --- span duplication (C4-style) ---------------------------------

  test("spanDupStats counts distinct corpus-duplicated k-gram spans per doc") {
    val d = Seq(
      (1L, "a b c d"),        // spans: "a b c", "b c d"
      (2L, "a b c x"),        // spans: "a b c", "b c x"
      (3L, "z y x w"),        // spans: unique
      (4L, "a b c a b c a"),  // distinct spans: "a b c","b c a","c a b"
      (5L, "x y")             // too short: no spans, absent from output
    ).toDF("doc_id", "text")
    val rows = CorpusOps.spanDupStats(d, 3, 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows(1L) == ((2L, 1L))) // shares "a b c" with docs 2 and 4
    assert(rows(2L) == ((2L, 1L)))
    assert(rows(3L) == ((2L, 0L)))
    assert(rows(4L) == ((3L, 1L))) // repeated span counted once per doc
    assert(!rows.contains(5L))
  }

  test("removeDupSpans cuts exactly the corpus-duplicated span positions") {
    val d = Seq(
      (1L, "x1 x2 a b c y1 y2"), // "a b c" shared with doc 2 -> cut
      (2L, "z1 a b c z2 z3"),
      (3L, "u1 u2 u3 u4"),       // nothing shared -> untouched
      (4L, "a b c")              // fully covered -> dropped
    ).toDF("doc_id", "text")
    val got = CorpusOps.removeDupSpans(d, k = 3, minDocs = 2).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) == (("x1 x2 y1 y2", 4L)))
    assert(got(2L) == (("z1 z2 z3", 3L)))
    assert(got(3L) == (("u1 u2 u3 u4", 4L)))
    assert(!got.contains(4L))
  }

  // --- top n-grams -------------------------------------------------

  test("topNgrams counts occurrences with a deterministic tie-break") {
    val d = Seq(
      (1L, "a b c d"),       // "a b c", "b c d"
      (2L, "a b c"),         // "a b c"
      (3L, "b c d"),         // "b c d"
      (4L, "a b c a b c a")  // "a b c" x2 among its 5 grams
    ).toDF("doc_id", "text")
    val got = CorpusOps.topNgrams(d, 3, 3).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a b c", 4L), ("b c a", 2L), ("b c d", 2L)))
  }

  // --- quality calibration -----------------------------------------

  test("qualityCalibrate keeps ~keepFrac per group; stricter frac raises the bar") {
    val rows = CorpusOps.qualityCalibrate(docs, 0.7, "lang").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(2); val kept = r.getLong(3)
      assert(kept >= (0.7 * n).toLong - 1 && kept <= n,
        s"lang ${r.getString(0)}: kept $kept of $n at keepFrac 0.7")
    }
    val strict = CorpusOps.qualityCalibrate(docs, 0.3, "lang").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      assert(strict(r.getString(0)) >= r.getDouble(1),
        "keeping fewer docs must not lower the cutoff")
    }
  }

  // --- domain mixing -----------------------------------------------

  test("domainMixWeights: fracs sum to 1, weight moves mixture to uniform") {
    val rows = CorpusOps.domainMixWeights(docs, "source").collect()
    val fracs = rows.map(_.getDouble(2))
    assert(math.abs(fracs.sum - 1.0) < 1e-9)
    val n = rows.length
    rows.foreach { r =>
      // frac * weight == 1/n_groups: reweighted share is uniform
      assert(math.abs(r.getDouble(2) * r.getDouble(3) - 1.0 / n) < 1e-9)
    }
  }

  // --- z-order ------------------------------------------------------

  private def mortonRef(x: Long, y: Long, bits: Int): Long =
    (0 until bits).foldLeft(0L) { (acc, i) =>
      acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    }

  test("zValue matches the bit-interleave reference on sample points") {
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (5L, 3L), (1023L, 1023L), (512L, 7L))
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"), ZOrder.zValue(col("x"), col("y"), 10).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    pts.foreach { case (x, y) => assert(got((x, y)) == mortonRef(x, y, 10)) }
  }

  test("zValueN generalizes zValue and matches a 3-D interleave reference") {
    def morton3(x: Long, y: Long, z: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L) { (acc, i) =>
        acc | (((x >> i) & 1L) << (3 * i)) |
          (((y >> i) & 1L) << (3 * i + 1)) |
          (((z >> i) & 1L) << (3 * i + 2))
      }
    val pts = Seq((0L, 0L, 0L), (1L, 2L, 4L), (7L, 7L, 7L), (5L, 0L, 3L))
    val df = pts.toDF("x", "y", "z")
    // n = 2 degenerates to zValue exactly
    val both = df.select(
        ZOrder.zValue(col("x"), col("y"), 10).as("z2"),
        ZOrder.zValueN(Seq(col("x"), col("y")), 10).as("zn2"),
        col("x"), col("y"), col("z"),
        ZOrder.zValueN(Seq(col("x"), col("y"), col("z")), 3).as("zn3"))
      .collect()
    both.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), "zValueN(2) != zValue")
      assert(r.getLong(5) == morton3(r.getLong(2), r.getLong(3), r.getLong(4), 3))
    }
  }

  test("clusterByZ rescales wide keys instead of aliasing the low bits") {
    // keys span [0, 4096) with bits=10: raw interleaving would alias
    // x and x + 1024 to one z-value, mixing far-apart keys into every
    // partition; rescaling must keep partition key-ranges disjoint
    val df = (0 until 4096 by 16).map(i => (i.toLong, i.toLong)).toDF("x", "y")
    val ranges = ZOrder.clusterByZ(df, col("x"), col("y"), 10, numFiles = 4)
      .groupBy(spark_partition_id().as("pid"))
      .agg(min("x").as("lo"), max("x").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(ranges.length > 1)
    ranges.zip(ranges.tail).foreach { case ((_, hi), (lo, _)) =>
      assert(hi < lo, s"partition x-ranges overlap: ${ranges.toSeq}")
    }
  }

  test("skippingStats: z-layout bounds BOTH key spans, linear only its own") {
    val li = Engine.table(spark, sfDir, "lineitem")
    val stats = ZOrder.skippingStats(li, col("l_partkey"), col("l_suppkey"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val (zn, zx, zy) = stats("zorder")
    val (ln, lx, ly) = stats("linear_x")
    assert(zn > 1 && ln > 1)
    // linear: near-perfect on the sort key, near-useless on the other
    assert(lx < 0.05, s"linear x span $lx")
    assert(ly > 0.8, s"linear y span $ly")
    // z-order: both keys bounded well below the linear layout's worst key
    assert(zx < 0.3 && zy < 0.3, s"zorder spans $zx/$zy")
  }

  test("clusterByZ yields disjoint z-ranges across output partitions") {
    val li = Engine.table(spark, sfDir, "lineitem")
    // pin the key domain to exactly [0, 1024) so clusterByZ's affine
    // rescale is the identity and the raw zValue below is the same z
    // the operator clustered by
    val pts = li.select(
        pmod(col("l_partkey"), lit(1024L)).as("x"),
        pmod(col("l_suppkey"), lit(1024L)).as("y"))
      .union(Seq((0L, 0L), (1023L, 1023L)).toDF("x", "y"))
    val clustered = ZOrder.clusterByZ(pts, col("x"), col("y"), 10, numFiles = 8)
      .withColumn("z", ZOrder.zValue(col("x"), col("y"), 10))
    val ranges = clustered
      .groupBy(spark_partition_id().as("pid"))
      .agg(min("z").as("lo"), max("z").as("hi"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(ranges.length > 1)
    ranges.zip(ranges.tail).foreach { case ((_, _, hi), (_, lo, _)) =>
      assert(hi <= lo, s"overlapping z-ranges: $ranges")
    }
  }

  // --- corpus store MERGE ------------------------------------------

  private def storeFiles(dir: String, gen: String): Map[String, Set[String]] = {
    val root = new java.io.File(dir, gen)
    root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .map(d => d.getName ->
        d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet)
      .toMap
  }

  test("CorpusStore.merge: partial rewrite, carry-by-copy, swap, grace, precedence") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cstore_spec").toString
    val base = docs.select(col("doc_id"), col("text"))
    graft.pipeline.CorpusStore.write(base, dir, buckets = 8)
    val baseFiles = storeFiles(dir, "corpus")
    assert(baseFiles.size == 8)

    // change set touching a known id subset: update 8, delete 16,
    // insert 9000008 (bucket 0), plus an id that is BOTH deleted and
    // upserted (24) — upsert must win
    val up = Seq((8L, "updated eight"), (9000008L, "inserted"), (24L, "kept")).toDF("doc_id", "text")
    val del = Seq(16L, 24L).toDF("doc_id")
    val (rewritten, carried) = graft.pipeline.CorpusStore.merge(spark, dir, up, del)
    assert(rewritten + carried == 8)
    assert(rewritten == Set(8L % 8, 9000008L % 8, 16L % 8, 24L % 8).size,
      s"rewrote $rewritten buckets for a bucket-0-only change set")

    // live resolves to v1; untouched buckets carried with identical file names
    assert(graft.pipeline.CorpusStore.live(spark, dir).endsWith("corpus_v1"))
    val v1Files = storeFiles(dir, "corpus_v1")
    baseFiles.filterNot(_._1 == "bucket=0").foreach { case (b, files) =>
      assert(v1Files(b) == files, s"carried bucket $b files changed")
    }
    // grace copy retained
    assert(new java.io.File(dir, "corpus/_SUCCESS").exists() ||
      new java.io.File(dir, "corpus").exists())

    // content equals the merge algebra applied to the full base
    val got = graft.pipeline.CorpusStore.read(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = base.collect().map(r => r.getLong(0) -> r.getString(1)).toMap -
      16L - 24L - 8L ++ Map(8L -> "updated eight", 9000008L -> "inserted", 24L -> "kept")
    assert(got == want)

    // re-applying the same delta converges (upsert same rows, delete
    // already-gone ids) and prunes the base generation past grace
    graft.pipeline.CorpusStore.merge(spark, dir, up, del)
    assert(graft.pipeline.CorpusStore.live(spark, dir).endsWith("corpus_v2"))
    assert(!new java.io.File(dir, "corpus").exists(), "base generation should be pruned")
    val again = graft.pipeline.CorpusStore.read(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == want)
  }

  test("CorpusStore.mergedBuckets: corpus side joins against a broadcast change set") {
    val base = docs.select(col("doc_id"), col("text"))
    val up = Seq((1L, "x")).toDF("doc_id", "text")
    val del = Seq(2L).toDF("doc_id")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = graft.pipeline.CorpusStore.mergedBuckets(base, up, del)
        .queryExecution.executedPlan
      assert(p.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
      }.nonEmpty, s"change set should broadcast into the anti-join:\n$p")
      // the only permissible shuffle is the change-set distinct —
      // micro-batch-sized 8-byte ids; corpus rows (text) never shuffle
      p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.foreach { e =>
        assert(e.child.output.map(_.name) == Seq("doc_id"),
          s"a corpus-side shuffle leaked into the merge:\n$e")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("CorpusStore time travel: grace generation serves VERSION AS OF, pruned fails loud") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cstore_tt").toString
    val base = docs.select(col("doc_id"), col("text"))
    graft.pipeline.CorpusStore.write(base, dir, buckets = 4)
    assert(graft.pipeline.CorpusStore.generations(spark, dir).map(_._1) == Seq(0))

    val up = Seq((8L, "updated eight")).toDF("doc_id", "text")
    val del = Seq(16L).toDF("doc_id")
    graft.pipeline.CorpusStore.merge(spark, dir, up, del)
    assert(graft.pipeline.CorpusStore.generations(spark, dir).map(_._1) == Seq(0, 1))

    // asOf 0 reads the ORIGINAL corpus while live serves the merge
    val want0 = base.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got0 = graft.pipeline.CorpusStore.readAsOf(spark, dir, 0)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got0 == want0)
    // asOf live ≡ read()
    val live = graft.pipeline.CorpusStore.read(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got1 = graft.pipeline.CorpusStore.readAsOf(spark, dir, 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got1 == live && live != want0)

    // a second merge prunes generation 0 past the grace window
    graft.pipeline.CorpusStore.merge(spark, dir, up, del)
    assert(graft.pipeline.CorpusStore.generations(spark, dir).map(_._1) == Seq(1, 2))
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.CorpusStore.readAsOf(spark, dir, 0)
    }
    assert(e.getMessage.contains("GENERATION_PRUNED"))
  }

  test("CorpusStore.merge clears a torn uncommitted next generation before retrying") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cstore_torn").toString
    val base = docs.select(col("doc_id"), col("text"))
    graft.pipeline.CorpusStore.write(base, dir, buckets = 4)
    // simulate a crashed merge: partial files under corpus_v1, no _SUCCESS
    val torn = new java.io.File(dir, "corpus_v1/bucket=0")
    torn.mkdirs()
    val garbage = new java.io.File(torn, "part-stale-from-crash.parquet")
    java.nio.file.Files.copy(
      new java.io.File(dir, "corpus").listFiles()
        .filter(_.getName.startsWith("bucket="))
        .head.listFiles().filter(_.getName.endsWith(".parquet")).head.toPath,
      garbage.toPath)
    // the retried merge must not leak the stale part file into v1
    val up = Seq((8L, "updated eight")).toDF("doc_id", "text")
    val del = Seq(16L).toDF("doc_id")
    graft.pipeline.CorpusStore.merge(spark, dir, up, del)
    assert(!garbage.exists(), "torn-generation garbage survived the retry")
    val got = graft.pipeline.CorpusStore.read(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = base.collect().map(r => r.getLong(0) -> r.getString(1)).toMap -
      16L - 8L ++ Map(8L -> "updated eight")
    assert(got == want, "merged content corrupted by the torn generation")

    // the same crash input for every other generation-swapped store:
    // a stale part file under the uncommitted next generation, then a
    // compaction that purges one takedown (forcing a rewrite)
    def plantTorn(live: String, next: String): java.io.File = {
      val part = new java.io.File(live).listFiles()
        .filter(f => f.isDirectory && !f.getName.startsWith("_")).minBy(_.getName)
      val torn = new java.io.File(next, part.getName)
      torn.mkdirs()
      val stale = new java.io.File(torn, "part-stale-from-crash.parquet")
      java.nio.file.Files.copy(
        part.listFiles().filter(_.getName.endsWith(".parquet")).head.toPath, stale.toPath)
      stale
    }
    def rows(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Seq[String] =
      df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    def checkRetry(name: String, live: String, next: String, idCol: String,
                   cols: Seq[String])(delete: Long => Unit)(compact: => Unit): Unit = {
      val victim = spark.read.parquet(live).select(idCol).head().getLong(0)
      val want = rows(spark.read.parquet(live).filter(col(idCol) =!= victim), cols)
      delete(victim)
      val stale = plantTorn(live, next)
      compact
      assert(!stale.exists(), s"$name: torn garbage survived the retry")
      assert(rows(spark.read.parquet(next), cols) == want,
        s"$name: compacted generation corrupted by the torn generation")
    }
    val tmp = (p: String) => java.nio.file.Files.createTempDirectory(p).toString

    val ivf = tmp("graft_ivf_torn")
    graft.pipeline.Embeddings.writeIvfIndex(
      Engine.table(spark, sfDir, "embeddings"), ivf, nlist = 4)
    checkRetry("compactIvfIndex", s"$ivf/corpus", s"$ivf/corpus_v1", "vec_id",
      Seq("vec_id", "cell", "v", "nrm", "codes"))(
      id => graft.pipeline.Embeddings.deleteFromIvfIndex(spark, ivf, Seq(id)))(
      graft.pipeline.Embeddings.compactIvfIndex(spark, ivf))

    val band = tmp("graft_band_torn")
    graft.pipeline.TextDedup.writeBandIndex(base, band, buckets = 4)
    checkRetry("compactBandIndex", s"$band/bands", s"$band/bands_v1", "doc_id",
      Seq("doc_id", "key", "bucket"))(
      id => graft.pipeline.TextDedup.deleteFromBandIndex(Seq(id).toDF("doc_id"), band))(
      graft.pipeline.TextDedup.compactBandIndex(spark, band))

    val text = tmp("graft_text_torn")
    graft.pipeline.TextIndex.write(base, text, buckets = 4)
    checkRetry("TextIndex.compact", s"$text/postings", s"$text/postings_v1", "doc_id",
      Seq("term", "doc_id", "tf", "len", "bucket"))(
      id => graft.pipeline.TextIndex.delete(spark, text, Seq(id)))(
      graft.pipeline.TextIndex.compact(spark, text))
  }
}
