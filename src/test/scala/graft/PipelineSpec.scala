package graft

import graft.pipeline.{Embeddings, Multimodal, TextAnalysis, TextDedup}
import org.apache.spark.sql.functions.{col, expr, sqrt}
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite with SparkFixture {

  private lazy val docs = Engine.table(spark, sfDir, "documents").cache()
  private lazy val emb = Engine.table(spark, sfDir, "embeddings").cache()

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("exact dedup keeps one doc per distinct text") {
    val kept = TextDedup.exact(docs).count()
    val distinctTexts = docs.select("text").distinct().count()
    assert(kept == distinctTexts)
  }

  test("incremental dedup is exact even with a saturated bloom filter") {
    import org.apache.spark.sql.functions.{concat, lit}
    val incoming = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      .unionAll(docs.filter(col("doc_id") % 7 === 1)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" v2")).as("text")))
    val oracle = incoming.as("i")
      .join(docs.as("b"), col("i.text") === col("b.text"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(oracle.nonEmpty, "fixture must include genuinely-new docs")
    assert(oracle.size < incoming.count(), "fixture must include true duplicates")
    // An undersized, high-fpp sketch floods the verify path with false
    // positives — the exact anti-join must clear every one of them.
    val saturated = TextDedup.incrementalDedup(incoming, docs,
        expectedBaseDocs = 8, fpp = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(saturated == oracle)
    // Default sizing takes the fast path for most rows; same answer.
    val sized = TextDedup.incrementalDedup(incoming, docs)
      .collect().map(_.getLong(0)).toSet
    assert(sized == oracle)
  }

  test("minhash-LSH verified pairs equal the exact n-gram jaccard join") {
    val exact = pairSet(TextDedup.ngramJaccardPairs(docs, 3, 0.8))
    val lsh = pairSet(TextDedup.minhashLshPairs(docs, 3, 0.8))
    assert(exact.nonEmpty, "testdata should contain near-dup pairs")
    assert(lsh == exact)
  }

  test("containmentPairs equals brute force; sees the direction jaccard misses") {
    // brute-force directed oracle over the fixture corpus
    val shSets = docs
      .select(col("doc_id"), TextDedup.shingleHashes(col("text"), 3).as("sh"))
      .filter(org.apache.spark.sql.functions.size(col("sh")) > 0)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet)
    val want = (for {
      (ida, sa) <- shSets; (idb, sb) <- shSets if ida != idb
      co = (sa & sb).size if co * 10L >= 9L * sa.size
    } yield (ida, idb)).toSet
    val got = TextDedup.containmentPairs(docs, 3, 9, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)

    // a doc plus heavy boilerplate: containment flags A→B, jaccard and
    // the reverse direction both stay silent
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog near the river bank today"
    val wrapped = Seq((1L, a),
      (2L, a + " " + Seq.tabulate(60)(i => s"boiler token$i plate").mkString(" ")))
      .toDF("doc_id", "text")
    val dir = TextDedup.containmentPairs(wrapped, 3, 9, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dir == Set((1L, 2L)), s"expected only A-contained-in-B, got $dir")
    assert(pairSet(TextDedup.ngramJaccardPairs(wrapped, 3, 0.8)).isEmpty,
      "jaccard should not fire on a boilerplate-wrapped pair")
  }

  test("band index: incremental near-dup equals the exact cross-set jaccard join") {
    import org.apache.spark.sql.functions.{size => asize}
    val dir = java.nio.file.Files.createTempDirectory("graft_bandidx").toString
    val corpus = docs.filter(col("doc_id") % 4 =!= 0)
    val batch = docs.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 500000).as("doc_id"), col("text"))
    // built on half the corpus, appended the rest: build + append must
    // serve exactly like a fresh full build (pure function of corpus)
    TextDedup.writeBandIndex(corpus.filter(col("doc_id") % 2 === 1), dir)
    TextDedup.appendToBandIndex(corpus.filter(col("doc_id") % 2 === 0), dir)
    val got = TextDedup.nearDupsAgainstBandIndex(batch, dir, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // oracle: brute-force exact jaccard between batch and corpus
    // shingle sets (same semantics as ngramJaccardPairs' verifier)
    def sh(df: org.apache.spark.sql.DataFrame, a: String) = graft.Engine.fanOut(df)
      .select(col("doc_id").as(a),
        graft.functions.NativeExpressions.shingle_hashes(col("text"), 3).as(s"sh_$a"))
      .filter(asize(col(s"sh_$a")) > 0)
    val exact = sh(batch, "x").crossJoin(sh(corpus, "y"))
      .withColumn("co", graft.functions.NativeExpressions
        .sorted_intersect_size(col("sh_x"), col("sh_y")).cast("double"))
      .withColumn("j", col("co") / (asize(col("sh_x")) + asize(col("sh_y")) - col("co")))
      .filter(col("j") >= 0.8)
      .collect().map(r => (r.getAs[Long]("x"), r.getAs[Long]("y"), r.getAs[Double]("j"))).toSet
    assert(exact.nonEmpty, "fixture should contain cross-set near-dups")
    assert(got == exact)
  }

  test("band index compaction bounds per-bucket files; results and appends unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bandcpt").toString
    val corpus = docs.filter(col("doc_id") % 4 =!= 0)
    val batch = docs.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 500000).as("doc_id"), col("text"))
    // many tiny appends -> many files per bucket in both stores
    TextDedup.writeBandIndex(corpus.filter(col("doc_id") % 8 === 1), dir, buckets = 4)
    (0 until 8).filter(_ != 1).foreach { m =>
      TextDedup.appendToBandIndex(corpus.filter(col("doc_id") % 8 === m), dir)
    }
    def resultSet() = TextDedup.nearDupsAgainstBandIndex(batch, dir, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def bucketFiles(store: String): Map[String, Int] = {
      val root = new java.io.File(store)
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("bucket="))
        .map(d => d.getName ->
          d.listFiles().count(f => f.getName.endsWith(".parquet"))).toMap
    }
    val before = resultSet()
    assert(before.nonEmpty)
    assert(bucketFiles(s"$dir/bands").values.exists(_ > 2), "appends should fragment")
    val n1 = TextDedup.compactBandIndex(spark, dir, maxFilesPerBucket = 2)
    assert(n1 > 0)
    // compacted generation committed, bounded, and serves identically
    assert(new java.io.File(s"$dir/bands_v1/_SUCCESS").exists())
    assert(bucketFiles(s"$dir/bands_v1").values.forall(_ <= 2))
    assert(resultSet() == before)
    // appends after the swap follow the live generation and still serve
    TextDedup.appendToBandIndex(
      docs.filter(col("doc_id") % 4 === 2)
        .select((col("doc_id") + 900000).as("doc_id"), col("text")), dir)
    val probe = TextDedup.nearDupsAgainstBandIndex(
      docs.filter(col("doc_id") % 4 === 2).limit(5)
        .select((col("doc_id") + 950000).as("doc_id"), col("text")), dir, 0.8)
    assert(probe.filter(col("dup_of") >= 900000L).count() > 0)
    // second compaction prunes the grace generation's predecessor
    (0 until 4).foreach { m =>
      TextDedup.appendToBandIndex(corpus.filter(col("doc_id") % 8 === m)
        .select((col("doc_id") + 700000).as("doc_id"), col("text")), dir)
    }
    val n2 = TextDedup.compactBandIndex(spark, dir, maxFilesPerBucket = 2)
    assert(n2 > 0)
    assert(!new java.io.File(s"$dir/bands").exists(), "base store should be pruned")
    assert(new java.io.File(s"$dir/bands_v1").exists(), "grace copy should remain")
    // ops snapshot reflects per-store live generations and geometry:
    // every append's %8 slice maps to ONE shingle bucket (mod 8 fixes
    // mod 4) so shingles stay within bound at the first compaction —
    // bands (keys spread over all buckets) reach v2, shingles v1
    val stats = TextDedup.bandIndexStats(spark, dir).collect()
    assert(stats.map(_.getAs[String]("store")).toSet == Set("bands", "shingles"))
    val gens = stats.map(r => r.getAs[String]("store") -> r.getAs[Int]("generation"))
      .toMap
    assert(gens == Map("bands" -> 2, "shingles" -> 1), stats.mkString(","))
    assert(stats.forall(r => r.getAs[Long]("n_rows") > 0 &&
      r.getAs[Long]("bytes") > 0), "stats should be populated")
  }

  test("band index takedowns: tombstoned docs stop gating immediately; compaction purges") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bandtd").toString
    import spark.implicits._
    val corpus = docs.filter(col("doc_id") % 4 =!= 0)
    val batch = docs.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 500000).as("doc_id"), col("text"))
    TextDedup.writeBandIndex(corpus, dir, buckets = 4)
    val before = TextDedup.nearDupsAgainstBandIndex(batch, dir, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(before.nonEmpty)
    // take down every corpus doc the first batch hit -> those pairs
    // vanish immediately (tombstone anti-join), others survive
    val victims = before.map(_._2).take(3).toSeq
    TextDedup.deleteFromBandIndex(victims.toDF("doc_id"), dir)
    val after = TextDedup.nearDupsAgainstBandIndex(batch, dir, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before.filterNot(p => victims.contains(p._2)), s"$after")
    // compaction purges the bytes; results unchanged post-purge
    assert(TextDedup.compactBandIndex(spark, dir, maxFilesPerBucket = 64) > 0)
    val live = spark.read.parquet(s"$dir/shingles_v1")
    assert(live.filter(col("doc_id").isin(victims: _*)).count() == 0)
    val purged = TextDedup.nearDupsAgainstBandIndex(batch, dir, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(purged == after)
    // consumed tombstone files survive one grace cycle, then drop
    assert(new java.io.File(s"$dir/tombstones").listFiles()
      .exists(_.getName.endsWith(".parquet")))
    TextDedup.compactBandIndex(spark, dir, maxFilesPerBucket = 64)
    assert(!new java.io.File(s"$dir/tombstones").listFiles()
      .exists(_.getName.endsWith(".parquet")))
    assert(TextDedup.nearDupsAgainstBandIndex(batch, dir, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == after)
  }

  test("band index reconcile: repairs lost appends and orphans; never resurrects takedowns") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bandrec").toString
    val corpus = docs.filter(col("doc_id") % 4 =!= 0).select("doc_id", "text")
    val batch = docs.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 500000).as("doc_id"), col("text"))
    // index deliberately damaged: built WITHOUT a slice of the record
    // (the lost append) and WITH a doc the record no longer holds
    val phantom = Seq((999999L, "phantom document never in the record " * 6))
      .toDF("doc_id", "text")
    TextDedup.writeBandIndex(
      corpus.filter(col("doc_id") % 8 =!= 1).unionByName(phantom), dir)
    // plus a takedown whose doc REMAINS in the record: must stay down
    val victim = corpus.filter(col("doc_id") % 8 === 2)
      .select("doc_id").limit(1).collect().head.getLong(0)
    TextDedup.deleteFromBandIndex(Seq(victim).toDF("doc_id"), dir)
    val (appended, orphaned) = TextDedup.reconcileBandIndex(corpus, dir)
    assert(appended > 0, "lost slice should re-append")
    assert(orphaned == 1, s"phantom should orphan, got $orphaned")
    // repaired index serves exactly like a fresh build minus takedowns
    val fresh = java.nio.file.Files.createTempDirectory("graft_bandref").toString
    TextDedup.writeBandIndex(corpus, fresh)
    TextDedup.deleteFromBandIndex(Seq(victim).toDF("doc_id"), fresh)
    def pairs(d: String) = TextDedup.nearDupsAgainstBandIndex(batch, d, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(dir) == pairs(fresh))
    assert(!pairs(dir).exists(_._2 == victim), "takedown resurrected")
    assert(!pairs(dir).exists(_._2 == 999999L), "orphan still serving")
    // idempotent: a second pass finds nothing to repair
    assert(TextDedup.reconcileBandIndex(corpus, dir) == ((0L, 0L)))
  }

  test("simhash verified pairs equal the exact n-gram jaccard join") {
    val exact = pairSet(TextDedup.ngramJaccardPairs(docs, 3, 0.8))
    val sim = pairSet(TextDedup.simhashPairs(docs, 3, 0.8))
    assert(sim == exact)
  }

  test("jaccard values are in (0.8, 1.0]") {
    val js = TextDedup.ngramJaccardPairs(docs, 3, 0.8)
      .select("jaccard").collect().map(_.getDouble(0))
    assert(js.forall(j => j >= 0.8 && j <= 1.0))
  }

  test("ann LSH top-k recall vs brute force") {
    val bf = Embeddings.bruteForceTopK(emb, 10, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Embeddings.lshTopK(emb, 10, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & approx).size.toDouble / bf.size
    assert(recall >= 0.9, s"LSH recall $recall below 0.9 (got ${approx.size} pairs)")
  }

  test("ann IVF top-k recall vs brute force") {
    val bf = Embeddings.bruteForceTopK(emb, 10, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Embeddings.ivfTopK(emb, 10, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    // Weak-neighbor fixture regime (cos ~0.3, near-uniform over cells):
    // mean recall tracks the 10/16 scan fraction; the per-query floor
    // is pinned by the ann_ivf_recall oracle, clustered-pair retrieval
    // by dedup_embed_ivf's exact oracle.
    assert(recall >= 0.8, s"IVF recall $recall below 0.8 (got ${ivf.size} pairs)")
  }

  test("appendToIvfIndex: base build + appends equal a fresh build with the same frozen params") {
    val dirA = java.nio.file.Files.createTempDirectory("graft_ivf_append").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft_ivf_fullb").toString
    val base = emb.filter(col("vec_id") % 3 =!= 0)
    val restA = emb.filter(col("vec_id") % 3 === 0 && col("vec_id") % 2 === 0)
    val restB = emb.filter(col("vec_id") % 3 === 0 && col("vec_id") % 2 =!= 0)
    // incremental: build on base, append two batches against frozen params
    Embeddings.writeIvfIndex(base, dirA, nlist = 16)
    Embeddings.appendToIvfIndex(restA, dirA)
    Embeddings.appendToIvfIndex(restB, dirA)
    // fresh full build with the SAME parameters (trained on base)
    Embeddings.writeIvfIndex(emb, dirB, nlist = 16, trainOn = Some(base))
    // both read paths agree row-for-row — append is pure assignment
    val a = Embeddings.ivfTopKIndexed(spark, dirA, 10, 5).collect().toSeq
    val b = Embeddings.ivfTopKIndexed(spark, dirB, 10, 5).collect().toSeq
    assert(a == b && a.nonEmpty)
    val pa = Embeddings.ivfPqTopKIndexed(spark, dirA, 10, 5).collect().toSeq
    val pb = Embeddings.ivfPqTopKIndexed(spark, dirB, 10, 5).collect().toSeq
    assert(pa == pb && pa.nonEmpty)
    // appended rows really live in the index (not a rewrite artifact)
    val total = spark.read.parquet(s"$dirA/corpus").count()
    assert(total == emb.count(), s"index rows $total != corpus ${emb.count()}")
  }

  test("compactIvfIndex bounds per-cell file counts; both read paths unchanged") {
    val dirA = java.nio.file.Files.createTempDirectory("graft_ivf_compact").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft_ivf_cfresh").toString
    val base = emb.filter(col("vec_id") % 3 =!= 0)
    Embeddings.writeIvfIndex(base, dirA, nlist = 16)
    // four appended batches — at streaming cadence every one adds a
    // file per touched cell, the small-file growth compaction bounds
    (0 until 4).foreach { i =>
      Embeddings.appendToIvfIndex(
        emb.filter(col("vec_id") % 3 === 0 && col("vec_id") % 4 === i), dirA)
    }
    Embeddings.writeIvfIndex(emb, dirB, nlist = 16, trainOn = Some(base))
    val fs = new java.io.File(dirA)
    def cellFileCounts(corpus: String): Map[String, Int] =
      new java.io.File(corpus).listFiles().toSeq
        .filter(d => d.isDirectory && d.getName.startsWith("cell="))
        .map(d => d.getName ->
          d.listFiles().count(f => f.getName.endsWith(".parquet"))).toMap
    assert(cellFileCounts(s"$dirA/corpus").values.max > 2,
      "fixture never accumulated small files — compaction untested")
    // the ops snapshot sees the same append debt the filesystem does
    val statsBefore = Embeddings.ivfIndexStats(spark, dirA).collect()
      .map(r => r.getAs[Int]("cell") ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("n_files"),
          r.getAs[Long]("bytes"), r.getAs[Int]("generation")))).toMap
    assert(statsBefore.values.forall(_._4 == 0), "live generation should be 0 pre-compaction")
    assert(statsBefore.values.map(_._2).max > 2, "stats missed the small-file debt")
    assert(statsBefore.values.forall(v => v._3 > 0))
    statsBefore.foreach { case (cell, (nRows, nFiles, _, _)) =>
      assert(nFiles == cellFileCounts(s"$dirA/corpus")(s"cell=$cell").toLong, s"cell $cell")
      assert(nRows > 0)
    }
    val compacted = Embeddings.compactIvfIndex(spark, dirA, maxFilesPerCell = 2)
    assert(compacted > 0)
    // post-compaction: same rows, bounded files, bumped generation
    val statsAfter = Embeddings.ivfIndexStats(spark, dirA).collect()
      .map(r => r.getAs[Int]("cell") ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("n_files"),
          r.getAs[Long]("bytes"), r.getAs[Int]("generation")))).toMap
    assert(statsAfter.values.forall(_._4 == 1))
    assert(statsAfter.values.map(_._2).max <= 2)
    assert(statsAfter.keySet == statsBefore.keySet)
    assert(statsAfter.view.mapValues(_._1).toMap ==
      statsBefore.view.mapValues(_._1).toMap, "compaction changed row counts")
    // new live generation: committed (has _SUCCESS), bounded per cell
    val live = new java.io.File(s"$dirA/corpus_v1")
    assert(new java.io.File(live, "_SUCCESS").exists(), "generation not committed")
    assert(cellFileCounts(live.toString).values.max <= 2,
      s"cells still oversized: ${cellFileCounts(live.toString)}")
    // grace copy retained for readers that resolved the old generation
    assert(new java.io.File(s"$dirA/corpus").exists())
    // both read paths equal the fresh frozen-param build, row-for-row
    assert(Embeddings.ivfTopKIndexed(spark, dirA, 10, 5).collect().toSeq ==
      Embeddings.ivfTopKIndexed(spark, dirB, 10, 5).collect().toSeq)
    assert(Embeddings.ivfPqTopKIndexed(spark, dirA, 10, 5).collect().toSeq ==
      Embeddings.ivfPqTopKIndexed(spark, dirB, 10, 5).collect().toSeq)
    // appends keep flowing into the live generation; a second
    // compaction writes v2 and prunes the v0 base (grace moves to v1)
    Embeddings.appendToIvfIndex(
      emb.filter(col("vec_id") % 3 === 0).limit(0), dirA) // no-op append is fine
    val again = Embeddings.compactIvfIndex(spark, dirA, maxFilesPerCell = 2)
    assert(again == 0, "nothing oversized after compaction — must be a no-op")
    (0 until 4).foreach { i =>
      Embeddings.appendToIvfIndex(
        emb.filter(col("vec_id") % 3 === 0 && col("vec_id") % 4 === i), dirA)
    }
    assert(Embeddings.compactIvfIndex(spark, dirA, maxFilesPerCell = 2) > 0)
    assert(new java.io.File(s"$dirA/corpus_v2/_SUCCESS").exists())
    assert(!new java.io.File(s"$dirA/corpus").exists(), "v0 base not pruned")
    assert(new java.io.File(s"$dirA/corpus_v1").exists(), "grace copy pruned")
    assert(fs.exists())
  }

  test("bm25 equals the single-threaded textbook computation") {
    val terms = Seq("spark", "hash", "window")
    val (k1, b) = (1.2, 0.75)
    val texts = docs.select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val tokensOf = texts.map { case (id, t) =>
      id -> t.trim.toLowerCase.split("\\s+").toSeq }.toMap
    val n = tokensOf.size
    val avgdl = tokensOf.values.map(_.size.toLong).sum.toDouble / n
    val dfOf = terms.map(t => t -> tokensOf.values.count(_.contains(t))).toMap
    val want = tokensOf.toSeq.flatMap { case (id, toks) =>
      val contribs = terms.flatMap { t =>
        val tf = toks.count(_ == t)
        if (tf == 0) None
        else {
          val idf = math.log(1.0 + (n - dfOf(t) + 0.5) / (dfOf(t) + 0.5))
          Some(idf * tf * (k1 + 1) /
            (tf + k1 * (1.0 - b + b * toks.size / avgdl)))
        }
      }
      if (contribs.isEmpty) None
      else Some(id -> (contribs.sum, contribs.size.toLong))
    }.toMap
    val got = graft.pipeline.TextAnalysis.bm25(docs, terms, k1, b)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (id, (score, nt)) =>
      assert(nt == want(id)._2, s"doc $id n_terms")
      assert(math.abs(score - want(id)._1) < 1e-8, s"doc $id: $score vs ${want(id)._1}")
    }
    // length normalization actually normalizes: same tf in a longer
    // doc scores lower
    import spark.implicits._
    val pair = Seq((1L, "spark runs fast"),
      (2L, "spark runs fast " + Seq.fill(50)("pad").mkString(" "))).toDF("doc_id", "text")
    val s2 = graft.pipeline.TextAnalysis.bm25(pair, Seq("spark"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s2(1L) > s2(2L), s"longer doc should score lower: $s2")
  }

  test("lmScore groupCol: per-language scores equal the global model run on each language slice") {
    // Conditioning correctness: a grouped run over the mixed corpus
    // must agree EXACTLY (decimal-rounded nll terms) with running the
    // ungrouped model on each language's slice in isolation — i.e.
    // no count, vocabulary, or (N, V) leaks across groups.
    val langs = docs.select("lang").distinct().collect().map(_.getString(0)).toSeq
    assert(langs.size > 1, "fixture must be multilingual for this test to bite")
    val grouped = TextAnalysis.lmScore(docs, groupCol = Some("lang"))
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val sliced = langs.flatMap { l =>
      TextAnalysis.lmScore(docs.filter(col("lang") === l))
        .collect().map(r => (r.getLong(0), l) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
    }.toMap
    assert(grouped.nonEmpty && grouped == sliced)
    // and the conditioning moves scores: a minority-language doc's
    // within-group nll differs from its corpus-global nll
    val global = TextAnalysis.lmScore(docs)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(grouped.exists { case ((id, _), (_, _, avg)) => global(id) != avg },
      "per-language conditioning changed nothing — grouping is inert")
  }

  test("deleteFromIvfIndex: tombstoned vectors leave both read paths; compaction purges the bytes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_delete").toString
    Embeddings.writeIvfIndex(emb, dir, nlist = 16)
    val before = Embeddings.ivfTopKIndexed(spark, dir, 10, 5).collect().toSeq
    val beforePq = Embeddings.ivfPqTopKIndexed(spark, dir, 10, 5).collect().toSeq
    // delete two corpus-side neighbors that the pre-delete top-k cites,
    // and one query vector (ids < 10 are queries)
    val victimNeighbors = before.map(_.getLong(1)).filter(_ >= 10).distinct.take(2)
    val victims = victimNeighbors :+ 3L
    Embeddings.deleteFromIvfIndex(spark, dir, victims)
    // both read paths exclude the ids immediately — as neighbors AND queries
    val after = Embeddings.ivfTopKIndexed(spark, dir, 10, 5).collect().toSeq
    val afterPq = Embeddings.ivfPqTopKIndexed(spark, dir, 10, 5).collect().toSeq
    for (rows <- Seq(after, afterPq)) {
      assert(rows.nonEmpty)
      assert(!rows.exists(r => victims.contains(r.getLong(1))), "deleted id served as neighbor")
      assert(!rows.exists(r => r.getLong(0) == 3L), "deleted id served as query")
    }
    assert(after != before, "delete had no observable effect")
    // logical delete only: bytes still on disk, one tombstone file
    val rowsOnDisk = spark.read.parquet(s"$dir/corpus").count()
    assert(rowsOnDisk == emb.count())
    assert(new java.io.File(s"$dir/tombstones").listFiles()
      .count(_.getName.endsWith(".parquet")) == 1)
    // compaction purges: per-index row count drops by the victim count,
    // tombstones are consumed, results are unchanged vs pre-compaction
    assert(Embeddings.compactIvfIndex(spark, dir, maxFilesPerCell = 4) > 0)
    val stats = Embeddings.ivfIndexStats(spark, dir)
    val purgedRows = stats.agg(org.apache.spark.sql.functions.sum("n_rows"))
      .collect()(0).getLong(0)
    assert(purgedRows == emb.count() - victims.size, "compaction did not purge tombstoned rows")
    assert(stats.select("generation").distinct().collect().map(_.getInt(0)).toSeq == Seq(1))
    def tombFiles() = Option(new java.io.File(s"$dir/tombstones").listFiles())
      .map(_.filter(_.getName.endsWith(".parquet")).map(_.getName).toSet)
      .getOrElse(Set.empty[String])
    def purgedFiles() = Option(new java.io.File(s"$dir/purged").listFiles())
      .map(_.filter(_.getName.endsWith(".parquet")).map(_.getName).toSet)
      .getOrElse(Set.empty[String])
    // grace-deferred consumption: the consumed tombstone file is
    // COPIED into the purged ledger (so reconcile keeps seeing the
    // takedown) but stays on disk one more cycle for in-flight readers
    val consumed = tombFiles()
    assert(consumed.size == 1 && purgedFiles() == consumed,
      "consumed tombstone not ledgered with its original left for grace")
    assert(Embeddings.ivfTopKIndexed(spark, dir, 10, 5).collect().toSeq == after)
    assert(Embeddings.ivfPqTopKIndexed(spark, dir, 10, 5).collect().toSeq == afterPq)
    assert(beforePq.nonEmpty) // sanity: PQ path exercised pre-delete too
    // deleting an id with no live row: consumed without a rewrite; the
    // grace-expired file from the previous pass is finally dropped
    Embeddings.deleteFromIvfIndex(spark, dir, Seq(victims.head))
    assert(Embeddings.compactIvfIndex(spark, dir, maxFilesPerCell = 4) == 0)
    assert((tombFiles() & consumed).isEmpty, "grace-expired tombstone file not dropped")
    assert(tombFiles().size == 1 && tombFiles().subsetOf(purgedFiles()),
      "no-rewrite consumption must still ledger the tombstone")
    assert(Embeddings.ivfTopKIndexed(spark, dir, 10, 5).collect().toSeq == after)
    // the ledger keeps every takedown visible to reconciliation even
    // though compaction physically purged the rows and (eventually)
    // the tombstone files
    val remembered = Embeddings.ivfIndexIds(spark, dir, includeTombstoned = true)
      .collect().map(_.getLong(0)).toSet
    assert(victims.forall(remembered.contains),
      "purged takedowns missing from includeTombstoned id set")
  }

  test("reconcileIvfIndex repairs lost index appends and orphaned index rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_reconcile").toString
    val dirRef = java.nio.file.Files.createTempDirectory("graft_ivf_recref").toString
    val base = emb.filter(col("vec_id") % 3 =!= 0)
    val lostBatch = emb.filter(col("vec_id") % 3 === 0)
    Embeddings.writeIvfIndex(base, dir, nlist = 16)
    // crash window 1: corpus grew, index append was lost → the index
    // is missing lostBatch. Reconciling against the full corpus
    // appends exactly those rows...
    val (appended, orphaned) = Embeddings.reconcileIvfIndex(emb, dir)
    assert(appended == lostBatch.count() && orphaned == 0)
    // ...and the repaired index equals a fresh frozen-param build
    Embeddings.writeIvfIndex(emb, dirRef, nlist = 16, trainOn = Some(base))
    assert(Embeddings.ivfTopKIndexed(spark, dir, 10, 5).collect().toSeq ==
      Embeddings.ivfTopKIndexed(spark, dirRef, 10, 5).collect().toSeq)
    assert(Embeddings.ivfPqTopKIndexed(spark, dir, 10, 5).collect().toSeq ==
      Embeddings.ivfPqTopKIndexed(spark, dirRef, 10, 5).collect().toSeq)
    // a takedown whose doc still sits in the corpus of record STAYS
    // deleted: reconcile repairs drift, it does not overrule deletes —
    // the tombstoned id is not "missing", so the run is a no-op and
    // the read paths keep excluding it
    Embeddings.deleteFromIvfIndex(spark, dir, Seq(5L))
    assert(Embeddings.reconcileIvfIndex(emb, dir) == ((0L, 0L)),
      "reconcile resurrected a tombstoned id")
    assert(!Embeddings.ivfTopKIndexed(spark, dir, 10, 5).collect()
      .exists(r => r.getLong(0) == 5L || r.getLong(1) == 5L))
    // ...and STAYS deleted after compaction physically purges the rows
    // and consumes the tombstone: the purged-ids ledger keeps the
    // takedown visible to the "missing" diff, so the reconcile cadence
    // cannot re-embed it from the corpus of record (the round-10
    // takedown-resurrection bug — doc still in record, tombstone gone)
    assert(Embeddings.compactIvfIndex(spark, dir, maxFilesPerCell = 4) > 0)
    assert(Embeddings.reconcileIvfIndex(emb, dir) == ((0L, 0L)),
      "reconcile resurrected a PURGED takedown — the ledger failed")
    assert(!Embeddings.ivfTopKIndexed(spark, dir, 10, 5).collect()
      .exists(r => r.getLong(0) == 5L || r.getLong(1) == 5L))
    // crash window 2 (reverse order): index rows whose docs never
    // landed — reconcile against a corpus missing them tombstones the
    // orphans, and the read paths exclude them
    val shrunk = emb.filter(col("vec_id") % 5 =!= 1)
    val orphanIds = emb.filter(col("vec_id") % 5 === 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val (app2, orph2) = Embeddings.reconcileIvfIndex(shrunk, dir)
    assert(app2 == 0 && orph2 == orphanIds.size.toLong)
    val served = Embeddings.ivfTopKIndexed(spark, dir, 10, 5).collect()
    assert(served.nonEmpty &&
      !served.exists(r => orphanIds.contains(r.getLong(1)) || orphanIds.contains(r.getLong(0))))
    // idempotent: nothing left to repair
    assert(Embeddings.reconcileIvfIndex(shrunk, dir) == ((0L, 0L)))
  }

  test("ivfDriftStats: appends off the training distribution raise drift; deletes restore it") {
    import org.apache.spark.sql.functions.{lit, transform => atransform}
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_drift").toString
    Embeddings.writeIvfIndex(emb, dir, nlist = 16)
    def overall(): (Long, Double) = {
      val r = Embeddings.ivfDriftStats(spark, dir)
        .filter(col("cell") === -1).collect()(0)
      (r.getAs[Long]("n_rows"), r.getAs[Double]("mean_dist"))
    }
    val (n0, mean0) = overall()
    assert(n0 == emb.count())
    assert(mean0 > 0.0 && mean0 < 2.0)
    // per-cell rows cover every live cell, distances are valid cosines
    val cells = Embeddings.ivfDriftStats(spark, dir).filter(col("cell") >= 0).collect()
    assert(cells.map(_.getAs[Long]("n_rows")).sum == n0)
    assert(cells.forall { r =>
      val m = r.getAs[Double]("mean_dist"); m >= -1e-9 && m <= 2.0 &&
        r.getAs[Double]("max_dist") >= m - 1e-9
    })
    // appends from a DIFFERENT distribution (negated vectors — far
    // from every centroid trained on the originals): drift rises
    val drifted = emb.select((col("vec_id") + 10000).as("vec_id"),
      atransform(col("embedding"), x => -x).as("embedding"), col("label"))
    Embeddings.appendToIvfIndex(drifted, dir)
    val (n1, mean1) = overall()
    assert(n1 == 2 * n0)
    assert(mean1 > mean0, s"drifted appends did not raise mean dist ($mean0 -> $mean1)")
    // right-to-erasure on the drifted batch: stats exclude tombstoned
    // vectors immediately — the snapshot returns to the build state
    // (mean within float-reduction tolerance: the tombstone anti-join
    // changes partition-level aggregation order)
    Embeddings.deleteFromIvfIndex(drifted.select("vec_id"), dir)
    val (n2, mean2) = overall()
    assert(n2 == n0 && math.abs(mean2 - mean0) < 1e-9)
  }

  test("escape_cap OOD ladder: drifted queries recover recall through the escape re-probe") {
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64, transform => atransform}
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_ood").toString
    Embeddings.writeIvfIndex(emb, dir, nlist = 16)
    // deliberately shifted query distribution — the ANN_SCALE OOD
    // semantics (a new embedder version serving against an index
    // trained on the old distribution): components shrink 0.35× and
    // gain a fixed per-dimension offset, putting every query off the
    // quantizer's training manifold where nearest-centroid probe
    // order misleads. THIS pins the RUNBOOK's escape_cap operating
    // rule as executable evidence: the 0.220-recall-at-cap-0 cliff
    // (ANN_SCALE.md) must not silently regress under future
    // probe-order changes.
    val ood = emb.filter(col("vec_id") < 10).select(
      (col("vec_id") + 660000L).as("vec_id"),
      atransform(col("embedding"), (x, j) =>
        (x * 0.35 + ((pmod(xxhash64(j), lit(2001)) - lit(1000))
          .cast("double") / 2000.0)).cast("float")).as("embedding"))
    def idSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = idSet(Embeddings.bruteForceTopKFor(
      ood, emb.select("vec_id", "embedding"), 10))
    def recall(cap: Int): Double = {
      val got = idSet(Embeddings.ivfTopKIndexedFor(ood, dir, 10,
        nprobe = 1, adaptive = true, escapeCap = cap))
      (got & truth).size.toDouble / truth.size
    }
    val r0 = recall(0)
    val r4 = recall(4)
    val rUnbounded = recall(Int.MaxValue)
    // cap 0 = first pass only: drifted probe order must actually be
    // misled here, or the ladder measures nothing (a future centroid/
    // ordering change that makes this pass exact would silently turn
    // the RUNBOOK rule vacuous — surface it instead)
    assert(r0 < 0.9, s"cap 0 recall $r0 — the drifted batch no longer " +
      "stresses probe order; re-shift the OOD construction")
    // the operating rule: raising the cap recovers recall
    assert(r4 >= r0 + 0.2,
      s"escape_cap 4 must recover >= 0.2 recall over cap 0 (got $r0 -> $r4)")
    // unbounded adaptive re-probe is EXACT (the per-cell-radius bound)
    assert(rUnbounded == 1.0, s"unbounded escape must be exact, got $rUnbounded")
  }

  test("ivfTopKIndexedFor: external query vectors equal the self-query path modulo self-match") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_extq").toString
    Embeddings.writeIvfIndex(emb, dir, nlist = 16)
    // feed the SAME vectors as external queries: the serving path must
    // retrieve rank 1 = the vector itself (it IS in the corpus), and
    // ranks 2..k+1 = exactly what the self-query audit path ranks 1..k
    val external = emb.filter(col("vec_id") < 10).select("vec_id", "embedding", "label")
    val served = Embeddings.ivfTopKIndexedFor(external, dir, k = 6, nprobe = 5).collect()
    val self = served.filter(r => r.getLong(3) == 1L)
    assert(self.length == 10, "every external query must find itself first")
    assert(self.forall(r => r.getLong(0) == r.getLong(1) &&
      math.abs(r.getDouble(2) - 1.0) < 1e-9))
    val shifted = served.filter(_.getLong(3) > 1L)
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3) - 1)).toSeq
    val audit = Embeddings.ivfTopKIndexed(spark, dir, 10, 5, nprobe = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(shifted == audit)
    // truly external ids (not in the corpus id space) serve fine too
    import spark.implicits._
    val fresh = emb.filter(col("vec_id") < 3)
      .select((col("vec_id") + 777000).as("qid"), col("embedding"))
    val freshServed = Embeddings.ivfTopKIndexedFor(fresh, dir, k = 3, nprobe = 5)
      .collect()
    assert(freshServed.length == 9 &&
      freshServed.forall(r => r.getLong(0) >= 777000L && r.getLong(1) < 777000L))
    // the ADC serving tier agrees with the exact serving tier row for
    // row (the same refine-recovers-exact property ann_ivfpq_exact
    // pins for the self-query paths)
    val pqServed = Embeddings.ivfPqTopKIndexedFor(external, dir, k = 6, nprobe = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val exactServed = served
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(pqServed == exactServed)
  }

  test("adaptive re-probe: serving top-k is EXACT at the fixed serving nprobe") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_adapt").toString
    Embeddings.writeIvfIndex(emb, dir, nlist = 16)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = pairs(Embeddings.bruteForceTopK(emb, 10, 5))
    // fixture sanity: at nprobe 5/16 the fixed probe must actually
    // lose neighbors, or the escape is untested here
    val fixedR = (bf & pairs(Embeddings.ivfTopKIndexed(spark, dir, 10, 5,
      nprobe = 5))).size.toDouble / bf.size
    assert(fixedR < 1.0, s"fixed nprobe=5 already exact ($fixedR) — escape untestable")
    // serving path, same nprobe, adaptive: recall 1.0 — the bound
    // re-probes exactly the cells that could still hold a winner
    val external = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 777000).as("qid"), col("embedding"))
    val served = Embeddings.ivfTopKIndexedFor(external, dir, k = 6,
        nprobe = 5, adaptive = true).collect()
    assert(served.filter(_.getLong(3) == 1L).forall(r =>
      r.getLong(0) - 777000 == r.getLong(1)), "rank 1 must be the corpus twin")
    val servedTail = served.filter(_.getLong(3) > 1L)
      .map(r => (r.getLong(0) - 777000, r.getLong(1))).toSet
    val recall = (bf & servedTail).size.toDouble / bf.size
    assert(recall >= 0.999, s"adaptive serving recall $recall below 1.0")
    // the audit shape closes the same bound
    val adaptAudit = pairs(Embeddings.ivfTopKIndexed(spark, dir, 10, 5,
      nprobe = 5, adaptive = true))
    assert(adaptAudit == bf, "adaptive self-query top-k must equal brute force")
    // pre-cellstats layouts degrade to the fixed-nprobe result, no error
    val fsDir = new java.io.File(s"$dir/cellstats")
    fsDir.listFiles().foreach(_.delete()); fsDir.delete()
    val legacy = pairs(Embeddings.ivfTopKIndexed(spark, dir, 10, 5,
      nprobe = 5, adaptive = true))
    assert((bf & legacy).size.toDouble / bf.size == fixedR)
  }

  test("escapeCap: bounded re-probe — cap 0 is the fixed-nprobe result, uncapped is exact, recall monotone in the cap") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_cap").toString
    Embeddings.writeIvfIndex(emb, dir, nlist = 16)
    val external = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 555000).as("qid"), col("embedding"))
    def res(adaptive: Boolean, cap: Int): Seq[(Long, Long, Long, Double)] =
      Embeddings.ivfTopKIndexedFor(external, dir, k = 6, nprobe = 5,
          adaptive = adaptive, escapeCap = cap).collect()
        .map(r => (r.getLong(0), r.getLong(3), r.getLong(1), r.getDouble(2)))
        .toSeq.sorted
    val fixed = res(adaptive = false, Int.MaxValue)
    val exact = res(adaptive = true, Int.MaxValue)
    // fixture sanity: the escape must matter here or the cap is untested
    assert(exact != fixed, "fixture: nprobe=5/16 already exact — cap untestable")
    // cap 0 IS the fixed-nprobe result (no second pass at all)
    assert(res(adaptive = true, 0) == fixed)
    // the candidate set only grows with the cap, so each query's
    // kth-best cosine is monotone: fixed <= cap 1 <= uncapped
    def kth(rows: Seq[(Long, Long, Long, Double)]): Map[Long, Double] =
      rows.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._4).min }
    val cap1 = kth(res(adaptive = true, 1))
    val lo = kth(fixed); val hi = kth(exact)
    cap1.foreach { case (q, c) =>
      assert(c >= lo(q) - 1e-12 && c <= hi(q) + 1e-12,
        s"query $q: cap-1 kth-best $c outside [${lo(q)}, ${hi(q)}]")
    }
  }

  test("filtered ANN: allowedIds + adaptive equals brute force over the filtered corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_filt").toString
    Embeddings.writeIvfIndex(emb, dir, nlist = 16)
    val allowed = emb.filter(col("vec_id") % 3 === 0).select("vec_id")
    val external = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 888000).as("qid"), col("embedding"))
    val got = Embeddings.ivfTopKIndexedFor(external, dir, 5, nprobe = 5,
        adaptive = true, allowedIds = Some(allowed))
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(1))).toSet
    // brute force restricted to the allowed subset, same tie-break
    val allowedSet = allowed.collect().map(_.getLong(0)).toSet
    val vecs = emb.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = (0L until 10L).flatMap { q =>
      val qv = vecs(q)
      allowedSet.toSeq.map(n => (n, cos(qv, vecs(n))))
        .sortBy { case (n, c) => (-c, n) }.take(5).zipWithIndex
        .map { case ((n, _), i) => (q + 888000, (i + 1).toLong, n) }
    }.toSet
    assert(got == want)
    // the filter actually bit: some unfiltered winner is excluded
    val unfiltered = Embeddings.ivfTopKIndexedFor(external, dir, 5, nprobe = 5,
        adaptive = true)
      .collect().map(_.getLong(1)).toSet
    assert(unfiltered.exists(id => !allowedSet.contains(id)),
      "fixture too easy: unfiltered top-k already inside the allowed set")
  }

  test("rebuildIvfIndex: retrain + atomic generation swap; lifecycle ops follow the live root") {
    import org.apache.spark.sql.functions.{transform => atransform}
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_rebuild").toString
    val dirRef = java.nio.file.Files.createTempDirectory("graft_ivf_rbref").toString
    val negated = emb.select((col("vec_id") + 10000).as("vec_id"),
      atransform(col("embedding"), x => -x).as("embedding"), col("label"))
    val corpusOfRecord = emb.unionByName(negated)
    def overallMean(d: String): Double =
      Embeddings.ivfDriftStats(spark, d).filter(col("cell") === -1)
        .collect()(0).getAs[Double]("mean_dist")
    def totalRows(d: String): Long =
      Embeddings.ivfIndexStats(spark, d)
        .agg(org.apache.spark.sql.functions.sum("n_rows")).collect()(0).getLong(0)
    // old generation: trained on emb only, then the corpus grows a
    // second mode (negated vectors) the frozen quantizer fits badly,
    // and picks up a delete that must NOT survive the rebuild
    Embeddings.writeIvfIndex(emb, dir, nlist = 16)
    Embeddings.appendToIvfIndex(negated, dir)
    Embeddings.deleteFromIvfIndex(spark, dir, Seq(10003L))
    val meanOld = overallMean(dir)
    // rebuild from the corpus of record: retrained quantizer, new
    // self-contained generation, visible only after _INDEX_SUCCESS
    assert(Embeddings.rebuildIvfIndex(corpusOfRecord, dir, nlist = 16) == 1)
    assert(new java.io.File(s"$dir/gen_v1/_INDEX_SUCCESS").exists())
    assert(new java.io.File(s"$dir/corpus").exists(), "grace copy pruned too early")
    // retraining on both modes fits them: drift drops
    val meanNew = overallMean(dir)
    assert(meanNew < meanOld, s"rebuild did not reduce drift ($meanOld -> $meanNew)")
    // the swapped index IS a fresh full build (same training input)
    Embeddings.writeIvfIndex(corpusOfRecord, dirRef, nlist = 16)
    assert(Embeddings.ivfTopKIndexed(spark, dir, 10, 5).collect().toSeq ==
      Embeddings.ivfTopKIndexed(spark, dirRef, 10, 5).collect().toSeq)
    assert(Embeddings.ivfPqTopKIndexed(spark, dir, 10, 5).collect().toSeq ==
      Embeddings.ivfPqTopKIndexed(spark, dirRef, 10, 5).collect().toSeq)
    // the old generation's tombstone did not carry over — the corpus
    // of record is authoritative and still holds 10003
    assert(totalRows(dir) == corpusOfRecord.count())
    // post-swap lifecycle ops follow the live root: appends land in
    // gen_v1, deletes tombstone there, compaction purges there
    val batch = emb.select((col("vec_id") + 30000).as("vec_id"),
      col("embedding"), col("label"))
    Embeddings.appendToIvfIndex(batch, dir)
    assert(totalRows(dir) == corpusOfRecord.count() + batch.count())
    Embeddings.deleteFromIvfIndex(spark, dir, Seq(30007L))
    assert(new java.io.File(s"$dir/gen_v1/tombstones").exists(),
      "delete did not resolve the live root")
    assert(Embeddings.compactIvfIndex(spark, dir, maxFilesPerCell = 2) > 0)
    assert(totalRows(dir) == corpusOfRecord.count() + batch.count() - 1)
    // second rebuild: base layout pruned (grace moves to gen_v1)
    assert(Embeddings.rebuildIvfIndex(corpusOfRecord, dir, nlist = 16) == 2)
    assert(!new java.io.File(s"$dir/corpus").exists(), "base corpus not pruned")
    assert(!new java.io.File(s"$dir/centroids").exists(), "base centroids not pruned")
    assert(new java.io.File(s"$dir/gen_v1").exists(), "grace generation pruned")
    assert(totalRows(dir) == corpusOfRecord.count())
    assert(Embeddings.ivfTopKIndexed(spark, dir, 10, 5).collect().nonEmpty)
  }

  test("writeIvfIndex over a compacted or rebuilt index serves exactly a fresh build") {
    // a base build is authoritative: neither the old build's committed
    // corpus_v<N>, nor its tombstones, nor a rebuild's gen_v<G> may
    // outlive it ([[Stores.reset]])
    val a = emb.filter(col("vec_id") % 2 === 0)
    val b = emb.filter(col("vec_id") % 3 =!= 0)
    def stats(d: String) = Embeddings.ivfIndexStats(spark, d).collect().toSeq
    def ids(d: String) =
      Embeddings.ivfIndexIds(spark, d).collect().map(_.getLong(0)).toSet
    val ref = java.nio.file.Files.createTempDirectory("graft_ivf_resetref").toString
    Embeddings.writeIvfIndex(b, ref, nlist = 8)
    for (rebuild <- Seq(false, true)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_ivf_reset").toString
      Embeddings.writeIvfIndex(a, dir, nlist = 8)
      // ids in both builds: deleted from A, purged (corpus_v1), and one
      // more left pending
      Embeddings.deleteFromIvfIndex(spark, dir, Seq(2L, 4L, 8L))
      assert(Embeddings.compactIvfIndex(spark, dir) > 0)
      if (rebuild) assert(Embeddings.rebuildIvfIndex(a, dir, nlist = 8) == 1)
      Embeddings.deleteFromIvfIndex(spark, dir, Seq(10L))
      Embeddings.writeIvfIndex(b, dir, nlist = 8)
      assert(Embeddings.ivfTopKIndexed(spark, dir, 10, 5).collect().toSeq ==
        Embeddings.ivfTopKIndexed(spark, ref, 10, 5).collect().toSeq, s"rebuild=$rebuild")
      assert(ids(dir) == ids(ref), s"rebuild=$rebuild")
      assert(stats(dir) == stats(ref), s"rebuild=$rebuild")
    }
  }

  test("index lifecycle state machine: random op interleavings track the model's live set") {
    // The round-10 review bugs (reconcile resurrecting tombstones,
    // compaction consuming a racing delete) were INTERACTION bugs
    // between individually-correct lifecycle ops. This drives random
    // interleavings of the whole op vocabulary against an in-memory
    // model of (corpus of record, live index ids) and checks the
    // index's visible id set after every step.
    import org.apache.spark.sql.functions.{transform => atransform}
    val rng = new scala.util.Random(20260813L)
    val dims = emb // id source: reuse fixture vectors, remapped ids
    def vecs(ids: Seq[Long]): org.apache.spark.sql.DataFrame = {
      import spark.implicits._
      val remap = ids.map(i => i -> (i % 500)).toDF("vec_id", "src")
      dims.select(col("vec_id").as("src"), col("embedding"), col("label"))
        .join(remap, "src")
        .select(col("vec_id"),
          // perturb by id so remapped copies aren't byte-identical
          atransform(col("embedding"),
            x => x + (col("vec_id") % 7).cast("float") / 1000f).as("embedding"),
          col("label"))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_sm").toString
    var nextId = 1000L
    var corpusOfRecord = Set.empty[Long] // what reconcile treats as truth
    var live = Set.empty[Long]           // ids queries must see
    // bootstrap
    val base = (0 until 40).map(_ => { val i = nextId; nextId += 1; i })
    Embeddings.writeIvfIndex(vecs(base), dir, nlist = 8, pqM = 4, pqK = 8)
    corpusOfRecord ++= base; live ++= base
    def observed(): Set[Long] =
      Embeddings.ivfIndexIds(spark, dir).collect().map(_.getLong(0)).toSet
    val ops = Seq("append", "delete", "compact", "reconcile", "rebuild")
    var history = List.empty[String]
    for (step <- 0 until 14) {
      val op = ops(rng.nextInt(ops.length)) match {
        // delete needs a live id; degrade to append when none
        case "delete" if live.isEmpty => "append"
        case o => o
      }
      history ::= op
      op match {
        case "append" =>
          val batch = (0 until 1 + rng.nextInt(6)).map(_ => { val i = nextId; nextId += 1; i })
          Embeddings.appendToIvfIndex(vecs(batch), dir)
          corpusOfRecord ++= batch; live ++= batch
        case "delete" =>
          val victims = rng.shuffle(live.toSeq).take(1 + rng.nextInt(3))
          Embeddings.deleteFromIvfIndex(spark, dir, victims)
          // Half the deletes are ERASURES (the doc also leaves the
          // corpus of record), half are TAKEDOWNS (the doc stays in
          // the record). A takedown must stay deleted through any
          // compact/reconcile interleaving — the purged-ids ledger is
          // what keeps reconcile from re-appending it once compaction
          // consumes the tombstone (the round-10 resurrection bug was
          // masked here by always erasing).
          if (rng.nextBoolean()) corpusOfRecord --= victims
          live --= victims
        case "compact" =>
          Embeddings.compactIvfIndex(spark, dir, maxFilesPerCell = 2); ()
        case "reconcile" =>
          val (app, orph) = Embeddings.reconcileIvfIndex(vecs(corpusOfRecord.toSeq), dir)
          // the model and index already agree outside crash windows
          assert(app == 0 && orph == 0,
            s"reconcile repaired ($app, $orph) on an undamaged index after ${history.reverse}")
        case "rebuild" =>
          Embeddings.rebuildIvfIndex(vecs(corpusOfRecord.toSeq), dir,
            nlist = 8, pqM = 4, pqK = 8)
          // rebuild derives from the corpus of record — tombstones of
          // ids REMOVED from the record must not resurrect
          live = corpusOfRecord
      }
      assert(observed() == live,
        s"after ${history.reverse.mkString("->")}: index ${observed().size} ids, model ${live.size}")
    }
    // end-to-end: the read path serves exactly the model's live set
    val served = Embeddings.ivfTopKIndexedFor(
        vecs(live.toSeq.sorted.take(5)).select("vec_id", "embedding"), dir, k = 3, nprobe = 8)
      .collect()
    assert(served.nonEmpty &&
      served.forall(r => live.contains(r.getLong(1))),
      "read path served an id outside the model's live set")
  }

  /** One index family's takedown lifecycle as the reconcile contract
    * drives it ([[graft.pipeline.Stores.Ledger.reconcile]]): `record`
    * is the corpus of record, keyed by `key`. */
  private case class LedgerFamily(name: String, key: String,
                                  record: () => org.apache.spark.sql.DataFrame,
                                  build: (org.apache.spark.sql.DataFrame, String) => Unit,
                                  delete: (Long, String) => Unit,
                                  compact: String => Int,
                                  reconcile: (org.apache.spark.sql.DataFrame, String) => (Long, Long),
                                  liveIds: String => org.apache.spark.sql.DataFrame)

  /** Hash-derived 8-dimension vectors of (doc_id, text) rows — an
    * embedder for the ingest's reconcile, which embeds only the missing
    * docs. */
  private def hashEmbed(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{array, lit, pmod, xxhash64}
    df.select(col("doc_id").as("vec_id"),
      array((0 until 8).map(i =>
        (pmod(xxhash64(col("text"), lit(i)), lit(1000L)).cast("double") / 500.0) - 1.0): _*)
        .as("embedding"))
  }

  private val ledgerFamilies = Seq(
    LedgerFamily("text index", "doc_id", () => docs.select("doc_id", "text"),
      (d, dir) => graft.pipeline.TextIndex.write(d, dir, buckets = 4),
      (id, dir) => graft.pipeline.TextIndex.delete(spark, dir, Seq(id)),
      dir => graft.pipeline.TextIndex.compact(spark, dir, maxFilesPerBucket = 64),
      (r, dir) => graft.pipeline.TextIndex.reconcile(r, dir),
      dir => graft.pipeline.TextIndex.ids(spark, dir)),
    LedgerFamily("band index", "doc_id", () => docs.select("doc_id", "text"),
      (d, dir) => TextDedup.writeBandIndex(d, dir, buckets = 4),
      (id, dir) => TextDedup.deleteFromBandIndex(spark.range(id, id + 1).toDF("doc_id"), dir),
      dir => TextDedup.compactBandIndex(spark, dir, maxFilesPerBucket = 64),
      (r, dir) => TextDedup.reconcileBandIndex(r, dir),
      dir => TextDedup.bandIndexIds(spark, dir)),
    LedgerFamily("IVF index", "vec_id", () => emb,
      (d, dir) => Embeddings.writeIvfIndex(d, dir, nlist = 4, pqM = 4, pqK = 8),
      (id, dir) => Embeddings.deleteFromIvfIndex(spark, dir, Seq(id)),
      dir => Embeddings.compactIvfIndex(spark, dir),
      (r, dir) => Embeddings.reconcileIvfIndex(r, dir),
      dir => Embeddings.ivfIndexIds(spark, dir)),
    // the reconcile the ingest's reconcileIndexEvery cadence runs: the
    // record is (doc_id, text) and only the missing docs are embedded
    LedgerFamily("ingest IVF cadence", "doc_id", () => docs.select("doc_id", "text"),
      (d, dir) => Embeddings.writeIvfIndex(hashEmbed(d), dir, nlist = 4, pqM = 4, pqK = 4),
      (id, dir) => Embeddings.deleteFromIvfIndex(spark, dir, Seq(id)),
      dir => Embeddings.compactIvfIndex(spark, dir),
      (r, dir) => Embeddings.reconcileIvf(r, "doc_id", dir)(hashEmbed),
      dir => Embeddings.ivfIndexIds(spark, dir)))

  ledgerFamilies.foreach { f =>
    test(s"reconcile contract, ${f.name}: lost appends re-added, phantoms orphaned, takedowns stay down") {
      import org.apache.spark.sql.functions.lit
      def idSet(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getLong(0)).toSet
      val dir = java.nio.file.Files.createTempDirectory("graft_reconcile").toString
      val record = f.record().filter(col(f.key) < 80).cache()
      // the damaged index: built without the lost slice, with a phantom
      // whose doc the record does not hold
      val lost = idSet(record.filter(col(f.key) % 5 === 1).select(f.key))
      val phantom = record.filter(col(f.key) === 0).withColumn(f.key, lit(999999L))
      f.build(record.filter(col(f.key) % 5 =!= 1).unionByName(phantom), dir)
      // two takedowns whose docs stay in the record: one purged by a
      // compaction, one pending
      val (purged, pending) = (3L, 2L)
      f.delete(purged, dir)
      assert(f.compact(dir) > 0, "the compaction purged nothing")
      f.delete(pending, dir)
      assert(f.reconcile(record, dir) == ((lost.size.toLong, 1L)))
      val live = idSet(f.liveIds(dir))
      assert(lost.subsetOf(live), "a lost append was not re-added")
      assert(!live(999999L), "the phantom was not orphaned")
      assert(!live(pending), "a pending takedown was re-indexed")
      assert(!live(purged), "a purged takedown was re-indexed")
      assert(live == idSet(record.select(f.key)) - pending - purged)
      assert(f.reconcile(record, dir) == ((0L, 0L)), "the second pass repaired again")
    }
  }

  test("quantizer training fails loud on an empty training frame") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_empty").toString
    val e = intercept[IllegalArgumentException] {
      Embeddings.writeIvfIndex(emb.filter(col("vec_id") < 0), dir, nlist = 4)
    }
    // the alternative — a silent all-zero quantizer — assigns every
    // vector to cell 0: an index that scans the corpus per probe
    assert(e.getMessage.contains("zero vectors"), e.getMessage)
  }

  test("degenerate geometry: zero vectors and empty-cell centroids never poison the index") {
    // The shape that crashed streaming IVF maintenance under ANSI mode:
    // nlist > corpus size leaves empty cells whose centroids stay the
    // zero vector; an appended vector with all-negative dots to the
    // real centroids lands in a zero-centroid cell (dot 0 wins), and a
    // zero-norm embedding can arrive from any embedder. Both used to
    // DIVIDE_BY_ZERO in cellRadii; now they pin radius pi (cell always
    // re-probed) and cosine -1 (similar to nothing).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_degen").toString
    val base = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    Embeddings.writeIvfIndex(base, dir, nlist = 4, pqM = 4, pqK = 2)
    // vec 3: dot < 0 vs both trained centroids -> assigned to a
    // zero-centroid cell. vec 4: the zero vector itself.
    val batch = Seq(
      (3L, Seq(-1.0, -1.0, 0.0, 0.0)),
      (4L, Seq(0.0, 0.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    Embeddings.appendToIvfIndex(batch, dir) // crashed before the guard
    // degenerate cells carry the conservative pi radius
    val rads = spark.read.parquet(s"$dir/cellstats")
      .groupBy("cell").agg(org.apache.spark.sql.functions.max("radius").as("r"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(rads.values.exists(_ > 3.0), s"expected a pi radius in $rads")
    // adaptive serving stays EXACT: the fixed probe misses vec 3's
    // zero-centroid cell, the pi radius forces the re-probe escape
    val q = Seq((100L, Seq(-1.0, 0.0, 0.0, 0.0))).toDF("id", "embedding")
    val hit = Embeddings.ivfTopKIndexedFor(q, dir, k = 1, nprobe = 1,
      adaptive = true).collect()
    assert(hit.length == 1 && hit.head.getAs[Long]("neighbor_id") == 3L,
      hit.mkString(","))
    // the zero vector scores -1 everywhere: ranked strictly last
    val all = Embeddings.ivfTopKIndexedFor(q, dir, k = 4, nprobe = 4,
      adaptive = true).collect()
    val zeroRow = all.find(_.getAs[Long]("neighbor_id") == 4L)
    assert(zeroRow.forall(r => r.getAs[Double]("cos") == -1.0 &&
      r.getAs[Long]("rank") == all.length), all.mkString(","))
  }

  test("IVF training is deterministic across invocations") {
    val v = Embeddings.ivfTopK(emb, 10, 5).collect().toSeq
    val again = Embeddings.ivfTopK(emb, 10, 5).collect().toSeq
    assert(v == again)
  }

  test("embedding near-dup IVF pairs equal the exact threshold join at 0.45") {
    val v = emb.select(col("vec_id"),
      org.apache.spark.sql.functions.transform(col("embedding"), x => x.cast("double")).as("v"))
    val exact = v.as("a").join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        (graft.functions.NativeExpressions.dot_product(col("a.v"), col("b.v")) /
          (sqrt(graft.functions.NativeExpressions.dot_product(col("a.v"), col("a.v"))) *
            sqrt(graft.functions.NativeExpressions.dot_product(col("b.v"), col("b.v"))))).as("cos"))
      .filter(col("cos") >= 0.45)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Embeddings.ivfNearDupPairs(emb, 0.45)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(ivf == exact)
  }

  test("embedding near-dup LSH pairs equal the exact threshold join") {
    val v = emb.select(col("vec_id"),
      org.apache.spark.sql.functions.transform(col("embedding"), x => x.cast("double")).as("v"))
    val exact = v.as("a").join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        (graft.functions.NativeExpressions.dot_product(col("a.v"), col("b.v")) /
          (sqrt(graft.functions.NativeExpressions.dot_product(col("a.v"), col("a.v"))) *
            sqrt(graft.functions.NativeExpressions.dot_product(col("b.v"), col("b.v"))))).as("cos"))
      .filter(col("cos") >= 0.4)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Embeddings.nearDupPairs(emb, 0.4)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(lsh == exact)
  }

  test("semanticDecontaminate equals the exact cross-set cosine filter") {
    val train = emb.filter(col("vec_id") % 10 =!= 0)
    val evalSet = emb.filter(col("vec_id") % 10 === 0)
    val got = Embeddings.semanticDecontaminate(train, evalSet, 0.45)
      .collect().map(_.getLong(0)).toSet
    // exact reference: brute-force cross cosine (fixture-sized only)
    def norms(df: org.apache.spark.sql.DataFrame, p: String) = df
      .select(col("vec_id").as(s"${p}_id"),
        expr("transform(embedding, x -> cast(x as double))").as(s"v$p"))
      .withColumn(s"${p}_nrm",
        sqrt(expr(s"aggregate(transform(v$p, x -> x * x), 0d, (acc, x) -> acc + x)")))
    val a = norms(train, "a")
    val b = norms(evalSet, "b")
    val contaminated = a.crossJoin(b)
      .filter(expr("aggregate(zip_with(va, vb, (x, y) -> x * y), 0d, (acc, x) -> acc + x)") /
        (col("a_nrm") * col("b_nrm")) >= 0.45)
      .select("a_id").collect().map(_.getLong(0)).toSet
    val want = train.select("vec_id").collect().map(_.getLong(0)).toSet -- contaminated
    assert(got == want)
    assert(contaminated.nonEmpty, "fixture has no cross-set near-dups — gate is vacuous")
  }

  test("nearDupClusters is identical under reliable checkpointing") {
    val small = docs.filter(col("doc_id") < 200)
    val base = TextDedup.nearDupClusters(small, 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val ck = TextDedup.nearDupClusters(small, 3, 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(ck == base)
      // the reliable path actually wrote checkpoint data
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "no checkpoint files written")
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("dedup_embed plans as an equi-join, not a nested loop") {
    withoutAqe { // AQE hides children until execution; plan shape is the same
      val plan = Embeddings.nearDupPairs(emb, 0.4).queryExecution.executedPlan
      val bnl = plan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
      }
      assert(bnl.isEmpty, s"BroadcastNestedLoopJoin in plan:\n$plan")
    }
  }

  test("dedup_exact shuffles fingerprints only — no text below the exchange") {
    withoutAqe {
      val plan = TextDedup.exact(docs).queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty)
      exchanges.foreach { e =>
        val names = e.output.map(_.name)
        assert(!names.exists(_.contains("text")), s"exchange carries $names")
      }
    }
  }

  private def withoutAqe[A](f: => A): A = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("brute-force top-k is k rows per query, ranked by cosine") {
    val rows = Embeddings.bruteForceTopK(emb, 10, 5).collect()
    assert(rows.length == 50)
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      val cs = g.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("fingerprint is deterministic and mostly distinct") {
    val fp1 = TextAnalysis.fingerprint(docs).collect().map(r => (r.getLong(0), r.getLong(1)))
    val fp2 = TextAnalysis.fingerprint(docs).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(fp1.sameElements(fp2))
    assert(fp1.map(_._2).distinct.length >= fp1.length - 5)
  }

  test("multimodal decode stub: geometry matches metadata arithmetic") {
    val media = Multimodal.asMediaTable(docs)
    val decoded = Multimodal.decodeStub(media)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getDouble(4)))).toMap
    val meta = Multimodal.mediaMeta(docs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(decoded.keySet == meta.keySet)
    meta.foreach { case (id, (w, h)) =>
      val (dw, dh, ch, mean) = decoded(id)
      assert(dw.toLong == w && dh.toLong == h && ch == 3)
      assert(mean > 0 && mean < 256)
    }
  }

  test("windowEnergy computes per-window RMS over the real payload bytes") {
    import spark.implicits._
    val text = "abcdefgh" * 16 // 128 bytes -> windows at 0, 32, 64 (win=64, hop=32)
    val docs = Seq((7L, text, "en", "src", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val media = graft.pipeline.Multimodal.asMediaTable(docs)
    val rows = graft.pipeline.Multimodal.windowEnergy(media)
      .orderBy("doc_id", "window_idx").collect()
    assert(rows.length == 3)
    val bytes = text.getBytes("UTF-8")
    rows.foreach { r =>
      val off = r.getLong(1).toInt * 32
      val expected = math.sqrt(
        bytes.slice(off, off + 64).map(b => { val v = (b & 0xff).toDouble; v * v }).sum / 64)
      assert(r.getDouble(2) == expected, s"window ${r.getLong(1)}")
    }
    // geometry agrees with the metadata-driven plan, row for row
    val geo = graft.pipeline.Multimodal.audioWindows(docs).collect()
    assert(geo.map(g => (g.getLong(0), g.getLong(1))).toSeq ==
      rows.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("text index lifecycle: build+append ≡ corpus scan; delete, compact, exact stats") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tidx_spec").toString
    val d2 = docs.select(col("doc_id"), col("text"))
    val terms = Seq("spark", "hash", "window")
    graft.pipeline.TextIndex.write(d2.filter(col("doc_id") % 2 === 0), dir, buckets = 16)
    graft.pipeline.TextIndex.append(d2.filter(col("doc_id") % 2 === 1), dir)
    // build + append serves exactly the corpus-scan BM25 cut
    def viaIndex() = graft.pipeline.TextIndex.search(spark, dir, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaScan = TextAnalysis.bm25(d2, terms)
      .orderBy(col("score").desc, col("doc_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIndex() == viaScan)
    // stats deltas sum to the corpus truth
    val (n, total) = graft.pipeline.TextIndex.stats(spark, dir)
    assert(n == d2.count())
    assert(total == d2.select(org.apache.spark.sql.functions.size(
      TextAnalysis.tokens(col("text"))).cast("long")).as[Long].collect().sum)

    // takedown: the top doc leaves results immediately, bytes at compact
    val victim = viaScan.head._1
    graft.pipeline.TextIndex.delete(spark, dir, Seq(victim))
    val afterDelete = viaIndex()
    assert(!afterDelete.exists(_._1 == victim))
    // tombstone fold: (N, avgdl) track the takedown IMMEDIATELY —
    // pre-compact stats and scores equal a rebuild over the survivors
    val survivorScanPre = TextAnalysis.bm25(
        d2.filter(col("doc_id") =!= victim), terms)
      .orderBy(col("score").desc, col("doc_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(afterDelete == survivorScanPre,
      "post-delete pre-compact scores must use the decremented (N, avgdl)")
    val (nPre, totalPre) = graft.pipeline.TextIndex.stats(spark, dir)
    assert(nPre == n - 1, s"pre-compact stats fold: $nPre vs ${n - 1}")
    val victimLen = d2.filter(col("doc_id") === victim)
      .select(org.apache.spark.sql.functions.size(
        TextAnalysis.tokens(col("text"))).cast("long")).as[Long].head()
    assert(totalPre == total - victimLen)
    val rewritten = graft.pipeline.TextIndex.compact(spark, dir, maxFilesPerBucket = 64)
    assert(rewritten >= 1, "compaction should rewrite the victim's buckets")
    // bytes gone from the live generation; stats snap to exact survivors
    val (n2, _) = graft.pipeline.TextIndex.stats(spark, dir)
    assert(n2 == n - 1, s"stats after purge: $n2 vs ${n - 1}")
    assert(!viaIndex().exists(_._1 == victim))
    // post-compaction the index serves EXACTLY like a corpus scan over
    // the survivors — the grace-deferred tombstone files still on disk
    // must not double-subtract against the purged generation
    assert(viaIndex() == survivorScanPre)
  }

  test("text index tombstone fold: random delete batches track a survivor rebuild") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tidx_fold").toString
    val d2 = docs.select(col("doc_id"), col("text"))
    val terms = Seq("spark", "data", "window")
    graft.pipeline.TextIndex.write(d2, dir, buckets = 16)
    val allIds = d2.select("doc_id").as[Long].collect().toSeq.sorted
    val rng = new scala.util.Random(42)
    var gone = Set.empty[Long]
    // three delete batches: fresh ids, a repeat takedown (idempotent),
    // and ids that were never indexed (must not perturb the fold)
    val first = rng.shuffle(allIds).take(20)
    val batches = Seq(
      first,
      rng.shuffle(allIds).take(10) ++ first.take(3),
      Seq(-1L, 999999999L) ++ rng.shuffle(allIds).take(5))
    batches.foreach { batch =>
      graft.pipeline.TextIndex.delete(spark, dir, batch)
      gone ++= batch.filter(allIds.contains)
      val (n, total) = graft.pipeline.TextIndex.stats(spark, dir)
      val survivors = d2.filter(!col("doc_id").isin(gone.toSeq: _*))
      assert(n == survivors.count(), s"N after ${gone.size} takedowns")
      val expectedTotal = survivors
        .select(org.apache.spark.sql.functions.size(
          TextAnalysis.tokens(col("text"))).cast("long")).as[Long]
        .collect().sum
      assert(total == expectedTotal, "total_len must track survivors")
      val viaIndex = graft.pipeline.TextIndex.search(spark, dir, terms, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val viaScan = TextAnalysis.bm25(survivors, terms)
        .orderBy(col("score").desc, col("doc_id")).limit(10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(viaIndex == viaScan, s"scores diverged after ${gone.size} takedowns")
    }
  }

  test("searchMany: batch ≡ per-query search; missing-term query yields nothing") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tidx_many").toString
    val d2 = docs.select(col("doc_id"), col("text"))
    graft.pipeline.TextIndex.write(d2, dir, buckets = 16)
    val batch = Seq(
      (1L, Seq("spark", "join")),
      (2L, Seq("window", "hash", "scan")),
      (3L, Seq("zzz_absent_term"))
    ).toDF("query_id", "terms")
    val got = graft.pipeline.TextIndex.searchMany(spark, dir, batch, 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._1)
    assert(!got.contains(3L), "a query whose terms miss the index must yield no rows")
    for ((qid, terms) <- Seq(1L -> Seq("spark", "join"), 2L -> Seq("window", "hash", "scan"))) {
      val single = graft.pipeline.TextIndex.search(spark, dir, terms, 10)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1), r.getLong(2)))
        .sortBy(_._2)
      assert(got(qid).sortBy(_._2).toSeq == single.toSeq,
        s"batch rows for query $qid diverge from the per-query search")
    }

    // term normalization parity with search(): tab-padded and
    // uppercase terms must hit the same postings either way
    val messy = Seq((7L, Seq("SPARK\t", " Hash "))).toDF("query_id", "terms")
    val gotMessy = graft.pipeline.TextIndex.searchMany(spark, dir, messy, 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    val cleanSingle = graft.pipeline.TextIndex.search(spark, dir, Seq("spark", "hash"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(gotMessy == cleanSingle,
      "whitespace/case normalization diverges from per-query search")

    // an all-blank batch yields an empty, correctly-typed frame — not
    // an exception (error/empty must not depend on batch composition)
    val blank = Seq((1L, Seq("", "  "))).toDF("query_id", "terms")
    val none = graft.pipeline.TextIndex.searchMany(spark, dir, blank, 10)
    assert(none.count() == 0)
    assert(none.columns.toSeq == Seq("query_id", "doc_id", "score", "n_terms"))
  }

  test("maxscore pruning: bit-identical to exhaustive across the index lifecycle") {
    import spark.implicits._
    val T = graft.pipeline.TextIndex
    val dir = java.nio.file.Files.createTempDirectory("graft_tidx_maxscore").toString
    val d2 = docs.select(col("doc_id"), col("text"))
    // tiny blocks so the fixture corpus spreads common terms over many
    // impact blocks — pruning has something to skip
    T.write(d2.filter(col("doc_id") % 2 === 0), dir, buckets = 16, blockSize = 4)
    T.append(d2.filter(col("doc_id") % 2 === 1), dir)
    def forced[A](f: => A): A = {
      spark.conf.set("graft.textindex.maxscorePostingsFloor", "0")
      try f finally spark.conf.unset("graft.textindex.maxscorePostingsFloor")
    }
    def off[A](f: => A): A = {
      spark.conf.set("graft.textindex.maxscore", "false")
      try f finally spark.conf.unset("graft.textindex.maxscore")
    }
    val termSets = Seq(
      Seq("spark", "hash"), Seq("spark", "data", "window"),
      Seq("scan"), Seq("spark", "zzz_absent_term"))
    val routes = scala.collection.mutable.ArrayBuffer.empty[String]
    def check(stage: String): Unit = for (ts <- termSets; k <- Seq(1, 5, 10)) {
      val pruned = forced {
        val r = T.search(spark, dir, ts, k).collect()
          .map(x => (x.getLong(0), x.getDouble(1), x.getLong(2))).toSeq
        routes += T.lastRoute
        r
      }
      val exact = off(T.search(spark, dir, ts, k).collect()
        .map(x => (x.getLong(0), x.getDouble(1), x.getLong(2))).toSeq)
      assert(pruned == exact, s"$stage terms=$ts k=$k route=${routes.last}")
    }
    check("build+append")
    // the route must actually ENGAGE for at least one combo — a suite
    // where every combo escapes to exhaustive proves nothing
    assert(routes.exists(_.startsWith("maxscore")),
      s"no combo engaged block-max pruning: ${routes.distinct.mkString(", ")}")
    // takedowns: bounds go conservative (sidecar keeps tombstoned
    // rows), exact df falls back to the scan — results still exact
    val victims = T.search(spark, dir, Seq("spark", "hash"), 3)
      .collect().map(_.getLong(0)).toSeq
    T.delete(spark, dir, victims)
    check("post-delete")
    // mixed compact: victim buckets rewrite (re-blocked, fresh skip
    // rows), the rest carry by raw copy including their sidecar slice
    assert(T.compact(spark, dir, maxFilesPerBucket = 64) >= 1)
    check("post-compact-carry")
    // full rewrite: every bucket re-blocked to clean global ranks
    T.append(d2.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 700000L).as("doc_id"), col("text")), dir)
    T.compact(spark, dir, maxFilesPerBucket = 1)
    check("post-compact-rewrite")
    // batch serving parity under forced pruning, query_id 0 included
    // (must not collide with the single-query sentinel)
    val batch = Seq(
      (0L, Seq("spark", "data")),
      (1L, Seq("spark", "join")),
      (2L, Seq("window", "hash", "scan"))).toDF("query_id", "terms")
    def batchRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val prunedB = forced(batchRows(T.searchMany(spark, dir, batch, 7)))
    val exactB = off(batchRows(T.searchMany(spark, dir, batch, 7)))
    assert(prunedB == exactB, "batch maxscore diverges from exhaustive")
  }

  test("maxscore candidate semi-join: shuffle path (past the broadcast ceiling) is bit-identical") {
    import spark.implicits._
    val T = graft.pipeline.TextIndex
    val dir = java.nio.file.Files.createTempDirectory("graft_tidx_bcast").toString
    T.write(docs.select(col("doc_id"), col("text")), dir,
      buckets = 16, blockSize = 4)
    def scoped[A](pairs: (String, String)*)(f: => A): A = {
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      try f finally pairs.foreach { case (k, _) => spark.conf.unset(k) }
    }
    val batch = Seq(
      (1L, Seq("spark", "data")),
      (2L, Seq("window", "hash", "scan"))).toDF("query_id", "terms")
    def run(ceiling: String): (Seq[String], Seq[String], String) = scoped(
      "graft.textindex.maxscorePostingsFloor" -> "0",
      "graft.textindex.maxscoreBroadcastPairs" -> ceiling) {
      val single = T.search(spark, dir, Seq("spark", "data", "scan"), 10)
        .collect().map(_.mkString("|")).toSeq
      val many = T.searchMany(spark, dir, batch, 10)
        .collect().map(_.mkString("|")).toSeq
      (single, many, T.lastRoute)
    }
    // ceiling 0 forces EVERY candidate semi-join through the shuffle;
    // the default broadcasts — rows must be bit-identical (the ceiling
    // is a transport choice, never a semantics one)
    val (s0, m0, r0) = run("0")
    val (s1, m1, r1) = run("1000000")
    assert(r0.startsWith("maxscore") && r1.startsWith("maxscore"), s"$r0 / $r1")
    assert(s0 == s1, "single-query shuffle semi-join diverges from broadcast")
    assert(m0 == m1, "batch shuffle semi-join diverges from broadcast")
    // and both equal the exhaustive cut
    val (sx, mx, rx) = scoped("graft.textindex.maxscore" -> "false") {
      (T.search(spark, dir, Seq("spark", "data", "scan"), 10)
        .collect().map(_.mkString("|")).toSeq,
        T.searchMany(spark, dir, batch, 10)
          .collect().map(_.mkString("|")).toSeq,
        T.lastRoute)
    }
    assert(rx == "exhaustive:disabled", rx)
    assert(s0 == sx && m0 == mx, "pruned routes diverge from exhaustive")
  }

  test("route diagnostic records an empty batch: searchMany that runs no search never reports a neighbor's route") {
    import spark.implicits._
    val T = graft.pipeline.TextIndex
    val dir = java.nio.file.Files.createTempDirectory("graft_tidx_emptyb").toString
    T.write(docs.select(col("doc_id"), col("text")), dir, buckets = 8, blockSize = 4)
    // leave a real route on this thread, then serve an all-blank batch:
    // the early return must STAMP the diagnostic (an operator reading
    // the route log for this statement must not see the previous
    // statement's decision)
    T.search(spark, dir, Seq("spark", "data"), 5).collect()
    assert(T.lastRoute.nonEmpty)
    val blank = Seq((1L, Seq("  ", "")), (2L, Seq.empty[String]))
      .toDF("query_id", "terms")
    val out = T.searchMany(spark, dir, blank, 5)
    assert(out.collect().isEmpty)
    assert(T.lastRoute == "none:empty-batch", T.lastRoute)
  }

  test("maxscore: torn append degrades to exact exhaustive; compact heals the sidecar") {
    import spark.implicits._
    val T = graft.pipeline.TextIndex
    val dir = java.nio.file.Files.createTempDirectory("graft_tidx_torn").toString
    val d2 = docs.select(col("doc_id"), col("text"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def skipFiles(): Set[String] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$dir/postings/_skips"), true)
      val b = Set.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) b += f.getPath.toString
      }
      b.result()
    }
    def statsDeltaFiles(): Set[String] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$dir/postings/_stats"), true)
      val b = Set.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) b += f.getPath.toString
      }
      b.result()
    }
    T.write(d2.filter(col("doc_id") % 2 === 0), dir, buckets = 8, blockSize = 4)
    val baseSkips = skipFiles()
    val baseStats = statsDeltaFiles()
    T.append(d2.filter(col("doc_id") % 2 === 1), dir)
    // simulate the REAL crash window: append() writes postings →
    // _skips → _stats, so a crash right after the postings commit
    // leaves the appended postings live with NEITHER their sidecar
    // rows NOR their stats delta, and the batch's PENDING marker never
    // dropped. (Deleting only the skip rows would leave _stats
    // describing the union — a gentler tear than the one the marker
    // exists for; with the delta gone too, serving from the summed
    // deltas would score idf over the union's df against the PRE-APPEND
    // nDocs/avgdl — a corpus that never existed. The exhaustive escape
    // must instead derive its stats from the postings themselves.)
    (skipFiles() -- baseSkips).foreach(f =>
      fs.delete(new org.apache.hadoop.fs.Path(f), false))
    (statsDeltaFiles() -- baseStats).foreach(f =>
      fs.delete(new org.apache.hadoop.fs.Path(f), false))
    fs.create(new org.apache.hadoop.fs.Path(
      s"$dir/postings/_PENDING_APPEND_torn-spec")).close()
    def forced[A](f: => A): A = {
      spark.conf.set("graft.textindex.maxscorePostingsFloor", "0")
      try f finally spark.conf.unset("graft.textindex.maxscorePostingsFloor")
    }
    val terms = Seq("spark", "data", "scan")
    def viaIndex(): (Seq[(Long, Double)], String) = forced {
      val r = T.search(spark, dir, terms, 10).collect()
        .map(x => (x.getLong(0), x.getDouble(1))).toSeq
      (r, T.lastRoute)
    }
    def viaScan(corpus: org.apache.spark.sql.DataFrame = d2): Seq[(Long, Double)] =
      TextAnalysis.bm25(corpus, terms)
        .orderBy(col("score").desc, col("doc_id")).limit(10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // the pruned route must refuse a store whose sidecar may not cover
    // every posting — a skips-derived candidate set would silently
    // drop the appended docs; exhaustive reads the postings themselves
    val (torn, tornRoute) = viaIndex()
    assert(tornRoute == "exhaustive:torn-append", tornRoute)
    assert(torn == viaScan(), "torn store must still serve exact scores")
    // a takedown filed DURING the torn window flows through the same
    // snapshot: the torn-window stats are tombstone-excluded in the
    // SAME pass as the scan's anti-join (not the steady path's cached
    // fold, which is keyed on the unchanged _stats signature and
    // describes the pre-tear corpus), so scores equal a corpus scan
    // over exactly the surviving docs — never a mix of corpora
    val victim = torn.head._1
    T.delete(spark, dir, Seq(victim))
    val (tornDel, tornDelRoute) = viaIndex()
    assert(tornDelRoute == "exhaustive:torn-append", tornDelRoute)
    val survivors = d2.filter(col("doc_id") =!= victim)
    assert(tornDel == viaScan(survivors),
      "torn + takedown must serve the survivor corpus exactly")
    // compact heals: every bucket rewrites, the sidecar is rebuilt from
    // the actual surviving postings (the tombstoned doc purged), the
    // new generation is marker-free
    assert(T.compact(spark, dir, maxFilesPerBucket = 64) >= 1)
    val (healed, healedRoute) = viaIndex()
    assert(healedRoute.startsWith("maxscore"),
      s"compact must re-enable the pruned route, got $healedRoute")
    assert(healed == viaScan(survivors), "healed store diverges from the corpus scan")
  }

  test("phrase search: shifted-position intersection equals direct text scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_phrase_spec").toString
    graft.pipeline.TextIndex.write(docs.select(col("doc_id"), col("text")), dir, buckets = 16)
    def direct(phrase: String): Map[Long, Long] = {
      val terms = phrase.split(" ").toSeq
      docs.select(col("doc_id"), col("text")).collect().flatMap { r =>
        val w = r.getString(1).trim.toLowerCase.split("\\s+").toSeq
        val hits = (0 to w.length - terms.length).count(s =>
          terms.indices.forall(i => w(s + i) == terms(i)))
        if (hits > 0) Some(r.getLong(0) -> hits.toLong) else None
      }.toMap
    }
    for (phrase <- Seq("table scan", "the fast key")) {
      val got = graft.pipeline.TextIndex.searchPhrase(spark, dir, phrase, 1000)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == direct(phrase), s"phrase '$phrase'")
    }
    // a repeated-term phrase intersects shifts of the SAME posting
    // list and must not self-match non-consecutive occurrences
    val tiny = Seq((1L, "a b a b a"), (2L, "a a b")).toDF("doc_id", "text")
    val d2 = java.nio.file.Files.createTempDirectory("graft_phrase_tiny").toString
    graft.pipeline.TextIndex.write(tiny, d2, buckets = 4)
    def hits(p: String) = graft.pipeline.TextIndex.searchPhrase(spark, d2, p, 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits("a b") == Map(1L -> 2L, 2L -> 1L))
    assert(hits("b a") == Map(1L -> 2L))
    assert(hits("a a") == Map(2L -> 1L))
    assert(hits("a b a") == Map(1L -> 2L))
  }

  test("bpeTrain: hand-verified merge sequence; first merge is the pair-table argmax") {
    import spark.implicits._
    // corpus "aa aa ab": vocab {aa:2, ab:1}; symbols a,a,</w> ×2 and
    // a,b,</w> ×1. Iteration 0 pairs: (a,a):2, (a,</w>):2, (a,b):1,
    // (b,</w>):1 — argmax ties break lexicographically and '<' sorts
    // before 'a', so (a,</w>) wins; then (a,a</w>):2; then (a,b):1.
    val tiny = Seq((1L, "aa aa ab")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(tiny, 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(merges == Seq(
      (1L, "a", "</w>", "a</w>", 2L),
      (2L, "a", "a</w>", "aa</w>", 2L),
      (3L, "a", "b", "ab", 1L)), merges.toString)
    // merge loop exhausts gracefully when no pairs remain
    val one = Seq((1L, "x")).toDF("doc_id", "text")
    assert(TextAnalysis.bpeTrain(one, 10).count() == 1) // only (x, </w>)

    // on the fixture corpus: the first learned merge IS the argmax of
    // the distributed pair table (same tie-break)
    val firstMerge = TextAnalysis.bpeTrain(docs, 1).collect()(0)
    val top = TextAnalysis.bpePairCounts(docs)
      .orderBy(col("pair_count").desc, col("left"), col("right"))
      .limit(1).collect()(0)
    assert(firstMerge.getString(1) == top.getString(0) &&
      firstMerge.getString(2) == top.getString(1) &&
      firstMerge.getLong(4) == top.getLong(2))
  }

  test("bpeEncode: hand-verified segmentation; vocab words reproduce training merges") {
    import spark.implicits._
    // merges from the hand-verified corpus above: a</w>, aa</w>, ab
    val tiny = Seq((1L, "aa aa ab")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(tiny, 3)
    // encode the training corpus itself: "aa" → [aa</w>], "ab" →
    // [ab, </w>] (the (b,</w>) pair was never learned)
    val enc = TextAnalysis.bpeEncode(tiny, merges)
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).toList, r.getLong(2)))
    assert(enc.toSeq == Seq((1L, List("aa</w>", "aa</w>", "ab", "</w>"), 4L)))
    // an out-of-vocabulary word degrades to unmerged symbols
    val oov = TextAnalysis.bpeEncode(Seq((9L, "ba")).toDF("doc_id", "text"), merges)
      .collect()(0).getSeq[String](1).toList
    assert(oov == List("b", "a</w>"))

    // on the fixture corpus: every encoded doc re-derives from an
    // independent sequential-apply reimplementation over its words
    val m = TextAnalysis.bpeTrain(docs, 40)
    val rules = m.collect().sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getString(2)))
    def applySeq(w: String): List[String] = {
      var syms = w.map(_.toString).toList :+ "</w>"
      rules.foreach { case (l, r) =>
        val out = scala.collection.mutable.ListBuffer.empty[String]
        var rest = syms
        while (rest.nonEmpty) rest match {
          case a :: b :: t if a == l && b == r => out += (l + r); rest = t
          case a :: t => out += a; rest = t
          case Nil =>
        }
        syms = out.toList
      }
      syms
    }
    val got = TextAnalysis.bpeEncode(docs, m)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    texts.foreach { case (id, text) =>
      val want = text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
        .filter(_.nonEmpty).toList.flatMap(applySeq)
      assert(got(id) == want, s"doc $id segmentation diverges")
    }
    // non-vacuous: at least one learned merge fired on the corpus
    assert(got.values.exists(_.exists(t => t != "</w>" && t.length > 1)),
      "no multi-symbol token anywhere — merges never applied")
  }

  test("perceptual hash: textbook aHash bits; dup pairs equal brute-force hamming") {
    import spark.implicits._
    val media = Multimodal.asMediaTable(docs)
    val hashes = Multimodal.perceptualHash(media)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    // textbook check on one doc: recompute the bit vector directly
    val oneText = docs.filter(col("doc_id") === hashes.head._1)
      .select("text").collect()(0).getString(0)
    val bytes = oneText.getBytes("UTF-8").map(_ & 0xff)
    val total = bytes.map(_.toLong).sum
    val n = bytes.length
    val wantBits = (0 until 64).map { b =>
      val lo = (b.toLong * n / 64).toInt; val hi = ((b + 1).toLong * n / 64).toInt
      val bs = bytes.slice(lo, hi).map(_.toLong).sum
      if (bs * n > total * (hi - lo)) '1' else '0'
    }.mkString
    assert(hashes.head._2 == wantBits)
    assert(hashes.forall(_._2.length == 64))

    // dup pairs: a payload with a tiny byte perturbation stays within
    // hamming 6 of the original; brute force over all hashes agrees
    // with the banded join exactly
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val tweaked = base.dropRight(1) + "X"
    val far = (1 to 60).map(i => s"zzz${i * 7}").mkString(" ")
    val small = Seq((1L, base, "en", "s"), (2L, tweaked, "en", "s"),
      (3L, far, "en", "s")).toDF("doc_id", "text", "lang", "source")
    val sm = Multimodal.asMediaTable(small)
    val hs = Multimodal.perceptualHash(sm)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    val want = (for {
      (ia, ha) <- hs; (ib, hb) <- hs if ia < ib && ham(ha, hb) <= 6
    } yield (ia, ib)).toSet
    assert(want.contains((1L, 2L)), s"tweak drifted: hamming ${ham(hs(1L), hs(2L))}")
    val got = Multimodal.phashDupPairs(sm, 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    // and on the fixture corpus, banded equals brute force too
    val hmap = hashes.toMap
    val wantAll = (for {
      (ia, ha) <- hmap; (ib, hb) <- hmap if ia < ib && ham(ha, hb) <= 6
    } yield (ia, ib)).toSet
    val gotAll = Multimodal.phashDupPairs(media, 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotAll == wantAll)
  }

  test("bandBits auto-selection: size switchover pinned, recall contract fails loud") {
    val M = Multimodal
    // below the threshold auto keeps the 8-bit default — the oracles'
    // sf-scale behavior is unchanged (radius 7 still allowed)
    assert(M.resolveBandBits(M.BandBitsAuto, 6, () => 500L, "t") == 8)
    assert(M.resolveBandBits(M.BandBitsAuto, 7,
      () => M.AutoBandBits16Threshold - 1, "t") == 8)
    // at/above it auto switches to 16-bit bands (the measured-cliff
    // fix, FUZZY_SCALE.md hamming table) when the radius fits
    assert(M.resolveBandBits(M.BandBitsAuto, 3,
      () => M.AutoBandBits16Threshold, "t") == 16)
    // auto-16 with a radius past the 16-bit pigeonhole guarantee must
    // fail LOUD naming both ways out, never silently narrow recall
    val e = intercept[IllegalArgumentException](
      M.resolveBandBits(M.BandBitsAuto, 6, () => M.AutoBandBits16Threshold, "t"))
    assert(e.getMessage.contains("bandBits=8") &&
      e.getMessage.contains("hamming"), e.getMessage)
    // explicit widths never count the corpus and keep their own checks
    assert(M.resolveBandBits(8, 7,
      () => sys.error("explicit width must not count"), "t") == 8)
    assert(M.resolveBandBits(16, 3,
      () => sys.error("explicit width must not count"), "t") == 16)
    val e2 = intercept[IllegalArgumentException](
      M.resolveBandBits(16, 4, () => 0L, "t"))
    assert(e2.getMessage.contains("hamming 3"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      M.resolveBandBits(12, 3, () => 0L, "t"))
    assert(e3.getMessage.contains("8, 16, or BandBitsAuto"), e3.getMessage)
  }

  test("salted join and salted agg equal their unsalted forms") {
    import org.apache.spark.sql.functions.{count, lit, sum}
    val o = Engine.table(spark, sfDir, "orders")
      .select(col("o_custkey").as("custkey"), col("o_orderkey"), col("o_totalprice"))
    val c = Engine.table(spark, sfDir, "customer")
      .select(col("c_custkey").as("custkey"), col("c_name"))
    val plain = o.join(c, Seq("custkey"))
      .select("custkey", "o_orderkey", "c_name").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val salted = graft.pipeline.Skew.saltedJoin(o, c, Seq("custkey"), salts = 8)
      .select("custkey", "o_orderkey", "c_name").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(salted == plain)

    val plainAgg = o.groupBy("custkey").agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val saltedAgg = graft.pipeline.Skew.saltedAgg(o, Seq("custkey"),
      Seq(("cnt", count(lit(1)), sum(col("cnt")))), salts = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(saltedAgg == plainAgg)
  }

  test("PQ codes honor the storage contract; reconstruction clears the gate floor") {
    import org.apache.spark.sql.functions.{avg, max, min, size}
    val emb = Engine.table(spark, sfDir, "embeddings")
    val codes = graft.pipeline.Embeddings.pqEncode(emb, m = 16, k = 64, iters = 10)
    val shape = codes.select(
      min(size(col("codes"))).as("mn"), max(size(col("codes"))).as("mx"),
      max(org.apache.spark.sql.functions.array_max(col("codes"))).as("cmax"),
      min(org.apache.spark.sql.functions.array_min(col("codes"))).as("cmin")).collect()(0)
    // 16 codes of <=6 bits each — the 32x-compressed layout the
    // docstring claims (64 float32 -> 16 small ints)
    assert(shape.getInt(0) == 16 && shape.getInt(1) == 16)
    assert(shape.getInt(2) < 64 && shape.getInt(3) >= 0)
    val dec = graft.pipeline.Embeddings.pqDecode(codes,
      m = 16, k = 64, iters = 10, source = emb)
    val v = emb.select(col("vec_id"),
      graft.pipeline.Embeddings.asDouble(col("embedding")).as("v"))
    val stats = v.join(dec, "vec_id")
      .select(graft.pipeline.Embeddings.cosine(col("v"), col("vhat")).as("cq"))
      .agg(min("cq").as("mn"), avg("cq").as("av")).collect()(0)
    assert(stats.getDouble(0) >= 0.85, s"min cos_q ${stats.getDouble(0)}")
    assert(stats.getDouble(1) >= 0.90, s"mean cos_q ${stats.getDouble(1)}")
  }

  test("salted plans contain no indeterminate expression (retry-safe)") {
    // A partition-dependent salt (monotonically_increasing_id, rand)
    // would force Spark to mark the stage indeterminate and rerun it
    // wholesale after executor loss. The salt must be a pure function
    // of row content so task retries reproduce it bit-for-bit.
    import org.apache.spark.sql.functions.{count, lit, sum}
    val o = Engine.table(spark, sfDir, "orders")
      .select(col("o_custkey").as("custkey"), col("o_orderkey"), col("o_totalprice"))
    val c = Engine.table(spark, sfDir, "customer")
      .select(col("c_custkey").as("custkey"), col("c_name"))
    val joinPlan = graft.pipeline.Skew.saltedJoin(o, c, Seq("custkey"), salts = 8)
      .queryExecution.analyzed
    val aggPlan = graft.pipeline.Skew.saltedAgg(o, Seq("custkey"),
      Seq(("cnt", count(lit(1)), sum(col("cnt")))), salts = 8)
      .queryExecution.analyzed
    for (plan <- Seq(joinPlan, aggPlan)) {
      val indeterminate = plan.collect { case n =>
        n.expressions.flatMap(_.collect { case x if !x.deterministic => x })
      }.flatten
      assert(indeterminate.isEmpty,
        s"indeterminate expressions in salted plan: $indeterminate")
    }
  }

  test("approx_count_distinct lands within 5% of exact (sketch aggregate)") {
    import org.apache.spark.sql.functions.{approx_count_distinct, countDistinct}
    val li = Engine.table(spark, sfDir, "lineitem")
    val row = li.agg(
      countDistinct(col("l_suppkey")).as("exact"),
      approx_count_distinct(col("l_suppkey")).as("approx")).collect()(0)
    val exact = row.getLong(0).toDouble
    val approx = row.getLong(1).toDouble
    assert(math.abs(approx - exact) / exact < 0.05, s"approx=$approx exact=$exact")
  }

  test("lmScore matches an independent in-memory reimplementation") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "a b a b c"), (1L, "a c"), (2L, "b b a"), (3L, "c a b a b c"))
    val got = TextAnalysis.lmScore(corpus.toDF("doc_id", "text")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Double]("sum_nll"),
          r.getAs[Double]("avg_nll")))).toMap
    val toks = corpus.map { case (id, t) => id -> t.trim.toLowerCase.split("\\s+").toSeq }
    val uni = toks.flatMap(_._2).groupBy(identity).map { case (k, xs) => k -> xs.size }
    val n = uni.values.sum.toDouble
    val v = uni.size.toDouble
    val bc = toks.flatMap { case (_, w) => w.zip(w.tail) }
      .groupBy(identity).map { case (k, xs) => k -> xs.size }
    def term(b: (String, String)): BigDecimal = {
      val p = 0.9 * (bc(b) + 0.5) / (uni(b._1) + 0.5 * v) +
        (1.0 - 0.9) * (uni(b._2) + 0.5) / (n + 0.5 * v)
      BigDecimal(-math.log(p)).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    }
    toks.foreach { case (id, w) =>
      val bs = w.zip(w.tail)
      val sum = bs.map(term).sum
      assert(got(id)._1 == bs.size, s"doc $id bigram count")
      assert(got(id)._2 == sum.toDouble, s"doc $id sum_nll")
      assert(got(id)._3 == sum.toDouble / bs.size, s"doc $id avg_nll")
    }
  }

  test("language scores count stopword hits") {
    val row = TextAnalysis.languageId(docs).filter("doc_id = 0").collect()(0)
    val text = docs.filter("doc_id = 0").collect()(0).getAs[String]("text")
    val toks = text.trim.toLowerCase.split("\\s+")
    val en = toks.count(Set("the", "and", "of", "is", "a"))
    assert(row.getAs[Long]("score_en") == en)
  }

  test("scale-probe replicas: k× rows, replica 0 is the base, ids offset per replica") {
    import graft.tools.Replicas
    val k = 3
    val off = Replicas.nextId(docs, "doc_id")
    val baseRows = docs.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    Seq(Replicas.Salted, Replicas.Heaps).foreach { mode =>
      val out = Replicas.documents(docs, k, mode, off)
      assert(out.columns.toSeq == docs.columns.toSeq)
      val rows = out.collect()
      assert(rows.length == k * baseRows.size)
      assert(rows.map(_.getAs[Long]("doc_id")).toSet ==
        (for (i <- 0 until k; id <- baseRows.keys) yield id + i * off).toSet)
      assert(rows.filter(_.getAs[Long]("doc_id") < off).toSet == baseRows.values.toSet)
    }
    val embOff = Replicas.nextId(emb, "vec_id")
    val vecs = Replicas.embeddings(emb, k, embOff).collect()
    assert(vecs.length == k * emb.count())
    assert(vecs.filter(_.getLong(0) < embOff).toSet ==
      emb.select("vec_id", "embedding").collect().toSet)
    // replicated together, embeddings take the documents' stride
    val baseVecIds = emb.select("vec_id").collect().map(_.getLong(0))
    assert(Replicas.embeddings(emb, k, off).collect().map(_.getLong(0)).toSet ==
      (for (i <- 0 until k; v <- baseVecIds) yield v + i * off).toSet)
  }

  test("scale-probe replicas: salt and Heaps insertion patterns, jitter bound, deterministic") {
    import graft.tools.Replicas
    val k = 3
    val off = Replicas.nextId(docs, "doc_id")
    val base = docs.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    // single-spaced texts, so word positions are exact
    val plain = base.filter { case (_, t) => t.nonEmpty && t.split(" ", -1).forall(w =>
      w.nonEmpty && !w.exists(Character.isWhitespace)) }
    assert(plain.size > base.size / 2)
    def check(mode: Replicas.Text, salt: Int => String, period: Int => Int): Unit = {
      val out = Replicas.documents(docs, k, mode, off).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
      for (i <- 1 until k; (id, text) <- plain) {
        val words = text.split(" ")
        val toks = out(id + i * off).split(" ")
        val p = period(i)
        // a salt token after every p words that are followed by a space
        val expected = (0 until (words.length - 1) / p).map(j => p + (p + 1) * j)
        assert(toks.indices.filter(toks(_) == salt(i)) == expected, s"$mode replica $i doc $id")
        assert(toks.filterNot(_ == salt(i)).toSeq == words.toSeq)
      }
    }
    check(Replicas.Salted, i => s"zqr${i}salt", _ => 4)
    check(Replicas.Heaps, _ => "zqrsalt", i => 3 + i)

    val embOff = Replicas.nextId(emb, "vec_id")
    val baseVec = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val vecs = Replicas.embeddings(emb, k, embOff).collect()
    val deltas = for (r <- vecs.toSeq if r.getLong(0) >= embOff;
                      src = baseVec(r.getLong(0) % embOff);
                      (a, b) <- r.getSeq[Float](1).zip(src)) yield math.abs(a - b).toDouble
    assert(deltas.size == (k - 1) * baseVec.values.map(_.size).sum)
    assert(deltas.forall(_ <= 0.05 + 1e-6) && deltas.max > 0.01)

    Seq(Replicas.Salted, Replicas.Heaps).foreach { mode =>
      assert(Replicas.documents(docs, k, mode, off).collect().toSet ==
        Replicas.documents(docs, k, mode, off).collect().toSet)
    }
    assert(vecs.toSet == Replicas.embeddings(emb, k, embOff).collect().toSet)
  }
}
