package graft

import graft.pipeline.{Retrieval, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RetrievalSpec extends AnyFunSuite with SparkFixture {

  import spark.implicits._

  private lazy val docs = Engine.table(spark, sfDir, "documents").cache()
  private lazy val emb = Engine.table(spark, sfDir, "embeddings").cache()

  private def rrf(k0: Int, rank: Int): Long = Retrieval.RrfScale / (k0 + rank)

  test("rrfFuse computes the textbook integer RRF on a hand fixture") {
    // leg A ranks: 10→1, 20→2, 30→3; leg B ranks: 20→1, 40→2
    val a = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("doc_id", "rank")
    val b = Seq((20L, 1), (40L, 2)).toDF("doc_id", "rank")
    val got = Retrieval.rrfFuse(Seq(a, b), topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = Seq( // scores by hand, ordered score desc then id
      (20L, rrf(60, 2) + rrf(60, 1), 2L),
      (10L, rrf(60, 1), 1L),
      (40L, rrf(60, 2), 1L),
      (30L, rrf(60, 3), 1L))
    assert(got.toSeq == expected)
    // the doc in both legs must outrank every single-leg doc here
    assert(got.head._1 == 20L && got.head._3 == 2L)
  }

  test("weighted rrfFuse: weight 1 is exactly the unweighted algebra; weights scale integer contributions") {
    val a = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("doc_id", "rank")
    val b = Seq((20L, 1), (40L, 2)).toDF("doc_id", "rank")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // (1·S) div x = S div x — all-ones weights must be BIT-identical
    // to omitting them (the compatibility contract the TVF documents)
    assert(rows(Retrieval.rrfFuse(Seq(a, b), topK = 10, weights = Seq(1L, 1L)))
      == rows(Retrieval.rrfFuse(Seq(a, b), topK = 10)))
    // weighted contributions: (w * RrfScale) div (k0 + rank) by hand
    def wrrf(w: Long, rank: Int): Long = (w * Retrieval.RrfScale) / (60 + rank)
    val got = rows(Retrieval.rrfFuse(Seq(a, b), topK = 10, weights = Seq(2L, 1L)))
    val expected = Seq(
      (20L, wrrf(2, 2) + wrrf(1, 1), 2L),
      (10L, wrrf(2, 1), 1L),
      (30L, wrrf(2, 3), 1L),
      (40L, wrrf(1, 2), 1L))
    assert(got == expected, got)
    // the batch shape shares the same weighting truth
    val am = a.withColumn("query_id", lit(5L))
    val bm = b.withColumn("query_id", lit(5L))
    val gotMany = Retrieval.rrfFuseMany(Seq(am, bm), topK = 10, weights = Seq(2L, 1L))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(gotMany.sortBy(_._1) == expected.sortBy(_._1), gotMany)
    // malformed weights fail loud: wrong count, zero/negative weight
    val eCount = intercept[IllegalArgumentException] {
      Retrieval.rrfFuse(Seq(a, b), weights = Seq(1L))
    }
    assert(eCount.getMessage.contains("weights for"), eCount.getMessage)
    val eZero = intercept[IllegalArgumentException] {
      Retrieval.rrfFuse(Seq(a, b), weights = Seq(0L, 1L))
    }
    assert(eZero.getMessage.contains(">= 1"), eZero.getMessage)
  }

  test("rrfFuse topK cut is deterministic under score ties") {
    // two ids with the identical single-leg rank → tie broken by id
    val a = Seq((7L, 1)).toDF("doc_id", "rank")
    val b = Seq((3L, 1)).toDF("doc_id", "rank")
    val got = Retrieval.rrfFuse(Seq(a, b), topK = 1).collect()
    assert(got.length == 1 && got.head.getLong(0) == 3L)
  }

  test("topRanks equals a collected sort and never global-sorts the corpus") {
    val scored = emb.select(col("vec_id").as("doc_id"),
      (col("vec_id") % 17).cast("double").as("score"))
    val got = Retrieval.topRanks(scored, col("score"), "doc_id", 5)
    val rows = got.collect().map(r => (r.getLong(0), r.getInt(1)))
    val want = scored.collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, s) => (-s, id) }.take(5).zipWithIndex
      .map { case ((id, _), i) => (id, i + 1) }
    assert(rows.toSeq == want.toSeq)
    // the corpus cut is TakeOrderedAndProject, not a full Sort+Limit
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("topRanks numbers ties, NaN and null scores in the cut's order, with no window and no extra job") {
    val scored = spark.range(0, 400, 1, 4).select(col("id").as("doc_id"),
      when(col("id") % 11 === 0, lit(null).cast("double"))
        .when(col("id") % 13 === 0, lit(Double.NaN))
        .otherwise((col("id") % 3).cast("double")).as("score"))
    def cut(k: Int) = scored.orderBy(col("score").desc, col("doc_id")).limit(k)
    for (k <- Seq(1, 5, 40, 400)) {
      val got = Retrieval.topRanks(scored, col("score"), "doc_id", k)
      val (rows, jobs, _) = jobsDuring(got.collect())
      val (want, cutJobs, _) = jobsDuring(cut(k).select("doc_id").collect())
      assert(rows.map(r => (r.getLong(0), r.getInt(1))).toSeq ==
        want.map(_.getLong(0)).zipWithIndex.map { case (id, i) => (id, i + 1) }.toSeq,
        s"k=$k")
      // numbering costs no job over the cut itself (k = 400 covers the
      // whole frame, so Spark drops the limit and the cut is a global
      // sort either way)
      if (k < 400)
        assert(jobs <= cutJobs, s"k=$k: ranking added jobs ($jobs vs the cut's $cutJobs)")
      val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      assert(aqe.collect(got.queryExecution.executedPlan) {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty, got.queryExecution.executedPlan.toString)
    }
    // an empty leg ranks nothing
    assert(Retrieval.topRanks(scored.filter(col("doc_id") < 0), col("score"),
      "doc_id", 5).collect().isEmpty)
  }

  test("hybridSearch equals an independent in-memory fusion") {
    val terms = Seq("spark", "hash", "window")
    val kPerLeg = 20
    // lexical leg from the already-gated bm25, collected and ranked
    val lex = TextAnalysis.bm25(docs, terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, s) => (-s, id) }.take(kPerLeg)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    // dense leg recomputed from raw floats in plain Scala doubles
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val qv = vecs(7L)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na * nb > 0) d / (math.sqrt(na) * math.sqrt(nb)) else -1.0
    }
    val den = vecs.toSeq.map { case (id, v) => (id, cos(v, qv)) }
      .sortBy { case (id, s) => (-s, id) }.take(kPerLeg)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    val fused = (lex.keySet ++ den.keySet).toSeq
      .map { id =>
        val s = lex.get(id).map(r => rrf(60, r)).getOrElse(0L) +
          den.get(id).map(r => rrf(60, r)).getOrElse(0L)
        (id, s, lex.contains(id).compare(false) + den.contains(id).compare(false))
      }
      .sortBy { case (id, s, _) => (-s, id) }.take(15)
      .sortBy(_._1)
    val got = Retrieval.hybridSearch(docs, emb, terms, 7L, kPerLeg, 60, 15)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2).toInt))
    assert(got.toSeq == fused)
    // non-vacuous legs (cross-leg overlap is a property of the data —
    // text and embeddings are independent in this fixture — so the
    // overlap arithmetic is pinned by the hand-fixture test above)
    assert(lex.nonEmpty && den.nonEmpty, "hybrid fixture legs must be non-empty")
  }

  test("hybridSearch fails loud when the query vector id is absent") {
    val e = intercept[IllegalArgumentException] {
      Retrieval.hybridSearch(docs, emb, Seq("spark"), queryVecId = 999999999L)
    }
    assert(e.getMessage.contains("QUERY_VEC_MISSING"))
  }

  test("index-tier hybrid equals the corpus-tier hybrid row for row") {
    val corpusTier = SparkEntry.queries("q_hybrid_search")(spark, sfDir)
      .collect().map(_.toString).toSeq
    val indexTier = SparkEntry.queries("q_hybrid_indexed")(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(corpusTier.nonEmpty && indexTier == corpusTier)
  }
}
