package graft.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Tests of the benchmark's own logic; no Spark session is started.
  *
  * Usage: graft.perfbench.SelfTest <scratch dir> (exit code 1 on a
  * failed check). */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Exception => println(s"  $name threw $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val f = Fixtures(args.headOption.getOrElse("work"))

    for (wl <- Workloads.all) {
      def list(seed: Long) = (0 until wl.clients).map(c => wl.stream(seed, c, f).take(40).map(_.sql).toList)
      check(s"${wl.name}: the same seed gives the same statement list")(list(7) == list(7))
      check(s"${wl.name}: another seed gives another statement list")(list(7) != list(8))
      check(s"${wl.name}: a client's statements vary within a run") {
        (0 until wl.clients).forall(c => wl.stream(7, c, f).take(4 * wl.cycle).map(_.sql).toSet.size == 4 * wl.cycle)
      }
      check(s"${wl.name}: every streamed statement has an expected answer") {
        val keys = wl.expectations(7, f).map(_.key).toSet
        (0 until wl.clients).forall(c => wl.stream(7, c, f).take(200).forall(s => keys(s.expected.key)))
      }
    }

    val xs = (1 to 200).map(_.toDouble)
    check("p95 of 200 samples leaves ten beyond it and is reported")(Stats.tail(xs, 0.95) == 190.0)
    check("p95 of 199 samples is refused") {
      try { Stats.tail(xs.take(199), 0.95); false } catch { case _: Stats.Refused => true }
    }
    check("p75 of 39 samples is refused, of 40 reported") {
      val refused = try { Stats.tail(xs.take(39), 0.75); false } catch { case _: Stats.Refused => true }
      refused && Stats.tail(xs.take(40), 0.75) == 30.0
    }
    check("the median needs no samples beyond it")(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    check("the median of an even count is the mean of the middle two") {
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5
    }

    check("self time subtracts the union of child intervals on nested spans") {
      val spans = Seq(
        Span(1, 0, "request", "r", 0, 100),
        Span(2, 1, "a", "r", 10, 40),
        Span(3, 2, "a.child", "r", 15, 20),
        Span(4, 1, "b", "r", 30, 60), // overlaps a: 10..60 is covered once
        Span(5, 1, "c", "r", 90, 120), // runs past its parent: clipped at 100
        Span(6, 0, "other", "s", 0, 10))
      val self = Tracer.selfTimes(spans)
      self == Map(1L -> 40L, 2L -> 25L, 3L -> 5L, 4L -> 30L, 5L -> 30L, 6L -> 10L)
    }

    val schema = StructType(Seq(
      StructField("id", LongType), StructField("price", DecimalType(12, 2)),
      StructField("day", DateType), StructField("name", StringType), StructField("cos", DoubleType)))
    val rows = IndexedSeq(
      Row(1L, new java.math.BigDecimal("10.50"), java.sql.Date.valueOf("1995-03-01"), "a", 0.25),
      Row(2L, new java.math.BigDecimal("7.00"), java.sql.Date.valueOf("1996-12-31"), null, 1.0 / 3))
    val ans = Answer(schema, rows.map(r => schema.fields.indices.map(j =>
      Check.canonical(r.get(j), schema.fields(j).dataType))), rows.size.toLong)
    val cols = schema.fieldNames.toSeq
    val req = PageReq(100, forward = true, arrow = false)
    // the forms QueryServer's JSON page decodes to
    val jsonPage: Seq[Seq[Any]] = Seq(
      Seq(java.math.BigInteger.ONE, new java.math.BigDecimal("10.5"), "1995-03-01", "a",
        new java.math.BigDecimal("0.25")),
      Seq(java.math.BigInteger.TWO, new java.math.BigDecimal("7"), "1996-12-31", null,
        new java.math.BigDecimal((1.0 / 3).toString)))
    check("the checker accepts a correct JSON page") {
      Check.comparePage(ans, cols, Check.slice(ans, 0, req), jsonPage).isEmpty
    }
    check("the checker flags a corrupted JSON page") {
      val bad = jsonPage.updated(1, jsonPage(1).updated(1, new java.math.BigDecimal("7.01")))
      Check.comparePage(ans, cols, Check.slice(ans, 0, req), bad).isDefined
    }
    check("the checker flags a page with a row missing") {
      Check.comparePage(ans, cols, Check.slice(ans, 0, req), jsonPage.take(1)).isDefined
    }
    val alloc = new org.apache.arrow.memory.RootAllocator(Long.MaxValue)
    try {
      val arrowPage = WireClient.decodeArrow(graft.service.ArrowPage.serialize(schema, rows), alloc)
      check("the checker accepts a correct Arrow page") {
        Check.comparePage(ans, cols, Check.slice(ans, 0, req), arrowPage).isEmpty
      }
      check("the checker flags a corrupted Arrow page") {
        val corrupted = rows.updated(0, Row(1L, new java.math.BigDecimal("10.50"),
          java.sql.Date.valueOf("1995-03-02"), "a", 0.25))
        val bad = WireClient.decodeArrow(graft.service.ArrowPage.serialize(schema, corrupted), alloc)
        Check.comparePage(ans, cols, Check.slice(ans, 0, req), bad).isDefined
      }
    } finally alloc.close()

    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
