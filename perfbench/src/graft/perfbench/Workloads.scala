package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** How a statement's expected rows are computed in set-up, through a
  * route that bypasses QueryService, its result files and the wire. */
sealed trait Expected {
  def key: String
  def frame(spark: SparkSession, f: Fixtures): DataFrame
}

object Expected {
  /** `read_files` statements: the DataFrame API over `Engine.table`. */
  final case class Table(table: String, where: String, select: Seq[String],
                         orderBy: Seq[String], limit: Option[Int] = None) extends Expected {
    def key: String =
      s"table:$table|$where|${select.mkString(",")}|${orderBy.mkString(",")}|$limit"
    def frame(spark: SparkSession, f: Fixtures): DataFrame = {
      val filtered = Fixtures.table(spark, f, table).where(expr(where))
      val projected = if (select.isEmpty) filtered else filtered.select(select.map(expr): _*)
      val ordered = if (orderBy.isEmpty) projected else projected.orderBy(orderBy.map(expr): _*)
      limit.fold(ordered)(ordered.limit)
    }
  }

  /** Aggregates: one row, so no order. */
  final case class Aggregate(table: String, where: String, aggs: Seq[String]) extends Expected {
    def key: String = s"agg:$table|$where|${aggs.mkString(",")}"
    def frame(spark: SparkSession, f: Fixtures): DataFrame = {
      val aggCols = aggs.map(expr)
      Fixtures.table(spark, f, table).where(expr(where)).agg(aggCols.head, aggCols.tail: _*)
    }
  }

  /** TVF statements: a direct collect on the host session. */
  final case class Direct(sql: String) extends Expected {
    def key: String = s"direct:$sql"
    def frame(spark: SparkSession, f: Fixtures): DataFrame = spark.sql(sql)
  }
}

final case class Statement(kind: String, sql: String, expected: Expected)

/** One page request of a statement's paging plan; pages follow the
  * `next` cursor of the page before, a backward page reads the rows
  * that end at the current cursor. */
final case class PageReq(limit: Int, forward: Boolean, arrow: Boolean)

/** A closed-loop traffic mix: `clients` threads, each with one
  * connection, each sending its next statement only after the previous
  * one and its pages completed. The server sees only generated SQL. */
sealed trait Workload {
  def name: String
  def clients: Int
  def pages: Seq[PageReq]
  /** The fixtures its statements read. */
  def needs: Set[Fixtures.Part]
  /** The per-client statement stream; the same seed gives the same
    * streams. */
  def stream(seed: Long, client: Int, f: Fixtures): Iterator[Statement]
  /** Every expectation any stream of this seed can reference. */
  def expectations(seed: Long, f: Fixtures): Seq[Expected]
  /** Statements per mix cycle: a client's measured window holds whole
    * cycles only, so every window has the same mix. */
  def cycle: Int
  /** Rows of each expected answer the paging plan can reach. */
  def reach: Int = pages.filter(_.forward).map(_.limit).sum
}

object Workloads {
  val all: Seq[Workload] = Seq(ServeSmall, BulkPage)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (expected ${all.map(_.name).mkString(", ")})"))

  private def vecLiteral(seed: Long, r: java.util.Random): String = {
    val c = Fixtures.centre(seed, r.nextInt(Fixtures.Clusters))
    c.map(x => f"${x + 0.35 * r.nextGaussian()}%.4f").mkString(",")
  }

  /** Two distinct mid-frequency words: posting lists of about the same
    * length whatever the seed, so retrieval statements cost the same
    * from one seed to the next. */
  private def terms(r: java.util.Random): String = {
    def mid = Fixtures.Vocabulary(100 + r.nextInt(200))
    val a = mid
    var b = mid
    while (b == a) b = mid
    s"$a $b"
  }

  /** Small serving statements: every result has at most 100 rows and
    * the client reads one 100-row JSON page. */
  object ServeSmall extends Workload {
    val name = "serve_small"
    val clients = 4
    val pages = Seq(PageReq(100, forward = true, arrow = false))
    val needs: Set[Fixtures.Part] = Set(Fixtures.Tables, Fixtures.Indexes)
    /** Statements drawn per kind. Client `c` takes a kind's statements
      * in pool order starting at the `c`-th, so at any time the clients
      * run different statements, and each client varies its statements
      * from cycle to cycle. The pool is small because every statement's
      * answer is computed in the run. */
    val PoolPerKind = 4

    def pool(seed: Long, f: Fixtures): Map[String, IndexedSeq[Statement]] = {
      val r = new java.util.Random(seed)
      // every statement kind returns the same number of rows and does the
      // same work whatever the seed: fixed k, fixed range widths, and IVF
      // probes that never escape to extra cells (escape_cap 0, or every
      // cell probed)
      def keyRange: Statement = {
        // 100 orders hold at least 100 lines
        val a = 1 + r.nextInt(Fixtures.Orders.toInt - 100)
        val cols = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_extendedprice")
        val where = s"l_orderkey between $a and ${a + 99}"
        val order = Seq("l_orderkey", "l_linenumber")
        Statement("lineitem", s"select ${cols.mkString(", ")} from read_files('${f.lineitem}') " +
          s"where $where order by ${order.mkString(", ")} limit 100",
          Expected.Table("lineitem", where, cols, order, Some(100)))
      }
      def ordersRange: Statement = {
        val a = 1 + r.nextInt(Fixtures.Orders.toInt - 100)
        val cols = Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        val where = s"o_orderkey between $a and ${a + 99}"
        Statement("orders", s"select ${cols.mkString(", ")} from read_files('${f.orders}') " +
          s"where $where order by o_orderkey",
          Expected.Table("orders", where, cols, Seq("o_orderkey")))
      }
      def q6: Statement = {
        val y = 1993 + r.nextInt(5)
        val d = 2 + r.nextInt(7)
        val q = 24 + r.nextInt(2)
        val where = s"l_shipdate >= date '$y-01-01' and l_shipdate < date '${y + 1}-01-01' " +
          f"and l_discount between ${(d - 1) / 100.0}%.2f and ${(d + 1) / 100.0}%.2f and l_quantity < $q"
        val aggs = Seq("sum(l_extendedprice * l_discount) as revenue", "count(*) as n")
        Statement("q6", s"select ${aggs.mkString(", ")} from read_files('${f.lineitem}') " +
          s"where $where", Expected.Aggregate("lineitem", where, aggs))
      }
      def direct(kind: String, sql: String) = Statement(kind, sql, Expected.Direct(sql))
      def search: Statement = direct("corpus_search",
        s"select doc_id, score from corpus_search('${f.textIndex}', '${terms(r)}', " +
          s"k=>20) order by score desc, doc_id")
      def ann: Statement = direct("corpus_ann",
        s"select neighbor_id, cos, rank from corpus_ann('${f.ivfIndex}', '${vecLiteral(seed, r)}', " +
          s"k=>20, nprobe=>4, escape_cap=>0) order by rank, neighbor_id")
      def hybrid: Statement = direct("corpus_hybrid",
        s"select doc_id, rrf_score, n_legs from corpus_hybrid('${f.textIndex}', '${f.ivfIndex}', " +
          s"'${terms(r)}', embedding=>'${vecLiteral(seed, r)}', " +
          s"k=>20, nprobe=>${Fixtures.Clusters}) order by rrf_score desc, doc_id")
      val shapes = Seq("lineitem" -> (() => keyRange), "orders" -> (() => ordersRange),
        "q6" -> (() => q6), "corpus_search" -> (() => search), "corpus_ann" -> (() => ann),
        "corpus_hybrid" -> (() => hybrid))
      shapes.map { case (k, make) => k -> IndexedSeq.fill(PoolPerKind)(make()) }.toMap
    }

    /** Statement mix: 40% read_files, 20% each retrieval TVF, as a fixed
      * five-statement cycle: a 100-row key-range read (lineitem and orders
      * in turn), `corpus_search`, `corpus_ann`, the Q6-style aggregate,
      * `corpus_hybrid`. Every cycle holds the same mix and delivers the
      * same rows. */
    val cycle = 5

    def stream(seed: Long, client: Int, f: Fixtures): Iterator[Statement] = {
      val p = pool(seed, f)
      Iterator.from(0).map { i =>
        val j = i / cycle
        val (kind, nth) = i % cycle match {
          case 0 => (if ((j + client) % 2 == 0) "lineitem" else "orders", j / 2)
          case 1 => ("corpus_search", j)
          case 2 => ("corpus_ann", j)
          case 3 => ("q6", j)
          case _ => ("corpus_hybrid", j)
        }
        p(kind)((nth + client) % PoolPerKind)
      }
    }

    def expectations(seed: Long, f: Fixtures): Seq[Expected] =
      pool(seed, f).values.flatten.map(_.expected).toSeq
  }

  /** Large results paged forward: the reference's sample-query shapes
    * (arithmetic projection with aliases and int/decimal coercion over a
    * `% 2 = 0` filter) over lineitem, about 22k rows each, no TVF. One
    * shape, so every statement does the same work; the seed picks the
    * key ranges. */
  object BulkPage extends Workload {
    val name = "bulk_page"
    val clients = 1
    val pages: Seq[PageReq] =
      (0 until 20).map(i => PageReq(500, forward = true, arrow = i % 2 == 1)) :+
        PageReq(500, forward = false, arrow = false)
    val needs: Set[Fixtures.Part] = Set(Fixtures.Tables)
    val cycle = 1
    private val PoolSize = 6

    def pool(seed: Long, f: Fixtures): IndexedSeq[Statement] = {
      val r = new java.util.Random(seed)
      val cols = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_orderkey + 10.0 as key_plus_10",
        "(l_extendedprice + 10) / 100 as price_scaled", "1.0 / l_linenumber as inv_line",
        "1.0 / (l_linenumber * l_linenumber) as inv_line_sq", "l_linenumber * l_linenumber as line_sq",
        "l_shipdate")
      val order = Seq("l_orderkey", "l_linenumber")
      IndexedSeq.fill(PoolSize) {
        // 11000 orders, half of them even, hold about 22k lines
        val a = r.nextInt(Fixtures.Orders.toInt - 11000)
        val where = s"l_orderkey % 2 = 0 and l_orderkey > $a + 0.0 and l_orderkey <= ${a + 11000}"
        Statement("read_files", s"select ${cols.mkString(", ")} from read_files('${f.lineitem}') " +
          s"where $where order by ${order.mkString(", ")}",
          Expected.Table("lineitem", where, cols, order))
      }
    }

    /** The pool in a seeded order, over and over. */
    def stream(seed: Long, client: Int, f: Fixtures): Iterator[Statement] = {
      val p = pool(seed, f)
      val r = new java.util.Random(seed * 1000003L + client)
      val order = scala.util.Random.javaRandomToRandom(r).shuffle(p.indices.toList)
      Iterator.continually(order).flatten.map(p)
    }

    def expectations(seed: Long, f: Fixtures): Seq[Expected] = pool(seed, f).map(_.expected)
  }
}
