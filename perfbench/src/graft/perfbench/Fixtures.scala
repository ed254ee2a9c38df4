package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs for one run, built through public APIs only: TPC-H
  * shaped `lineitem`/`orders` parquet at sf0.1 cardinality, a text
  * corpus with its embeddings, and over them a persisted text index
  * (`TextIndex.write` + `append`) and IVF index
  * (`Embeddings.writeIvfIndex`). The same seed gives the same bytes. */
final case class Fixtures(root: String) {
  def data: String = s"$root/data"
  def lineitem: String = s"$data/lineitem.parquet"
  def orders: String = s"$data/orders.parquet"
  def docs: String = s"$data/docs.parquet"
  def vectors: String = s"$data/vectors.parquet"
  def textIndex: String = s"$root/idx/text"
  def ivfIndex: String = s"$root/idx/ivf"
  def results: String = s"$root/results"
}

object Fixtures {
  /** sf0.1 order count; lineitem averages four lines per order. */
  val Orders = 150000L
  val Docs = 3000
  val Dim = 32
  val Clusters = 8

  /** Shared with [[Workloads]]: query terms are drawn from the same
    * vocabulary the corpus is written in. */
  val Stopwords: IndexedSeq[String] = IndexedSeq("the", "and", "of", "to", "in", "is", "a", "that")
  val Vocabulary: IndexedSeq[String] = (0 until 1500).map(i => f"w$i%04d")

  /** Skewed draw: low indexes are frequent, as in natural text. */
  def word(r: java.util.Random): String =
    Vocabulary((math.pow(r.nextDouble(), 2.5) * Vocabulary.size).toInt)

  def centre(seed: Long, c: Int): Array[Double] = {
    val r = new java.util.Random(seed * 7919L + c)
    Array.fill(Dim)(r.nextGaussian())
  }

  /** What a workload reads: the TPC-H tables, or the text corpus and
    * its embeddings with their text and IVF indexes. */
  sealed trait Part
  case object Tables extends Part
  case object Indexes extends Part

  /** Write the data files a workload reads: the tables and the corpus
    * parquet, concurrently. This is input generation, not set-up. */
  def writeData(spark: SparkSession, f: Fixtures, seed: Long, needs: Set[Part]): Unit =
    concurrently(
      (if (needs(Tables)) Seq(() => writeTables(spark, f, seed)) else Nil) ++
      (if (needs(Indexes)) Seq(() => writeCorpus(spark, f, seed)) else Nil): _*)

  /** Build the persisted indexes over the corpus: the text index
    * (`TextIndex.write` + `append`) and the IVF index, concurrently.
    * Part of set-up. */
  def buildIndexes(spark: SparkSession, f: Fixtures): Unit = {
    val split = (Docs * 4) / 5
    def docs = spark.read.parquet(f.docs)
    concurrently(
      () => {
        graft.pipeline.TextIndex.write(docs.where(col("doc_id") < split), f.textIndex, buckets = 4)
        graft.pipeline.TextIndex.append(docs.where(col("doc_id") >= split), f.textIndex)
      },
      () => graft.pipeline.Embeddings.writeIvfIndex(spark.read.parquet(f.vectors), f.ivfIndex,
        nlist = Clusters, pqK = 16, pqIters = 3))
  }

  /** Remove the indexes so the next [[buildIndexes]] starts from nothing. */
  def dropIndexes(f: Fixtures): Unit =
    Seq(f.textIndex, f.ivfIndex).foreach { d =>
      val p = java.nio.file.Paths.get(d)
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(x => java.nio.file.Files.delete(x))
    }

  /** Run the tasks on their own threads; rethrow the first failure. */
  def concurrently(tasks: (() => Unit)*): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = tasks.map(t => new Thread(() => try t() catch { case e: Throwable => errors.add(e) }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }

  private def h(seed: Long, salt: Int, cols: org.apache.spark.sql.Column*) =
    pmod(xxhash64((lit(seed) +: lit(salt) +: cols): _*), lit(Long.MaxValue))

  private def writeTables(spark: SparkSession, f: Fixtures, seed: Long): Unit = {
    val orders = spark.range(0, Orders, 1, 4).select(
      (col("id") + 1).as("o_orderkey"),
      (h(seed, 1, col("id")) % 15000 + 1).as("o_custkey"),
      element_at(array(lit("F"), lit("O"), lit("P")),
        (h(seed, 2, col("id")) % 3 + 1).cast("int")).as("o_orderstatus"),
      date_add(lit("1992-01-01").cast("date"),
        (h(seed, 3, col("id")) % 2400).cast("int")).as("o_orderdate"),
      element_at(array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"), lit("4-NOT SPECIFIED"),
        lit("5-LOW")), (h(seed, 4, col("id")) % 5 + 1).cast("int")).as("o_orderpriority"),
      (h(seed, 5, col("id")) % 7 + 1).cast("int").as("n_lines"),
      ((h(seed, 15, col("id")) % 50000000 + 100000) / 100).cast("decimal(12,2)").as("o_totalprice"))
    val lines = orders
      .select(col("o_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1), col("n_lines"))).as("l_linenumber"))
      .select(
        col("o_orderkey").as("l_orderkey"),
        col("l_linenumber"),
        (h(seed, 6, col("o_orderkey"), col("l_linenumber")) % 20000 + 1).as("l_partkey"),
        (h(seed, 7, col("o_orderkey"), col("l_linenumber")) % 1000 + 1).as("l_suppkey"),
        (h(seed, 8, col("o_orderkey"), col("l_linenumber")) % 50 + 1)
          .cast("decimal(12,2)").as("l_quantity"),
        ((h(seed, 9, col("o_orderkey"), col("l_linenumber")) % 100000 + 90000) / 100)
          .cast("decimal(12,2)").as("l_unitprice"),
        ((h(seed, 10, col("o_orderkey"), col("l_linenumber")) % 11) / 100)
          .cast("decimal(12,2)").as("l_discount"),
        ((h(seed, 11, col("o_orderkey"), col("l_linenumber")) % 9) / 100)
          .cast("decimal(12,2)").as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (h(seed, 12, col("o_orderkey"), col("l_linenumber")) % 3 + 1).cast("int"))
          .as("l_returnflag"),
        date_add(col("o_orderdate"),
          (h(seed, 13, col("o_orderkey"), col("l_linenumber")) % 121 + 1).cast("int"))
          .as("l_shipdate"),
        element_at(array(lit("AIR"), lit("MAIL"), lit("SHIP"), lit("TRUCK"), lit("RAIL")),
          (h(seed, 14, col("o_orderkey"), col("l_linenumber")) % 5 + 1).cast("int"))
          .as("l_shipmode"))
      .withColumn("l_extendedprice",
        (col("l_quantity") * col("l_unitprice")).cast("decimal(12,2)"))
      .drop("l_unitprice")
    lines.write.mode("overwrite").parquet(f.lineitem)
    orders.drop("n_lines").write.mode("overwrite").parquet(f.orders)
  }

  private def writeCorpus(spark: SparkSession, f: Fixtures, seed: Long): Unit = {
    import spark.implicits._
    // text corpus and embeddings: generated in this JVM from one
    // java.util.Random stream, so the content is exactly seed-determined
    val r = new java.util.Random(seed)
    val centres = (0 until Clusters).map(centre(seed, _))
    val docs = (0 until Docs).map { id =>
      val n = 20 + r.nextInt(40)
      val words = (0 until n).map { _ =>
        if (r.nextInt(4) == 0) Stopwords(r.nextInt(Stopwords.size)) else word(r)
      }
      val text = words.mkString(" ") + (if (r.nextInt(3) == 0) "." else "")
      val c = centres(id % Clusters)
      val vec = Array.tabulate(Dim)(j => (c(j) + 0.35 * r.nextGaussian()).toFloat)
      (id.toLong, text, vec)
    }
    docs.map(d => (d._1, d._2)).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(f.docs)
    docs.map(d => (d._1, d._3)).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(f.vectors)
  }

  /** Read a table the way the engine's own DataFrame paths do. */
  def table(spark: SparkSession, f: Fixtures, name: String): DataFrame =
    graft.Engine.table(spark, f.data, name)
}
