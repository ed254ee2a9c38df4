package graft.perfbench

import org.apache.spark.sql.types._

import scala.collection.parallel.CollectionConverters._

/** One expected answer: its column names and types, the first rows the
  * paging plan can reach (in canonical form), and the total row count. */
final case class Answer(schema: StructType, rows: IndexedSeq[IndexedSeq[Any]], total: Long)

/** Canonical values and row comparison shared by JSON and Arrow pages.
  *
  * Both page encodings and the expected `collect()` rows are mapped to
  * one form per Spark type before comparing: integers to `BigInt`,
  * decimals to `java.math.BigDecimal` compared by value, dates to
  * `LocalDate`, timestamps to `Instant`. Doubles compare to a relative
  * 1e-9 and floats to 1e-6; everything else must be equal. */
object Check {

  def canonical(v: Any, dt: DataType): Any = if (v == null) null else dt match {
    case ByteType | ShortType | IntegerType | LongType => v match {
      case n: java.math.BigInteger => BigInt(n)
      case n: java.math.BigDecimal => BigInt(n.toBigIntegerExact)
      case n: BigDecimal => n.toBigIntExact.getOrElse(v)
      case n: Number => BigInt(n.longValue)
      case other => other
    }
    case _: DecimalType => v match {
      case d: java.math.BigDecimal => d
      case d: BigDecimal => d.bigDecimal
      case n: java.math.BigInteger => new java.math.BigDecimal(n)
      case n: Number => new java.math.BigDecimal(n.toString)
      case other => other
    }
    case DoubleType | FloatType => v match {
      case n: Number => n.doubleValue
      case other => other
    }
    case DateType => v match {
      case d: java.sql.Date => d.toLocalDate
      case d: java.time.LocalDate => d
      case s: String => java.time.LocalDate.parse(s)
      case n: Number => java.time.LocalDate.ofEpochDay(n.longValue)
      case other => other
    }
    case TimestampType => v match {
      case t: java.sql.Timestamp => t.toInstant
      case t: java.time.Instant => t
      case s: String => java.time.Instant.parse(s)
      case n: Number => java.time.Instant.EPOCH.plus(n.longValue, java.time.temporal.ChronoUnit.MICROS)
      case other => other
    }
    case StringType => v.toString
    case _ => v
  }

  def sameValue(a: Any, b: Any, dt: DataType): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) == 0
    case (x: Double, y: Double) =>
      val tol = if (dt == FloatType) 1e-6 else 1e-9
      x == y || math.abs(x - y) <= tol * math.max(math.abs(x), math.abs(y))
    case _ => a == b
  }

  /** The expected rows of one page: `limit` rows starting at global row
    * `pos` (forward) or ending just before it (backward). */
  def slice(ans: Answer, pos: Long, req: PageReq): IndexedSeq[IndexedSeq[Any]] = {
    val (from, until) =
      if (req.forward) (pos, math.min(pos + req.limit, ans.total))
      else (math.max(0L, pos - req.limit), pos)
    require(until <= ans.rows.size,
      s"page [$from, $until) lies beyond the ${ans.rows.size} expected rows kept")
    ans.rows.slice(from.toInt, until.toInt)
  }

  /** None when the page equals the expected slice, else what differs. */
  def comparePage(ans: Answer, columns: Seq[String], expected: IndexedSeq[IndexedSeq[Any]],
                  actual: Seq[Seq[Any]]): Option[String] = {
    val fields = ans.schema.fields
    if (columns != fields.map(_.name).toSeq)
      return Some(s"columns ${columns.mkString(",")} != ${fields.map(_.name).mkString(",")}")
    if (actual.size != expected.size)
      return Some(s"${actual.size} rows, expected ${expected.size}")
    var i = 0
    while (i < actual.size) {
      val row = actual(i)
      if (row.size != fields.length) return Some(s"row $i has ${row.size} values")
      var j = 0
      while (j < fields.length) {
        val a = canonical(row(j), fields(j).dataType)
        if (!sameValue(a, expected(i)(j), fields(j).dataType))
          return Some(s"row $i column ${fields(j).name}: got $a, expected ${expected(i)(j)}")
        j += 1
      }
      i += 1
    }
    None
  }

  /** Compute every expectation once, bypassing the service. */
  def answers(spark: org.apache.spark.sql.SparkSession, f: Fixtures, exps: Seq[Expected],
              reach: Int): Map[String, Answer] =
    exps.map(e => e.key -> e).toMap.toSeq.par.map { case (key, e) =>
      val df = e.frame(spark, f)
      val kept = df.limit(reach).collect()
      val total = if (kept.length < reach) kept.length.toLong else df.count()
      val fields = df.schema.fields
      key -> Answer(df.schema,
        kept.map(r => fields.indices.map(j => canonical(r.get(j), fields(j).dataType))).toIndexedSeq,
        total)
    }.seq.toMap
}
