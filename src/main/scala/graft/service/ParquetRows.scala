package graft.service

import org.apache.parquet.example.data.Group
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.Row

/** parquet-mr `Group` → Spark `Row` for the driver-local paged-read
  * path — primitive result schemas only (the same surface the
  * reference's row-group reader serves over the wire,
  * query_data_handler.rs:183-237). Values match what Spark's own
  * parquet reader would produce for the same file: java.sql.Date for
  * DATE, java.sql.Timestamp for TIMESTAMP(micros), BigDecimal for
  * int-backed decimals, String for UTF8 binary. Nested
  * list/map/struct and INT96 columns are not served: in process, read
  * such a result through `ResultReader.asDataFrame`; over TCP there is
  * no fallback, and `get_query_data` answers with an error line whose
  * message names the column. */
object ParquetRows {

  def toRow(g: Group, schema: MessageType): Row = {
    val n = schema.getFieldCount
    val values = new Array[Any](n)
    var i = 0
    while (i < n) {
      values(i) =
        if (g.getFieldRepetitionCount(i) == 0) null
        else convert(g, i, schema.getType(i))
      i += 1
    }
    Row.fromSeq(values.toIndexedSeq)
  }

  private def convert(g: Group, i: Int, t: org.apache.parquet.schema.Type): Any = t match {
    case p: PrimitiveType =>
      val logical = p.getLogicalTypeAnnotation
      p.getPrimitiveTypeName match {
        case BOOLEAN => g.getBoolean(i, 0)
        case FLOAT => g.getFloat(i, 0)
        case DOUBLE => g.getDouble(i, 0)
        case INT32 => logical match {
          case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
            // match Spark's default collect() convention
            // (spark.sql.datetime.java8API.enabled=false): java.sql.Date
            java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(g.getInteger(i, 0).toLong))
          case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
            BigDecimal(BigInt(g.getInteger(i, 0)), d.getScale)
          case it: LogicalTypeAnnotation.IntLogicalTypeAnnotation if it.getBitWidth <= 16 =>
            if (it.getBitWidth == 8) g.getInteger(i, 0).toByte else g.getInteger(i, 0).toShort
          case _ => g.getInteger(i, 0)
        }
        case INT64 => logical match {
          case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            val v = g.getLong(i, 0)
            val micros = ts.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MILLIS => v * 1000L
              case LogicalTypeAnnotation.TimeUnit.MICROS => v
              case LogicalTypeAnnotation.TimeUnit.NANOS => v / 1000L
            }
            val instant = java.time.Instant.EPOCH.plus(micros,
              java.time.temporal.ChronoUnit.MICROS)
            // Match Spark's default collect() convention
            // (spark.sql.datetime.java8API.enabled=false):
            // java.sql.Timestamp for TIMESTAMP (UTC-adjusted),
            // LocalDateTime for TIMESTAMP_NTZ (always java.time).
            if (ts.isAdjustedToUTC) java.sql.Timestamp.from(instant)
            else java.time.LocalDateTime.ofInstant(instant, java.time.ZoneOffset.UTC)
          case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
            BigDecimal(BigInt(g.getLong(i, 0)), d.getScale)
          case _ => g.getLong(i, 0)
        }
        case BINARY | FIXED_LEN_BYTE_ARRAY => logical match {
          case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation |
               _: LogicalTypeAnnotation.EnumLogicalTypeAnnotation |
               _: LogicalTypeAnnotation.JsonLogicalTypeAnnotation =>
            g.getBinary(i, 0).toStringUsingUTF8
          case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
            BigDecimal(BigInt(g.getBinary(i, 0).getBytes), d.getScale)
          case _ => g.getBinary(i, 0).getBytes
        }
        case INT96 =>
          throw new UnsupportedOperationException(
            s"INT96 column '${p.getName}' is not served by the paged reader; use asDataFrame")
      }
    case _: GroupType =>
      throw new UnsupportedOperationException(
        s"nested column '${t.getName}' is not served by the paged reader; use asDataFrame")
  }
}
