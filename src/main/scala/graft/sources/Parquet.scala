package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.Float16LogicalTypeAnnotation
import org.apache.parquet.schema.{MessageType, Type}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ParquetBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one route from parquet paths to a DataFrame: the schema comes
  * from ONE footer read on the driver, so neither analysis nor a
  * result page starts Spark's schema-inference job.
  *
  * Without mergeSchema, Spark's inference (`ParquetUtils.inferSchema`)
  * also converts one footer — `_common_metadata`, else `_metadata`,
  * else the first data file by full path string among the files its
  * listing keeps — but inside a Spark job. [[read]] picks the same file
  * under the same hidden-file rule, converts it with the function that
  * job calls (`ParquetFileFormat.readSchemaFromFooter`: Spark's
  * row-metadata key, else the session's converter) and passes the
  * schema to `spark.read.schema(s)`. Partition directories (`bucket=3/`)
  * are still discovered and appended, so the DataFrame, its plan and
  * its rows are those of `spark.read.parquet`, minus the job.
  *  - A FLOAT16 column in that footer sends the read straight to
  *    [[WidenedParquet]]: no failing stock-reader job.
  *  - Session `spark.sql.parquet.mergeSchema=true` keeps Spark's path,
  *    as does read_files' `mergeschema=>'true'`: the escape for
  *    schema-drifted directories, whose first footer misdescribes the rest.
  *  - No data file (missing path, empty directory, unmatched glob)
  *    falls through to `spark.read.parquet`, so the error is Spark's.
  */
object Parquet {

  def read(spark: SparkSession, paths: String*): DataFrame =
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) spark.read.parquet(paths: _*)
    else {
      val conf = spark.sessionState.newHadoopConf()
      schemaFile(conf, paths) match {
        case None => spark.read.parquet(paths: _*)
        case Some(file) =>
          val footer = this.footer(conf, file.getPath)
          val message = footer.getFileMetaData.getSchema
          if (WidenedParquet.hasFloat16(message)) WidenedParquet.read(spark, message, paths)
          else spark.read.schema(sparkSchema(spark, file.getPath, footer)).parquet(paths: _*)
      }
    }

  /** `read(spark, paths*).schema`: partition columns included, no job. */
  def schema(spark: SparkSession, paths: String*): StructType = read(spark, paths: _*).schema

  /** One file's footer, row-group metadata included. */
  def footer(conf: Configuration, file: Path): ParquetMetadata = ParquetFooterReader.readFooter(
    HadoopInputFile.fromPath(file, conf), ParquetMetadataConverter.NO_FILTER)

  /** A footer's Spark schema, converted as Spark's inference converts
    * it and nullable, as a parquet relation over the file exposes it. */
  def sparkSchema(spark: SparkSession, file: Path, footer: ParquetMetadata): StructType =
    ParquetBridge.asNullable(ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)))

  /** The file whose footer Spark's non-merging inference converts, or
    * None when a path matches nothing or no file survives the listing. */
  private def schemaFile(conf: Configuration, paths: Seq[String]): Option[FileStatus] = {
    def leaves(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
      if (st.isFile) Seq(st).filterNot(f => ParquetBridge.hidden(f.getPath.getName))
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => c.isDirectory && ParquetBridge.hidden(c.getPath.getName))
        .flatMap(leaves(fs, _))
    val roots = paths.map { s =>
      val p = new Path(s)
      val fs = p.getFileSystem(conf)
      Option(fs.globStatus(p)).toSeq.flatten.map(fs -> _)
    }
    val sorted = if (roots.exists(_.isEmpty)) Nil
      else roots.flatten.flatMap { case (fs, st) => leaves(fs, st) }.sortBy(_.getPath.toString)
    val summaries = Seq("_common_metadata", "_metadata")
    summaries.flatMap(n => sorted.find(_.getPath.getName == n)).headOption
      .orElse(sorted.find(f => !summaries.contains(f.getPath.getName)))
  }
}

/** Parquet ingestion for the one physical type Spark's reader refuses.
  * The reference ingests the full primitive surface, UInt8..UInt64 and
  * Float16 included (reference compute_value.rs:350-431). Spark 4.1
  * widens the unsigned family natively (u8→short, u16→int, u32→long,
  * u64→decimal(20,0), as SURVEY §1 prescribes) but rejects FLOAT16 at
  * schema conversion ([PARQUET_TYPE_ILLEGAL]).
  *
  * [[Parquet.read]] routes a read here when the footer it already
  * opened carries a FLOAT16 column, so such a read never starts the
  * stock reader's failing inference job. The footer's message type,
  * with the FLOAT16 annotation dropped, goes through Spark's own
  * converter: every other column gets Spark's type, and FLOAT16
  * columns are requested as BinaryType (the vectorized reader happily
  * hands over FLBA(2) payloads). A codegen'd
  * [[graft.functions.NativeExpressions.HalfToFloatExpr]] widens the
  * bytes to FloatType inside the scan's fused span. Everything else —
  * split planning, pushdown, pruning on the non-f16 columns — is the
  * untouched FileSourceScanExec machinery, so the plan at 100 TB is
  * the plan Spark would have produced had it supported the type.
  */
private[sources] object WidenedParquet {
  import scala.jdk.CollectionConverters._

  /** A top-level FLOAT16 column; one nested in a group stays Spark's
    * [PARQUET_TYPE_ILLEGAL] error. */
  private def isF16(f: Type): Boolean =
    f.isPrimitive && f.getLogicalTypeAnnotation.isInstanceOf[Float16LogicalTypeAnnotation]

  def hasFloat16(message: MessageType): Boolean = message.getFields.asScala.exists(isF16)

  /** Read `paths` with `message`'s schema; FLOAT16 columns arrive as
    * FloatType (decoded in-scan), every other column as Spark types it. */
  def read(spark: SparkSession, message: MessageType, paths: Seq[String]): DataFrame = {
    val fields = message.getFields.asScala.toSeq
    val bare = new MessageType(message.getName, fields.map { f =>
      if (isF16(f)) f.asPrimitiveType.withLogicalTypeAnnotation(null): Type else f
    }.asJava)
    val schema = new ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(bare)
    spark.read.schema(schema).parquet(paths: _*).select(fields.map { f =>
      if (isF16(f)) graft.functions.NativeExpressions.half_to_float(col(f.getName)).as(f.getName)
      else col(f.getName)
    }: _*)
  }
}
