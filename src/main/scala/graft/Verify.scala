package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    SparkEntry.oracleSfDir = sfDir // path-referencing oracles (q_rowid)
    // the drift oracle reads the IVF fixture after this JVM exits, so
    // the fixtures stay on disk: beside outDir, whose every
    // subdirectory is a query result
    SparkEntry.keepFixturesAt(new java.io.File(outDir).getAbsolutePath + ".fixtures")
    // Optional 3rd arg: comma-separated query-name subset (local iteration aid).
    val only = args.drop(2).headOption.map(_.split(",").toSet)
    val spark = Engine.session("graft-verify", Engine.envCpus(4))
    // stats-backed catalog tables: plans carry real cardinalities and
    // the verify run exercises the same catalog-relation path
    // production uses after ANALYZE TABLE. (Join reordering itself
    // stays off here — Engine.tune's measured default; the service's
    // SQL session is where reorder engages, see QueryService)
    Engine.analyzeTables(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // DuckDB's TIMESTAMP is naive; the engine's is an instant under
      // the UTC session zone. Dump instants as their UTC wall time
      // (TIMESTAMP_NTZ) so the driver's pandas compare sees the same
      // dtype on both sides — value bytes are unchanged.
      try {
        val res = fn(spark, sfDir)
        val tsCols = res.schema.fields.collect {
          case f if f.dataType == org.apache.spark.sql.types.TimestampType => f.name
        }
        tsCols.foldLeft(res)((d, c) => d.withColumn(c,
            org.apache.spark.sql.functions.col(c).cast(
              org.apache.spark.sql.types.TimestampNTZType)))
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
