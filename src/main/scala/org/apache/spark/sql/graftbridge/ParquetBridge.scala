package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** The `private[spark]` rules a parquet read's schema inference obeys,
  * for `graft.sources.Parquet`'s driver-side footer route. */
object ParquetBridge {
  /** A file or directory name the file-source listing skips. */
  def hidden(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)
  /** The data schema a file-source relation exposes. */
  def asNullable(s: StructType): StructType = s.asNullable
}
