package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Minimal driver-side re-export of Spark's own parquet schema
  * inference pieces (all package-private in Spark 4; nothing is
  * modified, only re-exported — the same shim pattern as
  * `graftbridge.ColumnBridge`). Lets a caller read ONE footer on the
  * driver and convert it exactly as Spark's inference would, instead
  * of paying the one-task schema-merge job `spark.read.parquet(path)`
  * starts for it. */
object ParquetFooterBridge {

  /** The Spark schema stored in `file`'s footer: the serialized Spark
    * schema when the writer left one, else the parquet schema converted
    * under the session's settings (binaryAsString, int96AsTimestamp,
    * inferTimestampNTZ, nanosAsLong, ...). None when the footer is
    * skipped as corrupt under `spark.sql.files.ignoreCorruptFiles`. */
  def footerSchema(spark: SparkSession, file: FileStatus): Option[StructType] = {
    val footers = ParquetFileFormat.readParquetFootersInParallel(
      SessionStateHelper.getHadoopConf(spark), Seq(file),
      SessionStateHelper.getSqlConf(spark).ignoreCorruptFiles)
    ParquetFileFormat.readSchema(footers, spark)
  }

  /** Spark's file-listing filter: true for names its file index never
    * lists (`_x` and `.x` names other than the parquet summary files,
    * `._COPYING_` leftovers). */
  def hiddenName(name: String): Boolean =
    HadoopFSUtils.shouldFilterOutPathName(name)
}
