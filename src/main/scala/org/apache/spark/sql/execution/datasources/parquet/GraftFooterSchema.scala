package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/**
 * Scala-visibility shim: `ParquetFileFormat.readParquetFootersInParallel`
 * and `readSchema` are `private[parquet]`. Together they are what a
 * Parquet read's schema inference does with the footer it reads, minus the
 * Spark job inference wraps them in: Spark's own footer reader and
 * converter, under the session's SQLConf (`nanosAsLong`, INT96,
 * binary-as-string and NTZ inference), preferring the Spark schema a Spark
 * writer stores in the footer. Used by `graft.catalog.Catalog` to read a
 * dataset's schema on the driver.
 */
object GraftFooterSchema {
  /** The schema in the footer of the Parquet file `status`, if any. */
  def read(session: SparkSession, status: FileStatus): Option[StructType] =
    ParquetFileFormat.readSchema(ParquetFileFormat.readParquetFootersInParallel(
      session.sessionState.newHadoopConf(), Seq(status), ignoreCorruptFiles = false), session)
}
