package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Footer-to-schema bridge for graft's driver-side parquet metadata reads
  * ([[graft.sources.Layout.parquetSchema]]).
  *
  * `spark.read.parquet` infers a store's schema by reading one footer in a
  * Spark job of its own. The two steps of that inference — read the
  * footers, convert them to a Catalyst schema under the session's parquet
  * flags (binaryAsString, int96AsTimestamp, inferTimestampNTZ,
  * nanosAsLong, the embedded Spark schema when present) — are
  * `private[parquet]`; this one-file shim in their package (the
  * [[org.apache.spark.sql.GraftColumnBridge]] pattern) runs them on the
  * driver, so the schema equals Spark's inference by construction. */
object GraftParquetBridge {
  /** The Spark schema of parquet data file `file`, all fields nullable as
    * a file source reports them, or None when its footer is unreadable and
    * the session ignores corrupt files. */
  def schemaOf(s: SparkSession, conf: Configuration, file: FileStatus): Option[StructType] =
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(conf, Seq(file),
        s.sessionState.conf.ignoreCorruptFiles), s).map(_.asNullable)
}
