package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
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
  * driver, so the schema equals Spark's inference by construction. The
  * same holds for [[readRows]]: the rows come out of the reader a file
  * scan runs. */
object GraftParquetBridge {
  /** The Spark schema of parquet data file `file`, all fields nullable as
    * a file source reports them, or None when its footer is unreadable and
    * the session ignores corrupt files. */
  def schemaOf(s: SparkSession, conf: Configuration, file: FileStatus): Option[StructType] =
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(conf, Seq(file),
        s.sessionState.conf.ignoreCorruptFiles), s).map(_.asNullable)

  /** The rows of parquet data files `files` read under `schema`, decoded on
    * the driver by the reader a parquet file scan runs (session flags
    * included), with no Spark job: the rows, in file order, that
    * `spark.read.schema(schema).parquet(...)` scans from those files. */
  def readRows(s: SparkSession, files: Seq[FileStatus], schema: StructType): Seq[InternalRow] = {
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(s, schema,
      new StructType(), schema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      s.sessionState.newHadoopConf())
    files.flatMap { f =>
      // the reader reuses its row object: copy each row out
      read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(f.getPath), 0L, f.getLen,
        Array.empty, f.getModificationTime, f.getLen)).map(_.copy()).toVector
    }
  }

  /** A frame over driver-held `rows` of `schema`, planned as a
    * LocalRelation — what `createDataFrame` over a local list plans,
    * without converting the rows to external Rows and back. */
  def localFrame(s: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
