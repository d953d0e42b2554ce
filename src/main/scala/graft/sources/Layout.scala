package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.types.StructType

/** Physical-layout helpers for the 100 TB path: bucketing for co-located
  * joins and hive-style partitioning for partition pruning.
  *
  * Bucketing pre-shuffles a table ONCE at write time: two tables bucketed by
  * the same key into the same bucket count join with zero Exchange — the
  * shuffle cost is paid once, not per query. Partitioned writes turn
  * predicate columns into directory structure, so scans touch only matching
  * partitions (PartitionFilters in the plan, not data-file reads).
  */
object Layout {

  /** Write `df` as a bucketed, sorted managed table (parquet). Bucket count
    * is a data-size knob: target ~128 MB per bucket file at scale. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, buckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /** Write hive-style partitioned parquet (one directory per value of
    * `partitionCol`); predicates on that column prune directories at plan
    * time. Keep partition cardinality modest (≤ thousands).
    *
    * The write CLUSTERS on the partition column first (one shuffle at
    * build time), so each partition directory holds ONE file instead of
    * one per upstream task — at 1024 buckets × 32 tasks the naive write
    * costs ~32k files, and file listing was measurable at probe time even
    * with the per-session cache. Optional `sortCols` order rows inside
    * that file, giving parquet page/row-group statistics a tight envelope
    * on the probe column (e.g. postings sorted by `word` let an
    * `IN (terms…)` filter skip pages within a bucket). Row order is
    * answer-invariant everywhere (the serve kernels aggregate or top-k). */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String,
      sortCols: String*): Unit =
    writePartitionedCapped(df, path, partitionCol, RowsPerFile, sortCols: _*)

  /** Rows above which a partition directory splits into multiple salted
    * files (and the per-file cap). 1M rows ≈ the ~128 MB file target for
    * postings-shaped rows; no bench-scale partition reaches it, so uniform
    * corpora keep the one-file-per-bucket layout byte-for-byte.
    * Overridable by `-Dgraft.layout.rows.per.file` or `GRAFT_ROWS_PER_FILE`
    * (the skew-at-scale proof in BASELINE.md runs a 500k-doc Zipf corpus
    * with a 100k gate so the hot census is non-empty at bench scale); see
    * [[rowsPerFileFrom]] for how a value is read. */
  private[graft] val RowsPerFile: Long =
    rowsPerFileFrom(sys.props.get("graft.layout.rows.per.file")
      .orElse(sys.env.get("GRAFT_ROWS_PER_FILE")))

  /** The [[RowsPerFile]] a knob value selects: an integer is floored at
    * 64k, so a misconfigured launch cannot shatter every partition into
    * max-fan salt files; an absent or malformed value selects the 1M
    * default. Never throws — this runs in the object's initializer, where
    * an exception would make every later `Layout` call in the JVM fail. */
  private[graft] def rowsPerFileFrom(v: Option[String]): Long =
    v.flatMap(_.trim.toLongOption).map(math.max(_, 65536L)).getOrElse(1L << 20)

  private[graft] val MaxFilesPerPartition = 32L

  /** [[writePartitioned]] with the skew cap explicit: a Zipf-hot
    * partition value — a stopword's postings bucket holds a corpus-sized
    * posting list — would otherwise funnel through ONE write task (a
    * build-time straggler at scale) and land as ONE file. Salting is
    * COUNT-GATED and WRITE-THEN-SALVAGE: the build frame is evaluated
    * exactly ONCE — clustered one-file-per-partition and written — with
    * its row count observed on that write (no extra job). When the write
    * observed at most `rowsPerFile` rows, no partition can be hot and the
    * call returns without listing or reading the store back. Only when it
    * observed more (or Spark reported no count) does the census run, over
    * the WRITTEN store with an empty read schema (parquet footer row
    * counts, no column IO, exact by construction — no determinism
    * assumption between two evaluations of an expensive frame). Only if
    * hot partitions exist (> `rowsPerFile` rows) are THOSE partitions read
    * back (partition-pruned scan), split into ceil(n / rowsPerFile) ≤
    * [[MaxFilesPerPartition]] files via a deterministic row-hash salt,
    * written to a swap dir, and directory-swapped in (a metadata move on
    * HDFS-likes). Cold partitions keep exactly the single-file layout, hot
    * files each remain internally sorted on (partitionCol, sortCols), so
    * page-level stats pruning is unchanged and row order stays
    * answer-invariant (the serve kernels aggregate or top-k).
    *
    * Known limitation: the salt hashes the non-partition columns, so a hot
    * partition made of rows identical on every other column hashes to one
    * salt value and never splits — acceptable, since such a partition is
    * one run-length-encoded page and carries no per-row information. */
  def writePartitionedCapped(df: DataFrame, path: String, partitionCol: String,
      rowsPerFile: Long, sortCols: String*): Unit = {
    import org.apache.spark.sql.functions._
    val s = df.sparkSession
    val (counted, rows) = withRowCount(df)
    counted.repartition(col(partitionCol))
      .sortWithinPartitions((partitionCol +: sortCols).map(col): _*)
      .write
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCol)
      .parquet(path)
    // no more rows in all than the cap: no partition can be hot
    if (rows().exists(_ <= rowsPerFile)) return
    // Census as its own driver-side action over the WRITTEN store, NOT a
    // join against the build frame: a (df ⋈ counts-over-df) join on the
    // partition column makes Spark inject a dynamic-partition-pruning
    // subquery into the store scan that fails with "has not finished"
    // under plan reuse (hit by ss12/e2e10's ivf folds). Bounded by the
    // documented partition cardinality (≤ thousands); normally empty.
    // A zero-row build writes only _SUCCESS — no partition dirs, nothing
    // to salvage, and spark.read would throw "Unable to infer schema"
    // (ADVICE r20). The read-back also pins the BUILD frame's schema so
    // hive dir-name type re-inference can never retype the partition
    // column (a string-typed value like '0012' would re-infer as int 12
    // and the salted swap would write a NEW 'col=12' dir beside the
    // surviving 'col=0012' one — duplicated rows; ADVICE r20).
    import scala.jdk.CollectionConverters._
    val dirStream = java.nio.file.Files.list(java.nio.file.Paths.get(path))
    val hasPartDirs =
      try dirStream.iterator().asScala.exists(p =>
        java.nio.file.Files.isDirectory(p) && p.getFileName.toString.contains("="))
      finally dirStream.close()
    if (!hasPartDirs) return
    val written = s.read.schema(df.schema).parquet(path)
    val hot = written.groupBy(partitionCol).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > rowsPerFile).collect()
    if (hot.nonEmpty) {
      // Hive dir names re-infer the partition column's type on read-back;
      // cast it back to the build frame's declared type so the salted
      // rewrite is byte-faithful even for string-typed partition values.
      val pType = df.schema(partitionCol).dataType
      // <=> (null-safe): a null partition key lands in the hive default
      // partition and must still match its census row (ADVICE r19).
      val hotPred = hot.map(r => col(partitionCol) <=> lit(r.get(0))).reduce(_ || _)
      val nfExpr = hot.foldLeft(lit(1L)) { (acc, r) =>
        val nf = math.min(MaxFilesPerPartition,
          (r.getLong(1) + rowsPerFile - 1) / rowsPerFile)
        when(col(partitionCol) <=> lit(r.get(0)), lit(nf)).otherwise(acc)
      }
      val hotDf = written.filter(hotPred)
        .withColumn(partitionCol, col(partitionCol).cast(pType))
        .select(df.columns.map(col): _*)
      val saltSrc = hash(df.columns.filterNot(_ == partitionCol).map(col): _*)
      val swap = path + "__hotswap"
      hotDf.withColumn("__salt", pmod(saltSrc, nfExpr.cast("int")))
        // explicit numPartitions: AQE would otherwise coalesce a small
        // build into one task and silently undo the salt split
        .repartition(s.sessionState.conf.numShufflePartitions,
          col(partitionCol), col("__salt"))
        .drop("__salt")
        .sortWithinPartitions((partitionCol +: sortCols).map(col): _*)
        .write
        .mode(SaveMode.Overwrite)
        .partitionBy(partitionCol)
        .parquet(swap)
      swapPartitionDirs(path, swap)
    }
  }

  /** `df` with `metric` (one aggregate expression) observed on whichever
    * action runs it, and the reader of the observed row. The metric rides
    * the action's own job (a Spark `Observation`), so it costs no scan.
    * The reader returns None when none arrived within a minute (the report
    * travels on the listener bus) or Spark reported an empty row, as it
    * does for a plan the optimizer proved empty; callers then compute the
    * value themselves. An aggregate over zero rows reads as a null. */
  private[graft] def withObserved(df: DataFrame, metric: org.apache.spark.sql.Column)
      : (DataFrame, () => Option[Row]) = {
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val obs = org.apache.spark.sql.Observation()
    (df.observe(obs, metric),
      () => scala.util.Try(Await.result(obs.future, 1.minute)).toOption.filter(_.length == 1))
  }

  /** [[withObserved]] for the row count: None also when the count is
    * null. */
  private[graft] def withRowCount(df: DataFrame): (DataFrame, () => Option[Long]) = {
    import org.apache.spark.sql.functions.{count, lit}
    val (counted, row) = withObserved(df, count(lit(1)).as("rows"))
    (counted, () => row().filter(!_.isNullAt(0)).map(_.getLong(0)))
  }

  /** Move every `partitionCol=value` directory under `swap` into `path`,
    * replacing the directory it supersedes, then drop `swap`. Local-FS
    * renames here; on HDFS-likes the same two metadata ops. */
  private def swapPartitionDirs(path: String, swap: String): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val swapP = Paths.get(swap)
    Files.list(swapP).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.contains("="))
      .foreach { p =>
        val dst = Paths.get(path).resolve(p.getFileName.toString)
        deleteTree(dst)
        Files.move(p, dst)
      }
    deleteTree(swapP)
  }

  private def deleteTree(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    if (Files.exists(p)) {
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
  }

  // ---- parquet metadata on the driver ---------------------------------
  // `spark.read.parquet` infers a schema with a Spark job (one footer read
  // in one task), and `count()` / `collect()` of a store run jobs too. The
  // helpers below read the same facts from parquet footers on the driver
  // and start no job; every store open, unfiltered count and `stats` read
  // in graft goes through them.

  /** The data files of parquet store `path` — one file, or a directory
    * tree with hive partition directories — in path order, as Spark's own
    * listing sees them: names starting with `_` (partition directories
    * excepted) or `.` are skipped, except the `_metadata` /
    * `_common_metadata` summary files Spark reads schemas from. Empty when
    * `path` does not exist. Listed through the session's Hadoop
    * FileSystem, so any Hadoop-reachable store works. */
  private def parquetFiles(s: SparkSession, path: String): Seq[FileStatus] = {
    val root = new HPath(path)
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    def listed(n: String): Boolean = isSummary(n) ||
      !((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_"))
    def walk(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq.filter(c => listed(c.getPath.getName)).flatMap(walk)
    (if (fs.exists(root)) walk(fs.getFileStatus(root)) else Nil).sortBy(_.getPath.toString)
  }

  private def isSummary(name: String): Boolean =
    name.startsWith("_metadata") || name.startsWith("_common_metadata")

  /** Whether the store whose listing is `files` has its schema in the
    * first data file's footer, as `spark.read.parquet` reads it: not
    * without a data file, with summary files, or with schema merging on. */
  private def footerReadable(s: SparkSession, files: Seq[FileStatus]): Boolean =
    files.nonEmpty && !files.exists(f => isSummary(f.getPath.getName)) &&
      !s.sessionState.conf.isParquetSchemaMergingEnabled

  /** The data-column schema of parquet store `path`, read from its first
    * data file's footer with Spark's own conversion (session flags
    * included; no Spark job), or None where [[readParquet]] leaves the
    * inference to Spark: the footer is not readable ([[footerReadable]])
    * or the file is corrupt. Hive partition columns are not in it: Spark
    * appends them from the directory names. */
  def parquetSchema(s: SparkSession, path: String): Option[StructType] = {
    val files = parquetFiles(s, path)
    if (!footerReadable(s, files)) None
    else GraftParquetBridge.schemaOf(s, s.sessionState.newHadoopConf(), files.head)
  }

  /** `spark.read.parquet(path)` with the schema read from the footers, so
    * opening the store starts no job. Where there is no footer schema the
    * call IS `spark.read.parquet(path)`, so a missing path or an empty
    * store fails exactly as it does there ("Unable to infer schema"). */
  def readParquet(s: SparkSession, path: String): DataFrame =
    parquetSchema(s, path) match {
      case Some(schema) => s.read.schema(schema).parquet(path)
      case None => s.read.parquet(path)
    }

  private def fileRows(conf: Configuration, f: FileStatus): Long = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
    try r.getRecordCount finally r.close()
  }

  /** The exact row count of parquet store `path`: the sum of its data
    * files' footer row counts (full footers — a schema read skips the row
    * groups and sees 0 rows), with no Spark job. A path with no data file
    * counts through `spark.read.parquet`, failing as it does there. */
  def parquetRows(s: SparkSession, path: String): Long = {
    val files = parquetFiles(s, path).filterNot(f => isSummary(f.getPath.getName))
    if (files.isEmpty) return s.read.parquet(path).count()
    val conf = s.sessionState.newHadoopConf()
    files.iterator.map(fileRows(conf, _)).sum
  }

  /** The first row of parquet store `path` — meant for one-row artifacts
    * such as an index's `stats` — decoded on the driver from its first
    * non-empty data file, typed by that file's footer schema; no Spark
    * job. Columns must be long, int, double, boolean or string (anything
    * else throws). Without a readable footer or a row the result is
    * `spark.read.parquet(path).collect()(0)`, failing as it does there. */
  def parquetFirstRow(s: SparkSession, path: String): Row = {
    val files = parquetFiles(s, path)
    val conf = s.sessionState.newHadoopConf()
    val first =
      if (!footerReadable(s, files)) None
      else files.find(fileRows(conf, _) > 0L)
        .flatMap(f => GraftParquetBridge.schemaOf(s, conf, f).map(f -> _))
    first.fold(s.read.parquet(path).collect()(0)) { case (file, schema) =>
      decodeFirst(path, conf, file, schema)
    }
  }

  private def decodeFirst(path: String, conf: Configuration, file: FileStatus,
      schema: StructType): Row = {
    import org.apache.spark.sql.types._
    val reader = ParquetReader.builder(new GroupReadSupport(), file.getPath).withConf(conf).build()
    val g = try reader.read() finally reader.close()
    new GenericRowWithSchema(schema.fields.map { f =>
      val i = g.getType.getFieldIndex(f.name)
      if (g.getFieldRepetitionCount(i) == 0) null
      else f.dataType match {
        case LongType => g.getLong(i, 0)
        case IntegerType => g.getInteger(i, 0)
        case DoubleType => g.getDouble(i, 0)
        case BooleanType => g.getBoolean(i, 0)
        case StringType => g.getString(i, 0)
        case t => throw new IllegalStateException(s"parquet store $path: column " +
          s"${f.name} has type $t; a driver-side row read decodes long, int, " +
          "double, boolean and string only")
      }
    }, schema)
  }

  /** Per parquet store in `paths`, its footer schema and all its rows,
    * decoded on the driver by Spark's own parquet reader
    * ([[GraftParquetBridge.readRows]], no Spark job): the rows
    * `spark.read.parquet(path).collect()` returns, as InternalRows. None
    * when the stores hold more than `maxBytes` — the summed uncompressed
    * byte size of their row groups, read from the footers; a negative
    * bound admits nothing — or when a store is not a flat store with a
    * readable footer ([[footerReadable]]; hive partition directories are
    * not flat). */
  private[graft] def collectSmall(s: SparkSession, paths: Seq[String], maxBytes: Long)
      : Option[Seq[(StructType, Seq[InternalRow])]] = {
    import scala.jdk.CollectionConverters._
    if (maxBytes < 0L) return None
    val conf = s.sessionState.newHadoopConf()
    val stores = paths.map { p =>
      val root = new HPath(p)
      (root.getFileSystem(conf).makeQualified(root), parquetFiles(s, p))
    }
    val flat = stores.forall { case (root, files) => footerReadable(s, files) &&
      files.forall(f => f.getPath == root || f.getPath.getParent == root) }
    if (!flat) return None
    val bytes = stores.iterator.flatMap(_._2).map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try r.getFooter.getBlocks.asScala.map(_.getTotalByteSize).sum finally r.close()
    }.sum
    if (bytes > maxBytes) return None
    val schemas = stores.map { case (_, files) => GraftParquetBridge.schemaOf(s, conf, files.head) }
    if (schemas.exists(_.isEmpty)) None
    else Some(stores.zip(schemas.flatten).map { case ((_, files), schema) =>
      (schema, GraftParquetBridge.readRows(s, files, schema))
    })
  }

  /** (min, max) of long column `column` over `df` from parquet footer
    * statistics, with no Spark job, when `df` is an unfiltered open of a
    * parquet store — its optimized plan is the file relation, or a
    * projection of the relation's own columns — and `column` is one of
    * its data columns: the values a min/max aggregate over `df` returns.
    * None, so the caller aggregates, for any other frame, when a non-empty
    * row group of a file carries no statistics for the column or stores
    * it as anything but a signed INT64, and when no file records a
    * non-null value. */
  private[graft] def footerLongRange(df: DataFrame, column: String): Option[(Long, Long)] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.types.LongType
    val plan = df.queryExecution.optimizedPlan
    val files = (plan match {
      case Project(_, l: LogicalRelation) => Some(l)
      case l: LogicalRelation => Some(l)
      case _ => None
    }).flatMap { l =>
      val attr = plan.output.find(_.name == column)
      l.relation match {
        case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] &&
            attr.exists(a => a.dataType == LongType && l.output.exists(_.exprId == a.exprId)) &&
            !fs.partitionSchema.fieldNames.exists(_.equalsIgnoreCase(column)) =>
          Some(fs.location.inputFiles.toSeq)
        case _ => None
      }
    }.getOrElse(return None)
    val conf = df.sparkSession.sessionState.newHadoopConf()
    var lo = Long.MaxValue
    var hi = Long.MinValue
    for (f <- files) {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(f), conf))
      val blocks = try r.getFooter.getBlocks.asScala finally r.close()
      for (b <- blocks if b.getRowCount > 0L) {
        val c = b.getColumns.asScala.find(_.getPath.toDotString == column).getOrElse(return None)
        val st = c.getStatistics
        val signedLong = c.getPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT64 &&
          (c.getPrimitiveType.getLogicalTypeAnnotation match {
            case null => true
            case i: IntLogicalTypeAnnotation => i.isSigned
            case _ => false
          })
        if (!signedLong || st == null || st.isEmpty) return None
        // statistics without a non-null value: a row group of nulls only
        if (st.hasNonNullValue) {
          lo = math.min(lo, st.genericGetMin.asInstanceOf[java.lang.Long])
          hi = math.max(hi, st.genericGetMax.asInstanceOf[java.lang.Long])
        }
      }
    }
    if (lo > hi) None else Some((lo, hi))
  }

  /** True iff the physical plan of `df` contains no shuffle Exchange —
    * the assertion that bucketing actually co-located a join. */
  def hasNoShuffle(df: DataFrame): Boolean =
    !df.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning")

  /** Range-clustered write: repartitionByRange + sortWithinPartitions give
    * every output file a TIGHT, pairwise-disjoint min/max envelope on the
    * cluster column, so range predicates skip whole files/row-groups via
    * parquet statistics — single-dimension clustering, the complement of
    * [[writePartitioned]] for high-cardinality numeric columns where
    * directory-per-value would explode. `files` is a data-size knob
    * (~128 MB each at scale). LayoutSpec asserts the disjoint-envelope
    * property that makes the skipping real. */
  def writeRangeClustered(df: DataFrame, path: String, clusterCol: String,
      files: Int): Unit =
    df.repartitionByRange(files, org.apache.spark.sql.functions.col(clusterCol))
      .sortWithinPartitions(clusterCol)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** 16-bit Morton (Z-order) interleave of two non-negative integer columns
    * already scaled into [0, 2¹⁶): bit i of `x` lands at position 2i, bit i
    * of `y` at 2i+1. Pure shift/and/or tree — whole-stage codegen, no UDF.
    * Callers with unbounded domains rank first (e.g. [[graft.operators
    * .Rank.globalRowNumber]] or a fixed quantile grid) so both inputs fit
    * 16 bits; the require-style masking here just truncates higher bits. */
  def zOrderKey(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft, shiftright}
    (0 until 16).map { i =>
      val xb = shiftleft(shiftright(x.cast("long"), i).bitwiseAND(lit(1L)), 2 * i)
      val yb = shiftleft(shiftright(y.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1)
      xb.bitwiseOR(yb)
    }.reduce(_ bitwiseOR _)
  }

  /** Z-order-clustered write: range-partition + sort on the Morton key of
    * TWO columns, so every output file covers a small rectangle of the
    * (x, y) plane and parquet min/max statistics skip files for predicates
    * on EITHER column — the multi-dimension generalization of
    * [[writeRangeClustered]] (which clusters one dimension perfectly and
    * the others not at all). The written files carry the original columns
    * plus `zkey`; LayoutSpec asserts the per-file bounding boxes shrink on
    * both dimensions. */
  def writeZOrdered(df: DataFrame, path: String, xCol: String, yCol: String,
      files: Int): Unit = {
    import org.apache.spark.sql.functions.col
    df.withColumn("zkey", zOrderKey(col(xCol), col(yCol)))
      .repartitionByRange(files, col("zkey"))
      .sortWithinPartitions("zkey")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }
}
