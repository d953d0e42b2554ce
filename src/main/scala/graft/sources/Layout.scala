package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

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

  /** `df` with its row count observed on whichever action runs it, and
    * the reader of that count. The count rides the action's own job (a
    * Spark `Observation`), so it costs no scan. The reader returns None
    * when Spark reported no value — a plan the optimizer proved empty
    * reports an empty row — or when none arrived within a minute (the
    * report travels on the listener bus); callers then count themselves. */
  private[graft] def withRowCount(df: DataFrame): (DataFrame, () => Option[Long]) = {
    import org.apache.spark.sql.functions.{count, lit}
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val obs = org.apache.spark.sql.Observation()
    (df.observe(obs, count(lit(1)).as("rows")),
      () => scala.util.Try(Await.result(obs.future, 1.minute)).toOption
        .filter(r => r.length == 1 && !r.isNullAt(0)).map(_.getLong(0)))
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
