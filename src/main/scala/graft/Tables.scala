package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers over the driver-generated parquet testdata (TESTDATA.md).
  *
  * All access goes through `Tables` so that every query reads via the same
  * declarative parquet scan — Catalyst then gets predicate pushdown, column
  * pruning and partition-size planning for free. Tables open with the schema
  * read from their footers ([[graft.sources.Layout.readParquet]]), so an open
  * starts no Spark job, and [[rowCount]] counts from footers too. At 100 TB
  * each of these becomes a partitioned table; nothing in the API assumes the
  * data fits anywhere in particular.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // every query path passes through here, so this is the one chokepoint
    // that guarantees graft's native functions (det_hash60, vec_dot, ...)
    // resolve on whatever session is live (idempotent, microseconds)
    graft.plans.GraftFunctions.register(spark)
    if (name == "events") events(spark, dir)
    else raw(spark, dir, name)
  }

  private def raw(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Layout.readParquet(spark, path(dir, name))

  private def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** The exact row count of table `name`, from its parquet footers (no
    * Spark job) — the plan-time counts queries size strides and draws by. */
  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    graft.sources.Layout.parquetRows(spark, path(dir, name))

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** `events.parquet`'s `ts` column has shipped in two physical layouts:
    * parquet TIMESTAMP(NANOS) (read as BIGINT nanos under
    * `spark.sql.legacy.parquet.nanosAsLong=true`, normalized here by ns→us
    * truncation — the same semantics DuckDB applies) and, since the r9
    * testdata refresh, plain TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ).
    * Branch on the observed type so both layouts yield the identical
    * session-UTC microsecond TIMESTAMP column. */
  def events(s: SparkSession, d: String): DataFrame = {
    val e = raw(s, d, "events")
    e.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        e.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => e
      case org.apache.spark.sql.types.TimestampNTZType =>
        // micros-identity only under a UTC session — assert, don't assume:
        // a silent wrong-tz cast would shift every window/session boundary.
        // Any zone id that NORMALIZES to UTC (Etc/UTC, GMT, +00:00) is
        // equally safe — compare resolved offsets, not the id string.
        val tz = s.conf.get("spark.sql.session.timeZone", "")
        val isUtc = try {
          java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC
        } catch { case _: java.time.DateTimeException => false }
        require(isUtc,
          s"events ts is TIMESTAMP_NTZ; normalizing requires a UTC-equivalent " +
            s"spark.sql.session.timeZone, got '$tz'")
        e.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case other =>
        // a THIRD layout change must fail loud here (the r8 lesson), not
        // flow NULLs or misread integers into 15 queries
        throw new IllegalStateException(
          s"events.parquet ts has unhandled type $other — teach Tables.events this layout")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
