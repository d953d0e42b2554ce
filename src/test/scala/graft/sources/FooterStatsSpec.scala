package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, max, min}
import org.apache.spark.sql.types.LongType

import graft.SparkSpec
import graft.operators.PersistedIndex

/** [[Layout.footerLongRange]] — the id range [[PersistedIndex.idWatermark]]
  * reads from parquet footer statistics — against the min/max aggregate it
  * replaces, and the cases that must fall back to that aggregate. */
class FooterStatsSpec extends SparkSpec {

  private val Sf = "/root/testdata/sf0.001"
  private val SfTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def aggRange(df: org.apache.spark.sql.DataFrame, c: String): (Long, Long) = {
    val r = df.agg(min(col(c)), max(col(c))).collect()(0)
    (r.getAs[Number](0).longValue(), r.getAs[Number](1).longValue())
  }

  test("every id column of the sf0.001 tables: the footer range equals the aggregate's, with no job") {
    var longIds = 0
    for (t <- SfTables) {
      val df = graft.Tables(spark, Sf, t)
      for (f <- df.schema.fields if f.name.endsWith("key") || f.name.endsWith("_id")) {
        val footer = Layout.footerLongRange(df, f.name)
        if (f.dataType == LongType) {
          longIds += 1
          assert(footer === Some(aggRange(df, f.name)), s"$t.${f.name}")
          assert(jobsStartedBy(Layout.footerLongRange(df, f.name)) === 0, s"$t.${f.name}")
          val (lo, hi) = aggRange(df, f.name)
          assert(PersistedIndex.idWatermark(df, f.name) === hi - (hi - lo) / 10L)
        } else assert(footer === None, s"$t.${f.name} is not a long column")
      }
    }
    assert(longIds >= 10)
    assert(jobsStartedBy(PersistedIndex.idWatermark(graft.Tables(spark, Sf, "documents"),
      "doc_id")) === 0, "the documents watermark ran a Spark job")
  }

  test("a file without statistics, a filtered frame and a derived column take the aggregate") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_footer_stats")
    val plain = root.resolve("plain").toString
    val bare = root.resolve("bare").toString
    val ids = (5L to 95L by 3L).map(i => (i, s"t$i"))
    ids.toDF("id", "text").coalesce(1).write.parquet(plain)
    // one file of the store carries statistics, the other none
    ids.take(3).map { case (i, t) => (i + 1000L, t) }.toDF("id", "text")
      .write.mode("append").option("parquet.column.statistics.enabled", "false").parquet(bare)
    ids.toDF("id", "text").coalesce(1).write.mode("append").parquet(bare)
    val withStats = Layout.readParquet(spark, plain)
    val noStats = Layout.readParquet(spark, bare)
    assert(Layout.footerLongRange(withStats, "id") === Some((5L, 95L)))
    assert(Layout.footerLongRange(noStats, "id") === None)
    assert(PersistedIndex.idWatermark(noStats, "id") === 1011L - (1011L - 5L) / 10L)
    assert(Layout.footerLongRange(withStats.filter(col("id") > 50L), "id") === None)
    assert(Layout.footerLongRange(withStats.select((col("id") + 1L).as("id")), "id") === None)
    assert(PersistedIndex.idWatermark(withStats.filter(col("id") > 50L), "id") ===
      95L - (95L - 53L) / 10L)
    // an empty source still fails loudly, on the aggregate path
    val empty = root.resolve("empty").toString
    Seq.empty[(Long, String)].toDF("id", "text").coalesce(1).write.parquet(empty)
    assert(intercept[IllegalArgumentException](
      PersistedIndex.idWatermark(Layout.readParquet(spark, empty), "id"))
      .getMessage.contains("source table is empty"))
  }
}
