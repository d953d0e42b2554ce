package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.operators.CdcRules

/** The two paths of [[IndexMaintenance.changeFeed]]: live segment feeds
  * within the session's broadcast threshold reduce last-writer-wins on the
  * driver into a LocalRelation, larger ones in a pinned Spark aggregate.
  * Both return the same (id, op, payload) rows on adversarial feeds, and
  * a loop whose feeds exceed the bound serves the same answers. */
class ChangeFeedSpec extends SparkSpec {

  private val vecType = ArrayType(FloatType)

  /** Write each batch's (id, op, payload, seq) rows as `seg_<batch>/feed`,
    * two files a feed so the decode spans files. */
  private def segments(payloadType: DataType, idCol: String,
      batches: Seq[(Long, Seq[Row])]): Seq[Path] = {
    val root = Files.createTempDirectory("cf_segs")
    val schema = StructType(Seq(StructField(idCol, LongType), StructField("op", StringType),
      StructField("payload", payloadType), StructField("seq", LongType)))
    batches.map { case (batch, rows) =>
      val seg = root.resolve(f"seg_$batch%012d")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
        .write.parquet(seg.resolve("feed").toString)
      seg
    }
  }

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => (r.getLong(0), r.getString(1)))

  private def bothPaths(family: IndexMaintenance.Family, segs: Seq[Path]): Seq[Row] = {
    val driver = IndexMaintenance.changeFeed(spark, segs, family)
    val viaSpark = IndexMaintenance.changeFeed(spark, segs, family, -1L)
    assert(isLocal(driver), "a small feed must reduce on the driver")
    assert(!isLocal(viaSpark), "a disabled threshold must take the Spark aggregate")
    assert(driver.schema === viaSpark.schema)
    assert(sorted(driver) === sorted(viaSpark))
    sorted(driver)
  }

  // id 1: touched in all three segments, a 'u' then a 'd' last
  // id 2: a seq tie inside segment 2 — op then payload break it, as the
  //       aggregate's struct order does ('u' > 'd'; "b" > "a")
  // id 3: a 'u' with a null payload beside a non-null one at one seq
  // id 4: 'd' then 'u' — the update wins; id 5: a lone append
  private def textBatches = Seq(
    1L -> Seq(Row(1L, "u", "one", 0L), Row(3L, "u", null, 4L), Row(3L, "u", "x", 4L),
      Row(4L, "d", null, 0L)),
    2L -> Seq(Row(1L, "u", "two", 7L), Row(2L, "d", null, 3L), Row(2L, "u", "a", 3L),
      Row(2L, "u", "b", 3L), Row(4L, "u", "four", 1L)),
    3L -> Seq(Row(1L, "d", null, 0L), Row(5L, "a", "five", 0L)))

  test("string payloads: the driver reduction equals the Spark aggregate on adversarial feeds") {
    val got = bothPaths(IndexMaintenance.Postings,
      segments(StringType, "doc_id", textBatches))
    assert(got === Seq(Row(1L, "d", null), Row(2L, "u", "b"), Row(3L, "u", "x"),
      Row(4L, "u", "four"), Row(5L, "a", "five")))
  }

  test("array<float> payloads: the driver reduction equals the Spark aggregate") {
    def v(xs: Float*): Seq[Float] = xs.toSeq
    val got = bothPaths(graft.queries.SimilarityQueries.IvfMaintenance,
      segments(vecType, "vec_id", Seq(
        1L -> Seq(Row(1L, "u", v(1f, 2f), 0L), Row(2L, "u", v(0f, 1f), 2L),
          Row(2L, "u", v(0f, 2f), 2L), Row(3L, "u", null, 1L), Row(3L, "u", v(-1f), 1L)),
        2L -> Seq(Row(1L, "u", v(3f, -0.5f), 0L), Row(4L, "a", v(), 0L),
          Row(5L, "u", Seq[Any](null, 1f), 0L), Row(5L, "u", v(0f, 1f), 0L)),
        3L -> Seq(Row(1L, "d", null, 0L), Row(6L, "a", v(7f), 0L)))))
    assert(got.map(r => (r.getLong(0), r.getString(1))) ===
      Seq(1L -> "d", 2L -> "u", 3L -> "u", 4L -> "a", 5L -> "u", 6L -> "a"))
    assert(got(1).getSeq[Float](2) === Seq(0f, 2f))
    assert(got(2).getSeq[Float](2) === Seq(-1f))
    assert(got(4).getSeq[Float](2) === Seq(0f, 1f), "a null element orders below a value")
  }

  test("the driver path runs no Spark job, and feedFrames keeps its LocalRelation unpinned") {
    val segs = segments(StringType, "doc_id", textBatches)
    assert(jobsStartedBy {
      val (dead, fresh) = CdcRules.feedFrames(
        IndexMaintenance.changeFeed(spark, segs, IndexMaintenance.Postings), "doc_id", "text", 3L)
      assert(isLocal(dead) && isLocal(fresh))
      assert(dead.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L, 4L))
      assert(fresh.collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L, 4L, 5L))
    } === 0)
  }

  test("a feed above the bound takes the Spark path, and the loop serves the same answers") {
    import spark.implicits._
    val corpus = Files.createTempDirectory("cf_corpus").toString
    (0L until 100L).map(i => (i, if (i % 7L == 0L) "data spark pad" else "pad filler pad"))
      .toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$corpus/documents.parquet")
    val root = Files.createTempDirectory("cf_root")
    IndexMaintenance.applyBatch(spark, corpus, root,
      Seq((7L, "d", null: String), (28L, "u", "data data"), (200L, "a", "spark data"))
        .toDF("doc_id", "op", "payload"), 0L)
    val segs = IndexMaintenance.resolve(spark, corpus, root)._3
    assert(segs.size === 1)
    val feedBytes = segs.map(p => Files.size(Files.list(p.resolve("feed")).toArray
      .map(_.asInstanceOf[Path]).filter(_.toString.endsWith(".parquet")).head)).sum
    assert(!isLocal(IndexMaintenance.changeFeed(spark, segs, IndexMaintenance.Postings, 1L)),
      s"a feed of about $feedBytes bytes must exceed a 1-byte bound")
    val small = IndexMaintenance.probe(spark, corpus, root).collect().toSeq
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    val large = try IndexMaintenance.probe(spark, corpus, root).collect().toSeq
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(small.nonEmpty)
    assert(large === small)
  }
}
