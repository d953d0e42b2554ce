package graft.sources

import java.nio.file.{Files, Path}

import graft.SparkSpec
import graft.operators.PersistedIndex
import graft.streaming.IndexMaintenance

/** The driver-side parquet metadata reads ([[Layout.readParquet]],
  * [[Layout.parquetRows]], [[Layout.parquetFirstRow]]) against what Spark
  * itself infers, counts and collects, and the Spark jobs the index
  * bookkeeping built on them starts: none for opens, counts and `stats`
  * reads, one write for a landed micro-batch. */
class ParquetMetaSpec extends SparkSpec {

  private val Sf = "/root/testdata/sf0.001"
  private val SfTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def sameAsSpark(path: String): Unit = {
    val spark0 = spark.read.parquet(path)
    assert(Layout.readParquet(spark, path).schema === spark0.schema, path)
    assert(Layout.parquetRows(spark, path) === spark0.count(), path)
  }

  test("footer schemas and row counts equal Spark's for every sf0.001 table") {
    SfTables.foreach(n => sameAsSpark(s"$Sf/$n.parquet"))
    // events reads its ts under nanosAsLong from the footer too
    assert(Layout.parquetSchema(spark, s"$Sf/events.parquet").get ===
      spark.read.parquet(s"$Sf/events.parquet").schema)
    assert(jobsStartedBy(SfTables.foreach(graft.Tables(spark, Sf, _))) === 0,
      "opening the tables ran a Spark job")
    assert(jobsStartedBy(SfTables.foreach(graft.Tables.rowCount(spark, Sf, _))) === 0,
      "counting the tables ran a Spark job")
  }

  test("a store with no data file fails as spark.read.parquet does") {
    val empty = Files.createTempDirectory("graft_meta_empty")
    Files.createFile(empty.resolve("_SUCCESS"))
    val missing = empty.resolve("absent").toString
    for (p <- Seq(empty.toString, missing)) {
      val want = intercept[Exception](spark.read.parquet(p)).getMessage
      assert(intercept[Exception](Layout.readParquet(spark, p)).getMessage === want)
      assert(intercept[Exception](Layout.parquetRows(spark, p)).getMessage === want)
      assert(intercept[Exception](Layout.parquetFirstRow(spark, p)).getMessage === want)
    }
  }

  test("a one-row read decodes long, int, double, boolean, string and null, and rejects other types") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_meta_row")
    val ok = root.resolve("ok").toString
    // four range partitions: empty files beside the one holding the row
    spark.range(0, 1, 1, 4).selectExpr("42L AS l", "7 AS i", "2.5D AS d", "true AS b",
        "'x' AS s", "CAST(NULL AS BIGINT) AS n")
      .write.parquet(ok)
    assert(Layout.parquetFirstRow(spark, ok) === spark.read.parquet(ok).collect()(0))
    assert(Layout.parquetFirstRow(spark, ok).schema === spark.read.parquet(ok).schema)
    val bad = root.resolve("bad").toString
    Seq(java.sql.Date.valueOf("2020-01-02")).toDF("day").write.parquet(bad)
    val e = intercept[IllegalStateException](Layout.parquetFirstRow(spark, bad))
    assert(e.getMessage.contains("day"))
  }

  // ---- the six persisted families over one small corpus ---------------

  private def pad(t: String): String =
    t + " one two three four five six seven eight nine ten eleven twelve"
  private def text(i: Long): String =
    if (i % 7L == 0L) pad("data spark table scan pad")
    else if (i % 5L == 0L) pad("hash join stream data pad")
    else pad("pad filler pad")
  private def vec(i: Long): Seq[Float] = Seq(
    (i % 10L).toFloat + 1f, ((i / 10L) % 10L).toFloat + 1f, 1f, (i % 3L).toFloat)

  private lazy val corpus: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_meta_corpus").toString
    (0L until 100L).map(i => (i, text(i), text(i).length.toLong))
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    (0L until 100L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private lazy val homes: Seq[(IndexMaintenance.Family, Path)] =
    IndexMaintenance.Families.map(f => f -> f.ensureBase(spark, corpus))

  private def artifacts(home: Path): Seq[Path] = {
    val it = Files.list(home)
    try it.toArray.toSeq.map(_.asInstanceOf[Path]).filter { p =>
      val n = p.getFileName.toString
      Files.isDirectory(p) && !n.startsWith("_") && !n.startsWith(".")
    }.sortBy(_.toString)
    finally it.close()
  }

  test("every artifact of each family's fresh home: schema and row count equal Spark's") {
    var partitioned = 0
    for ((f, home) <- homes; a <- artifacts(home)) {
      sameAsSpark(a.toString)
      val it = Files.list(a)
      try if (it.toArray.exists(_.toString.contains("="))) partitioned += 1
      finally it.close()
    }
    assert(partitioned >= 3, "the postings, LSH bands and IVF cells stores are hive-partitioned")
  }

  test("statsRow equals the collected stats row for all six families") {
    for ((f, home) <- homes) {
      val want = spark.read.parquet(home.resolve("stats").toString).collect()(0)
      val got = PersistedIndex.statsRow(spark, home)
      assert(got === want, f.name)
      assert(got.schema === want.schema, f.name)
    }
  }

  test("opens, stats reads and base counts start no Spark job") {
    for ((f, home) <- homes) {
      assert(jobsStartedBy(artifacts(home).foreach(a =>
        PersistedIndex.artifactFrame(spark, home, a.getFileName.toString))) === 0,
        s"${f.name}: first artifactFrame opens ran a job")
      assert(jobsStartedBy {
        PersistedIndex.statsRow(spark, home)
        PersistedIndex.readSplit(spark, home)
        PersistedIndex.recordedBuckets(spark, home, 16L)
      } === 0, s"${f.name}: stats reads ran a job")
      var n = -1L
      assert(jobsStartedBy { n = f.baseCount(spark, home) } === 0,
        s"${f.name}: baseCount ran a job")
      assert(n > 0L, f.name)
    }
  }

  test("a non-folding applyBatch runs at most two jobs and writes only the segment feed") {
    import spark.implicits._
    val fams = Seq[IndexMaintenance.Family](IndexMaintenance.Postings,
      graft.queries.DedupQueries.LshMaintenance,
      graft.queries.SimilarityQueries.IvfMaintenance)
    homes // built outside the counted calls
    for (f <- fams) {
      val root = Files.createTempDirectory(s"graft_meta_${f.name}_root")
      val batch =
        if (f.idCol == "vec_id")
          Seq((7L, "d", null: Seq[Float]), (28L, "u", vec(28L).map(-_)),
            (200L, "a", vec(3L)), (1L, "s", null: Seq[Float])).toDF("vec_id", "op", "payload")
        else
          Seq((7L, "d", null: String), (28L, "u", pad("data table scan")),
            (200L, "a", pad("spark data")), (1L, "s", null: String)).toDF("doc_id", "op", "payload")
      val jobs = jobsStartedBy(IndexMaintenance.applyBatch(spark, corpus, root, batch, 0L, f))
      assert(jobs <= 2, s"${f.name}: a non-folding applyBatch ran $jobs jobs")
      val (_, floor, segs) = IndexMaintenance.resolve(spark, corpus, root, f)
      assert(floor === -1L && segs.size === 1, s"${f.name}: the batch must land, unfolded")
      assert(artifacts(segs.head).map(_.getFileName.toString) === Seq("feed"))
      assert(Layout.parquetRows(spark, segs.head.resolve("feed").toString) === 3L)
    }
  }

  test("frameCache holds no entry of a stopped SparkContext") {
    // runs last: it stops this suite's session and leaves a new one active
    val (_, home) = homes.head
    val artifact = artifacts(home).head.getFileName.toString
    PersistedIndex.artifactFrame(spark, home, artifact)
    val oldApp = spark.sparkContext.applicationId + "|"
    assert(PersistedIndex.cachedFrameKeys.exists(_.startsWith(oldApp)))
    spark.stop()
    val next = newSession()
    val df = PersistedIndex.artifactFrame(next, home, artifact)
    assert(!PersistedIndex.cachedFrameKeys.exists(_.startsWith(oldApp)),
      "an entry of the stopped context survived the next insert")
    assert(df.count() === Layout.parquetRows(next, home.resolve(artifact).toString))
  }
}
