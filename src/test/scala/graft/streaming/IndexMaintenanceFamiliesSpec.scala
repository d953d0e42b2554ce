package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.operators.{CdcRules, PersistedIndex}

/** The maintenance loop generalized over index families (VERDICT r17 #3):
  * for each of LSH, KG, pHash, positions and IVF, N micro-batches land as
  * segments, the compaction policy fires a fold mid-run, and at every
  * point — mid-stream, post-fold, and after a checkpointed restart — the
  * probe equals the family's BATCH FEED FACE (its lshServe/kgServe/… over
  * [[CdcRules.feedFrames]] of the cumulative last-writer feed against the
  * family's own pristine base home). The batch faces are themselves
  * oracle-checked (dd22/kg9/mm10/ir19/ss13), so this equality chains the
  * loop to the DuckDB ground truth. */
class IndexMaintenanceFamiliesSpec extends SparkSpec {

  // gazetteer entities ("data", "stream", "hash join", "table scan") and
  // the phrase pair ("table", "scan") both occur, so KG and positions
  // probes return non-trivial rows; padded past 64 chars because the
  // pHash family only signatures texts that long
  private def pad(t: String): String =
    t + " one two three four five six seven eight nine ten eleven twelve"
  private def baseText(i: Long): String =
    if (i % 7L == 0L) pad("data spark table scan pad")
    else if (i % 5L == 0L) pad("hash join stream data pad")
    else pad("pad filler pad")

  // the shared op script: batch 0 (4 changes — policy silent), batch 1
  // (7 more, 11 > 10% of the 91-row base — the fold fires), batch 2 after
  // a restart (3 changes — one live segment over the folded generation).
  // u/d ops touch BASE ids only: the families whose census subtracts
  // |dead| (KG's nd) assume dead rows were served, which is the feed op
  // contract ('a' = never-served doc).
  private val batch0 = Seq(
    (7L, "d", null: String), (28L, "u", pad("data table scan data")),
    (200L, "a", pad("spark table scan data")), (1L, "s", null: String),
    (40L, "u", pad("stream data hash join")))
  private val batch1 = Seq(
    (40L, "d", null: String), (28L, "u", pad("pad pad pad")),
    (201L, "a", pad("data stream table scan")), (50L, "d", null: String),
    (60L, "u", pad("hash join data pad")), (202L, "a", pad("stream stream data")),
    (3L, "d", null: String))
  private val batch2 = Seq(
    (28L, "d", null: String), (60L, "d", null: String),
    (203L, "a", pad("table scan data data")))

  /** last-writer reduction of the concatenated batches, 's' rows dropped. */
  private def reduced(batches: Seq[Seq[(Long, String, String)]]): Seq[(Long, String, String)] =
    batches.flatten.filterNot(_._2 == "s")
      .groupBy(_._1).map(_._2.last).toSeq.sortBy(_._1)

  private def textFamilies = Seq[IndexMaintenance.Family](
    graft.queries.DedupQueries.LshMaintenance,
    graft.queries.MatchQueries.KgMaintenance,
    graft.queries.MultimodalQueries.PhashMaintenance,
    graft.queries.TextQueries.PositionsMaintenance)

  private def runLoop(family: IndexMaintenance.Family, corpus: String,
      feedSchema: StructType, mkFeedDf: Seq[(Long, String, String)] => DataFrame,
      mkCumDf: Seq[(Long, String, String)] => DataFrame): Unit = {
    val root = Files.createTempDirectory(s"imf_${family.name}_root")
    val landing = Files.createTempDirectory(s"imf_${family.name}_landing").toString
    val ckpt = Files.createTempDirectory(s"imf_${family.name}_ckpt").toString
    val base0 = family.ensureBase(spark, corpus)
    val floor0 = PersistedIndex.readSplit(spark, base0)

    def land(rows: Seq[(Long, String, String)]): Unit =
      mkFeedDf(rows).coalesce(1).write.mode("append").parquet(landing)
    def drain(): Unit = IndexMaintenance.ingestAvailableNow(spark, corpus,
      spark.readStream.schema(feedSchema)
        .option("maxFilesPerTrigger", "1").parquet(landing),
      root, ckpt, family)
    def probeRows() =
      IndexMaintenance.probe(spark, corpus, root, family).collect().toSeq
    // the family's batch feed face over the cumulative reduced feed,
    // served from the PRISTINE base home (never touched by the loop)
    def truthRows(batches: Seq[Seq[(Long, String, String)]]) = {
      val (dead, fresh) = CdcRules.feedFrames(
        mkCumDf(reduced(batches)), family.idCol, family.payloadCol, floor0)
      family.serve(spark, corpus, base0, dead, fresh).collect().toSeq
    }

    land(batch0); drain()
    assert(IndexMaintenance.resolve(spark, corpus, root, family)._3.size === 1,
      s"${family.name}: the first batch lands as one live segment")
    assert(probeRows() === truthRows(Seq(batch0)),
      s"${family.name}: mid-stream probe must equal the batch feed face")

    land(batch1); drain()
    val (_, floor1, segs1) = IndexMaintenance.resolve(spark, corpus, root, family)
    assert(floor1 === 1L && segs1.isEmpty,
      s"${family.name}: the policy-triggered fold retires every live segment")
    assert(probeRows() === truthRows(Seq(batch0, batch1)),
      s"${family.name}: post-fold probe must equal the batch feed face")

    land(batch2); drain() // a fresh query over the same checkpoint = restart
    assert(IndexMaintenance.resolve(spark, corpus, root, family)._3.size === 1,
      s"${family.name}: only the new batch lands after the restart")
    assert(probeRows() === truthRows(Seq(batch0, batch1, batch2)),
      s"${family.name}: post-restart probe must equal the batch feed face " +
        "over the cumulative feed")
  }

  private val textFeedSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("op", StringType),
    StructField("payload", StringType)))

  for (family <- Seq("lsh", "kg", "phash", "positions"))
    test(s"$family: micro-batches + policy fold + restart equal the batch feed face") {
      import spark.implicits._
      val fam = textFamilies.find(_.name == family).get
      val corpus = Files.createTempDirectory(s"imf_${family}_corpus").toString
      (0L until 100L).map(i => (i, baseText(i), baseText(i).length.toLong))
        .toDF("doc_id", "text", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$corpus/documents.parquet")
      runLoop(fam, corpus, textFeedSchema,
        rows => rows.toDF("doc_id", "op", "payload"),
        rows => rows.toDF("doc_id", "op", "payload"))
    }

  test("ivf: micro-batches + policy fold + restart equal the batch feed face") {
    import spark.implicits._
    val fam = graft.queries.SimilarityQueries.IvfMaintenance
    def vec(i: Long): Seq[Float] = Seq(
      (i % 10L).toFloat + 1f, ((i / 10L) % 10L).toFloat + 1f, 1f, (i % 3L).toFloat)
    val corpus = Files.createTempDirectory("imf_ivf_corpus").toString
    (0L until 100L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    val feedSchema = StructType(Seq(
      StructField("vec_id", LongType), StructField("op", StringType),
      StructField("payload", ArrayType(FloatType))))
    // payloads: 'u' re-embeds as the negation (the vecFeed convention),
    // 'a' brings a new vector
    def pay(rows: Seq[(Long, String, String)]): Seq[(Long, String, Seq[Float])] =
      rows.map { case (id, op, _) =>
        (id, op, op match {
          case "u" => vec(id).map(-_)
          case "a" => vec(id).map(_ + 0.5f)
          case _ => null
        })
      }
    def df(rows: Seq[(Long, String, String)]): DataFrame =
      pay(rows).toDF("vec_id", "op", "payload")
    runLoop(fam, corpus, feedSchema, df, df)
  }

  test("a batch touching one id twice without a seq column is rejected") {
    import spark.implicits._
    val corpus = Files.createTempDirectory("imf_dup_corpus").toString
    (0L until 100L).map(i => (i, baseText(i), baseText(i).length.toLong))
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    val root = Files.createTempDirectory("imf_dup_root")
    val batch = Seq((28L, "u", "data data"), (28L, "d", null: String))
      .toDF("doc_id", "op", "payload")
    val e = intercept[IllegalArgumentException] {
      IndexMaintenance.applyBatch(spark, corpus, root, batch, 0L)
    }
    assert(e.getMessage.contains("seq"))
    // the check runs after the batch's one write, inside the segment
    // build: the rejected batch publishes no segment and leaves no
    // staging dir behind
    assert(IndexMaintenance.resolve(spark, corpus, root)._3.isEmpty)
    val staged = Files.list(root)
    try assert(!staged.toArray.exists(_.toString.contains("/.build_")),
      "a rejected batch left a staging dir under the root")
    finally staged.close()
    // the SAME batch with a seq column is ordered and lands: update then
    // delete resolves to delete, never a resurrected doc
    IndexMaintenance.applyBatch(spark, corpus, root,
      Seq((28L, "u", "data data", 0L), (28L, "d", null: String, 1L))
        .toDF("doc_id", "op", "payload", "seq"), 0L)
    val probe = IndexMaintenance.probe(spark, corpus, root).collect()
    assert(!probe.map(_.getLong(0)).contains(28L),
      "update-then-delete within one seq-ordered batch must stay deleted")
  }
}
