package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The streaming index-maintenance loop (VERDICT r16 #3): feed
  * micro-batches land as delta segments, the compaction policy fires a
  * fold, and at every point the probe equals a from-scratch index over
  * the post-change corpus — including across a checkpointed restart. */
class IndexMaintenanceSpec extends SparkSpec {

  private val feedSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("op", StringType),
    StructField("payload", StringType)))

  test("micro-batches + policy-triggered fold + restart: probe equals post-change ground truth") {
    import spark.implicits._
    // corpus ids 0..99 → postings watermark 90: ids 0..90 are the served
    // base, the rest arrive only through the feed
    def baseText(i: Long): String =
      if (i % 7L == 0L) "data spark pad"
      else if (i % 5L == 0L) "join pad pad"
      else "pad filler pad"
    val corpus = Files.createTempDirectory("imx_corpus").toString
    (0L until 100L).map(i => (i, baseText(i), baseText(i).length.toLong))
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    val root = Files.createTempDirectory("imx_root")
    val landing = Files.createTempDirectory("imx_landing").toString
    val ckpt = Files.createTempDirectory("imx_ckpt").toString

    def land(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "op", "payload")
        .coalesce(1).write.mode("append").parquet(landing)
    def drain(): Unit = IndexMaintenance.ingestAvailableNow(spark, corpus,
      spark.readStream.schema(feedSchema)
        .option("maxFilesPerTrigger", "1").parquet(landing),
      root, ckpt)
    def probeRows() = IndexMaintenance.probe(spark, corpus, root).collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue(), r.getLong(2))).toSeq
    // ground truth: a from-scratch one-shot index over the post-change
    // corpus (base ids 0..90 with the ops applied, plus fed appends)
    def truth(deleted: Set[Long], updated: Map[Long, String],
        appended: Map[Long, String]): Seq[(Long, Long, Long)] = {
      val tmp = Files.createTempDirectory("imx_truth").toString
      ((0L to 90L).filterNot(deleted)
          .map(i => (i, updated.getOrElse(i, baseText(i)))) ++ appended.toSeq)
        .map { case (i, t) => (i, t, t.length.toLong) }
        .toDF("doc_id", "text", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      graft.queries.TextQueries.ir6PostingsBm25(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).longValue(), r.getLong(2))).toSeq
    }

    // batch 0: four changes (4/91 — policy silent) + one 's' skip marker
    land(Seq((7L, "d", null), (28L, "u", "data data data"),
      (200L, "a", "spark join data"), (1L, "s", null), (40L, "u", "join join pad")))
    drain()
    val segs0 = IndexMaintenance.resolve(spark, corpus, root)._3
    assert(segs0.size === 1, "the first batch lands as one live segment")
    assert(probeRows() === truth(Set(7L),
      Map(28L -> "data data data", 40L -> "join join pad"),
      Map(200L -> "spark join data")),
      "mid-stream (pre-fold) serving must equal the post-change ground truth")

    // batch 1: seven more changes — 11 total > 10% of the 100-doc serving
    // set, the policy fires and the segments fold. Cross-batch semantics
    // exercised: 40 was updated then DELETED, 28 re-updated (last wins).
    land(Seq((40L, "d", null), (28L, "u", "pad pad pad"),
      (201L, "a", "data data spark"), (50L, "d", null),
      (60L, "u", "join data pad"), (202L, "a", "spark spark spark"),
      (3L, "d", null)))
    drain()
    val (base1, floor1, segs1) = IndexMaintenance.resolve(spark, corpus, root)
    assert(floor1 === 1L && segs1.isEmpty,
      "the policy-triggered fold retires every live segment")
    assert(base1.getFileName.toString === "base_000000000001")
    val afterFold = truth(Set(7L, 40L, 50L, 3L),
      Map(28L -> "pad pad pad", 60L -> "join data pad"),
      Map(200L -> "spark join data", 201L -> "data data spark",
        202L -> "spark spark spark"))
    assert(probeRows() === afterFold,
      "post-fold serving must equal the post-change ground truth")
    // post-fold, the probe plan is persisted-only (empty change set)
    val plan = IndexMaintenance.probe(spark, corpus, root)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet") && !plan.contains("ExistingRDD"),
      s"a drained loop serves from the folded artifacts alone:\n$plan")

    // restart: a fresh query over the same checkpoint must process ONLY
    // the new file (old segments were folded and deleted — a replay
    // would rebuild them and double-apply)
    land(Seq((200L, "u", "join join join"), (60L, "d", null)))
    drain()
    val (_, _, segs2) = IndexMaintenance.resolve(spark, corpus, root)
    assert(segs2.size === 1, "only the new batch lands after the restart")
    assert(probeRows() === truth(Set(7L, 40L, 50L, 3L, 60L),
      Map(28L -> "pad pad pad"),
      Map(200L -> "join join join", 201L -> "data data spark",
        202L -> "spark spark spark")),
      "post-restart serving must reflect exactly the cumulative feed")
    // a drain with nothing new is a no-op (idempotent resumability)
    drain()
    assert(IndexMaintenance.resolve(spark, corpus, root)._3.size === 1)
  }

  test("sweepRetired: unparsable stamp restarts the window, expired stamp deletes, above-floor segment untouched") {
    import java.nio.file.Path
    val root = Files.createTempDirectory("imx_sweep")
    def home(name: String): Path = {
      val p = Files.createDirectories(root.resolve(name))
      Files.createFile(p.resolve("_INDEX_COMPLETE"))
      p
    }
    def stamp(p: Path, v: String): Unit = Files.writeString(p.resolve("_SUPERSEDED"), v)
    val graceMs = 60000L
    val t0 = System.currentTimeMillis()
    val floor = home(f"base_${5L}%012d")
    val oldFold = home(f"base_${2L}%012d")
    val expired = home(f"seg_${3L}%012d")
    stamp(expired, (t0 - 2 * graceMs).toString)
    val garbled = home(f"seg_${4L}%012d")
    stamp(garbled, "not-a-timestamp")
    val live = home(f"seg_${8L}%012d")
    IndexMaintenance.sweepRetired(root, graceMs)
    assert(!Files.exists(expired), "a stamp older than graceMs deletes the segment")
    assert(Files.exists(garbled), "an unparsable stamp must not delete the segment")
    val restarted = Files.readString(garbled.resolve("_SUPERSEDED")).trim.toLong
    assert(restarted >= t0, "an unparsable stamp restarts the grace window at the sweep time")
    assert(Files.exists(oldFold.resolve("_SUPERSEDED")),
      "a fold generation below the floor is stamped, not deleted")
    assert(!Files.exists(live.resolve("_SUPERSEDED")),
      "a segment above the fold floor is never stamped")
    assert(!Files.exists(floor.resolve("_SUPERSEDED")), "the serving fold generation is never stamped")
    // a second sweep inside the window keeps everything that is left
    IndexMaintenance.sweepRetired(root, graceMs)
    assert(Files.exists(garbled) && Files.exists(oldFold) && Files.exists(live))
    graft.operators.PersistedIndex.deleteTree(root)
  }
}
