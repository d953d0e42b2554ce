package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.CdcRules
import graft.streaming.IndexMaintenance

/** Round-16 pins: the shared CdcRules module and the EXPUNGE-DELETES
  * compaction cycle (VERDICT r15 #2/#3) across the non-postings families
  * (the postings cycle is pinned in RetrievalSpec). Each family walks:
  * tombstone serve → compactCdc fold → byte-identical serve from a
  * persisted-only plan → expunged face ≡ tombstone face → no-op refold. */
class R16QueriesSpec extends SparkSpec {

  test("CdcRules: frames and classifier equal the hand-rolled rule set") {
    import spark.implicits._
    val t = (0L until 30L).map(i => (i, s"w$i x$i")).toDF("doc_id", "text")
    val split = 20L
    val tomb = CdcRules.tombstoneIds(t, "doc_id", split)
      .collect().map(_.getLong(0)).toSet
    assert(tomb === (0L to 20L).filter(i => i % 13 == 7 || i % 13 == 2).toSet)
    assert(tomb === Set(2L, 7L, 15L, 20L))
    val fresh = CdcRules.freshRows(t, "doc_id", "text", split, split,
        CdcRules.reversedTokens)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(fresh.keySet === Set(2L, 15L) ++ (21L until 30L))
    assert(fresh(2L) === "x2 w2" && fresh(15L) === "x15 w15", "updates reversed")
    assert(fresh(25L) === "w25 x25", "appends carry the raw payload")
    // a raised append floor (post-compaction snapshot) shrinks ONLY the
    // append leg — the rules legs stay pinned to the feed watermark
    val fresh2 = CdcRules.freshRows(t, "doc_id", "text", split, 25L,
        CdcRules.reversedTokens)
      .collect().map(_.getLong(0)).toSet
    assert(fresh2 === Set(2L, 15L) ++ (26L until 30L))
    val ops = t.select(col("doc_id"), CdcRules.opOf(col("doc_id"), split).as("op"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ops(7L) === "d" && ops(20L) === "d")
    assert(ops(2L) === "u" && ops(15L) === "u")
    assert(ops(21L) === "a" && ops(29L) === "a")
    assert(ops(0L) === "s" && ops(19L) === "s")
    // the SQL fragments spell the same predicates
    assert(CdcRules.sqlIsDelete("id", "20") === "(id <= 20 AND id % 13 = 7)")
    assert(CdcRules.sqlIsUpdate("id", "20") === "(id <= 20 AND id % 13 = 2)")
    assert(CdcRules.sqlIsTombstone("id", "20") === "(id <= 20 AND id % 13 IN (7, 2))")
  }

  test("dd20 ∘ CDC-expunge: dead pairs leave the artifacts, serve goes persisted-only") {
    import spark.implicits._
    // the dd20 fixture corpus: dup cluster {10, 33(del), 28(upd), 50},
    // 120 arrives in the delta as a copy of the surviving text
    val tmp = java.nio.file.Files.createTempDirectory("dd21exp").toString
    val dup = "the quick brown fox jumps over the lazy dog"
    (0L until 130L).map { i =>
      val text =
        if (Set(10L, 33L, 28L, 50L, 120L).contains(i)) dup
        else s"u${i}a u${i}b u${i}c u${i}d"
      (i, text, text.length.toLong)
    }.toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val before = DedupQueries.dd20TombstoneNeardup(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(before.map(p => (p._1, p._2)).toSet === Set((10L, 50L), (10L, 120L), (50L, 120L)))
    val cdcHome = IndexMaintenance.compactCdc(spark, tmp, DedupQueries.LshMaintenance)
    assert(cdcHome.getFileName.toString.endsWith("_cdc117"))
    // dead signatures and dead-touching pairs PHYSICALLY left
    val sigIds = spark.read.parquet(cdcHome.resolve("sigs").toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!sigIds.contains(33L) && sigIds.contains(28L) && sigIds.contains(120L))
    val pairIds = spark.read.parquet(cdcHome.resolve("pairs").toString)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairIds === Set((10L, 50L), (10L, 120L), (50L, 120L)),
      "the expunged pair set IS the served answer's pair set")
    val served = DedupQueries.dd20TombstoneNeardup(spark, tmp)
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      s"post-expunge serve must not touch the corpus:\n$plan")
    assert(!plan.contains("Anti"),
      s"the empty tombstone frame must be optimized out:\n$plan")
    val after = served.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(after === before)
    val face = DedupQueries.dd21ExpungedNeardup(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(face === before)
    assert(IndexMaintenance.compactCdc(spark, tmp, DedupQueries.LshMaintenance) === cdcHome, "refold is a no-op")
  }

  test("dd20 ∘ plain compaction: the feed stays corpus-pinned, serve byte-identical") {
    import spark.implicits._
    // doc 124 (124 % 13 == 7 but ABOVE the corpus watermark 117) is an
    // append under the feed: a plain fold moves the snapshot watermark to
    // 129 and 124 must KEEP its pairs (the oracle recomputes 117)
    val tmp = java.nio.file.Files.createTempDirectory("dd20pin").toString
    val dup = "the quick brown fox jumps over the lazy dog"
    (0L until 130L).map { i =>
      val text =
        if (Set(10L, 50L, 124L).contains(i)) dup
        else s"u${i}a u${i}b u${i}c u${i}d"
      (i, text, text.length.toLong)
    }.toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val before = DedupQueries.dd20TombstoneNeardup(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(before.map(p => (p._1, p._2)).toSet === Set((10L, 50L), (10L, 124L), (50L, 124L)))
    IndexMaintenance.foldAppends(spark, tmp, DedupQueries.LshMaintenance)
    val after = DedupQueries.dd20TombstoneNeardup(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(after === before,
      "doc 124 must keep serving after the fold — the rules never re-derive at the snapshot watermark")
  }

  test("kg7 ∘ CDC-expunge: dead statistics leave, zero-count pairs drop, serve persisted-only") {
    import spark.implicits._
    // the kg7 fixture corpus: doc 7 holds the only data+stream pair
    // (deleted → the pair must leave `co` PHYSICALLY), doc 28's phrase
    // breaks on reversal, docs 1..5 pair data+window, 120 adds data+hash join
    def text(i: Long): String =
      if (i == 7L) "data stream together"
      else if (i == 28L) "data table scan"
      else if (i >= 1L && i <= 5L) "data window mix"
      else if (i == 120L) "hash join data"
      else s"plain u${i} filler"
    val tmp = java.nio.file.Files.createTempDirectory("kg8exp").toString
    (0L until 130L).map(i => (i, text(i), text(i).length.toLong))
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val before = MatchQueries.kg7TombstoneGraph(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val cdcHome = IndexMaintenance.compactCdc(spark, tmp, MatchQueries.KgMaintenance)
    assert(cdcHome.getFileName.toString.endsWith("_cdc117"))
    val coPairs = spark.read.parquet(cdcHome.resolve("co").toString)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(!coPairs.contains(("data", "stream")),
      "the deleted doc's only pair must leave the persisted statistics")
    assert(!coPairs.contains(("data", "table scan")),
      "the updated doc's broken phrase pair must leave")
    assert(coPairs.contains(("data", "window")) && coPairs.contains(("data", "hash join")))
    val edIds = spark.read.parquet(cdcHome.resolve("ed").toString)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(!edIds.contains(7L), "the dead doc left the per-doc entity table")
    val served = MatchQueries.kg7TombstoneGraph(spark, tmp)
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      s"post-expunge serve must not touch the corpus:\n$plan")
    val after = served.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(after === before)
    val face = MatchQueries.kg8ExpungedGraph(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(face === before)
    assert(IndexMaintenance.compactCdc(spark, tmp, MatchQueries.KgMaintenance) === cdcHome, "refold is a no-op")
  }

  test("ss10 ∘ CDC-expunge: dead vectors leave the cells, updated vectors re-assigned, serve identical") {
    import spark.implicits._
    // the ss10 fixture corpus (watermark 90): 33 deleted, 28/15 updated
    // (negated), 95 appended — all three classes fold
    val tmp = java.nio.file.Files.createTempDirectory("ss12exp").toString
    def v(i: Long): Seq[Float] = Seq(1f, (i % 7).toFloat, (i * 3 % 11).toFloat, (i * 5 % 13).toFloat)
    (0L until 100L).map { i =>
      val vec = if (i == 33L || i == 28L || i == 95L) v(0L)
        else if (i == 15L) v(2L)
        else v(i)
      (i, vec, (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val before = SimilarityQueries.ss10TombstoneProbe(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    val cdcHome = IndexMaintenance.compactCdc(spark, tmp, SimilarityQueries.IvfMaintenance)
    assert(cdcHome.getFileName.toString.endsWith("_cdc90"))
    val cells = spark.read.parquet(cdcHome.resolve("cells").toString)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(!cells.contains(33L), "the deleted vector left the cell table")
    assert(cells(28L) === v(0L).map(-_), "the updated vector is stored NEGATED")
    assert(cells(95L) === v(0L), "the append folded in raw")
    val served = SimilarityQueries.ss10TombstoneProbe(spark, tmp)
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("Anti"),
      s"the empty tombstone frame must be optimized out:\n$plan")
    val after = served.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(after === before)
    val face = SimilarityQueries.ss12ExpungedProbe(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(face === before)
    assert(IndexMaintenance.compactCdc(spark, tmp, SimilarityQueries.IvfMaintenance) === cdcHome, "refold is a no-op")
  }

  test("shouldCompact: fires strictly ABOVE theta, never at it, never on an empty serving set") {
    import graft.operators.PersistedIndex.shouldCompact
    // exactly 10% in flight: (5+5)/100 — must NOT fire
    assert(!shouldCompact(nBase = 100L, nTombstoned = 5L, nFresh = 5L))
    // one row past the boundary fires
    assert(shouldCompact(nBase = 100L, nTombstoned = 5L, nFresh = 6L))
    // tombstone-only and fresh-only batches both count
    assert(shouldCompact(nBase = 100L, nTombstoned = 20L, nFresh = 0L))
    assert(shouldCompact(nBase = 100L, nTombstoned = 0L, nFresh = 20L))
    // a fully-tombstoned (empty serving) family has nothing to fold into
    assert(!shouldCompact(nBase = 10L, nTombstoned = 10L, nFresh = 0L))
    assert(!shouldCompact(nBase = 0L, nTombstoned = 0L, nFresh = 0L))
    // a drained family is silent
    assert(!shouldCompact(nBase = 100L, nTombstoned = 0L, nFresh = 0L))
  }

  test("compaction policy walk: census fires the policy, the fold drains it to silence") {
    import spark.implicits._
    import graft.operators.{CdcRules, PersistedIndex}
    // the postings family on the ir14 fixture corpus: the CDC stand-in
    // puts ~32% of the serving set in flight — the policy must fire;
    // after the expunge fold the tombstone frame is empty and the append
    // leg is drained — the policy must go silent
    val tmp = java.nio.file.Files.createTempDirectory("policyWalk").toString
    (0L until 130L).map(i => (i, s"w$i pad pad", 12L))
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val docs = spark.read.parquet(s"$tmp/documents.parquet")
    val wStar = CdcRules.feedSplit(docs, "doc_id")
    // the census mirrors the SERVE's frames: against a generation whose
    // name records the folded feed watermark, tombstone and fresh are
    // EMPTY by the ir14Internals contract (plan-asserted in
    // RetrievalSpec) — the census reads zero in flight
    def census(home: java.nio.file.Path): (Long, Long, Long) = {
      val store = spark.read.parquet(home.resolve("doclen").toString)
      if (home.getFileName.toString.endsWith("_cdc" + wStar))
        (store.count(), 0L, 0L)
      else {
        val snap = PersistedIndex.readSplit(spark, home)
        val nTomb = store.join(
          CdcRules.tombstoneIds(docs, "doc_id", wStar), Seq("doc_id"), "left_semi").count()
        val nFresh = CdcRules.freshRows(docs, "doc_id", "text", wStar, snap,
          CdcRules.redactedText).count()
        (store.count(), nTomb, nFresh)
      }
    }
    val base = TextQueries.ensureBasePostingsIndex(spark, tmp)
    val (b0, t0, f0) = census(base)
    assert((b0, t0, f0) === (118L, 18L, 21L), "the fixture census (watermark 117)")
    assert(PersistedIndex.shouldCompact(b0, t0, f0), "32% in flight must fire the policy")
    val folded = IndexMaintenance.compactCdc(spark, tmp, IndexMaintenance.Postings)
    val (b1, t1, f1) = census(folded)
    assert((t1, f1) === (0L, 0L), "the fold drains the in-flight set")
    assert(b1 === b0 - t0 + f0, "the fold preserved the serving census")
    assert(!PersistedIndex.shouldCompact(b1, t1, f1), "a drained family is silent")
  }

  test("feedServe: a HAND-WRITTEN feed (no rule set) serves the post-change corpus exactly") {
    import spark.implicits._
    // the feed-as-data contract (ir15): serving consumes ONLY the
    // (doc_id, op, payload) table — prove it with a feed no generator
    // produced: delete 40, update 11 to a text that wins the query,
    // append 91..99, skip everything else
    val needle = TextQueries.RetrievalQTerms.head // "data"
    def text(i: Long): String =
      if (i == 40L) s"$needle $needle $needle"
      else if (i == 50L) s"$needle pad pad"
      else "pad pad pad"
    val tmpA = java.nio.file.Files.createTempDirectory("feedA").toString
    (0L until 100L).map(i => (i, text(i), text(i).length.toLong))
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmpA/documents.parquet")
    val home = TextQueries.ensureBasePostingsIndex(spark, tmpA)
    assert(graft.operators.PersistedIndex.readSplit(spark, home) === 90L)
    val feed = (
      Seq((40L, "d", null: String), (11L, "u", s"$needle $needle $needle $needle")) ++
        (91L until 100L).map(i => (i, "a", text(i))) ++
        Seq((12L, "s", null: String))
      ).toDF("doc_id", "op", "payload")
    val (dead, fresh) = CdcRules.feedFrames(feed, "doc_id", "text",
      graft.operators.PersistedIndex.readSplit(spark, home))
    val got = IndexMaintenance.Postings.serve(spark, tmpA, home, dead, fresh).collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue(), r.getLong(2))).toSeq
    // expected: all-docs BM25 over the hand-materialized post-change corpus
    val tmpB = java.nio.file.Files.createTempDirectory("feedB").toString
    ((0L until 91L).filterNot(_ == 40L).map { i =>
        val t0 = if (i == 11L) s"$needle $needle $needle $needle" else text(i)
        (i, t0, t0.length.toLong)
      } ++ (91L until 100L).map(i => (i, text(i), text(i).length.toLong)))
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmpB/documents.parquet")
    val want = TextQueries.ta13Bm25(spark, tmpB).collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue(), r.getAs[Number](2).longValue())).toSeq
    assert(got === want)
    val positive = got.filter(_._3 > 0L).map(_._1)
    assert(positive.head === 11L, "the hand-updated doc must win")
    assert(!got.map(_._1).contains(40L), "the hand-deleted doc must vanish")
  }

  test("CdcRules.feedFrames/vecFeed: the table split equals the rule-derived frames") {
    import spark.implicits._
    val docs = (0L until 30L).map(i => (i, s"w$i x$i")).toDF("doc_id", "text")
    val split = 20L
    val feed = graft.streaming.EventStreams.cdcStream(docs, split)
    val (dead, fresh) = CdcRules.feedFrames(feed, "doc_id", "text", split)
    assert(dead.collect().map(_.getLong(0)).toSet ===
      CdcRules.tombstoneIds(docs, "doc_id", split).collect().map(_.getLong(0)).toSet)
    val freshMap = fresh.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val wantFresh = CdcRules.freshRows(docs, "doc_id", "text", split, split,
      CdcRules.reversedTokens).collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(freshMap === wantFresh)
    // a raised append floor drops folded appends from the table split too
    val (_, fresh2) = CdcRules.feedFrames(feed, "doc_id", "text", 25L)
    assert(fresh2.collect().map(_.getLong(0)).toSet === Set(2L, 15L) ++ (26L until 30L))
    // the vector generator: same ops, negated 'u' payloads, null 'd'/'s'
    val emb = (0L until 30L).map(i => (i, Seq(1f, i.toFloat))).toDF("vec_id", "embedding")
    val vf = CdcRules.vecFeed(emb, "vec_id", "embedding", split)
      .collect().map(r => r.getLong(0) -> (r.getString(1), Option(r.getSeq[Float](2)))).toMap
    assert(vf(7L) === ("d", None) && vf(0L) === ("s", None))
    assert(vf(2L) === ("u", Some(Seq(-1f, -2f))))
    assert(vf(25L) === ("a", Some(Seq(1f, 25f))))
  }

  test("feed faces ≡ tombstone faces on their fixture corpora (the generator replays the rules)") {
    import spark.implicits._
    // LSH family on the dd20 fixture
    val tmpD = java.nio.file.Files.createTempDirectory("dd22fix").toString
    val dup = "the quick brown fox jumps over the lazy dog"
    (0L until 130L).map { i =>
      val text = if (Set(10L, 33L, 28L, 50L, 120L).contains(i)) dup
        else s"u${i}a u${i}b u${i}c u${i}d"
      (i, text, text.length.toLong)
    }.toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmpD/documents.parquet")
    assert(DedupQueries.dd22FeedNeardup(spark, tmpD).collect().toSeq ===
      DedupQueries.dd20TombstoneNeardup(spark, tmpD).collect().toSeq)
    // vector family on the ss10 fixture
    val tmpV = java.nio.file.Files.createTempDirectory("ss13fix").toString
    def v(i: Long): Seq[Float] = Seq(1f, (i % 7).toFloat, (i * 3 % 11).toFloat, (i * 5 % 13).toFloat)
    (0L until 100L).map { i =>
      val vec = if (i == 33L || i == 28L || i == 95L) v(0L)
        else if (i == 15L) v(2L) else v(i)
      (i, vec, (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmpV/embeddings.parquet")
    assert(SimilarityQueries.ss13FeedProbe(spark, tmpV).collect().toSeq ===
      SimilarityQueries.ss10TombstoneProbe(spark, tmpV).collect().toSeq)
  }

  test("ir20: the CDC batch serves the post-change corpus — deleted winner vanishes, delta wins") {
    import spark.implicits._
    // query 1 = ("hash", "join"); ids 0..129, feed watermark 117:
    // doc 20 (deleted) is the pre-change winner, doc 28 (updated →
    // 'redacted') held the terms, doc 50 survives, doc 120 (append) wins
    def text(i: Long): String =
      if (i == 20L) "hash join hash join hash join"
      else if (i == 28L) "hash join here"
      else if (i == 50L) "hash join pad pad"
      else if (i == 120L) "hash join hash join hash join hash join"
      else "pad pad pad"
    val tmpA = java.nio.file.Files.createTempDirectory("ir20fix").toString
    (0L until 130L).map(i => (i, text(i), text(i).length.toLong))
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmpA/documents.parquet")
    val got = TextQueries.ir20CdcQueryBatch(spark, tmpA).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    // exact expectation: ir16's batch over the hand-materialized
    // post-change corpus (both paths ride batchServe — the subtract
    // arithmetic is what's under test)
    val tmpB = java.nio.file.Files.createTempDirectory("ir20post").toString
    (0L until 130L)
      .filterNot(i => i <= 117L && i % 13L == 7L)
      .map { i =>
        val t0 = if (i <= 117L && i % 13L == 2L) "redacted" else text(i)
        (i, t0, t0.length.toLong)
      }
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmpB/documents.parquet")
    val want = TextQueries.ir16QueryBatch(spark, tmpB).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === want)
    val q1 = got.filter(_._1 == 1L).sortBy(_._2)
    assert(q1.nonEmpty && q1.head._3 === 120L, "the appended doc wins query 1")
    assert(!q1.map(_._3).contains(20L), "the deleted pre-change winner must vanish")
    assert(!q1.map(_._3).contains(28L), "the redacted doc's old terms stop matching")
    assert(q1.map(_._3).contains(50L), "the surviving base hit still serves")
  }

  test("ir16: each query's slice of the batched run equals running it alone") {
    val dir = "/root/testdata/sf0.001"
    val batched = TextQueries.ir16Internals(spark, dir,
        TextQueries.BatchQueries, TextQueries.BatchTopK)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    assert(batched.keySet === TextQueries.BatchQueries.map(_._1).toSet,
      "every query in the batch must produce rows")
    // spot-check three queries of different arity against solo runs
    for ((qid, terms) <- TextQueries.BatchQueries.filter(q => Set(0L, 1L, 9L)(q._1))) {
      val solo = TextQueries.ir16Internals(spark, dir, Seq(qid -> terms), TextQueries.BatchTopK)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
      assert(batched(qid).toSeq === solo,
        s"query $qid must be unaffected by the rest of the batch")
    }
  }

  test("mm8 ∘ CDC-expunge: dead signatures and their pair-contributions leave, serve identical") {
    import spark.implicits._
    // the mm8 fixture corpus: dup payload at {10, 33(del), 28(upd), 50,
    // 120(append)}
    val payload = ("the quick brown fox jumps over the lazy dog " * 3).trim
    def text(i: Long): String =
      if (Set(10L, 33L, 28L, 50L, 120L).contains(i)) payload
      else s"asset $i " + (s"u${i}x" * 20) + " trailing content to clear the 64-char floor"
    val tmp = java.nio.file.Files.createTempDirectory("mm9exp").toString
    (0L until 130L).map(i => (i, text(i), text(i).length.toLong))
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val before = MultimodalQueries.mm8TombstonePhash(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val cdcHome = IndexMaintenance.compactCdc(spark, tmp, MultimodalQueries.PhashMaintenance)
    assert(cdcHome.getFileName.toString.endsWith("_cdc117"))
    val sigIds = spark.read.parquet(cdcHome.resolve("rows").toString)
      .select("asset_id").collect().map(_.getLong(0)).toSet
    assert(!sigIds.contains(33L) && sigIds.contains(28L) && sigIds.contains(120L))
    val counts = spark.read.parquet(cdcHome.resolve("rows").toString)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(!counts.contains(33L), "the dead asset's count row left with its signature")
    assert(counts(10L)._2 >= 2L, "surviving near counts reflect the post-change pair set")
    val served = MultimodalQueries.mm8TombstonePhash(spark, tmp)
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      s"post-expunge serve must not touch the corpus:\n$plan")
    val after = served.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(after === before)
    val face = MultimodalQueries.mm9ExpungedPhash(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(face === before)
    assert(IndexMaintenance.compactCdc(spark, tmp, MultimodalQueries.PhashMaintenance) === cdcHome, "refold is a no-op")
  }
}
