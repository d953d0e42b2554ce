package graft.queries

import graft.SparkSpec
import graft.streaming.IndexMaintenance

/** Invariant checks for the r9 retrieval faces beyond the DuckDB replay:
  * PRF expansion must widen, never replace, the base ranking, and hybrid
  * fusion must respect the arm contracts. */
class RetrievalSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("ir2: fusion is base-plus-bonus — fused >= bm25 with integer expansion steps") {
    val rows = TextQueries.ir2PrfExpansion(spark, dir).collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      val (bm25, expTf, fused) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(expTf >= 0L)
      assert(fused === bm25 + expTf * 50000L,
        "fused score must be exactly bm25 + 50000 per expansion-term hit")
    }
    // the corpus must actually exercise the expansion (some doc gains)
    assert(rows.exists(_.getLong(2) > 0L), "no doc matched any expansion term")
  }

  test("ir6 == ta13: BM25 answered from the posting-list index is bit-equal to raw-text BM25") {
    // two physical plans, one logical result — the index-build correctness
    // proof: per-term doubles must round to the SAME e6 integer per doc
    val fromText = TextQueries.ta13Bm25(spark, dir).collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue(), r.getLong(2))).toSeq
    val fromIndex = TextQueries.ir6PostingsBm25(spark, dir).collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue(), r.getLong(2))).toSeq
    assert(fromIndex === fromText)
  }

  test("ir6b: probe plan scans no corpus file, prunes postings buckets, and equals ir6") {
    val df = TextQueries.ir6bPersistedPostings(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the probe path must read ONLY the persisted index artifacts — the
    // corpus parquet appearing here would mean tokenization ran at query time
    assert(!plan.contains("documents.parquet"),
      s"probe plan must not scan the corpus:\n$plan")
    assert(plan.contains("postings_index"),
      s"probe plan must read the persisted index:\n$plan")
    // the query-term bucket IN list must land as a partition-pruning filter
    // on the postings scan (directory pruning — the point of bucketing)
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined,
      s"expected partition pruning on bucket:\n$plan")
    // the persisted detour is invisible to the answer
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = TextQueries.ir6PostingsBm25(spark, dir).collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue(), r.getLong(2))).toSeq
    assert(got === want)
  }

  test("ir6b: driver-side detHash60 twin matches the Spark expression on the query terms") {
    import org.apache.spark.sql.functions._
    val terms = TextQueries.RetrievalQTerms
    val sparkSide = graft.Tables(spark, dir, "region").sparkSession
      .createDataFrame(terms.map(Tuple1.apply)).toDF("w")
      .select(Q.detHash(col("w")).as("h")).collect().map(_.getLong(0)).toSeq
    val local = terms.map(w => TextQueries.detHash60Local(w))
    assert(local === sparkSide,
      "plan-time bucket pruning depends on the local md5 twin being bit-equal")
  }

  test("ir9: pruned plan reads only the persisted index and equals ir6 row-for-row") {
    val df = TextQueries.ir9BlockmaxBm25(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      s"pruned probe must not scan the corpus:\n$plan")
    assert(plan.contains("postings_index"),
      s"pruned probe must read the persisted index:\n$plan")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = TextQueries.ir6PostingsBm25(spark, dir).collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue(), r.getLong(2))).toSeq
    assert(got === want)
  }

  test("ir9 fixture: block-max bounds genuinely skip beaten blocks, answer stays exact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 640 docs / 10 blocks of 64: block 0 is saturated with tf-4 needles,
    // block 1 carries tf-1 needles, blocks 2-9 have none — the seed θ
    // (a tf-4 score) must prune block 1, and blocks without postings never
    // even enter the bound frame
    val tmp = java.nio.file.Files.createTempDirectory("ir9fix").toString
    val docs = (0L until 640L).map { i =>
      val text =
        if (i < 64) "needle needle needle needle pad"
        else if (i < 128) "needle pad pad"
        else "pad pad pad"
      (i, text, text.length.toLong)
    }.toDF("doc_id", "text", "n_chars")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val (res, kept, bounds) = TextQueries.ir9Internals(spark, tmp, Seq("needle"))
    assert(bounds.count() === 2L, "only blocks with a needle posting carry a bound")
    assert(kept.count() === 1L, "the tf-1 block's bound cannot beat the tf-4 θ — pruned")
    val rows = res.collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(rows.length === 20)
    // all tf-4 docs score identically; the tie breaks by doc_id
    assert(rows.map(_._1).toSeq === (0L until 20L).toSeq)
    assert(rows.map(_._2).distinct.length === 1)
  }

  test("ir9 fallback: a sparse term (<k posting docs) answers from full scoring, zero-padding included") {
    import spark.implicits._
    // only 5 of 640 docs carry any query term — the seed block cannot
    // yield 20 positive scores, blockmaxCertified fails, and the probe
    // must fall back to scoring EVERY doc off the persisted artifacts
    // (VERDICT r14 #1a: this branch previously executed on no shipped SF)
    val tmp = java.nio.file.Files.createTempDirectory("ir9sparse").toString
    val docs = (0L until 640L).map { i =>
      val text = if (i % 128L == 1L) "data pad pad" else "pad pad pad"
      (i, text, text.length.toLong)
    }.toDF("doc_id", "text", "n_chars")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val (res, _, _) = TextQueries.ir9Internals(spark, tmp, TextQueries.RetrievalQTerms)
    val got = res.collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue(), r.getLong(2))).toSeq
    // the pruned path can only ever return posting-carrying docs (≤5 here);
    // 20 rows with 15 zero-score pads is the fallback's signature
    assert(got.length === 20)
    assert(got.count(_._3 === 0L) === 15, "zero-score docs must pad the top-k")
    // and the answer is exactly what all-docs BM25 over the corpus gives
    val want = TextQueries.ta13Bm25(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue(), r.getAs[Number](2).longValue())).toSeq
    assert(got === want)
  }

  test("blockmaxCertified: pruning needs k seed scores AND a strictly positive k-th score") {
    assert(TextQueries.blockmaxCertified(20, 20, 1L))
    assert(!TextQueries.blockmaxCertified(19, 20, 5L), "sparse corpus: seed under-filled")
    assert(!TextQueries.blockmaxCertified(20, 20, 0L),
      "idf≈0 can e6-round the k-th seed score to 0 — zero-score docs then tie at θ " +
        "and the kept-block candidate set would drop them (ADVICE r14)")
    assert(!TextQueries.blockmaxCertified(0, 20, 0L))
  }

  test("ir10: base served from the snapshot, only the delta reaches the corpus, equals ir6") {
    val (df, split) = TextQueries.ir10Internals(spark, dir, TextQueries.RetrievalQTerms)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("postings_base"),
      s"probe must serve the base from the persisted snapshot:\n$plan")
    // every corpus access must carry the pushed delta range predicate —
    // a documents scan without it would mean the base was re-tokenized.
    // (r16: the delta tokenization is materialized ONCE via
    // localCheckpoint, so the serve plan may legitimately show ZERO
    // corpus scans — the delta then arrives as a checkpointed RDD)
    val corpusScans = plan.sliding("documents.parquet".length).count(_ == "documents.parquet")
    val pushedRange = plan.sliding("GreaterThan(doc_id".length).count(_ == "GreaterThan(doc_id")
    assert(pushedRange >= corpusScans,
      s"every corpus scan needs the pushed doc_id > $split range filter:\n$plan")
    // segment merge is invisible to the answer
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = TextQueries.ir6PostingsBm25(spark, dir).collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue(), r.getLong(2))).toSeq
    assert(got === want)
  }

  test("ir10 fixture: a post-snapshot doc is absent from the base index yet wins the query") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // ids 0..99 → watermark at 90: docs 91..99 are the delta. The best
    // match for the needle arrives AFTER the snapshot — incremental
    // serving must surface it without rebuilding the base.
    val tmp = java.nio.file.Files.createTempDirectory("ir10fix").toString
    val docs = (0L until 100L).map { i =>
      val text =
        if (i == 95L) "needle needle needle"
        else if (i == 40L) "needle pad pad"
        else "pad pad pad"
      (i, text, text.length.toLong)
    }.toDF("doc_id", "text", "n_chars")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val (res, split) = TextQueries.ir10Internals(spark, tmp, Seq("needle"))
    assert(split === 90L)
    val home = TextQueries.ensureBasePostingsIndex(spark, tmp)
    val maxIndexed = spark.read.parquet(home.resolve("postings").toString)
      .agg(max("doc_id")).collect()(0).getLong(0)
    assert(maxIndexed <= 90L, "the persisted snapshot must not contain delta docs")
    val top = res.collect()
    assert(top.head.getLong(0) === 95L, "the delta doc must win from the in-flight segment")
    assert(top.map(_.getLong(0)).contains(40L), "base hits must still be served")
  }

  test("ir14 fixture: deleted doc vanishes, updated doc's old tokens stop matching, delta doc wins") {
    import spark.implicits._
    // ids 0..129 → watermark 117. The pre-change WINNER (doc 20, 20%13==7)
    // is tombstoned; doc 28 (28%13==2) held the needle but is re-crawled to
    // 'redacted'; doc 50 survives in the base; doc 120 arrives in the delta.
    val needle = TextQueries.RetrievalQTerms.head // "data"
    def text(i: Long): String =
      if (i == 20L) s"$needle $needle $needle"
      else if (i == 28L) s"$needle $needle pad"
      else if (i == 50L) s"$needle pad pad"
      else if (i == 120L) s"$needle $needle $needle pad"
      else "pad pad pad"
    val tmpA = java.nio.file.Files.createTempDirectory("ir14fix").toString
    (0L until 130L).map(i => (i, text(i), text(i).length.toLong))
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmpA/documents.parquet")
    val (res, split) = TextQueries.ir14Internals(spark, tmpA, TextQueries.RetrievalQTerms)
    assert(split === 117L)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("postings_base"),
      s"the base must be served from the persisted snapshot:\n$plan")
    // the tombstone set moves as ids only: at least one documents scan must
    // be column-pruned to doc_id (no text bytes feed the anti-joins), and
    // only the fresh segment's scans may read text
    val docScans = "FileScan parquet [^\\n]*documents\\.parquet[^\\n]*".r
      .findAllIn(plan).toList
    assert(docScans.exists(s => s.contains("ReadSchema") && !s.contains("text")),
      s"the tombstone id scan must not read text:\n${docScans.mkString("\n")}")
    val got = res.collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue(), r.getLong(2))).toSeq
    // oracle: plain all-docs BM25 over the POST-CHANGE corpus, materialized
    // by replaying the same CDC rules directly
    val tmpB = java.nio.file.Files.createTempDirectory("ir14post").toString
    (0L until 130L)
      .filterNot(i => i <= 117L && i % 13L == 7L)
      .map { i =>
        val t = if (i <= 117L && i % 13L == 2L) "redacted" else text(i)
        (i, t, t.length.toLong)
      }
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmpB/documents.parquet")
    val want = TextQueries.ta13Bm25(spark, tmpB).collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue(), r.getAs[Number](2).longValue())).toSeq
    assert(got === want)
    val positive = got.filter(_._3 > 0L).map(_._1)
    assert(positive.contains(120L), "the delta doc must be served from the fresh segment")
    assert(positive.contains(50L), "surviving base hits must still be served")
    assert(positive.head === 120L, "the delta doc out-scores the surviving base hit")
    assert(!got.map(_._1).contains(20L), "the tombstoned pre-change winner must vanish")
    assert(!positive.contains(28L), "the updated doc's OLD tokens must stop matching")
  }

  test("ir14 ∘ compaction: the feed is corpus-pinned — serving is byte-identical across the fold") {
    import spark.implicits._
    // the feed watermark derives from the CORPUS (what the registered
    // oracle recomputes in SQL), never from the snapshot's stats: a plain
    // compaction moves the snapshot watermark to the max id, and the serve
    // must keep answering for the SAME post-change corpus — doc 124
    // (124 % 13 == 7, but ABOVE the corpus watermark 117) is an ordinary
    // append under the feed and must keep serving after the fold. Under
    // the pre-r16 semantics (rules at the persisted split) it would have
    // fallen under the delete rule post-fold and hash-diverged from the
    // oracle — ADVICE r15's divergence, now impossible by construction.
    val needle = TextQueries.RetrievalQTerms.head
    def text(i: Long): String =
      if (i == 20L) s"$needle $needle $needle"
      else if (i == 50L) s"$needle pad pad"
      else if (i == 124L) s"$needle $needle pad"
      else "pad pad pad"
    val tmpA = java.nio.file.Files.createTempDirectory("ir14cmp").toString
    (0L until 130L).map(i => (i, text(i), text(i).length.toLong))
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmpA/documents.parquet")
    val before = TextQueries.ir14Internals(spark, tmpA, TextQueries.RetrievalQTerms)
    assert(before._2 === 117L)
    val beforeRows = before._1.collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue(), r.getLong(2))).toSeq
    assert(beforeRows.filter(_._3 > 0L).map(_._1).contains(124L),
      "pre-fold, doc 124 is an ordinary append and serves")
    IndexMaintenance.foldAppends(spark, tmpA, IndexMaintenance.Postings)
    val (res, split) = TextQueries.ir14Internals(spark, tmpA, TextQueries.RetrievalQTerms)
    assert(split === 117L, "the feed watermark is corpus-derived, not the snapshot's")
    val got = res.collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue(), r.getLong(2))).toSeq
    assert(got === beforeRows, "serving must be byte-identical across the fold")
    assert(got.filter(_._3 > 0L).map(_._1).contains(124L),
      "post-fold, doc 124 still serves — now from the folded base artifacts")
  }

  test("ir14 ∘ CDC-expunge: dead rows leave the artifacts, the serve plan goes persisted-only") {
    import spark.implicits._
    val needle = TextQueries.RetrievalQTerms.head
    def text(i: Long): String =
      if (i == 20L) s"$needle $needle $needle" // 20 % 13 == 7: deleted
      else if (i == 28L) s"$needle $needle pad" // 28 % 13 == 2: updated
      else if (i == 50L) s"$needle pad pad"
      else if (i == 120L) s"$needle $needle $needle pad" // append
      else "pad pad pad"
    val tmpA = java.nio.file.Files.createTempDirectory("ir14exp").toString
    (0L until 130L).map(i => (i, text(i), text(i).length.toLong))
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmpA/documents.parquet")
    val before = TextQueries.ir14Internals(spark, tmpA, TextQueries.RetrievalQTerms)._1
      .collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue(), r.getLong(2))).toSeq
    val cdcHome = IndexMaintenance.compactCdc(spark, tmpA, IndexMaintenance.Postings)
    assert(cdcHome.getFileName.toString.endsWith("_cdc117"),
      "the expunged generation is keyed by the folded feed watermark")
    // dead and updated-old rows PHYSICALLY left the artifacts; the
    // re-crawled update and the appends are in
    val dlDocs = spark.read.parquet(cdcHome.resolve("doclen").toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!dlDocs.contains(20L), "the deleted doc left the doclen artifact")
    assert(dlDocs.contains(28L) && dlDocs.contains(120L) && dlDocs.contains(50L))
    val postWords = spark.read.parquet(cdcHome.resolve("postings").toString)
      .filter($"doc_id" === 28L).select("word").collect().map(_.getString(0)).toSet
    assert(postWords === Set("redacted"), "the updated doc's postings are the re-crawled text")
    // serving resolves the expunged generation: empty tombstone frame,
    // no corpus access, byte-identical answer
    val (res, split) = TextQueries.ir14Internals(spark, tmpA, TextQueries.RetrievalQTerms)
    assert(split === 117L)
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      s"the post-expunge serve must not touch the corpus:\n$plan")
    assert(!plan.contains("Anti"),
      s"the empty tombstone frame must be optimized out of the serve plan:\n$plan")
    val got = res.collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue(), r.getLong(2))).toSeq
    assert(got === before, "expunge is answer-invariant: ir14 ≡ ir14 ∘ compactCdc")
    // the registered face composes fold + serve and shares ir14's oracle
    val faceRows = TextQueries.ir14bExpungedServe(spark, tmpA)
      .collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue(), r.getLong(2))).toSeq
    assert(faceRows === before)
    // compacting again is a no-op (same feed watermark → same generation)
    assert(IndexMaintenance.compactCdc(spark, tmpA, IndexMaintenance.Postings) === cdcHome)
  }

  test("ir17: snippet text fetch is pushed to ≤ k docs; windows contain the phrase") {
    val df = TextQueries.ir17Snippets(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the ONE documents scan must carry the pushed k-bounded id filter —
    // text bytes move for ≤ SnippetK docs regardless of corpus size
    val docScans = "FileScan parquet [^\\n]*documents\\.parquet[^\\n]*".r
      .findAllIn(plan).toList
    assert(docScans.nonEmpty && docScans.forall(_.contains("PushedFilters: [In(doc_id")),
      s"the text fetch must push its doc_id IN filter:\n${docScans.mkString("\n")}")
    val rows = df.collect()
    assert(rows.length === TextQueries.SnippetK)
    val (w1, w2) = TextQueries.PhraseTerms
    rows.foreach { r =>
      val snippet = r.getString(3).split(" ")
      assert(snippet.containsSlice(Seq(w1, w2)),
        s"snippet for doc ${r.getLong(0)} must contain the phrase: '${r.getString(3)}'")
      assert(snippet.length <= 12, "±5-token window around a 2-token match")
    }
    // ranked by occurrence count, ties by doc_id
    val ranks = rows.map(r => (-r.getLong(1), r.getLong(0))).toSeq
    assert(ranks === ranks.sorted)
  }

  test("ir18 fixture: deleted phrase vanishes, updates flip sides, delta matches; expunge is invariant") {
    import spark.implicits._
    // phrase = ("table", "scan"); ids 0..129 → feed watermark 117:
    // doc 20 (deleted) holds the phrase — must vanish; doc 28 (updated)
    // holds it but reversal breaks it; doc 41 (updated) holds the
    // REVERSED phrase, so reversal CREATES a match; doc 30 survives;
    // doc 120 arrives in the delta
    def text(i: Long): String =
      if (i == 20L) "table scan here"
      else if (i == 28L) "table scan now"
      else if (i == 41L) "x scan table y"
      else if (i == 30L) "keep table scan"
      else if (i == 120L) "table scan fresh"
      else "pad pad pad"
    val tmp = java.nio.file.Files.createTempDirectory("ir18fix").toString
    (0L until 130L).map(i => (i, text(i), text(i).length.toLong))
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextQueries.ir18TombstonePhrase(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((30L, 1L, 2L), (41L, 1L, 2L), (120L, 1L, 1L)),
      "survivor at pos 2, the update-created match ('y table scan x') at pos 2, the delta doc at pos 1")
    // expunge: dead lists leave, serve goes persisted-only, answer invariant
    val cdcHome = IndexMaintenance.compactCdc(spark, tmp, TextQueries.PositionsMaintenance)
    assert(cdcHome.getFileName.toString.endsWith("_cdc117"))
    val docsIn = spark.read.parquet(cdcHome.resolve("positions").toString)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(!docsIn.contains(20L) && docsIn.contains(41L) && docsIn.contains(120L))
    val served = TextQueries.ir18TombstonePhrase(spark, tmp)
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      s"post-expunge phrase serve must not touch the corpus:\n$plan")
    assert(served.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq === got)
    val face = TextQueries.ir18bExpungedPhrase(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(face === got)
    assert(IndexMaintenance.compactCdc(spark, tmp, TextQueries.PositionsMaintenance) === cdcHome, "refold is a no-op")
  }

  test("ir11: phrase matches from positional postings equal a brute-force text scan") {
    val (w1, w2) = TextQueries.PhraseTerms
    val got = TextQueries.ir11PhraseQuery(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = graft.Tables(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .flatMap { r =>
        val toks = r.getString(1).split(" ")
        val hits = (0 until toks.length - 1)
          .filter(i => toks(i) == w1 && toks(i + 1) == w2)
        if (hits.isEmpty) None
        else Some((r.getLong(0), hits.length.toLong, hits.head.toLong + 1))
      }.sortBy(_._1).toSeq
    assert(want.nonEmpty, "the phrase must occur at this SF")
    assert(got === want)
    // adjacency, not co-occurrence: docs holding both words in the wrong
    // order/distance only must NOT match
    val cooc = graft.Tables(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .filter { r =>
        val toks = r.getString(1).split(" ")
        toks.contains(w1) && toks.contains(w2)
      }.map(_.getLong(0)).toSet
    assert(got.map(_._1).toSet.subsetOf(cooc))
    assert(got.length < cooc.size,
      "some doc must hold both terms without the phrase, or the test is vacuous")
  }

  test("ir12: positives hold the phrase, negatives are hard (terms without adjacency)") {
    val (w1, w2) = TextQueries.PhraseTerms
    val rows = TextQueries.ir12TrainingPairs(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val byLabel = rows.groupBy(_._1)
    assert(byLabel.keySet === Set(0, 1))
    byLabel.foreach { case (lbl, g) =>
      assert(g.length <= 10)
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1 to g.length).toSeq, s"dense ranks for label $lbl")
      assert(sorted.map(_._4).toSeq === sorted.map(_._4).sortBy(-_).toSeq,
        s"bm25 non-increasing for label $lbl")
    }
    val texts = graft.Tables(spark, dir, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    def hasPhrase(id: Long) = texts(id).sliding(2).exists(p => p == Seq(w1, w2))
    byLabel(1).foreach { case (_, _, id, _) => assert(hasPhrase(id), s"positive $id lacks the phrase") }
    byLabel(0).foreach { case (_, _, id, score) =>
      assert(!hasPhrase(id), s"negative $id holds the phrase")
      assert(score > 0L, "negatives must be lexically confusable, not random")
      assert(texts(id).contains(w1) || texts(id).contains(w2))
    }
  }

  test("ir11b: persisted-positions probe reads only the delta from the corpus, equals ir11") {
    val df = TextQueries.ir11bPersistedPositions(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // v2 (r16): the base comes from the snapshot; the delta is
    // re-positioned ONCE into a checkpointed frame, so any remaining
    // corpus scan must carry the pushed range predicate
    val docScans = "FileScan parquet [^\\n]*documents\\.parquet[^\\n]*".r
      .findAllIn(plan).toList
    assert(docScans.forall(_.contains("GreaterThan(doc_id")),
      s"every corpus scan needs the pushed delta range filter:\n${docScans.mkString("\n")}")
    assert(plan.contains("positions_index"), s"probe must read the persisted index:\n$plan")
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"bucket pruning must reach the scan:\n$plan")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = TextQueries.ir11PhraseQuery(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === want)
  }

  test("ir13: persisted-positions proximity probe prunes buckets and matches a brute-force scan") {
    val (w1, w2, w3) = TextQueries.ProximityTerms
    val slop = TextQueries.ProximitySlop
    val df = TextQueries.ir13ProximityQuery(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    val docScans = "FileScan parquet [^\\n]*documents\\.parquet[^\\n]*".r
      .findAllIn(plan).toList
    assert(docScans.forall(_.contains("GreaterThan(doc_id")),
      s"every corpus scan needs the pushed delta range filter:\n${docScans.mkString("\n")}")
    assert(plan.contains("positions_index"), s"probe must read the persisted index:\n$plan")
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"bucket pruning must reach the scan:\n$plan")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // brute force: ordered window starts with span ≤ (k−1)+slop
    val want = graft.Tables(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .flatMap { r =>
        val toks = r.getString(1).split(" ")
        def hits(i: Int): Boolean = toks(i) == w1 &&
          (i + 1 until toks.length).exists(j => toks(j) == w2 &&
            (j + 1 until math.min(toks.length, i + slop + 3)).exists(k => toks(k) == w3))
        val starts = toks.indices.filter(hits)
        if (starts.isEmpty) None
        else Some((r.getLong(0), starts.length.toLong, starts.head.toLong + 1))
      }.sortBy(_._1).toSeq
    assert(want.nonEmpty, "the proximity pattern must occur at this SF")
    assert(got === want)
  }

  test("ir13b: unordered windows are a docwise superset of ordered, equal where both match") {
    val ordered = TextQueries.ir13ProximityQuery(spark, dir).collect()
      .map(r => r.getLong(0)).toSet
    val rows = TextQueries.ir13bUnorderedNear(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val unordered = rows.map(_._1).toSet
    assert(ordered.subsetOf(unordered),
      "an ordered chain's span is its c−a, so every ordered match is an unordered one")
    // brute force over the corpus pins the exact counts/anchors
    val (w1, w2, w3) = TextQueries.ProximityTerms
    val slop = TextQueries.ProximitySlop
    val want = graft.Tables(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .flatMap { r =>
        val toks = r.getString(1).split(" ")
        def ps(w: String) = toks.indices.filter(toks(_) == w).map(_ + 1)
        val (p1, p2, p3) = (ps(w1), ps(w2), ps(w3))
        val hits = p1.filter(a => p2.exists(b => p3.exists(c =>
          Seq(a, b, c).max - Seq(a, b, c).min <= slop + 2)))
        if (hits.isEmpty) None else Some((r.getLong(0), hits.length.toLong, hits.head.toLong))
      }.sortBy(_._1).toSeq
    assert(rows.toSeq === want)
    assert(unordered.size > ordered.size,
      "some doc must match only unordered at this SF, or the variant is vacuous")
  }

  test("ir13b fixture: order-free window admits the reversed triple the ordered face rejects") {
    import spark.implicits._
    val (w1, w2, w3) = ("table", "scan", "data")
    val tmp = java.nio.file.Files.createTempDirectory("ir13bfix").toString
    Seq(
      (0L, s"$w3 x $w1 $w2"),            // data(1) table(3) scan(4): span 3 ≤ 4, WRONG order
      (1L, s"$w1 $w2 $w3 pad"),          // ordered adjacency — matches both faces
      (2L, s"$w3 x x x x $w1 $w2")       // span 7−1=6 > 4 — too wide for either
    ).map { case (i, t) => (i, t, t.length.toLong) }
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val un = TextQueries.ir13bInternals(spark, tmp, w1, w2, w3, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(un === Seq((0L, 1L, 3L), (1L, 1L, 1L)),
      "unordered admits the reversed triple, anchored at the term-1 position")
    val ord = TextQueries.ir13Internals(spark, tmp, w1, w2, w3, 2).collect()
      .map(r => r.getLong(0)).toSeq
    assert(ord === Seq(1L), "the ordered face must still reject the reversed triple")
  }

  test("ir13 fixture: matched at slop 2, rejected at slop 0/by adjacency, order enforced") {
    import spark.implicits._
    val (w1, w2, w3) = ("table", "scan", "data")
    val tmp = java.nio.file.Files.createTempDirectory("ir13fix").toString
    Seq(
      (0L, s"a $w1 big $w2 x $w3"),       // span 6−2=4 ≤ 2+2 → slop-2 hit, NOT adjacent
      (1L, s"$w1 $w2 $w3 pad"),           // exact adjacency — hits at every slop
      (2L, s"$w3 $w2 $w1 pad"),           // all terms, wrong ORDER — never hits
      (3L, s"$w1 pad pad pad $w2 $w3"),   // span 6−1=5 > 4 — window too wide
      (4L, s"$w1 $w2 pad pad")            // third term missing — inner join drops it
    ).map { case (i, t) => (i, t, t.length.toLong) }
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val at2 = TextQueries.ir13Internals(spark, tmp, w1, w2, w3, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(at2 === Seq((0L, 1L, 2L), (1L, 1L, 1L)),
      "slop 2 admits the spread window ir11-style adjacency rejects, in order only")
    val at0 = TextQueries.ir13Internals(spark, tmp, w1, w2, w3, 0).collect()
      .map(r => r.getLong(0)).toSeq
    assert(at0 === Seq(1L), "slop 0 degenerates to exact 3-term adjacency")
  }

  test("ir5: index audit rows are internally consistent") {
    val rows = TextQueries.ir5InvertedIndex(spark, dir).collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      val (df, totalTf, nBlocks) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(totalTf >= df, "every posting contributes at least one occurrence")
      assert(nBlocks >= 1L && nBlocks <= df, "blocks partition the postings")
    }
    val dfs = rows.map(_.getLong(1)).toSeq
    assert(dfs === dfs.sorted(Ordering[Long].reverse), "audit is ranked by df desc")
  }

  test("ir3: every fused doc carries 1 or 2 arm contributions, ordered by fused score") {
    val rows = SimilarityQueries.ir3HybridDense(spark, dir).collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      val n = r.getLong(1)
      assert(n === 1L || n === 2L, s"n_arms must be 1 or 2, got $n")
      // one arm contributes at most round(1e6/61) per rank-1 hit
      assert(r.getLong(2) <= n * math.round(1e6 / 61.0))
    }
    val scores = rows.map(_.getLong(2)).toSeq
    assert(scores === scores.sorted(Ordering[Long].reverse), "must be ranked by rrf_e6 desc")
    // both arms must be represented somewhere in the fused top-20
    assert(rows.exists(_.getLong(1) === 2L), "no doc was found by both arms")
  }

  test("ir7: greedy MMR selects distinct docs with non-increasing scores, led by argmax relevance") {
    val rows = SimilarityQueries.ir7MmrRerank(spark, dir).collect()
    assert(rows.length === 8)
    assert(rows.map(_.getAs[Int]("step")).toSeq === (1 to 8))
    val ids = rows.map(_.getAs[Long]("doc_id")).toSeq
    assert(ids.distinct.length === 8, "a doc must never be selected twice")
    // step 1 is pure relevance: mmr = floor(3·rel/4), and no later step beats it
    val first = rows.head
    assert(first.getAs[Long]("mmr_e6") ===
      Math.floorDiv(3L * first.getAs[Long]("rel_e6"), 4L))
    val scores = rows.map(_.getAs[Long]("mmr_e6")).toSeq
    assert(scores === scores.sorted(Ordering[Long].reverse),
      "greedy MMR scores must be non-increasing (shrinking pool, growing penalty set)")
  }

  test("ir7: a perfect near-duplicate of the first pick is deferred behind a diverse doc") {
    val spark0 = spark
    import spark0.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ir7d").toString
    val r2 = (1.0 / math.sqrt(2.0)).toFloat
    def pad(v: Seq[Float]): Array[Float] = (v ++ Seq.fill(64 - v.length)(0.0f)).toArray
    // query spreads over dims 0+1; doc1 and doc2 are IDENTICAL (dim 0),
    // doc3 is equally relevant but orthogonal to them (dim 1)
    Seq(
      (0L, pad(Seq(r2, r2)), 0),
      (1L, pad(Seq(1.0f)), 0),
      (2L, pad(Seq(1.0f)), 0),
      (3L, pad(Seq(0.0f, 1.0f)), 0)
    ).toDF("vec_id", "embedding", "label").coalesce(1)
      .write.parquet(s"$tmp/embeddings.parquet")
    val rows = SimilarityQueries.ir7MmrRerank(spark, tmp).collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSeq === Seq(1L, 3L, 2L),
      "plain top-k would rank 1,2,3 — MMR must defer the duplicate doc 2")
    // the duplicate's final score bears the full max-similarity penalty
    val dup = rows.last
    assert(dup.getAs[Long]("mmr_e6") ===
      Math.floorDiv(3L * dup.getAs[Long]("rel_e6"), 4L) - 250000L)
  }

  /** Physical plans of every SQL execution `body` starts (eager pins
    * included), in formatted explain mode. A fence execution run after the
    * body is the last event the listener sees, so every earlier start has
    * been delivered once the fence shows up. */
  private def plansStartedBy(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => plans.add(x.physicalPlanDescription)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.range(1).selectExpr("'plan-fence' AS fence").collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      def fenced = plans.toArray.exists(_.toString.contains("plan-fence"))
      while (!fenced && System.nanoTime() < deadline) Thread.sleep(10)
      assert(fenced, "fence execution never reached the listener")
      plans.toArray.map(_.toString).filterNot(_.contains("plan-fence")).toSeq
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("ir16/ir20 plans: bucket-pruned postings, one pushed delta-range documents scan, none after the CDC fold") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ir16plan").toString
    (0L until 200L).map(i => (i, s"data table scan w$i join", 24L))
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val split = graft.operators.PersistedIndex.readSplit(spark,
      TextQueries.ensureBasePostingsIndex(spark, tmp))
    var ir16: org.apache.spark.sql.DataFrame = null
    val plans = plansStartedBy {
      ir16 = TextQueries.ir16QueryBatch(spark, tmp)
      ir16.collect()
    }
    val plan = ir16.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined &&
      plan.contains("postings"), s"ir16 must read postings bucket-pruned:\n$plan")
    // formatted plans detail each scan in its own paragraph
    val docScans = plans.flatMap(_.split("\n\n")).filter(_.contains("documents.parquet"))
    assert(docScans.size === 1, s"ir16 must scan the corpus exactly once:\n${plans.mkString("\n")}")
    assert(docScans.head.contains(s"GreaterThan(doc_id,$split)"),
      s"the corpus scan must carry the pushed doc_id > $split filter:\n${docScans.head}")
    IndexMaintenance.compactCdc(spark, tmp, IndexMaintenance.Postings)
    val ir20 = TextQueries.ir20CdcQueryBatch(spark, tmp).queryExecution.executedPlan.toString
    assert(!ir20.contains("documents.parquet"),
      s"after the CDC fold ir20 must read persisted artifacts only:\n$ir20")
  }
}
