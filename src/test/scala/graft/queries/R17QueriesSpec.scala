package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.CdcRules
import graft.streaming.IndexMaintenance

/** Round-17 pins: the empty-delta erasure (VERDICT r16 #6 + ADVICE r16
  * low #3) — statically-empty delta frames must stay LocalRelations so
  * PropagateEmptyRelation erases the whole fresh leg, and the positional
  * family's append-fold compaction must leave every positional probe
  * serving persisted-only (no corpus scan, no tokenization, no
  * checkpoint job at construction time). */
class R17QueriesSpec extends SparkSpec {

  test("pinDelta/pinDerived: statically-empty deltas stay LocalRelations, real ones checkpoint") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val e = CdcRules.emptyRows(spark, "doc_id", "text",
      org.apache.spark.sql.types.StringType)
    // a Generate-free chain over an empty frame optimizes back to an
    // empty LocalRelation — pinDelta must NOT replace it with an RDD scan
    val filtered = e.filter(col("doc_id") > 5L).select("doc_id")
    assert(CdcRules.isKnownEmpty(filtered))
    assert(CdcRules.pinDelta(filtered)
        .queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      "an empty delta must survive pinning as a LocalRelation")
    // PropagateEmptyRelation does not fold every Generate shape over an
    // empty child (posexplode in particular, the posServe chain), so
    // kernels pin the DERIVED frame keyed on the INPUT's emptiness
    val chain = e
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p", "w")))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    assert(!CdcRules.isKnownEmpty(chain),
      "precondition: the optimizer alone cannot see through posexplode")
    val pinned = CdcRules.pinDerived(spark, e, chain)
    assert(pinned.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      "a derivation from an empty input must become an empty LocalRelation")
    assert(pinned.schema === chain.schema,
      "the substituted frame must carry the derived schema")
    // a frame the optimizer cannot prove empty IS checkpointed (the
    // subtree-dedup materialization the r16 audit added)
    val ne = Seq((1L, "a b")).toDF("doc_id", "text")
    assert(!CdcRules.isKnownEmpty(ne))
    val pinnedNe = CdcRules.pinDerived(spark, ne,
      ne.select(col("doc_id"), explode(split(col("text"), " ")).as("w")))
    assert(pinnedNe.queryExecution.optimizedPlan.getClass.getSimpleName
      .contains("LogicalRDD"),
      "a non-empty delta must be eagerly materialized")
    assert(pinnedNe.collect().length === 2)
  }

  test("positions append-fold: probes byte-identical across compactBasePosIndex, post-fold plan persisted-only") {
    import spark.implicits._
    // ids 0..129 → watermark 117: phrase/proximity hits live in the base
    // (40), at the boundary (100), and in the in-flight delta (125)
    def text(i: Long): String =
      if (i == 40L) "table scan data pad"
      else if (i == 100L) "pad table scan"
      else if (i == 125L) "table scan data table scan"
      else "pad filler pad"
    val tmp = java.nio.file.Files.createTempDirectory("posfold").toString
    (0L until 130L).map(i => (i, text(i), text(i).length.toLong))
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val ir11Before = rowsOf(TextQueries.ir11bPersistedPositions(spark, tmp))
    assert(ir11Before.map(_._1) === Seq(40L, 100L, 125L))
    val ir13Before = rowsOf(TextQueries.ir13ProximityQuery(spark, tmp))
    assert(ir13Before.map(_._1) === Seq(40L, 125L))
    // pre-fold, the in-flight segment rides a pinned (checkpointed) leg
    val planBefore =
      TextQueries.ir11bPersistedPositions(spark, tmp).queryExecution.executedPlan.toString
    assert(planBefore.contains("ExistingRDD"),
      s"pre-fold the delta leg is materialized:\n$planBefore")
    val base = TextQueries.PositionsMaintenance.ensureBase(spark, tmp)
    val folded = IndexMaintenance.foldAppends(spark, tmp, TextQueries.PositionsMaintenance)
    assert(folded.getFileName.toString.endsWith("_c129"),
      "the fold generation is keyed by the folded-in watermark")
    assert(java.nio.file.Files.exists(base),
      "the base home must survive the fold — the audit faces census it")
    assert(TextQueries.ensurePosIndex(spark, tmp) === folded,
      "probe resolution re-points at the folded generation")
    assert(graft.operators.PersistedIndex.readSplit(spark, folded) === 129L)
    // post-fold: answers byte-identical, plans persisted-only — zero
    // corpus scan, zero tokenization, zero checkpoint leg
    val served = TextQueries.ir11bPersistedPositions(spark, tmp)
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      s"post-fold probe must not scan the corpus:\n$plan")
    assert(!plan.contains("posexplode"),
      s"post-fold probe must not tokenize:\n$plan")
    assert(!plan.contains("ExistingRDD"),
      s"the empty delta must be erased, not checkpointed:\n$plan")
    assert(plan.contains("positions_index"),
      s"post-fold probe reads the persisted fold:\n$plan")
    assert(rowsOf(served) === ir11Before)
    assert(rowsOf(TextQueries.ir13ProximityQuery(spark, tmp)) === ir13Before)
    assert(rowsOf(TextQueries.ir13bUnorderedNear(spark, tmp))
      .map(_._1).contains(40L))
    // refold is a no-op (the max id is at the folded watermark)
    assert(IndexMaintenance.foldAppends(spark, tmp, TextQueries.PositionsMaintenance) === folded)
  }

  test("bucket count is an artifact property: identical answers across two counts, modulus from stats") {
    import spark.implicits._
    import graft.operators.PersistedIndex
    // the sizing function itself: ~80 docs per bucket, clamped
    assert(TextQueries.bucketCountFor(500L) === 16L)
    assert(TextQueries.bucketCountFor(5000L) === 63L)
    assert(TextQueries.bucketCountFor(50000L) === 625L)
    // clamped at 1024: beyond ~82k docs the per-probe partition-listing
    // cost of more bucket dirs outweighs finer pruning (sf10 measured)
    assert(TextQueries.bucketCountFor(500000L) === 1024L)
    assert(TextQueries.bucketCountFor(10000000L) === 1024L)
    val tmp = java.nio.file.Files.createTempDirectory("buckets").toString
    def text(i: Long): String =
      if (i % 7L == 0L) "data spark join" else "pad filler pad"
    (0L until 100L).map(i => (i, text(i), text(i).length.toLong))
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val kind = java.nio.file.Paths.get("staging", "spec_buckets")
    PersistedIndex.deleteTree(kind)
    val (h16, h64) = (kind.resolve("b16"), kind.resolve("b64"))
    PersistedIndex.buildIfAbsent(h16)(TextQueries.buildBasePostings(spark, tmp, _, Some(16L)))
    PersistedIndex.buildIfAbsent(h64)(TextQueries.buildBasePostings(spark, tmp, _, Some(64L)))
    assert(TextQueries.readBuckets(spark, h16) === 16L)
    assert(TextQueries.readBuckets(spark, h64) === 64L)
    def serve(h: java.nio.file.Path) = TextQueries.bm25Serve(spark, h,
      CdcRules.emptyIds(spark, "doc_id"),
      CdcRules.emptyRows(spark, "doc_id", "text",
        org.apache.spark.sql.types.StringType),
      TextQueries.RetrievalQTerms)
    val (r16, r64) = (serve(h16), serve(h64))
    // the modulus is layout, never semantics: answers byte-identical
    assert(r16.collect().map(_.toSeq).toSeq === r64.collect().map(_.toSeq).toSeq)
    // …and each probe prunes with the modulus ITS artifact was built with
    def partFilter(df: org.apache.spark.sql.DataFrame): String =
      "PartitionFilters: \\[[^\\]]*bucket[^\\]]*\\]".r
        .findFirstIn(df.queryExecution.executedPlan.toString).getOrElse("")
    assert(partFilter(r16).nonEmpty && partFilter(r64).nonEmpty)
    assert(partFilter(r16) !== partFilter(r64),
      "different bucket counts must land different pruning IN lists")
    PersistedIndex.deleteTree(kind)
  }

  test("e2e10: walk fires the folds, post census = drained identity, probes go persisted-only") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("e2e10walk").toString
    def text(i: Long): String =
      if (i % 5L == 0L) "table scan data pad " * 4
      else "table scan filler"
    (0L until 130L).map(i => (i, text(i), text(i).length.toLong))
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    (0L until 100L).map(i =>
        (i, Seq(1f, (i % 7).toFloat, (i * 3 % 11).toFloat), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    def rowsOf() = CurationQueries.e2e10LifecycleWalk(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6), r.getLong(7), r.getLong(8))).toSeq
    val rows = rowsOf()
    assert(rows.map(_._1) === Seq("ivf", "kg", "lsh", "phash",
      "positions", "positions_base", "postings", "postings_stream"))
    rows.foreach { r =>
      assert(r._6 === r._3 - r._4 + r._5, s"${r._1}: serving census identity")
    }
    // the %13 change set is ~30% in flight and the append decile is
    // 12/118 ≈ 10.2% of the base — every arm's policy fires here
    assert(rows.forall(_._7), s"every family should fold in this fixture:\n$rows")
    rows.foreach { r =>
      assert(r._8 === r._6,
        s"${r._1}: the published store must hold exactly the serving census")
      assert(r._9 === 0L, s"${r._1}: a fold drains the in-flight set")
    }
    // idempotent: the second walk reads the same generations back
    assert(rowsOf() === rows)
    // the walk's positions_base fold flips every positional probe to a
    // persisted-only plan (VERDICT r16 #6's bench-visible payoff)
    val plan = TextQueries.ir11bPersistedPositions(spark, tmp)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet") && !plan.contains("ExistingRDD"),
      s"post-walk the phrase probe must be persisted-only:\n$plan")
  }

  test("e2e8/e2e9: census is fold-invariant — the audit reads the BASE lineage") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("e2e8fold").toString
    def text(i: Long): String =
      if (i % 5L == 0L) "table scan data pad " * 4 // ≥64 chars for the phash arm
      else "pad filler pad"
    (0L until 130L).map(i => (i, text(i), text(i).length.toLong))
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    (0L until 100L).map(i =>
        (i, Seq(1f, (i % 7).toFloat, (i * 3 % 11).toFloat), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    def rowsOf() = CurationQueries.e2e9CompactPolicy(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6))).toSeq
    val before = rowsOf()
    assert(before.map(_._1) ===
      Seq("ivf", "kg", "lsh", "phash", "positions", "postings"))
    IndexMaintenance.foldAppends(spark, tmp, TextQueries.PositionsMaintenance)
    assert(rowsOf() === before,
      "the census must not move when a fold generation publishes — " +
        "it audits the base lineage, corpus-replayable by design")
  }
}
