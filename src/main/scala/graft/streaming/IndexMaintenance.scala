package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, InterpretedOrdering}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

import graft.operators.{CdcRules, PersistedIndex}
import graft.queries.TextQueries

/** The STREAMING index-maintenance loop (VERDICT r16 #3) — the piece that
  * DRIVES a persisted index family's CDC lifecycle from a live feed instead
  * of batch faces: a `foreachBatch` sink lands every micro-batch of an
  * (id, op, payload) change feed as an immutable DELTA SEGMENT next to
  * the persisted base index, and fires the compaction policy after each
  * batch — when it trips, the segments FOLD into a new base generation
  * (the family's compactCdc recipe applied to accumulated segments) and
  * are retired. [[probe]] serves the family's query over base ∖ dead ∪
  * fresh — at any moment, mid-stream or post-fold, the answer equals batch
  * feed serving over the cumulative feed (spec-pinned), which is the
  * segment-merge invariant that makes the loop safe to run continuously.
  *
  * GENERALIZED over a per-family adapter (VERDICT r17 #3): the segment
  * land / last-writer merge / policy / fold-and-retire kernel is family
  * blind; a [[Family]] supplies (index kind and fingerprint, source
  * table, update transform, feed generators, ensure base, census, fold
  * artifacts, serve) — postings, positions, LSH, KG, pHash and IVF all
  * ride the same loop. The same hooks drive the BATCH lifecycle: every
  * tombstone, expunge, feed and append face resolves its serving state
  * through [[serving]] and folds through [[compactCdc]] /
  * [[foldAppends]], so this module alone names the `_cdc<w>` and
  * `_c<hi>` generations.
  *
  * Idempotence/restart contract (the resumable ingestion of the
  * reference's `scrapping/papers_download.py:49-61,136-151`, whose
  * skip-marker convention this reuses): segments publish via
  * [[PersistedIndex.buildIfAbsent]]'s staging + atomic-rename, keyed by
  * the Structured Streaming batchId — a batch replayed after a
  * checkpointed restart finds its `_INDEX_COMPLETE` marker (or a fold
  * floor past its id) and skips; a batch that crashed mid-write left only
  * a dead staging dir the next build sweeps.
  *
  * Cross-batch semantics: the LAST op per doc wins (a re-crawled doc
  * supersedes its earlier version; an update then delete is a delete).
  * Serve- and fold-time both reduce the segment union last-writer-wins
  * ([[changeFeed]]: on the driver when the feeds are small, else one
  * change-set-bounded max-struct aggregate), so multi-touch ids are
  * exact, never double-served. WITHIN one micro-batch ordering needs a
  * feed-supplied `seq` column (a Kafka offset, a crawl sequence number);
  * without one the loop REJECTS a batch that touches the same id twice
  * (ADVICE r17: resolving intra-batch multi-touch lexicographically on op
  * would silently resurrect an update-then-delete doc, and the answer
  * would change with trigger batching).
  *
  * Feed op contract: 'a' ids are NEW documents (never previously served);
  * a re-crawl of an existing document is 'u'; 'd' deletes an existing
  * document. This matches every cdcStream/vecFeed generator and is what
  * lets the reduced feed drop into [[CdcRules.feedFrames]] — the exact
  * frames the batch feed faces (ir15/dd22/kg9/ss13/mm10/ir19) serve.
  */
object IndexMaintenance {

  /** One persisted index family's hooks into the index lifecycle — the
    * streaming loop below and the batch faces' [[serving]], [[compactCdc]]
    * and [[foldAppends]]. All serve/fold methods take the SAME (dead,
    * fresh) frames: [[CdcRules.feedFrames]] of a feed, or the rule-derived
    * tombstone/fresh pair. */
  trait Family {
    def name: String
    /** feed id column ("doc_id" / "vec_id"). */
    def idCol: String
    /** payload column the serve/fold consume ("text" / "embedding"). */
    def payloadCol: String
    /** payload type in the feed and segment parquet. */
    def payloadType: DataType
    /** the persisted index kind — the homes' parent under `staging/`. */
    def kind: String
    /** the base home's fingerprint over `dir`; fold generations publish
      * under it with a `_cdc<w>` / `_c<hi>` suffix. */
    def fingerprint(dir: String): String
    /** the corpus table the family indexes (idCol, payloadCol, …). */
    def source(s: SparkSession, dir: String): DataFrame
    /** the rule feed's payload transform for a re-crawled (updated) row. */
    def updated: Column => Column
    /** the generated (id, op, payload) change feed at watermark `wStar`. */
    def feed(s: SparkSession, dir: String, wStar: Long): DataFrame
    /** [[feed]] restricted to the crawl window. */
    def sizedFeed(s: SparkSession, dir: String, wStar: Long): DataFrame =
      CdcRules.sizedFeed(feed(s, dir, wStar), idCol, wStar)
    /** resolve (building if absent) the family's published base index. */
    def ensureBase(s: SparkSession, dir: String): Path
    /** the serving-set size the compaction policy prices changes against. */
    def baseCount(s: SparkSession, base: Path): Long
    /** rewrite the family's artifacts under `tmp` as base ∖ dead ∪ fresh,
      * recording `split` as the folded watermark (the loop keeps the
      * base's: folded appends' segments are deleted, so nothing
      * re-applies). */
    def foldInto(s: SparkSession, tmp: Path, base: Path,
        dead: DataFrame, fresh: DataFrame, split: Long): Unit
    /** the family's query face over base ∖ dead ∪ fresh. */
    def serve(s: SparkSession, dir: String, base: Path,
        dead: DataFrame, fresh: DataFrame): DataFrame
  }

  /** A family over the documents corpus: (doc_id, text) payloads, the
    * [[EventStreams.cdcStream]] feed, re-crawls with reversed tokens. */
  trait DocFamily extends Family {
    val idCol = "doc_id"
    val payloadCol = "text"
    val payloadType: DataType = StringType
    def updated: Column => Column = CdcRules.reversedTokens
    def source(s: SparkSession, dir: String): DataFrame =
      graft.Tables(s, dir, "documents")
    def feed(s: SparkSession, dir: String, wStar: Long): DataFrame =
      EventStreams.cdcStream(source(s, dir), wStar)
  }

  /** The postings family — BM25 serving, the loop's original face. Its
    * re-crawl is the literal 'redacted': BM25 is order-free, so a token
    * reversal would be invisible to it. */
  object Postings extends DocFamily {
    val name = "postings"
    val kind = "postings_base"
    def fingerprint(dir: String): String = TextQueries.postingsFp(dir)
    override def updated: Column => Column = CdcRules.redactedText
    def ensureBase(s: SparkSession, dir: String): Path =
      TextQueries.ensureBasePostingsIndex(s, dir)
    def baseCount(s: SparkSession, base: Path): Long =
      PersistedIndex.statsRow(s, base).getAs[Long]("n_docs")
    def foldInto(s: SparkSession, tmp: Path, base: Path,
        dead: DataFrame, fresh: DataFrame, split: Long): Unit =
      TextQueries.foldPostingsArtifacts(s, tmp, base, dead, fresh, split)
    def serve(s: SparkSession, dir: String, base: Path,
        dead: DataFrame, fresh: DataFrame): DataFrame =
      TextQueries.bm25Serve(s, base, dead, fresh, TextQueries.RetrievalQTerms)
  }

  /** The six persisted families, one per index kind. */
  lazy val Families: Seq[Family] = Seq(Postings,
    graft.queries.TextQueries.PositionsMaintenance,
    graft.queries.DedupQueries.LshMaintenance,
    graft.queries.MatchQueries.KgMaintenance,
    graft.queries.MultimodalQueries.PhashMaintenance,
    graft.queries.SimilarityQueries.IvfMaintenance)

  // ---- the batch lifecycle: serve base ∖ dead ∪ fresh, fold it in ------

  /** The change set a batch face serves against. */
  sealed trait ChangeSet
  /** Rows past the snapshot watermark, nothing tombstoned (ir10/ir11b/
    * dd18/kg6/mm7/ss9). A generation whose stats carry the fold-complete
    * marker serves a TRUE empty fresh frame, so the plan is
    * persisted-only. */
  case object Appends extends ChangeSet
  /** The [[CdcRules]] rule set at the feed watermark (ir14/ir18/dd20/kg7/
    * mm8/ss10). Once [[compactCdc]] has published that watermark's
    * generation, the serve reads it with empty frames — the optimizer
    * erases the anti-joins and the plan reads persisted artifacts only. */
  case object Tombstones extends ChangeSet
  /** The family's generated feed table, [[Family.feed]] (ir15/ir19/dd22/
    * kg9/mm10/ss13). */
  case object Feed extends ChangeSet
  /** The feed restricted to the crawl window, [[Family.sizedFeed]]
    * (ir22/dd23/kg10/mm11/ss14). */
  case object SizedFeed extends ChangeSet

  /** The feed watermark of the family's corpus (one bounded driver read). */
  def feedSplit(s: SparkSession, dir: String, f: Family): Long =
    CdcRules.feedSplit(f.source(s, dir), f.idCol)

  /** `<fp>_cdc<w>`: the expunge generation of the rule change set at feed
    * watermark `wStar` — invisible to [[PersistedIndex.currentHome]], so
    * the append-only faces keep serving the raw-corpus lineage. */
  def cdcHome(dir: String, f: Family, wStar: Long): Path =
    PersistedIndex.home(f.kind, dir, f.fingerprint(dir) + "_cdc" + wStar)

  /** `<fp>_c<hi>`: the append generation holding every row up to id `hi`,
    * which [[PersistedIndex.currentHome]] resolves transparently. */
  def appendHome(dir: String, f: Family, hi: Long): Path =
    PersistedIndex.home(f.kind, dir, f.fingerprint(dir) + "_c" + hi)

  private def noIds(s: SparkSession, f: Family): DataFrame =
    CdcRules.emptyIds(s, f.idCol)

  private def noRows(s: SparkSession, f: Family): DataFrame =
    CdcRules.emptyRows(s, f.idCol, f.payloadCol, f.payloadType)

  private def maxId(src: DataFrame, f: Family): Long =
    src.agg(max(col(f.idCol))).collect()(0).getLong(0)

  /** (serving home, dead ids, fresh rows) for `changes` — what a batch
    * face hands to its kernel, as [[probe]] does for the streaming loop.
    * The append floor of every fresh frame is the SNAPSHOT watermark
    * (rows already folded into the artifacts never re-enter), while the
    * rule and feed legs key on the CORPUS feed watermark, so a face stays
    * oracle-identical across folds. Faces that already hold the feed
    * watermark pass it as `wStar`. */
  def serving(s: SparkSession, dir: String, f: Family, changes: ChangeSet,
      wStar: Option[Long] = None): (Path, DataFrame, DataFrame) = {
    lazy val w = wStar.getOrElse(feedSplit(s, dir, f))
    def feedServing(feed: Long => DataFrame) = {
      val home = f.ensureBase(s, dir)
      val (dead, fresh) = CdcRules.feedFrames(feed(w), f.idCol, f.payloadCol,
        PersistedIndex.readSplit(s, home))
      (home, dead, fresh)
    }
    changes match {
      case Appends =>
        val home = f.ensureBase(s, dir)
        val (split, atMax) = PersistedIndex.readSplitInfo(s, home)
        (home, noIds(s, f),
          if (atMax) noRows(s, f)
          else f.source(s, dir).filter(col(f.idCol) > split).select(f.idCol, f.payloadCol))
      case Tombstones =>
        val cdc = cdcHome(dir, f, w)
        if (PersistedIndex.isBuilt(cdc)) (cdc, noIds(s, f), noRows(s, f))
        else {
          val home = f.ensureBase(s, dir)
          val src = f.source(s, dir)
          (home, CdcRules.tombstoneIds(src, f.idCol, w),
            CdcRules.freshRows(src, f.idCol, f.payloadCol, w,
              PersistedIndex.readSplit(s, home), f.updated))
        }
      case Feed => feedServing(f.feed(s, dir, _))
      case SizedFeed => feedServing(f.sizedFeed(s, dir, _))
    }
  }

  /** The family's own query face over [[serving]]. */
  def serve(s: SparkSession, dir: String, f: Family, changes: ChangeSet): DataFrame = {
    val (home, dead, fresh) = serving(s, dir, f, changes)
    f.serve(s, dir, home, dead, fresh)
  }

  /** EXPUNGE-DELETES COMPACTION (the Lucene `forceMerge`/expungeDeletes
    * contract): fold the ENTIRE [[CdcRules]] change set at the current
    * feed watermark into [[cdcHome]] — dead and updated-old rows
    * physically leave every artifact, re-crawled updates and appends
    * enter through one fresh derivation, so the generation is bit-equal
    * to a full rebuild over the post-change corpus and [[Tombstones]]
    * serving reads it with empty frames. The base generation is NOT
    * swept: the append-only faces and the e2e8 audit still read it.
    * Idempotent: returns the published generation when it exists. */
  def compactCdc(s: SparkSession, dir: String, f: Family): Path = {
    val src = f.source(s, dir)
    val wStar = CdcRules.feedSplit(src, f.idCol)
    val target = cdcHome(dir, f, wStar)
    if (PersistedIndex.isBuilt(target)) return target
    val base = f.ensureBase(s, dir)
    val snap = PersistedIndex.readSplit(s, base)
    val hi = maxId(src, f)
    PersistedIndex.buildIfAbsent(target, dir) { tmp =>
      f.foldInto(s, tmp, base, CdcRules.tombstoneIds(src, f.idCol, wStar),
        CdcRules.freshRows(src, f.idCol, f.payloadCol, wStar, snap, f.updated),
        math.max(snap, hi))
    }
    target
  }

  /** APPEND COMPACTION (the Lucene segment merge): fold the rows past the
    * base's watermark into [[appendHome]] — nothing dead, the in-flight
    * segment is the fresh side — then sweep the superseded generation.
    * The base's own resolution re-points at the new generation, and
    * because segment merge is answer-invariant the append faces serve
    * byte-identical results while their delta work drops to zero. Only
    * the appended rows are re-derived; base artifacts are copied. Returns
    * the current home (unchanged when nothing is in flight). */
  def foldAppends(s: SparkSession, dir: String, f: Family): Path = {
    val base = f.ensureBase(s, dir)
    val w0 = PersistedIndex.readSplit(s, base)
    val src = f.source(s, dir)
    val hi = maxId(src, f)
    if (hi <= w0) return base
    val target = appendHome(dir, f, hi)
    PersistedIndex.buildIfAbsent(target, dir) { tmp =>
      f.foldInto(s, tmp, base, noIds(s, f),
        src.filter(col(f.idCol) > w0).select(f.idCol, f.payloadCol), hi)
    }
    PersistedIndex.sweepSuperseded(target, dir)
    target
  }

  private def segName(batchId: Long) = f"seg_$batchId%012d"
  private def foldName(batchId: Long) = f"base_$batchId%012d"

  private def idOf(p: Path, prefix: String): Long =
    p.getFileName.toString.stripPrefix(prefix).toLong

  private def list(root: Path, prefix: String): Seq[Path] = {
    if (!Files.exists(root)) return Nil
    val it = Files.list(root)
    try {
      val b = Seq.newBuilder[Path]
      it.forEach { p =>
        val n = p.getFileName.toString
        if (n.startsWith(prefix) && PersistedIndex.isBuilt(p)) b += p
      }
      b.result().sortBy(idOf(_, prefix))
    } finally it.close()
  }

  /** (serving base home, fold floor, live segments): the base is the
    * highest COMPLETE fold generation under `root` (else the family's
    * published base index), segments above the floor serve as the
    * in-flight change set. */
  def resolve(s: SparkSession, dir: String, root: Path,
      family: Family = Postings): (Path, Long, Seq[Path]) = {
    val folds = list(root, "base_")
    val (base, floor) =
      if (folds.nonEmpty) (folds.last, idOf(folds.last, "base_"))
      else (family.ensureBase(s, dir), -1L)
    (base, floor, list(root, "seg_").filter(idOf(_, "seg_") > floor))
  }

  /** Land one micro-batch as a segment (idempotent), then fire the
    * policy. The feed schema is (id, op, payload[, seq]); 's' rows (skip
    * markers — unchanged re-crawls) are dropped at the door. Without a
    * feed-supplied `seq`, a batch touching one id twice is rejected
    * loudly — there is no order to resolve it by (ADVICE r17). The batch
    * lands in ONE write: without `seq`, the largest per-id touch count is
    * observed on that write, and the check runs inside the segment build,
    * so a rejected batch leaves no segment and no staging dir. The segment
    * is just its `feed`; the policy's census reads the feed's row count
    * from its parquet footers. */
  def applyBatch(s: SparkSession, dir: String, root: Path,
      batch: DataFrame, batchId: Long, family: Family = Postings): Unit = {
    val (_, floor, _) = resolve(s, dir, root, family)
    if (batchId <= floor) return // replayed batch already folded in
    val seg = root.resolve(segName(batchId))
    if (PersistedIndex.isBuilt(seg)) return // replayed after restart
    val hasSeq = batch.columns.contains("seq")
    val rows = batch.filter(col("op") =!= "s")
      .select(col(family.idCol).cast(LongType).as(family.idCol), col("op"),
        col("payload").cast(family.payloadType).as("payload"),
        (if (hasSeq) col("seq").cast(LongType) else lit(0L)).as("seq"))
    PersistedIndex.buildIfAbsent(seg) { tmp =>
      val feed = tmp.resolve("feed").toString
      if (hasSeq) rows.write.mode("overwrite").parquet(feed)
      else {
        val (touched, touches) = graft.sources.Layout.withObserved(
          rows.withColumn("__touches", count(lit(1)).over(Window.partitionBy(family.idCol))),
          max(col("__touches")).as("touches"))
        touched.drop("__touches").write.mode("overwrite").parquet(feed)
        // a null max saw no rows; no report at all re-runs the check
        val multi = touches() match {
          case Some(r) => !r.isNullAt(0) && r.getLong(0) > 1L
          case None => rows.groupBy(family.idCol).agg(count(lit(1)).as("n"))
            .filter(col("n") > 1L).limit(1).count() > 0L
        }
        require(!multi, s"micro-batch $batchId touches one ${family.idCol} " +
          "more than once and the feed carries no seq column - intra-batch op " +
          "order is undefined; supply seq (ingest offset) or split the batch")
      }
    }
    maybeFold(s, dir, root, family)
  }

  /** The cumulative change feed of `segs`, last-writer-wins: one
    * (id, op, payload) row per id, the row of the greatest
    * (batch, seq, op, payload) — batch ids are distinct per segment and
    * `seq` orders rows within one (or is constant 0 for single-touch
    * batches), so (batch, seq) is a total writer order. Feeds holding at
    * most `maxBytes` (footer byte sizes; the session's broadcast-join
    * threshold, a negative one admits nothing) are read and reduced on the
    * driver, with no Spark job, into a LocalRelation; larger feeds reduce
    * in one change-set-bounded max-struct aggregate, pinned. Both paths
    * order writers by Catalyst's ordering of that struct, so nulls and
    * ties resolve alike. */
  private[streaming] def changeFeed(s: SparkSession, segs: Seq[Path],
      family: Family): DataFrame =
    changeFeed(s, segs, family, s.sessionState.conf.autoBroadcastJoinThreshold)

  private[streaming] def changeFeed(s: SparkSession, segs: Seq[Path], family: Family,
      maxBytes: Long): DataFrame = {
    val feeds = segs.map(p => (idOf(p, "seg_"), p.resolve("feed").toString))
    graft.sources.Layout.collectSmall(s, feeds.map(_._2), maxBytes) match {
      case Some(stores) => reduceOnDriver(s, feeds.map(_._1).zip(stores), family)
      case None =>
        feeds.map { case (batch, feed) =>
          graft.sources.Layout.readParquet(s, feed).withColumn("batch", lit(batch))
        }.reduce(_ unionByName _)
          .groupBy(family.idCol)
          .agg(max(struct(col("batch"), col("seq"), col("op"), col("payload"))).as("w"))
          .select(col(family.idCol), col("w.op").as("op"), col("w.payload").as("payload"))
          .localCheckpoint(true)
    }
  }

  /** [[changeFeed]]'s driver path over decoded feed rows, keyed by batch:
    * per id, the row whose (batch, seq, op, payload) is greatest under
    * Catalyst's [[InterpretedOrdering]] of that struct — the order
    * `max(struct(...))` takes; a null id is one group, as in `groupBy`. */
  private def reduceOnDriver(s: SparkSession,
      feeds: Seq[(Long, (StructType, Seq[InternalRow]))], family: Family): DataFrame = {
    val writerOrder = InterpretedOrdering.forSchema(
      Seq(LongType, LongType, StringType, family.payloadType))
    val last = new java.util.HashMap[Any, InternalRow]()
    for ((batch, (schema, rows)) <- feeds) {
      val Seq(id, seq, op, payload) =
        Seq(family.idCol, "seq", "op", "payload").map(schema.fieldIndex)
      rows.foreach { r =>
        val w = new GenericInternalRow(Array[Any](batch, r.get(seq, LongType),
          r.get(op, StringType), r.get(payload, family.payloadType)))
        val key = r.get(id, LongType)
        val cur = last.get(key)
        if (cur == null || writerOrder.gt(w, cur)) last.put(key, w)
      }
    }
    GraftParquetBridge.localFrame(s, StructType(Seq(StructField(family.idCol, LongType),
        StructField("op", StringType), StructField("payload", family.payloadType))),
      last.asScala.toVector.map { case (key, w) =>
        new GenericInternalRow(Array[Any](key, w.get(2, StringType), w.get(3, family.payloadType)))
      })
  }

  /** The (dead ids, fresh payload rows) pair every family's serve/fold
    * consumes — [[CdcRules.feedFrames]] over the reduced cumulative feed,
    * exactly what the family's batch feed face derives. */
  private def changeSet(s: SparkSession, segs: Seq[Path], family: Family,
      appendFloor: Long): (DataFrame, DataFrame) =
    CdcRules.feedFrames(changeFeed(s, segs, family),
      family.idCol, family.payloadCol, appendFloor)

  /** Fire [[PersistedIndex.shouldCompact]] on the (base census, segment
    * census) pair; when it trips, fold and retire the segments. The
    * segment census is the summed per-segment change counts — each
    * segment feed's row count, read from its parquet footers (no Spark
    * job) — an upper bound when batches re-touch an id, the same
    * over-count Lucene's deletes-pct trigger carries for superseded
    * versions. */
  def maybeFold(s: SparkSession, dir: String, root: Path,
      family: Family = Postings): Option[Path] = {
    sweepRetired(root)
    val (base, _, segs) = resolve(s, dir, root, family)
    if (segs.isEmpty) return None
    val nBase = family.baseCount(s, base)
    val nChanges = segs.map(PersistedIndex.artifactRows(s, _, "feed")).sum
    if (!PersistedIndex.shouldCompact(nBase, 0L, nChanges)) return None
    Some(fold(s, dir, root, base, segs, family))
  }

  /** Fold the live segments into a new base generation — dead/updated-old
    * rows physically leave every artifact (the family's expunge-deletes
    * recipe), surviving payloads re-derive ONCE. Publish, then STAMP the
    * folded segments for retirement: actual deletion waits a grace window
    * (the two-phase sweepSuperseded contract, ADVICE r17 — a concurrent
    * probe that resolved the segments before the fold keeps its files).
    * The loop's steady state is one base + a short segment tail. */
  private def fold(s: SparkSession, dir: String, root: Path,
      base: Path, segs: Seq[Path], family: Family): Path = {
    val lastId = idOf(segs.last, "seg_")
    val target = root.resolve(foldName(lastId))
    val split = PersistedIndex.readSplit(s, base)
    PersistedIndex.buildIfAbsent(target) { tmp =>
      val (dead, fresh) = changeSet(s, segs, family, split)
      family.foldInto(s, tmp, base, dead, fresh, split)
    }
    segs.foreach { p =>
      val mark = p.resolve("_SUPERSEDED")
      if (!Files.exists(mark))
        Files.writeString(mark, System.currentTimeMillis().toString)
    }
    sweepRetired(root)
    target
  }

  /** Retire folded segments and superseded fold generations: each one at
    * or below the current fold floor is stamped, then deleted once its
    * grace window has elapsed ([[PersistedIndex.retire]]). A fold
    * generation below the floor is stamped here too — generations stack
    * during a long run and only the highest serves. */
  private[streaming] def sweepRetired(root: Path,
      graceMs: Long = PersistedIndex.SweepGraceMs): Unit = {
    val folds = list(root, "base_")
    val floor = if (folds.isEmpty) -1L else idOf(folds.last, "base_")
    val now = System.currentTimeMillis()
    (list(root, "seg_").filter(idOf(_, "seg_") <= floor) ++
      folds.filter(idOf(_, "base_") < floor))
      .foreach(PersistedIndex.retire(_, now, graceMs))
  }

  /** Serve the family's query over the loop's current state: the resolved
    * base (persisted artifacts) merged with the live segments' reduced
    * change set — bit-equal to batch feed serving over the cumulative
    * feed, before AND after any fold. */
  def probe(s: SparkSession, dir: String, root: Path,
      family: Family = Postings): DataFrame = {
    val (base, _, segs) = resolve(s, dir, root, family)
    val (dead, fresh) =
      if (segs.isEmpty) (noIds(s, family), noRows(s, family))
      else changeSet(s, segs, family, PersistedIndex.readSplit(s, base))
    family.serve(s, dir, base, dead, fresh)
  }

  /** The ingestion loop itself: drain a streaming (id, op, payload[, seq])
    * feed through [[applyBatch]] with exactly-once segment landing via
    * the checkpoint + skip-marker pair. AvailableNow so batch-bounded
    * tests and cron-style drains terminate; a production deployment
    * passes a continuous trigger instead. */
  def ingestAvailableNow(s: SparkSession, dir: String, feed: DataFrame,
      root: Path, checkpoint: String, family: Family = Postings): Unit = {
    val q: StreamingQuery = feed.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(s, dir, root, batch, batchId, family)
      }
      .start()
    q.awaitTermination()
  }
}
