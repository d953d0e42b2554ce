package graft.queries

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{CdcRules, PersistedIndex}
import graft.streaming.IndexMaintenance
import graft.streaming.IndexMaintenance.{Appends, Family, Tombstones}

/** The batch index lifecycle over the six-family registry
  * ([[IndexMaintenance.Families]]), one test per family where the
  * families share a shape: the append fold ([[IndexMaintenance
  * .foldAppends]]), the expunge fold ([[IndexMaintenance.compactCdc]]),
  * the two folds side by side, and the e2e9/e2e10 audits over the
  * registry. */
class IndexLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def writeDocs(tmp: String, text: Long => String, n: Long = 100L): Unit =
    (0L until n).map(i => (i, text(i), text(i).length.toLong))
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")

  private def writeVecs(tmp: String, vec: Long => Seq[Float], n: Long = 100L): Unit =
    (0L until n).map(i => (i, vec(i), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")

  /** One family's append-fold case: a 100-row corpus (ids 0..99,
    * watermark 90) whose delta holds rows the append face must serve, the
    * append face itself, and the family's own checks before the fold and
    * on the folded generation. Titles are those of the per-family specs
    * the cases replace. */
  private final case class AppendFold(family: Family, title: String,
      corpus: String => Unit, face: String => Seq[Product],
      before: (String, Seq[Product]) => Unit = (_, _) => (),
      folded: (String, Path, Path) => Unit = (_, _, _) => ())

  private val nearDup = "the quick brown fox jumps over the lazy dog"
  private val assetPayload = (nearDup + " ") * 3
  private def asset(i: Long): String =
    s"asset $i " + (s"u${i}x" * 20) + " trailing content to clear the 64-char floor"

  private val appendFolds = Seq(
    AppendFold(IndexMaintenance.Postings,
      "compaction: probe byte-identical, delta census 0, superseded generation swept",
      // the ir10 fixture: the best match arrives in the delta
      tmp => writeDocs(tmp, i =>
        if (i == 95L) "needle needle needle"
        else if (i == 40L) "needle pad pad"
        else "pad pad pad"),
      tmp => TextQueries.ir10Internals(spark, tmp, Seq("needle"))._1.collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).longValue(), r.getLong(2))).toSeq,
      before = (tmp, _) =>
        assert(TextQueries.ir10Internals(spark, tmp, Seq("needle"))._2 === 90L),
      folded = (tmp, _, _) => {
        // the delta census (e2e7's postings-row arithmetic) reads 0 in flight
        assert(spark.read.parquet(s"$tmp/documents.parquet")
          .filter(col("doc_id") > 99L).count() === 0L)
        assert(TextQueries.ir10Internals(spark, tmp, Seq("needle"))._2 === 99L)
      }),
    AppendFold(DedupQueries.LshMaintenance,
      "lsh compaction: probe byte-identical, delta work gone, superseded generation swept",
      // the dd18 fixture: the fold must move the straddler and the
      // delta-internal pair into the persisted pair set
      tmp => writeDocs(tmp, i =>
        if (Set(10L, 20L, 40L, 95L).contains(i)) nearDup
        else if (Set(96L, 97L).contains(i)) "entirely different delta text here"
        else s"u${i}a u${i}b u${i}c u${i}d"),
      tmp => DedupQueries.dd18DeltaNeardup(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq,
      folded = (_, _, home1) => {
        // all seven pairs now live in the artifact; the probe's delta term is empty
        val persisted = spark.read.parquet(home1.resolve("pairs").toString)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(persisted === Set((10L, 20L), (10L, 40L), (20L, 40L), (10L, 95L),
          (20L, 95L), (40L, 95L), (96L, 97L)))
      }),
    AppendFold(MatchQueries.KgMaintenance,
      "kg compaction: merged statistics byte-identical, superseded generation swept",
      // base docs pair data+stream, delta docs pair data+window
      tmp => writeDocs(tmp, i =>
        if (i < 30L) "data stream flows here"
        else if (i >= 91L) "data window opens here"
        else s"plain u${i} filler"),
      tmp => MatchQueries.kg6DeltaGraph(spark, tmp).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq,
      before = (_, rows) =>
        assert(rows.map(r => (r.productElement(0), r.productElement(1)))
          .contains(("data", "window")),
          "the delta-only pair must be served before compaction"),
      folded = (_, _, home1) => {
        // the delta pair's counts now live in the persisted co table
        val co = spark.read.parquet(home1.resolve("co").toString).collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
        assert(co(("data", "window")) === 9L)
      }),
    AppendFold(MultimodalQueries.PhashMaintenance,
      "phash compaction: probe byte-identical, superseded generation swept",
      tmp => writeDocs(tmp, i =>
        if (i == 40L || i == 95L) assetPayload.trim else asset(i)),
      tmp => MultimodalQueries.mm7PhashDelta(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq,
      folded = (_, _, home1) => {
        // the straddling near-pair's counts now live in the persisted artifact
        val counts = spark.read.parquet(home1.resolve("rows").toString).collect()
          .map(r => r.getLong(0) -> r.getLong(3)).toMap
        assert(counts(40L) >= 1L && counts(95L) >= 1L)
      }),
    AppendFold(SimilarityQueries.IvfMaintenance,
      "ivf compaction: probe byte-identical under frozen centroids, superseded generation swept",
      // vector 95 (query 0's exact copy) arrives in the delta; the fold
      // must move it into the cells WITHOUT retraining centroids
      tmp => writeVecs(tmp, i =>
        if (i == 95L) Seq(1f, 0f, 0f, 0f)
        else Seq(1f, (i % 7).toFloat, (i * 3 % 11).toFloat, (i * 5 % 13).toFloat)),
      tmp => SimilarityQueries.ss9DeltaProbe(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq,
      folded = (_, home0, home1) => {
        def cents(h: Path) = spark.read.parquet(h.resolve("centroids").toString)
          .collect().map(_.getLong(0)).sorted.toSeq
        assert(cents(home1) === cents(home0), "compaction must never retrain centroids")
        assert(spark.read.parquet(home1.resolve("cells").toString)
          .filter(col("vec_id") === 95L).count() === 1L)
      }),
    AppendFold(TextQueries.PositionsMaintenance,
      "positions compaction: probe byte-identical, post-fold plan persisted-only",
      // the phrase occurs in the base (40) and in the delta (95)
      tmp => writeDocs(tmp, i =>
        if (i == 40L || i == 95L) "table scan data pad" else "pad filler pad"),
      tmp => TextQueries.ir11bPersistedPositions(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq,
      before = (_, rows) => assert(rows.map(_.productElement(0)) === Seq(40L, 95L)),
      folded = (tmp, _, _) => {
        val plan = TextQueries.ir11bPersistedPositions(spark, tmp)
          .queryExecution.executedPlan.toString
        assert(!plan.contains("documents.parquet") && !plan.contains("ExistingRDD"),
          s"the folded generation serves persisted-only:\n$plan")
      }))

  test("the append folds cover every registry family") {
    assert(appendFolds.map(_.family).toSet === IndexMaintenance.Families.toSet)
  }

  appendFolds.foreach { c =>
    test(c.title) {
      val tmp = Files.createTempDirectory(s"fold_${c.family.name}").toString
      c.corpus(tmp)
      val before = c.face(tmp)
      c.before(tmp, before)
      val home0 = c.family.ensureBase(spark, tmp)
      assert(PersistedIndex.readSplit(spark, home0) === 90L)
      val home1 = IndexMaintenance.foldAppends(spark, tmp, c.family)
      c.folded(tmp, home0, home1)
      assert(home1.getFileName.toString.endsWith("_c99"),
        "the new generation is keyed by the folded-in watermark")
      assert(Files.exists(home0.resolve("_SUPERSEDED")),
        "the superseded generation is stamped — a concurrent reader survives the cycle")
      PersistedIndex.sweepSuperseded(home1, tmp, 0L)
      assert(!Files.exists(home0), "the stamped generation sweeps once the grace elapses")
      assert(c.family.ensureBase(spark, tmp) === home1, "resolution re-points")
      assert(PersistedIndex.readSplit(spark, home1) === 99L)
      assert(CdcRules.isKnownEmpty(IndexMaintenance.serving(spark, tmp, c.family, Appends)._3),
        "the fold-complete generation serves a statically empty fresh frame")
      assert(c.face(tmp) === before, "compaction must be invisible to the served answer")
      assert(IndexMaintenance.foldAppends(spark, tmp, c.family) === home1,
        "compact again is a no-op")
    }
  }

  /** The e2e10 fixture corpus: every family's change set is in flight
    * past the compaction threshold. */
  private def walkCorpus(prefix: String): String = {
    val tmp = Files.createTempDirectory(prefix).toString
    writeDocs(tmp, i => if (i % 5L == 0L) "table scan data pad " * 4 else "table scan filler",
      n = 130L)
    writeVecs(tmp, i => Seq(1f, (i % 7).toFloat, (i * 3 % 11).toFloat))
    tmp
  }

  IndexMaintenance.Families.foreach { f =>
    test(s"compactCdc[${f.name}]: tombstone serve identical across the expunge fold, then persisted-only") {
      val tmp = walkCorpus(s"cdc_${f.name}")
      def rows() = {
        val (home, dead, fresh) = IndexMaintenance.serving(spark, tmp, f, Tombstones)
        (home, dead, fresh, f.serve(spark, tmp, home, dead, fresh).collect().toSeq)
      }
      val (home0, dead0, _, before) = rows()
      assert(home0 === f.ensureBase(spark, tmp))
      assert(!CdcRules.isKnownEmpty(dead0), "the fixture tombstones base rows")
      val wStar = IndexMaintenance.feedSplit(spark, tmp, f)
      val cdc = IndexMaintenance.compactCdc(spark, tmp, f)
      assert(cdc === IndexMaintenance.cdcHome(tmp, f, wStar))
      assert(cdc.getFileName.toString.endsWith(s"_cdc$wStar"))
      assert(f.ensureBase(spark, tmp) === home0,
        "the expunge generation is invisible to the raw lineage's resolution")
      val (home1, dead1, fresh1, after) = rows()
      assert(home1 === cdc)
      assert(CdcRules.isKnownEmpty(dead1) && CdcRules.isKnownEmpty(fresh1),
        "post-fold serving passes statically empty frames")
      assert(after === before, "the expunge fold must be invisible to the served answer")
      assert(f.baseCount(spark, cdc) > 0L)
      assert(IndexMaintenance.compactCdc(spark, tmp, f) === cdc, "refold is a no-op")
    }
  }

  Seq(IndexMaintenance.Postings, SimilarityQueries.IvfMaintenance).foreach { f =>
    test(s"foldAppends[${f.name}]: the _cdc generation stays unstamped and Tombstones serving resolves it") {
      val tmp = walkCorpus(s"cdckeep_${f.name}")
      val cdc = IndexMaintenance.compactCdc(spark, tmp, f)
      val home0 = f.ensureBase(spark, tmp)
      val home1 = IndexMaintenance.foldAppends(spark, tmp, f)
      assert(home1 !== home0, "the fixture has appends in flight")
      assert(Files.exists(home0.resolve("_SUPERSEDED")), "the home folded from is retired")
      assert(!Files.exists(cdc.resolve("_SUPERSEDED")),
        "an append fold must not retire the expunge generation")
      assert(IndexMaintenance.serving(spark, tmp, f, Tombstones)._1 === cdc)
    }
  }

  test("e2e9: rows unchanged after an append fold of every family") {
    val tmp = walkCorpus("e2e9folds")
    def rows() = CurationQueries.e2e9CompactPolicy(spark, tmp).collect().map(_.toSeq).toSeq
    val before = rows()
    IndexMaintenance.Families.foreach { f =>
      val home0 = f.ensureBase(spark, tmp)
      assert(IndexMaintenance.foldAppends(spark, tmp, f) !== home0, s"${f.name}: the fixture folds")
    }
    assert(rows() === before, "the census is fold-invariant")
  }

  test("e2e10: the family column is the registry's six names plus the two lineage arms") {
    val tmp = walkCorpus("e2e10fam")
    val fams = CurationQueries.e2e10LifecycleWalk(spark, tmp).collect().map(_.getString(0)).toSeq
    assert(fams ===
      (IndexMaintenance.Families.map(_.name) ++ Seq("positions_base", "postings_stream")).sorted)
  }

  test("lshBucketsFor: ~80 signatures a bucket, at least 16, at most 256") {
    assert(DedupQueries.lshBucketsFor(13L) === 16L)
    assert(DedupQueries.lshBucketsFor(1280L) === 16L)
    assert(DedupQueries.lshBucketsFor(1281L) === 17L)
    assert(DedupQueries.lshBucketsFor(20480L) === 256L)
    assert(DedupQueries.lshBucketsFor(4500000L) === 256L)
  }

  /** A home's recorded `bands` modulus, after checking the artifact's
    * `kb=` directories all lie below it. */
  private def checkedLshBuckets(home: Path): Long = {
    import scala.jdk.CollectionConverters._
    val n = spark.read.parquet(home.resolve("stats").toString)
      .select("n_buckets").collect().head.getLong(0)
    val kbs = Files.list(home.resolve("bands")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("kb="))
      .map(_.stripPrefix("kb=").toLong).toSeq
    assert(kbs.nonEmpty && kbs.forall(k => k >= 0L && k < n),
      s"bands directories ${kbs.sorted} outside modulus $n")
    n
  }

  test("lsh bands are sized to the signature store on build and fold (stats.n_buckets)") {
    val tmp = Files.createTempDirectory("lshsized").toString
    writeDocs(tmp, i => s"u${i}a u${i}b u${i}c u${i}d", n = 2000L)
    val lsh = DedupQueries.LshMaintenance
    val home0 = lsh.ensureBase(spark, tmp)
    val n0 = lsh.baseCount(spark, home0)
    assert(checkedLshBuckets(home0) === DedupQueries.lshBucketsFor(n0))
    val home1 = IndexMaintenance.foldAppends(spark, tmp, lsh)
    val n1 = lsh.baseCount(spark, home1)
    assert(n1 > n0, "the fold adds the delta's signatures")
    assert(checkedLshBuckets(home1) === DedupQueries.lshBucketsFor(n1))
    assert(DedupQueries.lshBucketsFor(n1) > DedupQueries.lshBucketsFor(n0),
      "fixture must move the modulus between generations")
  }

  test("lsh home whose stats lack n_buckets (256-way bands) serves bit-equal on the pruned and re-band paths") {
    import graft.operators.Dedup
    val tmp = Files.createTempDirectory("lshlegacy").toString
    writeDocs(tmp, i =>
      if (Set(10L, 20L, 40L).contains(i)) nearDup else s"u${i}a u${i}b u${i}c u${i}d",
      n = 400L)
    val lsh = DedupQueries.LshMaintenance
    val sized = lsh.ensureBase(spark, tmp)
    // the layout every home had before the modulus was recorded
    val legacy = Files.createTempDirectory("lshlegacyhome").resolve("idx")
    PersistedIndex.buildIfAbsent(legacy) { out =>
      Seq("sigs", "pairs").foreach { a =>
        spark.read.parquet(sized.resolve(a).toString)
          .write.parquet(out.resolve(a).toString)
      }
      graft.sources.Layout.writePartitioned(
        Dedup.bandedSignatures(spark.read.parquet(out.resolve("sigs").toString), "doc_id")
          .withColumn("kb", DedupQueries.lshBandBucket(col("band"), col("key"), 256L)),
        out.resolve("bands").toString, "kb", "band", "key")
      PersistedIndex.splitStats(spark, PersistedIndex.readSplit(spark, sized))
        .write.parquet(out.resolve("stats").toString)
    }
    assert(DedupQueries.lshBucketsOf(spark, legacy) === 256L)
    assert(DedupQueries.lshBucketsOf(spark, sized) < 256L)
    val dead = Seq(20L, 7L).toDF("doc_id")
    def freshDocs(ids: Seq[Long]) =
      ids.map(i => (i, if (i % 50L == 0L) nearDup else s"f${i}a f${i}b f${i}c f${i}d"))
        .toDF("doc_id", "text")
    // 4 band keys a document: 6 documents touch at most 24 of 256 buckets,
    // 150 touch well over the 192 the pruned path allows
    Seq("pruned" -> freshDocs(1000L until 1006L), "re-band" -> freshDocs(1000L until 1150L))
      .foreach { case (path, fresh) =>
        val served = lsh.serve(spark, tmp, legacy, dead, fresh)
        val plan = served.queryExecution.executedPlan.toString
        val pruned = plan.contains("PartitionFilters") && plan.contains("kb#")
        assert(pruned === (path == "pruned"), s"$path serve took the other path:\n$plan")
        val baseSigs = spark.read.parquet(legacy.resolve("sigs").toString)
          .join(dead, Seq("doc_id"), "left_anti")
        val want = spark.read.parquet(legacy.resolve("pairs").toString)
          .join(dead.select(col("doc_id").as("id_a")), Seq("id_a"), "left_anti")
          .join(dead.select(col("doc_id").as("id_b")), Seq("id_b"), "left_anti")
          .select("id_a", "id_b", "shared_bands")
          .unionByName(Dedup.incrementalCandidatePairs(baseSigs,
            Dedup.minhashSignatures(fresh, "doc_id", "text"), "doc_id"))
          .withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b")
          .orderBy("doc_a", "doc_b").collect().map(_.toSeq).toSeq
        val got = served.collect().map(_.toSeq).toSeq
        assert(got === want, s"$path serve over the 256-way home must equal the re-band")
        assert(got.exists(r => r(1) == 1000L || r(1) == 1050L || r(1) == 1100L),
          s"$path fixture must pair a fresh document")
        assert(lsh.serve(spark, tmp, sized, dead, fresh).collect().map(_.toSeq).toSeq === got,
          s"$path serve must not depend on the home's modulus")
      }
  }
}
