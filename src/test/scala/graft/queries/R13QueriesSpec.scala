package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-13 query specs: kg2's bounded-collect guard and empty-graph
  * handling, kg3's community detection on a crafted clique/bridge graph. */
class R13QueriesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("kg2 guard: an over-contract edge list fails loud, not a silent driver melt") {
    import spark.implicits._
    // 10 synthetic edges against a maxEdges of 5 — the pagerank core must
    // refuse to collect rather than iterate an unbounded graph
    val co = (1 to 10).map(i => (s"e$i", s"f$i", 1L)).toDF("e1", "e2", "w")
    val ex = intercept[IllegalStateException] {
      MatchQueries.pagerankCore(spark, co, maxEdges = 5)
    }
    assert(ex.getMessage.contains("bounded-graph contract"))
  }

  test("kg2 empty graph: no co-occurring pair yields an empty rank table, no division by zero") {
    import spark.implicits._
    val co = Seq.empty[(String, String, Long)].toDF("e1", "e2", "w")
    val out = MatchQueries.pagerankCore(spark, co)
    assert(out.columns.toSeq === Seq("entity", "rank_e6"))
    assert(out.count() === 0L, "empty edges must mean empty ranks (the oracle's empty result)")
  }

  test("kg3 fixture: two cliques joined by a weak bridge split at the threshold") {
    import spark.implicits._
    val nodes = Seq("a1", "a2", "a3", "b1", "b2", "b3").toDF("entity")
    // clique A and clique B are strongly associated internally; the single
    // a3–b1 bridge sits below KgCommunityThrE6 and must be cut
    val scored = Seq(
      ("a1", "a2", 500000L), ("a1", "a3", 450000L), ("a2", "a3", 480000L),
      ("b1", "b2", 400000L), ("b1", "b3", 420000L), ("b2", "b3", 410000L),
      ("a3", "b1", 50000L)).toDF("e1", "e2", "npmi_e6")
    val edges = scored.filter(col("npmi_e6") >= MatchQueries.KgCommunityThrE6)
      .select("e1", "e2")
    val got = MatchQueries.communitiesCore(spark, nodes, edges).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === Seq(
      ("a1", "a1", 3L), ("a2", "a1", 3L), ("a3", "a1", 3L),
      ("b1", "b1", 3L), ("b2", "b1", 3L), ("b3", "b1", 3L)))
    // and WITHOUT the threshold the bridge fuses everything into one
    val fused = MatchQueries.communitiesCore(spark, nodes, scored.select("e1", "e2"))
      .collect().map(_.getString(1)).distinct.toSeq
    assert(fused === Seq("a1"), "unthresholded bridge must fuse both cliques")
  }

  test("kg3 fallback: an over-contract graph routes to distributed label propagation, same answer") {
    import spark.implicits._
    // same clique/bridge shape, but a maxEdges of 3 forces the distributed
    // path (VERDICT r13 #7: this previously THREW); the driver union-find
    // at the default bound supplies the expected answer — both paths use
    // min-label-by-lexicographic, so they must agree row for row
    val nodes = Seq("a1", "a2", "a3", "b1", "b2", "b3", "lone").toDF("entity")
    val edges = Seq(
      ("a1", "a2"), ("a1", "a3"), ("a2", "a3"),
      ("b1", "b2"), ("b1", "b3"), ("b2", "b3")).toDF("e1", "e2")
    val viaDriver = MatchQueries.communitiesCore(spark, nodes, edges).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val viaDistributed = MatchQueries.communitiesCore(spark, nodes, edges, maxEdges = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(viaDistributed === viaDriver)
    assert(viaDistributed.contains(("lone", "lone", 1L)),
      "edge-less nodes must survive as singletons on the distributed path too")
    assert(viaDistributed.count(_._2 == "a1") === 3)
  }

  test("e2e6: no text-bearing documents scan in the composed plan (the e2e3 no-rescan lesson)") {
    val df = MatchQueries.e2e6EntityPipeline(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // tokenization rides the pinned tf_table core and entity presence the
    // pinned match scan (both paid at pin time); the composed plan may touch
    // documents.parquet only for kg1's zero-column count(*) footer read
    val textScans = "FileScan parquet [^\\n]*documents\\.parquet[^\\n]*ReadSchema: [^\\n]*text"
      .r.findAllIn(plan).length
    assert(textScans === 0, s"expected no text-bearing corpus scan, got $textScans:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty)
    // one linked row per (doc, mention)
    val keys = rows.map(r => (r.getLong(0), r.getString(1)))
    assert(keys.distinct.length === keys.length)
    // on the typo-free corpus every exact-match mention links to itself
    rows.filter(_.getInt(3) == 0).foreach(r => assert(r.getString(1) === r.getString(2)))
  }

  test("e2e6 composition: context must override prior where they disagree (fixture via cores)") {
    import spark.implicits._
    // ambiguous mention "dat0" is distance 1 from both "data" (huge prior)
    // and "dato" (small prior); doc 1 also contains "dato"-coherent company
    // so the context signal must beat the prior
    val mentions = Seq((1L, "dat0")).toDF("doc_id", "w")
    val cands = Seq(("dat0", "data", 1, 1000L), ("dat0", "dato", 1, 3L))
      .toDF("w", "entity", "dist", "prior")
    val edges = Seq(("dato", "graph", 900000L), ("data", "graph", -10000L))
      .toDF("e1", "e2", "npmi_e6")
    val context = Seq((1L, "graph")).toDF("doc_id", "entity")
    val got = MatchQueries.contextLinkCore(mentions, cands, edges, context).collect()
    assert(got.length === 1)
    assert(got.head.getString(2) === "dato",
      "coherence with the doc's other entities must override the corpus prior")
  }

  test("mm6: probe rides the persisted IVF index with pruned cells; recall vs brute force holds") {
    val df = MultimodalQueries.mm6CrossmodalLink(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the corpus side must be the persisted, partition-pruned cells artifact
    assert(plan.contains("ivf_index"), s"probe must read the persisted index:\n$plan")
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"expected partition pruning on cell:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty)
    val perAsset = rows.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(perAsset.size === 10, "10 image assets under the id bound")
    assert(perAsset.values.forall(_ <= 5))
    // recall audit vs exact brute force over the same association
    import org.apache.spark.sql.functions._
    val emb = graft.Tables(spark, dir, "embeddings").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray).toMap
    val nEmb = emb.size.toLong
    val assoc = graft.operators.Multimodal.documentsAsAssets(
        graft.Tables(spark, dir, "documents"))
      .filter(col("modality") === "image" && col("asset_id").cast("long") < 30)
      .select(col("asset_id").cast("long"),
        pmod(Q.detHash(col("content").cast("string")), lit(nEmb)))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (d, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val exact = assoc.flatMap { case (aid, vid) =>
      emb.toSeq.filter(_._1 != vid)
        .map { case (id, v) => (id, cos(emb(vid), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(p => (aid, p._1))
    }.toSet
    val approx = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall@5 = $recall")
  }

  test("tok10: decoded paths are valid segmentations and the Viterbi cost matches tok6") {
    import org.apache.spark.sql.functions._
    val words = CorpusQueries.bpeLearned(spark, dir)._2
    val (lp, unk) = CorpusQueries.segLp(words)
    val seg = CorpusQueries.viterbiSegmentWithLp(words, lp, unk).collect()
    assert(seg.nonEmpty)
    seg.foreach { r =>
      val w = r.getAs[String]("word").take(20)
      val pcs = r.getAs[scala.collection.Seq[String]]("pcs")
      assert(pcs.mkString === w, s"pieces must concatenate to the (capped) word: $w vs $pcs")
      assert(pcs.forall(p => p.length >= 1 && p.length <= 4))
    }
    // the path-carrying fold must agree with tok6's cost-only fold
    val tok6 = CorpusQueries.tok6UnigramSeg(spark, dir).collect()
      .map(r => r.getAs[String]("word") -> r.getAs[Long]("unig_nll_e6")).toMap
    val mine = seg.map(r => r.getAs[String]("word") -> r.getAs[Long]("nll_e6")).toMap
    tok6.foreach { case (w, c) => assert(mine(w) === c, s"cost mismatch for $w") }
  }

  test("tok10: M-step optimality holds, and this corpus's BPE state is an EM fixpoint") {
    val out = CorpusQueries.tok10UnigramEm(spark, dir).collect()
      .map(r => (r.getAs[String]("piece"), r.getAs[Long]("cnt"),
        Option(r.get(2)).map(_.asInstanceOf[Long]), r.getAs[Long]("lp_new_e6")))
    assert(out.nonEmpty)
    // M-step optimality: the re-normalized model is the MLE of the decoded
    // piece distribution, so Σ cnt·lp_new ≤ Σ cnt·lp_old over counted pieces
    val withOld = out.filter(_._3.isDefined)
    assert(withOld.nonEmpty)
    val oldNll = withOld.map(t => BigInt(t._2) * BigInt(t._3.get)).sum
    val newNll = withOld.map(t => BigInt(t._2) * BigInt(t._4)).sum
    assert(newNll <= oldNll, s"M-step must not worsen the decoded NLL: $newNll > $oldNll")
    // the greedy BPE state on this corpus already IS the Viterbi optimum
    // (probed r13), so one EM round must reproduce the model exactly —
    // every piece keeps its cost and none falls out of the inventory
    assert(out.forall(_._3.isDefined), "fixpoint: no new piece may appear")
    out.foreach { t => assert(t._4 === t._3.get, s"fixpoint: ${t._1} must keep its cost") }
  }

  test("tok10 fixture: EM shifts probability toward decode-used pieces and re-segments a word") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a state where greedy BPE segmentation and global likelihood DISAGREE:
    // "zab"'s syms miss the cheap z+ab split, so round-1 decode reassigns
    // 50 units of a/b mass into ab; the re-estimated model then flips
    // "abc" from a+bc to ab+c — the EM payoff the converged corpus can't show
    val words = Seq(
      ("abc", 1L, Seq("a", "bc")),
      ("zab", 50L, Seq("z", "a", "b")),
      ("dab", 30L, Seq("d", "ab")),
      ("bc", 20L, Seq("bc")),
      ("c", 10L, Seq("c"))).toDF("word", "freq", "syms")
    val (lp0, unk0) = CorpusQueries.segLp(words)
    val seg0 = CorpusQueries.viterbiSegmentWithLp(words, lp0, unk0).collect()
      .map(r => r.getAs[String]("word") -> r.getAs[scala.collection.Seq[String]]("pcs").toSeq).toMap
    assert(seg0("zab") === Seq("z", "ab"), "round-1 decode must diverge from the greedy syms")
    assert(seg0("abc") === Seq("a", "bc"))
    val out = CorpusQueries.unigramEmRound(words).collect()
      .map(r => (r.getAs[String]("piece"), r.getAs[Long]("cnt"),
        Option(r.get(2)).map(_.asInstanceOf[Long]), r.getAs[Long]("lp_new_e6"))).toSeq
    // probability shifts toward the pieces the decode actually uses
    val ab = out.find(_._1 == "ab").get
    assert(ab._4 < ab._3.get, "ab's decoded share rose, so its cost must drop")
    // ... and away from the ones it abandons ('b' vanishes from the counts)
    assert(!out.exists(_._1 == "b"), "b is never decoded, so it leaves the model")
    // re-decode under the re-estimated model: "abc" flips to ab+c
    val lp1 = CorpusQueries.unigramEmRound(words)
      .select(col("piece"), col("lp_new_e6").as("lp_e6"))
    val seg1 = CorpusQueries.viterbiSegmentWithLp(words, lp1, unk0).collect()
      .map(r => r.getAs[String]("word") -> r.getAs[scala.collection.Seq[String]]("pcs").toSeq).toMap
    assert(seg1("abc") === Seq("ab", "c"),
      "one EM round must re-segment the ambiguous word toward the shifted model")
    assert(seg1("zab") === Seq("z", "ab"))
  }

  test("el3 fixture: every NIL-gate arm fires on a crafted KB — ambiguous, weak, fuzzy, exact") {
    import spark.implicits._
    val words = Seq(
      ("data", 100L),   // exact match
      ("dat0", 10L),    // dist 1 of BOTH data (100) and dat1 (60): 2*60 >= 100 -> ambiguous
      ("strea", 8L),    // dist 1 of stream (prior 50), sole candidate -> fuzzy link
      ("xyzq", 3L),     // dist 1 of xyzw (prior 2 < NilMinPrior) -> weak_prior
      ("unrelated", 9L) // no candidate at all
    ).toDF("w", "n_occ")
    val ents = Seq(("data", 100L), ("dat1", 60L), ("stream", 50L), ("xyzw", 2L))
      .toDF("entity", "prior")
    val got = MatchQueries.nilGateCore(words, ents).collect()
      .map(r => r.getString(0) -> (r.getString(5), r.getString(6))).toMap
    assert(got("data") === (("link", "exact")))
    assert(got("dat0") === (("nil", "ambiguous")))
    assert(got("strea") === (("link", "fuzzy")))
    assert(got("xyzq") === (("nil", "weak_prior")))
    assert(got("unrelated") === (("nil", "no_candidate")))
  }

  test("el3 corpus face: gate covers every surface form; links agree with el1") {
    val rows = MatchQueries.el3NilGate(spark, dir).collect()
    assert(rows.nonEmpty)
    val byDecision = rows.groupBy(_.getString(5)).view.mapValues(_.length).toMap
    assert(byDecision.contains("link") && byDecision.contains("nil"),
      s"both verdicts must occur on the corpus: $byDecision")
    // the linked forms are exactly el1's link table on the typo-free corpus
    val linked = rows.filter(_.getString(5) == "link")
      .map(r => (r.getString(0), r.getString(2))).toSet
    val el1 = MatchQueries.el1MentionLink(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(linked === el1)
  }

  test("kg4: per-entity neighbor lists are dense ranks over real kg1 edges, npmi non-increasing") {
    val rows = MatchQueries.kg4EntityNeighbors(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val edges = MatchQueries.kg1EntityGraph(spark, dir).collect()
      .flatMap(r => Seq((r.getString(0), r.getString(1)), (r.getString(1), r.getString(0)))).toSet
    rows.groupBy(_._1).foreach { case (e, ns) =>
      val sorted = ns.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1 to ns.length).toSeq, s"dense ranks for $e")
      assert(sorted.map(_._4).toSeq === sorted.map(_._4).sortBy(-_).toSeq,
        s"npmi must be non-increasing for $e")
      assert(ns.length <= 3)
    }
    rows.foreach { case (e, _, n, _) =>
      assert(edges.contains((e, n)), s"($e, $n) must be a kg1 edge")
    }
  }

  test("kg4b: persisted-graph probe scans no corpus file and equals kg4") {
    val df = MatchQueries.kg4bPersistedNeighbors(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      s"persisted-graph probe must not scan the corpus:\n$plan")
    assert(plan.contains("kg_index"), s"probe must read the persisted graph:\n$plan")
    val got = df.collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3))).toSeq
    val want = MatchQueries.kg4EntityNeighbors(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3))).toSeq
    assert(got === want)
  }

  test("kg5: persisted probe scans no corpus file; discoveries are symmetric, never direct edges") {
    val df = MatchQueries.kg5TwohopDiscovery(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      s"persisted-graph probe must not scan the corpus:\n$plan")
    assert(plan.contains("kg_index"), s"probe must read the persisted graph:\n$plan")
    val rows = df.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty, "this SF's graph has missing positive pairs — discovery must find them")
    val pos = MatchQueries.kg1EntityGraph(spark, dir).collect()
      .filter(_.getLong(5) > 0)
      .flatMap(r => Seq((r.getString(0), r.getString(1)), (r.getString(1), r.getString(0)))).toSet
    rows.foreach { case (e, _, t, _, _) =>
      assert(!pos.contains((e, t)), s"($e, $t) is a positive direct edge — not a discovery")
    }
    // the bottleneck relation is symmetric: (a,b) discovered ⇒ (b,a) too,
    // with identical best-path score and path count (und is symmetric) —
    // unless one side's row fell off its entity's top-3
    val byPair = rows.map { case (e, _, t, np, sc) => ((e, t), (np, sc)) }.toMap
    rows.foreach { case (e, _, t, np, sc) =>
      byPair.get((t, e)).foreach { case (np2, sc2) =>
        assert((np2, sc2) === ((np, sc)), s"asymmetric discovery ($e, $t)")
      }
    }
    rows.groupBy(_._1).foreach { case (e, ns) =>
      assert(ns.map(_._2).sorted.toSeq === (1 to ns.length).toSeq, s"dense ranks for $e")
      assert(ns.length <= 3)
    }
  }

  test("kg5 fixture: the Swanson ABC shape — a missing link surfaces, a direct edge never does") {
    import spark.implicits._
    // 4 entities on a path-plus-chord: data—stream, stream—window,
    // window—'hash join', data—window (the chord). 2-hop discoveries must
    // be exactly {data,'hash join'} (via window) and {stream,'hash join'}
    // (via window); data—window is 2-hop reachable via stream but DIRECT,
    // so it must be excluded.
    val tmp = java.nio.file.Files.createTempDirectory("kg5fix").toString
    val docs = Seq(
      (0L, "data stream"), (1L, "stream window"), (2L, "window hash join"),
      (3L, "data window")) ++ (4L until 12L).map(i => (i, "pad pad pad"))
    docs.map { case (i, t) => (i, t, t.length.toLong) }
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val npmi = MatchQueries.kg1EntityGraph(spark, tmp).collect()
      .map(r => (Set(r.getString(0), r.getString(1)), r.getLong(5))).toMap
    val rows = MatchQueries.kg5TwohopDiscovery(spark, tmp).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4)))
    val ac = npmi(Set("data", "window"))
    val bc = npmi(Set("stream", "window"))
    val cd = npmi(Set("window", "hash join"))
    assert(Seq(ac, bc, cd).forall(_ > 0))
    val expect = Set(
      ("data", 1, "hash join", 1L, math.min(ac, cd)),
      ("stream", 1, "hash join", 1L, math.min(bc, cd)),
      // ac and bc tie exactly (both ratio-2 ⇒ ln2/ln12), so the target-name
      // tiebreak orders hash join's list alphabetically
      ("hash join", 1, "data", 1L, math.min(ac, cd)),
      ("hash join", 2, "stream", 1L, math.min(bc, cd)))
    assert(rows.toSet === expect)
    assert(!rows.exists(r => Set(r._1, r._3) === Set("data", "window")),
      "the direct data—window chord must be excluded despite its 2-hop path")
  }

  test("dd18: base pairs come from the artifact, only the delta is shingled, equals dd3") {
    val df = DedupQueries.dd18DeltaNeardup(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("lsh_index"), s"probe must read the persisted LSH index:\n$plan")
    // r16: the delta shingle/minhash is materialized ONCE (localCheckpoint)
    // so the serve plan may show zero corpus scans; any remaining scan
    // must carry the pushed delta range
    val corpusScans = plan.sliding("documents.parquet".length).count(_ == "documents.parquet")
    val pushedRange = plan.sliding("GreaterThan(doc_id".length).count(_ == "GreaterThan(doc_id")
    assert(pushedRange >= corpusScans,
      s"every corpus scan needs the pushed delta range filter:\n$plan")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = DedupQueries.dd3LshPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === want)
  }

  test("dd18 fixture: a near-dup straddling the watermark is caught without re-pairing the base") {
    import spark.implicits._
    // ids 0..99 → watermark 90. One dup pair inside the base (10,20), one
    // straddling it (40,95), one inside the delta (96,97); everything else
    // shares no shingle. The straddler is the case the gate exists for.
    val tmp = java.nio.file.Files.createTempDirectory("dd18fix").toString
    val dup = "the quick brown fox jumps over the lazy dog"
    val docs = (0L until 100L).map { i =>
      val text =
        if (Set(10L, 20L, 40L, 95L).contains(i)) dup
        else if (Set(96L, 97L).contains(i)) "entirely different delta text here"
        else s"u${i}a u${i}b u${i}c u${i}d"
      (i, text, text.length.toLong)
    }.toDF("doc_id", "text", "n_chars")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val home = DedupQueries.ensureLshIndex(spark, tmp)
    val maxIndexed = spark.read.parquet(home.resolve("sigs").toString)
      .agg(max("doc_id")).collect()(0).getLong(0)
    assert(maxIndexed <= 90L, "the persisted snapshot must not contain delta docs")
    val persisted = spark.read.parquet(home.resolve("pairs").toString)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(persisted === Set((10L, 20L), (20L, 40L), (10L, 40L)),
      "base-base pairs (incl. the straddler's base twins) live in the artifact")
    val got = DedupQueries.dd18DeltaNeardup(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // identical texts share all 4 bands; the probe adds the three pairs
    // touching delta doc 95 plus the delta-internal (96,97)
    val expect = Set((10L, 20L), (10L, 40L), (20L, 40L), (10L, 95L),
      (20L, 95L), (40L, 95L), (96L, 97L)).map { case (a, b) => (a, b, 4L) }
    assert(got === expect)
  }

  test("dd20 fixture: deleted doc's pairs vanish, updated doc's old shingles stop matching") {
    import spark.implicits._
    // ids 0..129 → watermark 117. dup-cluster {10, 33, 28, 50}: 33 is
    // DELETED (33%13==7) — its pairs must vanish; 28 is UPDATED
    // (28%13==2, token order reversed) — its old shingles stop matching
    // 10/50 but it keeps its signature universe membership; 120 arrives
    // in the delta as a copy of the surviving text.
    val tmp = java.nio.file.Files.createTempDirectory("dd20fix").toString
    val dup = "the quick brown fox jumps over the lazy dog"
    val docs = (0L until 130L).map { i =>
      val text =
        if (Set(10L, 33L, 28L, 50L, 120L).contains(i)) dup
        else s"u${i}a u${i}b u${i}c u${i}d"
      (i, text, text.length.toLong)
    }.toDF("doc_id", "text", "n_chars")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = DedupQueries.dd20TombstoneNeardup(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // survivors of the dup text: 10, 50 (base), 120 (delta) — all pairs;
    // 33's pairs are gone; 28's reversed text shares no 3-shingle with
    // the original so it pairs with nothing
    assert(got === Set((10L, 50L), (10L, 120L), (50L, 120L)))
    // the persisted artifact genuinely held the now-dead pairs (the
    // subtraction did real work — guards against a vacuous fixture)
    val home = DedupQueries.ensureLshIndex(spark, tmp)
    val persisted = spark.read.parquet(home.resolve("pairs").toString)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(persisted.contains((10L, 33L)) && persisted.contains((10L, 28L)),
      "the base artifact must contain the deleted and updated docs' pairs")
  }

  test("ss10 fixture: deleted vector leaves the cells, updated query probes with its new vector") {
    import spark.implicits._
    // ids 0..99 → watermark 90. Vec 33 (33%13==7, deleted) and vec 28
    // (28%13==2, updated → negated) are exact copies of query 0's vector;
    // vec 95 arrives in the delta as another copy. Vec 15 (15%13==2)
    // copies query 2's vector — BOTH get negated, so they stay identical.
    // Query 7 (7%13==7) is deleted and must stop querying.
    val tmp = java.nio.file.Files.createTempDirectory("ss10fix").toString
    def v(i: Long): Seq[Float] = Seq(1f, (i % 7).toFloat, (i * 3 % 11).toFloat, (i * 5 % 13).toFloat)
    val vecs = (0L until 100L).map { i =>
      val vec = if (i == 33L || i == 28L || i == 95L) v(0L)
        else if (i == 15L) v(2L)
        else v(i)
      (i, vec, (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    vecs.coalesce(1).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val rows = SimilarityQueries.ss10TombstoneProbe(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val queryIds = rows.map(_._1).distinct.sorted.toSeq
    assert(!queryIds.contains(7L), "a deleted query must stop querying")
    assert(queryIds.contains(2L), "an updated query keeps querying with its new vector")
    val all = rows.map(_._3).toSet
    assert(!all.contains(33L), "a deleted vector must never be served")
    val q0 = rows.filter(_._1 == 0L).sortBy(_._2)
    assert(q0.head._3 === 95L && q0.head._4 === 1000000L,
      "the delta copy wins query 0 at cos 1e6")
    assert(!q0.map(_._3).contains(28L),
      "the updated copy's NEGATED vector must leave query 0's top-k")
    val q2 = rows.filter(_._1 == 2L).sortBy(_._2)
    assert(q2.head._3 === 15L && q2.head._4 === 1000000L,
      "two identically-updated vectors stay mutual neighbors (both negated)")
  }

  test("kg7 fixture: deleted doc's pair vanishes, updated doc's phrase entity breaks") {
    import spark.implicits._
    // ids 0..129 → watermark 117. Doc 7 (7%13==7, deleted) holds the ONLY
    // data+stream co-occurrence; doc 28 (28%13==2, updated) holds "table
    // scan" — reversal breaks the phrase but keeps "data"; docs 1..5 pair
    // data+window (survivors); delta doc 120 adds data+hash join.
    def text(i: Long): String =
      if (i == 7L) "data stream together"
      else if (i == 28L) "data table scan"
      else if (i >= 1L && i <= 5L) "data window mix"
      else if (i == 120L) "hash join data"
      else s"plain u${i} filler"
    val tmpA = java.nio.file.Files.createTempDirectory("kg7fix").toString
    (0L until 130L).map(i => (i, text(i), text(i).length.toLong))
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmpA/documents.parquet")
    val got = MatchQueries.kg7TombstoneGraph(spark, tmpA).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    // oracle: kg1 over the materialized post-change corpus
    val tmpB = java.nio.file.Files.createTempDirectory("kg7post").toString
    (0L until 130L)
      .filterNot(i => i <= 117L && i % 13L == 7L)
      .map { i =>
        val t0 = if (i <= 117L && i % 13L == 2L) text(i).split(" ").reverse.mkString(" ") else text(i)
        (i, t0, t0.length.toLong)
      }
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmpB/documents.parquet")
    val want = MatchQueries.kg1EntityGraph(spark, tmpB).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got === want)
    val pairs = got.map(r => (r._1, r._2)).toSet
    assert(!pairs.contains(("data", "stream")), "the deleted doc's only pair must vanish")
    assert(!pairs.contains(("data", "table scan")),
      "reversal breaks the updated doc's phrase entity")
    assert(pairs.contains(("data", "window")), "surviving base pairs still served")
    assert(pairs.contains(("data", "hash join")), "the delta doc's pair must appear")
  }

  test("mm8 fixture: tombstone-served counts equal mm4 over the post-change corpus") {
    import spark.implicits._
    // ids 0..129 → watermark 117. The dup payload lives at 10, 33
    // (deleted), 28 (updated → reversed payload), 50 and 120 (delta):
    // after the change 10/50/120 stay mutual near-dups, 33 vanishes,
    // 28 re-hashes under its re-crawled payload.
    val payload = ("the quick brown fox jumps over the lazy dog " * 3).trim
    def text(i: Long): String =
      if (Set(10L, 33L, 28L, 50L, 120L).contains(i)) payload
      else s"asset $i " + (s"u${i}x" * 20) + " trailing content to clear the 64-char floor"
    val tmpA = java.nio.file.Files.createTempDirectory("mm8fix").toString
    (0L until 130L).map(i => (i, text(i), text(i).length.toLong))
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmpA/documents.parquet")
    val got = MultimodalQueries.mm8TombstonePhash(spark, tmpA).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // oracle: mm4's full re-pair over the materialized post-change corpus
    val tmpB = java.nio.file.Files.createTempDirectory("mm8post").toString
    (0L until 130L)
      .filterNot(i => i <= 117L && i % 13L == 7L)
      .map { i =>
        val t0 = if (i <= 117L && i % 13L == 2L) text(i).split(" ").reverse.mkString(" ") else text(i)
        (i, t0, t0.length.toLong)
      }
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmpB/documents.parquet")
    val want = MultimodalQueries.mm4PhashNeardup(spark, tmpB).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === want)
    val byId = got.map(r => r._1 -> r._4).toMap
    assert(!byId.contains(33L), "the deleted asset must leave the store")
    assert(byId(10L) >= 2L && byId(50L) >= 2L && byId(120L) >= 2L,
      "the surviving copies (base, base, delta) must stay mutual near-dups")
  }

  test("kg6: merged counts equal a full rebuild; base is never re-matched") {
    val df = MatchQueries.kg6DeltaGraph(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("kg_delta_index"),
      s"probe must read the persisted base statistics:\n$plan")
    // the delta match scan is localCheckpointed (shared by the co/ent
    // consumers); the remaining documents access (the delta census) must
    // carry the pushed range predicate
    val corpusScans = plan.sliding("documents.parquet".length).count(_ == "documents.parquet")
    val pushedRange = plan.sliding("GreaterThan(doc_id".length).count(_ == "GreaterThan(doc_id")
    assert(pushedRange >= corpusScans,
      s"every corpus scan needs the pushed delta range filter:\n$plan")
    val got = df.collect().map(_.toSeq).toSeq
    val want = MatchQueries.kg1EntityGraph(spark, dir).collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    assert(got === want)
    // the merge must actually be exercised at this SF: both segments
    // contribute entity documents
    val home = MatchQueries.ensureKgDeltaIndex(spark, dir)
    val baseEnts = spark.read.parquet(home.resolve("ent").toString).count()
    assert(baseEnts > 0, "base segment must hold entity statistics")
    val split = spark.read.parquet(home.resolve("stats").toString)
      .collect()(0).getAs[Long]("split_id")
    val fm = graft.operators.FastMatch.matcher(MatchQueries.gazetteer)
    val deltaEnts = graft.Tables(spark, dir, "documents")
      .filter(col("doc_id") > split)
      .select(explode(fm(col("text")))).count()
    assert(deltaEnts > 0, "delta segment must contribute matches")
  }

  test("e2e7: audit rows reconcile with each family's own full-corpus census") {
    val rows = CurationQueries.e2e7RefreshAudit(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows.keySet === Set("ivf", "kg", "lsh", "postings"))
    rows.values.foreach { case (_, b, d, m) => assert(m === b + d); assert(d > 0) }
    val nDocs = graft.Tables(spark, dir, "documents").count()
    val nVecs = graft.Tables(spark, dir, "embeddings").count()
    assert(rows("postings")._4 === nDocs)
    assert(rows("ivf")._4 === nVecs)
    val nSigs = DedupQueries.dd2MinhashSigs(spark, dir).count()
    assert(rows("lsh")._4 === nSigs, "lsh merged census must equal the dd2 signature count")
    val fm = graft.operators.FastMatch.matcher(MatchQueries.gazetteer)
    val nEd = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(fm(col("text"))).as("m"))
      .select(col("doc_id"), col("m.matched")).distinct().count()
    assert(rows("kg")._4 === nEd, "kg merged census must equal the entity-doc relation size")
  }

  test("e2e8: per-family CDC serving census reconciles with the corpus-side identity") {
    val rows = CurationQueries.e2e8CdcAudit(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(rows.keySet === Set("ivf", "kg", "lsh", "phash", "positions", "postings"))
    // the serving identity: n_serving = n_base − n_tombstoned + n_fresh,
    // and because updates re-enter 1:1, it also equals eligible − deleted
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("tk"), length(col("text")).as("nc"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val vecs = graft.Tables(spark, dir, "embeddings")
      .select("vec_id").collect().map(_.getLong(0))
    def servingDocs(split: Long, elig: ((Long, Int, Int)) => Boolean): Long =
      docs.count(d => elig(d) && !(d._1 <= split && d._1 % 13 == 7)).toLong
    rows.foreach { case (fam, (_, b, t0, f, sv)) =>
      assert(sv === b - t0 + f, s"$fam: the audit row must satisfy its own identity")
      assert(t0 > 0L && f > 0L, s"$fam: the CDC rules must bite at this SF")
    }
    assert(rows("postings")._5 === servingDocs(rows("postings")._1, _ => true))
    assert(rows("positions")._5 === servingDocs(rows("positions")._1, _ => true))
    assert(rows("kg")._5 === servingDocs(rows("kg")._1, _ => true))
    assert(rows("lsh")._5 === servingDocs(rows("lsh")._1, _._2 >= 3))
    assert(rows("phash")._5 === servingDocs(rows("phash")._1, _._3 >= 64))
    val vSp = rows("ivf")._1
    assert(rows("ivf")._5 ===
      vecs.count(v => !(v <= vSp && v % 13 == 7)).toLong)
  }

  test("mm7: base hashes come from the artifact, only the delta is hashed, equals mm4") {
    val df = MultimodalQueries.mm7PhashDelta(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("phash_index"), s"probe must read the persisted pHash index:\n$plan")
    val corpusScans = plan.sliding("documents.parquet".length).count(_ == "documents.parquet")
    val pushedRange = plan.sliding("GreaterThan(doc_id".length).count(_ == "GreaterThan(doc_id")
    assert(pushedRange >= corpusScans,
      s"every corpus scan needs the pushed delta range filter:\n$plan")
    val got = df.collect().map(_.toSeq).toSeq
    val want = MultimodalQueries.mm4PhashNeardup(spark, dir).collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    assert(got === want)
  }

  test("mm7 fixture: an asset copied after the snapshot is flagged near its base twin") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("mm7fix").toString
    val payload = ("the quick brown fox jumps over the lazy dog " * 3).trim // ≥ 64 chars
    val docs = (0L until 100L).map { i =>
      val text =
        if (i == 40L || i == 95L) payload
        else s"asset $i " + (s"u${i}x" * 20) + " trailing content to clear the 64-char floor"
      (i, text, text.length.toLong)
    }.toDF("doc_id", "text", "n_chars")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val home = MultimodalQueries.ensurePhashIndex(spark, tmp)
    val maxIndexed = spark.read.parquet(home.resolve("rows").toString)
      .agg(max("asset_id")).collect()(0).getLong(0)
    assert(maxIndexed <= 90L, "the persisted snapshot must not contain delta assets")
    val rows = MultimodalQueries.mm7PhashDelta(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(rows(95L)._2 >= 1L, "the post-snapshot copy must be flagged near its base twin")
    assert(rows(40L)._2 >= 1L, "the base twin's count must gain the delta partner")
  }

  test("dd19: probe reads the persisted filter, scans only the test side, equals dd10") {
    val df = DedupQueries.dd19PersistedBloom(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the persisted blocks ride the plan as the zero-shuffle literal probe
    // (collected once at construction), so the artifact appears as no scan
    // node at all — assert it exists and is non-trivial instead
    val home = DedupQueries.ensureBloomIndex(spark, dir)
    assert(spark.read.parquet(home.resolve("blocks").toString).count() > 0)
    val corpusScans = plan.sliding("documents.parquet".length).count(_ == "documents.parquet")
    assert(corpusScans === 1,
      s"only the test side may touch the corpus (train is the artifact):\n$plan")
    val got = df.collect().map(_.toSeq).toSeq
    val want = DedupQueries.dd10BloomContamination(spark, dir).collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    assert(got === want)
    // geometry mismatch must fail loudly, not yield silent false negatives
    val meta = spark.read.parquet(home.resolve("meta").toString)
    val e = intercept[IllegalArgumentException] {
      graft.operators.Bloom.requireMeta(meta, 12345L, 2)
    }
    assert(e.getMessage.contains("geometry mismatch"))
  }

  test("kg3 singletons: an entity with no strong edge is its own community") {
    val rows = MatchQueries.kg3EntityCommunities(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // every matched entity appears exactly once
    assert(rows.map(_._1).distinct.length === rows.length)
    // community ids are members of their own community
    val byComm = rows.groupBy(_._2)
    byComm.foreach { case (c, ms) =>
      assert(ms.map(_._1).contains(c), s"community id $c must be a member")
      assert(ms.forall(_._3 === ms.length.toLong), "n_members must equal the census")
    }
    // the threshold must actually split the graph at this SF (non-trivial:
    // more than one community, at least one of size >= 2)
    assert(byComm.size > 1, "expected more than one community")
    assert(byComm.values.exists(_.length >= 2), "expected at least one non-singleton")
  }
}
