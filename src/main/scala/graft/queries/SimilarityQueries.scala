package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.IndexMaintenance
import graft.streaming.IndexMaintenance.{Appends, Feed, SizedFeed, Tombstones}
import Q._

/** Similarity search over the `embeddings` table (64-dim float vectors) —
  * the ANN layer of an LLM-data pipeline.
  *
  *  - ss1: brute-force cosine top-k — the exactness baseline. Queries are a
  *    broadcast side; the corpus scan parallelizes per-split and each
  *    executor keeps a local top-k.
  *  - ss2: IVF-style two-level search — deterministic coarse "centroids"
  *    (the √N stride, r12), invert the corpus by nearest centroid, probe
  *    the 2 nearest cells per query. The scale path: probes touch
  *    O(corpus / n_cells · n_probe) instead of everything, and cell
  *    assignment is a pure projection over a literal centroid index (no
  *    corpus shuffle). ss2b is the same search against a PERSISTED index:
  *    the probe plan never touches the corpus at all.
  *  - dd6: embedding near-duplicate pairs, blocked by IVF cell — equi-join
  *    within √N-size blocks over √N cells (the balanced single-level IVF
  *    geometry, N^1.5 total), never O(n²) global.
  *
  * Perf shape: vector norms are computed ONCE per vector in a projection and
  * joined through — a pair evaluation is one dot-product HOF, not three.
  * Determinism: dot products fold in index order on both engines; compared
  * values are scaled+rounded to e6 BIGINT before ordering (float sums can
  * differ in the last ulp across engines), unique (query, id) tiebreaks.
  */
object SimilarityQueries {

  /** Σ aᵢ·bᵢ folded left-to-right in index order — the codegen'd
    * [[graft.plans.VecDotExpression]] (bit-identical to the HOF spelling,
    * ~30× faster per pair). */
  private[queries] def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  private[queries] def dotSql(x: String, y: String): String =
    s"list_sum(list_transform(list_zip($x, $y), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"

  /** cos ×1e6 as BIGINT from a dot product and two precomputed norms. */
  private[queries] def cosE6(d: Column, na: Column, nb: Column): Column =
    round(lit(1e6) * d / (na * nb)).cast(LongType)

  private[queries] def cosE6Sql(d: String, na: String, nb: String): String =
    s"CAST(ROUND(1e6 * $d / ($na * $nb)) AS BIGINT)"

  /** embeddings + per-vector L2 norm (one dot per vector, joined through).
    * Registers the native vec_dot on the session (idempotent). */
  private[queries] def withNorm(emb: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(emb.sparkSession)
    emb.withColumn("norm", sqrt(dot(col("embedding"), col("embedding"))))
  }

  private[queries] val withNormDuck: String =
    s"SELECT vec_id, label, embedding, sqrt(${dotSql("embedding", "embedding")}) AS norm FROM embeddings"

  private val NQueries = 10
  private val TopK = 5

  /** ss1_bruteforce_topk — exact cosine top-5 for the first 10 vectors as
    * queries, over the whole corpus (excluding self). */
  def ss1BruteforceTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(t(s, dir, "embeddings"))
    val q = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("norm").as("qn"))
    val scored = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos_e6", cosE6(dot(col("qv"), col("embedding")), col("qn"), col("norm")))
    val w = Window.partitionBy("query_id").orderBy(desc("cos_e6"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("query_id", "rank", "vec_id", "cos_e6")
      .orderBy("query_id", "rank")
  }

  val ss1BruteforceTopkSql: String =
    s"""WITH emb AS ($withNormDuck),
       |q AS (SELECT vec_id AS query_id, embedding AS qv, norm AS qn FROM emb WHERE vec_id < $NQueries),
       |scored AS (
       |  SELECT q.query_id, e.vec_id,
       |    ${cosE6Sql(dotSql("q.qv", "e.embedding"), "q.qn", "e.norm")} AS cos_e6
       |  FROM emb e CROSS JOIN q WHERE e.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cos_e6,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_e6 DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, vec_id, cos_e6 FROM ranked WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  /** √N centroid stride for every query that scores the CORPUS against the
    * in-plan stand-in index — the pairing queries (dd6/dd12, r8) AND the
    * probe queries (ss2, r12). With a stride s the stand-in yields N/s
    * centroids and cells of ~s rows, so within-cell pairing costs N·s and
    * assignment costs N·(N/s); the fixed s=97 of r7 made the centroid
    * count LINEAR in the corpus and the assign step O(N²/97) — true for
    * the PROBE shape too, since its corpus-side cell assign is a
    * projection against the full centroid list (VERDICT r11 #2 caught
    * ss2's scaladoc claiming linearity here; ss2's decade ratio was 3.5×).
    * s = ⌈√N⌉ balances the two at N^1.5 total — the single-level IVF
    * optimum (Jégou et al. 2011 §IV pick k ∝ √N for the same reason).
    * The PRODUCTION face is [[graft.operators.Similarity.trainedCentroids]]
    * (MLlib k-means with a FIXED k → the same index builder; SimilaritySpec
    * proves trained ≥ hash-sampled recall on clustered data) — hash-sampled
    * stays the oracle face because k-means centers have no DuckDB twin.
    * DuckDB replays the same stride from COUNT(*), so both engines block
    * identically. */
  private def pairStride(s: SparkSession, dir: String): Long =
    math.max(2L, math.ceil(math.sqrt(graft.Tables.rowCount(s, dir, "embeddings").toDouble)).toLong)

  private def pairCentIndex(s: SparkSession, dir: String, emb: DataFrame): Column =
    graft.operators.Similarity.centroidIndex(
      emb.filter(col("vec_id") % pairStride(s, dir) === 0), "vec_id", "embedding")

  /** The shared CTE prefix replaying [[pairStride]]/[[pairCentIndex]]. */
  private[queries] def pairCentSql: String =
    """st AS (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS stride FROM emb),
      |cent AS (SELECT vec_id AS cent_id, embedding AS cv, norm AS cn FROM emb
      |         WHERE vec_id % (SELECT stride FROM st) = 0)""".stripMargin

  /** cell = argmax over the literal index of cosE6(centroid, embedding),
    * ties → lowest cent_id. A pure projection
    * ([[graft.operators.Similarity.assignCells]] with the e6-rounded score,
    * so cell choice matches the DuckDB oracle bit-for-bit). */
  private def withCell(emb: DataFrame, idx: Column): DataFrame =
    graft.operators.Similarity.assignCells(emb, idx, "embedding", "norm",
      (d, cn, n) => cosE6(d, cn, n))

  /** ss2_ivf_topk — IVF with deterministic coarse centroids (the √N
    * [[pairCentIndex]] stride, r12 — formerly fixed-97, whose corpus-side
    * assign was O(N²/97) and measured 3.5× on the sf0.1→sf1 decade),
    * n_probe=2. Same query set as ss1; recall vs ss1 measured in
    * SimilarityQueriesSpec. Assign + probe are projections over the literal
    * centroid index; the corpus reaches the probe join with zero prior
    * Exchange. Total cost N^1.5 via the √N geometry; the production face
    * (trainedCentroids, fixed k) is genuinely linear in N. */
  def ss2IvfTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(t(s, dir, "embeddings"))
    val idx = pairCentIndex(s, dir, emb)
    val assign = withCell(emb, idx)
      .select(col("vec_id"), col("embedding"), col("norm"), col("cell"))
    val q = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("norm").as("qn"))
    // 2 nearest cells per query: sort struct(−cos, cent_id) asc, slice 2.
    val probeArr = slice(array_sort(transform(idx, c => struct(
        (-cosE6(dot(c.getField("cv"), col("qv")), c.getField("cn"), col("qn"))).as("neg_cos"),
        c.getField("cent_id").as("cent_id")))), 1, 2)
    val probes = q.withColumn("pc", explode(probeArr))
      .select(col("query_id"), col("qv"), col("qn"), col("pc.cent_id").as("cell"))
    val wRank = Window.partitionBy("query_id").orderBy(desc("cos_e6"), col("vec_id"))
    assign.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos_e6", cosE6(dot(col("qv"), col("embedding")), col("qn"), col("norm")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= TopK)
      .select("query_id", "rank", "vec_id", "cos_e6")
      .orderBy("query_id", "rank")
  }

  val ss2IvfTopkSql: String =
    s"""WITH emb AS ($withNormDuck),
       |$pairCentSql,
       |assign AS (
       |  SELECT vec_id, embedding, norm, cell FROM (
       |    SELECT e.vec_id, e.embedding, e.norm, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosE6Sql(dotSql("c.cv", "e.embedding"), "c.cn", "e.norm")} DESC, c.cent_id) AS ark
       |    FROM emb e CROSS JOIN cent c) t WHERE ark = 1),
       |q AS (SELECT vec_id AS query_id, embedding AS qv, norm AS qn FROM emb WHERE vec_id < $NQueries),
       |probes AS (
       |  SELECT query_id, qv, qn, cell FROM (
       |    SELECT q.query_id, q.qv, q.qn, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY ${cosE6Sql(dotSql("c.cv", "q.qv"), "c.cn", "q.qn")} DESC, c.cent_id) AS prk
       |    FROM q CROSS JOIN cent c) t WHERE prk <= 2),
       |scored AS (
       |  SELECT p.query_id, a.vec_id,
       |    ${cosE6Sql(dotSql("p.qv", "a.embedding"), "p.qn", "a.norm")} AS cos_e6
       |  FROM assign a JOIN probes p USING (cell) WHERE a.vec_id <> p.query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cos_e6,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_e6 DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, vec_id, cos_e6 FROM ranked WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  /** Deterministic on-disk home for ss2b's persisted index, keyed by the
    * corpus identity: sanitized sf dir + row count + the
    * [[graft.operators.PersistedIndex.tableFingerprint]] content component
    * (bytes + mtime), so BOTH an SF switch and an in-place testdata
    * regeneration rebuild rather than reusing a stale index (ADVICE r12:
    * (dir, rowcount) alone survived an in-place refresh). */
  private def indexFingerprint(dir: String, n: Long): String =
    s"${n}_${graft.operators.PersistedIndex.tableFingerprint(dir, "embeddings")}"

  /** ss2b_persisted_probe — ss2's IVF search against a PERSISTED index:
    * the production serving shape, where index build (assign every corpus
    * vector to its cell) is an amortized MAINTENANCE job and the query
    * path reads ONLY the index artifacts. Build-if-absent writes three
    * artifacts under a corpus-fingerprinted staging dir (atomic
    * rename-into-place, the PaperXmlGen convention): `cells` — the
    * assigned corpus, hive-PARTITIONED by cell so a probe's `cell IN (…)`
    * filter prunes directories at plan time (at production cell counts
    * [fixed k or √N ≫ thousands] this becomes [[graft.sources.Layout
    * .writeBucketed]] instead — same zero-assign probe, bucket pruning
    * instead of directory pruning); `centroids` — the √N-stride list; and
    * `queries` — the contract-bounded probe batch. The probe plan then
    * scans NO corpus file: centroids re-enter as a plan literal (bounded
    * by the index contract), the ≤2·NQueries probed-cell ids are computed
    * driver-side from the bounded queries artifact (ir7-class bounded
    * collect) and land as a partition-pruning IN filter, and scoring
    * touches only the ~n_probe·√N rows inside probed cells — so query
    * cost is independent of everything outside those cells, the decade
    * ratio a cached index should give (~1× once build amortizes; the
    * BUILD itself stays N^1.5 by the √N geometry and re-runs only when
    * the corpus fingerprint changes). Results are bit-identical to ss2
    * (same geometry, same e6 arithmetic) — the oracle is ss2's SQL; the
    * persisted detour is invisible to the answer, which is the point.
    *
    * Split r13: [[ensureIvfIndex]] is the build-if-absent half (returning
    * the index home), shared with mm6's cross-modal probe. */
  private[queries] def ensureIvfIndex(s: SparkSession, dir: String): java.nio.file.Path = {
    val emb = withNorm(t(s, dir, "embeddings"))
    val n = graft.Tables.rowCount(s, dir, "embeddings")
    graft.operators.PersistedIndex.ensure("ivf_index", dir, indexFingerprint(dir, n)) { tmp =>
      val idx = pairCentIndex(s, dir, emb)
      graft.sources.Layout.writePartitioned(
        withCell(emb, idx).select(col("vec_id"), col("embedding"), col("norm"), col("cell")),
        tmp.resolve("cells").toString, "cell")
      emb.filter(col("vec_id") % pairStride(s, dir) === 0)
        .select("vec_id", "embedding")
        .write.mode("overwrite").parquet(tmp.resolve("centroids").toString)
      emb.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("norm").as("qn"))
        .write.mode("overwrite").parquet(tmp.resolve("queries").toString)
    }
  }

  def ss2bPersistedProbe(s: SparkSession, dir: String): DataFrame = {
    val home = ensureIvfIndex(s, dir)
    // ---- probe path: persisted artifacts ONLY (no corpus scan below) ----
    val idx = graft.operators.Similarity.centroidIndex(
      graft.operators.PersistedIndex.artifactFrame(s, home, "centroids"), "vec_id", "embedding")
    val q = graft.operators.PersistedIndex.artifactFrame(s, home, "queries")
    val probeArr = slice(array_sort(transform(idx, c => struct(
        (-cosE6(dot(c.getField("cv"), col("qv")), c.getField("cn"), col("qn"))).as("neg_cos"),
        c.getField("cent_id").as("cent_id")))), 1, 2)
    val probes = q.withColumn("pc", explode(probeArr))
      .select(col("query_id"), col("qv"), col("qn"), col("pc.cent_id").as("cell"))
    // ≤ 2·NQueries cell ids, collected from the bounded queries artifact —
    // literals make the partition pruning visible at plan time
    val probedCells = q.select(explode(probeArr).as("pc"))
      .select(col("pc.cent_id")).distinct().collect().map(_.getLong(0)).sorted
    val cells = graft.operators.PersistedIndex.artifactFrame(s, home, "cells")
      .where(col("cell").isin(probedCells.map(java.lang.Long.valueOf): _*))
    // probe-side top-k through the k-bounded native aggregate (descending
    // cos ⇒ negate; ss4/ss6's precedent): map-side partials carry ≤
    // NQueries×k entries instead of every scored row (VERDICT r13 #8)
    val scored = cells.withColumn("cell", col("cell").cast(LongType))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos_e6", cosE6(dot(col("qv"), col("embedding")), col("qn"), col("norm")))
      .select("query_id", "vec_id", "cos_e6")
    graft.operators.TopK.smallestPerGroup(scored, Seq("query_id"), TopK,
        -col("cos_e6"), col("vec_id"), keyName = "neg_cos", idName = "vec_id")
      .select(col("query_id"), col("rank"), col("vec_id"), (-col("neg_cos")).as("cos_e6"))
      .orderBy("query_id", "rank")
  }

  /** Build-if-absent the DELTA-serving IVF index: centroids trained on the
    * BASE segment only (vec_id at-or-below the last-decile watermark, the
    * ir10/dd18/kg6 convention — the FAISS "train once, add forever"
    * contract ss7 freezes its refresh against), the base vectors' cell
    * assignments hive-partitioned by cell, and a one-row stats artifact
    * carrying the watermark. */
  private def ivfFp(dir: String): String =
    graft.operators.PersistedIndex.tableFingerprint(dir, "embeddings")

  private[queries] def ensureIvfDeltaIndex(s: SparkSession, dir: String): java.nio.file.Path = {
    graft.operators.PersistedIndex.ensure("ivf_delta_index", dir, ivfFp(dir)) { tmp =>
      val split = graft.operators.PersistedIndex.idWatermark(
        t(s, dir, "embeddings"), "vec_id")
      val base = withNorm(t(s, dir, "embeddings").filter(col("vec_id") <= split))
      val stride = math.max(2L, math.ceil(math.sqrt(
        t(s, dir, "embeddings").filter(col("vec_id") <= split).count().toDouble)).toLong)
      val idx = graft.operators.Similarity.centroidIndex(
        base.filter(col("vec_id") % stride === 0), "vec_id", "embedding")
      graft.operators.PersistedIndex.writeArtifacts(
        () => graft.sources.Layout.writePartitioned(
          withCell(base, idx).select(col("vec_id"), col("embedding"), col("norm"), col("cell")),
          tmp.resolve("cells").toString, "cell"),
        () => base.filter(col("vec_id") % stride === 0).select("vec_id", "embedding")
          .write.mode("overwrite").parquet(tmp.resolve("centroids").toString),
        () => graft.operators.PersistedIndex.splitStats(s, split)
          .write.mode("overwrite").parquet(tmp.resolve("stats").toString))
    }
  }

  /** Build-if-absent the RANGE-CLUSTERED vector-feed artifact (VERDICT
    * r21 #3 — the postings recipe on the vector feed): the embeddings
    * table re-laid-out by [[graft.sources.Layout.writeRangeClustered]] on
    * `vec_id`, so every file carries a tight, pairwise-disjoint vec_id
    * envelope and a CONTIGUOUS crawl window lands as a pushed range that
    * skips whole files/pages via parquet statistics. The raw table gives
    * the same predicate only row-group luck; this makes the windowed feed
    * generation O(window) reads at any corpus size. Unlike the LSH bands
    * rung (hash-bucketed, gated because a crawl window's ~20k scattered
    * band keys touch every bucket), a crawl window here is ONE id range —
    * the pruning cannot degrade with window size, so there is no gate.
    * Corpus-fingerprinted and fold-independent (it re-layouts the SOURCE,
    * not index state), so CDC folds never republish it. */
  private[queries] def ensureVecFeedArtifact(s: SparkSession, dir: String): java.nio.file.Path =
    graft.operators.PersistedIndex.ensure("vec_feed", dir, ivfFp(dir)) { tmp =>
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      // ~256k vectors (~64 MB raw) per file, capped so the file count
      // stays listing-friendly at any scale: the crawl window (10k ids)
      // touches 1–2 files up the ladder, and page-level stats (rows are
      // sorted by vec_id) prune inside whatever a file still over-covers.
      val files = math.min(2048L,
        math.max(1L, (emb.count() + (1L << 18) - 1) / (1L << 18))).toInt
      graft.sources.Layout.writeRangeClustered(
        emb, tmp.resolve("vecs").toString, "vec_id", files)
    }

  /** The crawl-windowed (vec_id ∈ (split−w, split+w]) slice of the vector
    * feed, generated from the range-clustered artifact instead of a full
    * embeddings scan — identical rows (op/payload are per-row arithmetic
    * and the artifact holds exactly the corpus (vec_id, embedding) set),
    * different physics: the window predicate is a pushed range over
    * disjoint file envelopes. */
  private[graft] def sizedVecFeed(s: SparkSession, dir: String, wStar: Long): DataFrame = {
    import graft.operators.{CdcRules, PersistedIndex}
    val vecsWin = PersistedIndex
      .artifactFrame(s, ensureVecFeedArtifact(s, dir), "vecs")
      .where(CdcRules.inWindow(col("vec_id"), wStar))
    CdcRules.vecFeed(vecsWin, "vec_id", "embedding", wStar)
  }

  /** ss9_delta_probe — ANN search over the SEGMENTED index: newly-arrived
    * vectors are searchable immediately, without retraining or re-assigning
    * the base (the FAISS add-after-train serving shape; ss7 audits the
    * refresh census, this is the query face that actually SEARCHES the
    * merged index). Base candidates come from the persisted, cell-pruned
    * artifact; ONLY the delta (pushed `vec_id > split` range predicate) is
    * assigned in-plan against the frozen centroids read back from the
    * artifact; queries are the standard NQueries slice (pushed `<` range).
    * Every embeddings access therefore carries a pushed vec_id range — the
    * base corpus is never rescanned. The oracle replays the frozen-centroid
    * geometry (base-only stride and centroid set, both segments assigned
    * against it), so results are exact under the same geometry — and a
    * compaction that re-assigns the delta into the artifact under the SAME
    * frozen centroids cannot change answers (ss7's refresh ≡ rebuild
    * equivalence, applied to search results). */
  /** The shared IVF SERVING KERNEL over a persisted cell snapshot: the
    * `dead` id frame leaves the candidate set via an anti-join on the
    * cell-pruned artifact, the `fresh` (vec_id, embedding) frame is the
    * ONLY segment normed/assigned (against the FROZEN artifact centroids)
    * at probe time, and each segment is scored separately against the
    * broadcast probes (the DPP-safe ss2b shape), merged by the k-bounded
    * native TopK. ss9 passes (∅, appends); ss10 the
    * [[graft.operators.CdcRules]] change set; the expunged serve (∅, ∅)
    * against a CDC-folded generation. */
  private def ivfServe(s: SparkSession, home: java.nio.file.Path,
      dead: DataFrame, fresh: DataFrame, q0: DataFrame): DataFrame = {
    // SERVE-time assigns always ride the broadcast index (threshold 0):
    // the inline-literal path re-materializes the √N-centroid struct array
    // per evaluated row inside the interpreted HOF chain — at sf10 (423
    // centroids) that alone doubled the fresh leg's per-row cost and blew
    // task binaries to ~1.8 MB (VERDICT r17 #2). Values are identical on
    // both paths, so answers and oracle hashes do not move.
    val idx = graft.operators.Similarity.centroidIndex(
      graft.operators.PersistedIndex.artifactFrame(s, home, "centroids"),
      "vec_id", "embedding", inlineThreshold = 0)
    val q = q0.select(col("query_id"), col("qv"), col("qn"))
    val probeArr = slice(array_sort(transform(idx, c => struct(
        (-cosE6(dot(c.getField("cv"), col("qv")), c.getField("cn"), col("qn"))).as("neg_cos"),
        c.getField("cent_id").as("cent_id")))), 1, 2)
    val probes = q.withColumn("pc", explode(probeArr))
      .select(col("query_id"), col("qv"), col("qn"), col("pc.cent_id").as("cell"))
    val probedCells = q.select(explode(probeArr).as("pc"))
      .select(col("pc.cent_id")).distinct().collect().map(_.getLong(0)).sorted
    val baseCells = graft.operators.PersistedIndex.artifactFrame(s, home, "cells")
      .where(col("cell").isin(probedCells.map(java.lang.Long.valueOf): _*))
      .withColumn("cell", col("cell").cast(LongType))
      .join(dead, Seq("vec_id"), "left_anti")
      .select("vec_id", "embedding", "norm", "cell")
    // PIN the assigned fresh leg: its `cell` column is a CodegenFallback
    // transform/array_max chain, and CollapseProject re-inlines it into the
    // downstream In-filter, join key and output — each consumer re-runs the
    // whole O(√N)-centroid assign per row (measured 11 s vs 0.3 s pinned on
    // a 2k-row window at sf10, VERDICT r17 #2). pinDelta keeps statically
    // empty frames as LocalRelations, so the expunged/post-fold serves stay
    // persisted-only.
    // and SPREAD the assign: the fresh frame arrives as one band-pruned
    // parquet task (or one checkpointed partition), so the O(rows·√N) assign
    // would run single-threaded; a round-robin shuffle of the change set is
    // a few MB against seconds of per-row work. Skipped when statically
    // empty so PropagateEmptyRelation erasure survives.
    val freshPar =
      if (graft.operators.CdcRules.isKnownEmpty(fresh)) fresh
      else fresh.repartition(s.sparkContext.defaultParallelism)
    // prune AFTER the pin: an In(cell, …) filter above the unpinned assign
    // pushes through the round-robin exchange into the single scan task and
    // re-runs the whole assign serially inside the checkpoint job (measured
    // 7.4 s vs 1.3 s at a 20k-row delta); over the materialized frame the
    // cell column is data and the prune is free.
    val freshCells = graft.operators.CdcRules.pinDelta(
      withCell(withNorm(freshPar), idx)
        .select(col("vec_id"), col("embedding"), col("norm"), col("cell")))
      .where(col("cell").isin(probedCells.map(java.lang.Long.valueOf): _*))
    // score each segment SEPARATELY and union the scored rows: putting the
    // hive-partitioned base scan inside a union BEFORE the broadcast join
    // trips dynamic partition pruning's subquery reuse (InSubqueryExec
    // "requirement failed" at codegen); joined standalone, the base side is
    // exactly ss2b's proven partitioned-scan ⋈ broadcast shape
    def scoreSegment(cand: DataFrame): DataFrame = cand
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos_e6", cosE6(dot(col("qv"), col("embedding")), col("qn"), col("norm")))
      .select("query_id", "vec_id", "cos_e6")
    graft.operators.TopK.smallestPerGroup(
        scoreSegment(baseCells).unionByName(scoreSegment(freshCells)),
        Seq("query_id"), TopK,
        -col("cos_e6"), col("vec_id"), keyName = "neg_cos", idName = "vec_id")
      .select(col("query_id"), col("rank"), col("vec_id"), (-col("neg_cos")).as("cos_e6"))
      .orderBy("query_id", "rank")
  }

  def ss9DeltaProbe(s: SparkSession, dir: String): DataFrame = {
    val (home, dead, delta) = IndexMaintenance.serving(s, dir, IvfMaintenance, Appends)
    val q = withNorm(t(s, dir, "embeddings")).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("norm").as("qn"))
    ivfServe(s, home, dead, delta, q)
  }

  val ss9DeltaProbeSql: String =
    s"""WITH emb AS ($withNormDuck),
       |ids AS (SELECT MIN(vec_id) AS lo, MAX(vec_id) AS hi FROM emb),
       |spl AS (SELECT hi - (hi - lo) // 10 AS split FROM ids),
       |base AS (SELECT * FROM emb WHERE vec_id <= (SELECT split FROM spl)),
       |st AS (SELECT GREATEST(2, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) AS stride FROM base),
       |cent AS (SELECT vec_id AS cent_id, embedding AS cv, norm AS cn FROM base
       |         WHERE vec_id % (SELECT stride FROM st) = 0),
       |assign AS (
       |  SELECT vec_id, embedding, norm, cell FROM (
       |    SELECT e.vec_id, e.embedding, e.norm, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosE6Sql(dotSql("c.cv", "e.embedding"), "c.cn", "e.norm")} DESC, c.cent_id) AS ark
       |    FROM emb e CROSS JOIN cent c) t WHERE ark = 1),
       |q AS (SELECT vec_id AS query_id, embedding AS qv, norm AS qn FROM emb WHERE vec_id < $NQueries),
       |probes AS (
       |  SELECT query_id, qv, qn, cell FROM (
       |    SELECT q.query_id, q.qv, q.qn, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY ${cosE6Sql(dotSql("c.cv", "q.qv"), "c.cn", "q.qn")} DESC, c.cent_id) AS prk
       |    FROM q CROSS JOIN cent c) t WHERE prk <= 2),
       |scored AS (
       |  SELECT p.query_id, a.vec_id,
       |    ${cosE6Sql(dotSql("p.qv", "a.embedding"), "p.qn", "a.norm")} AS cos_e6
       |  FROM assign a JOIN probes p USING (cell) WHERE a.vec_id <> p.query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cos_e6,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_e6 DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, vec_id, cos_e6 FROM ranked WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  /** ss10_tombstone_probe — tombstone/UPDATE-aware ANN search, ir14's CDC
    * semantics on the IVF family ([[graft.operators.CdcRules]]): deleted
    * vectors leave the candidate set via an id anti-join on the persisted
    * cells; updated vectors (re-embedded as the NEGATION — the
    * norm is bit-identical, the direction flips) are tombstone + re-add,
    * assigned in-plan against the FROZEN centroids exactly like ss9's
    * delta; appends are ss9's delta. The query slice is the POST-CHANGE
    * corpus below NQueries — a deleted query stops querying, an updated
    * query probes with its new vector. Centroids stay the artifact's
    * (trained on the original base, the FAISS immutable-training
    * contract), so the oracle replays the same frozen geometry over the
    * post-change corpus. Only updated + appended vectors are ever
    * normed/assigned at serve time; the base never rescans. */
  /** The POST-CHANGE query slice: ids below NQueries under the
    * [[graft.operators.CdcRules]] feed — a deleted query stops querying,
    * an updated query probes with its new (negated) vector. Shared by
    * ss10's subtract path and the expunged serve (the queries are corpus
    * rows, not index artifacts — they carry the rules either way). */
  private def postChangeQueries(s: SparkSession, dir: String, wStar: Long): DataFrame = {
    import graft.operators.CdcRules
    val embAll = t(s, dir, "embeddings")
    withNorm(
        embAll.filter(col("vec_id") < NQueries && !CdcRules.isDelete(col("vec_id"), wStar))
        .select(col("vec_id"),
          when(CdcRules.isUpdate(col("vec_id"), wStar),
            CdcRules.negatedVector(col("embedding")))
            .otherwise(col("embedding")).as("embedding")))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("norm").as("qn"))
  }

  def ss10TombstoneProbe(s: SparkSession, dir: String): DataFrame = {
    val wStar = IndexMaintenance.feedSplit(s, dir, IvfMaintenance)
    val (home, dead, fresh) =
      IndexMaintenance.serving(s, dir, IvfMaintenance, Tombstones, Some(wStar))
    ivfServe(s, home, dead, fresh, postChangeQueries(s, dir, wStar))
  }

  /** The IVF family's artifact rewrite with the change set passed in:
    * dead vectors leave the persisted cell table, fresh vectors are
    * assigned under the FROZEN centroids — copied, never retrained (the
    * FAISS add-after-train contract) — with the same centroid index the
    * probe assigns with in-plan, so folding appends moves them from
    * probe-time assignment to persisted rows bit-exactly and ss9's
    * answers are byte-identical across the fold. */
  private[graft] def foldIvfArtifacts(s: SparkSession, tmp: java.nio.file.Path,
      cur: java.nio.file.Path, dead: DataFrame, fresh: DataFrame, split: Long): Unit = {
    import graft.operators.PersistedIndex
    val centroids = graft.sources.Layout.readParquet(s, cur.resolve("centroids").toString)
    val idx = graft.operators.Similarity.centroidIndex(centroids, "vec_id", "embedding")
    val freshCells = withCell(withNorm(fresh), idx)
      .select(col("vec_id"), col("embedding"), col("norm"),
        col("cell").cast(LongType).as("cell"))
    val liveCells = graft.sources.Layout.readParquet(s, cur.resolve("cells").toString)
      .select(col("vec_id"), col("embedding"), col("norm"),
        col("cell").cast(LongType).as("cell"))
      .join(dead, Seq("vec_id"), "left_anti")
      .select("vec_id", "embedding", "norm", "cell")
    PersistedIndex.writeArtifacts(
      () => graft.sources.Layout.writePartitioned(
        liveCells.unionByName(freshCells), tmp.resolve("cells").toString, "cell"),
      () => centroids.write.mode("overwrite").parquet(tmp.resolve("centroids").toString),
      () => PersistedIndex.splitStats(s, split)
        .write.mode("overwrite").parquet(tmp.resolve("stats").toString))
  }

  /** The IVF family's hooks into the streaming maintenance loop: probe =
    * [[ivfServe]] with the post-change query slice derived from the SAME
    * (dead, fresh) frames (a deleted query stops querying, an updated one
    * probes with its new vector), fold = [[foldIvfArtifacts]]. */
  private[graft] object IvfMaintenance extends IndexMaintenance.Family {
    val name = "ivf"
    val idCol = "vec_id"
    val payloadCol = "embedding"
    val payloadType: DataType = ArrayType(FloatType)
    val kind = "ivf_delta_index"
    def fingerprint(dir: String): String = ivfFp(dir)
    def source(s: SparkSession, dir: String): DataFrame = t(s, dir, "embeddings")
    val updated: Column => Column = graft.operators.CdcRules.negatedVector
    def feed(s: SparkSession, dir: String, wStar: Long): DataFrame =
      graft.operators.CdcRules.vecFeed(source(s, dir), idCol, payloadCol, wStar)
    override def sizedFeed(s: SparkSession, dir: String, wStar: Long): DataFrame =
      sizedVecFeed(s, dir, wStar)
    def ensureBase(s: SparkSession, dir: String): java.nio.file.Path =
      ensureIvfDeltaIndex(s, dir)
    def baseCount(s: SparkSession, base: java.nio.file.Path): Long =
      graft.operators.PersistedIndex.artifactRows(s, base, "cells")
    def foldInto(s: SparkSession, tmp: java.nio.file.Path, base: java.nio.file.Path,
        dead: DataFrame, fresh: DataFrame, split: Long): Unit =
      foldIvfArtifacts(s, tmp, base, dead, fresh, split)
    def serve(s: SparkSession, dir: String, base: java.nio.file.Path,
        dead: DataFrame, fresh: DataFrame): DataFrame = {
      // the query slice comes from the SERVING SET (cells ∖ dead ∪ fresh),
      // not the raw corpus: after a fold the loop's only record of
      // cumulative deletes IS the folded cell table, and a deleted query
      // must stop querying at any fold state
      val q = withNorm(
          graft.operators.PersistedIndex.artifactFrame(s, base, "cells")
            .filter(col("vec_id") < NQueries)
            .select("vec_id", "embedding")
            .join(dead, Seq("vec_id"), "left_anti")
            .unionByName(fresh.filter(col("vec_id") < NQueries)))
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("norm").as("qn"))
      ivfServe(s, base, dead, fresh, q)
    }
  }

  /** ss13_feed_probe — the feed-table face of ss10 (the ir15 contract on
    * the vector family): [[ivfServe]] consumes only the
    * [[graft.operators.CdcRules.feedFrames]] split of an explicit
    * (vec_id, op, payload) table generated by
    * [[graft.operators.CdcRules.vecFeed]] (the negation 'u' payload is
    * exactly ss10's update transform), with the post-change query slice
    * on the probe side — ss13 ≡ ss10 and the oracle is shared. */
  def ss13FeedProbe(s: SparkSession, dir: String): DataFrame = {
    val wStar = IndexMaintenance.feedSplit(s, dir, IvfMaintenance)
    val (home, dead, fresh) =
      IndexMaintenance.serving(s, dir, IvfMaintenance, Feed, Some(wStar))
    ivfServe(s, home, dead, fresh, postChangeQueries(s, dir, wStar))
  }

  /** ss14_sized_probe — ss13 at a CRAWL-SIZED batch (VERDICT r16 #2): the
    * vector feed generator takes the [[graft.operators.CdcRules
    * .sizedFeed]] batch bound, so norm/assignment work at probe time runs
    * over O(window) fresh vectors no matter the corpus size — the face
    * that prices one refresh cycle on the ladder where ss9's
    * fixed-fraction delta reads linear-in-corpus (5.74× on the r16
    * ladder). The query slice applies the SAME windowed rules (out-of-
    * window vectors were never re-crawled). At the correctness SFs the
    * window covers the whole corpus and ss14 ≡ ss10/ss13. */
  def ss14SizedProbe(s: SparkSession, dir: String): DataFrame = {
    val wStar = IndexMaintenance.feedSplit(s, dir, IvfMaintenance)
    // the windowed feed reads the range-clustered artifact (pushed vec_id
    // range over disjoint file envelopes) instead of scanning the raw
    // embeddings table — [[sizedVecFeed]]; rows are identical.
    val (home, dead, fresh) =
      IndexMaintenance.serving(s, dir, IvfMaintenance, SizedFeed, Some(wStar))
    ivfServe(s, home, dead, fresh, sizedPostChangeQueries(s, dir, wStar))
  }

  /** [[postChangeQueries]] under the crawl window: only in-window deletes
    * vanish, only in-window updates negate, corpus capped at split + w. */
  private def sizedPostChangeQueries(s: SparkSession, dir: String, wStar: Long): DataFrame = {
    import graft.operators.CdcRules
    val w = CdcRules.CrawlWindow
    val inW = col("vec_id") > wStar - w
    val embAll = t(s, dir, "embeddings")
    withNorm(
        embAll.filter(col("vec_id") < NQueries && col("vec_id") <= wStar + w &&
          !(CdcRules.isDelete(col("vec_id"), wStar) && inW))
        .select(col("vec_id"),
          when(CdcRules.isUpdate(col("vec_id"), wStar) && inW,
            CdcRules.negatedVector(col("embedding")))
            .otherwise(col("embedding")).as("embedding")))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("norm").as("qn"))
  }

  /** ss12_expunged_probe — the post-compaction face of ss10: fold the
    * change set, then probe the expunged cells with the post-change query
    * slice (empty tombstone/fresh frames; shares ss10's oracle). */
  def ss12ExpungedProbe(s: SparkSession, dir: String): DataFrame = {
    IndexMaintenance.compactCdc(s, dir, IvfMaintenance)
    ss10TombstoneProbe(s, dir)
  }

  /** ss9's SQL replayed over the POST-CHANGE corpus under the FROZEN
    * geometry: centroids (and the √N stride) come from the ORIGINAL base
    * segment — exactly what the immutable artifact serves — while
    * assignment, queries and scoring run over the post-change vectors
    * (negation preserves the norm, so norms carry over). With a window
    * (ss14), only in-window rules apply and the corpus caps at
    * split + w — the crawl-sized batch. */
  private def postChangeProbeSqlOver(win: Option[Long]): String = {
    val spl = "(SELECT split FROM spl)"
    val band = win.map(w => s" AND vec_id > $spl - $w").getOrElse("")
    val upd = graft.operators.CdcRules.sqlIsUpdate("vec_id", spl) + band
    val del = graft.operators.CdcRules.sqlIsDelete("vec_id", spl) + band
    val cap = win.map(w => s"\n    AND vec_id <= $spl + $w").getOrElse("")
    s"""WITH emb AS ($withNormDuck),
       |ids AS (SELECT MIN(vec_id) AS lo, MAX(vec_id) AS hi FROM emb),
       |spl AS (SELECT hi - (hi - lo) // 10 AS split FROM ids),
       |base AS (SELECT * FROM emb WHERE vec_id <= (SELECT split FROM spl)),
       |st AS (SELECT GREATEST(2, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) AS stride FROM base),
       |cent AS (SELECT vec_id AS cent_id, embedding AS cv, norm AS cn FROM base
       |         WHERE vec_id % (SELECT stride FROM st) = 0),
       |chg AS (
       |  SELECT vec_id,
       |    CASE WHEN $upd
       |         THEN list_transform(embedding, x -> -x) ELSE embedding END AS embedding,
       |    norm
       |  FROM emb
       |  WHERE NOT ($del)$cap),"""
  }

  /** The assign→probe→score→rank tail shared by ss10 and ss14 — both
    * serve the same frozen geometry, only the chg corpus differs. */
  private val postChangeProbeSqlTail: String =
    s"""assign AS (
       |  SELECT vec_id, embedding, norm, cell FROM (
       |    SELECT e.vec_id, e.embedding, e.norm, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosE6Sql(dotSql("c.cv", "e.embedding"), "c.cn", "e.norm")} DESC, c.cent_id) AS ark
       |    FROM chg e CROSS JOIN cent c) t WHERE ark = 1),
       |q AS (SELECT vec_id AS query_id, embedding AS qv, norm AS qn FROM chg WHERE vec_id < $NQueries),
       |probes AS (
       |  SELECT query_id, qv, qn, cell FROM (
       |    SELECT q.query_id, q.qv, q.qn, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY ${cosE6Sql(dotSql("c.cv", "q.qv"), "c.cn", "q.qn")} DESC, c.cent_id) AS prk
       |    FROM q CROSS JOIN cent c) t WHERE prk <= 2),
       |scored AS (
       |  SELECT p.query_id, a.vec_id,
       |    ${cosE6Sql(dotSql("p.qv", "a.embedding"), "p.qn", "a.norm")} AS cos_e6
       |  FROM assign a JOIN probes p USING (cell) WHERE a.vec_id <> p.query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cos_e6,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_e6 DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, vec_id, cos_e6 FROM ranked WHERE rank <= $TopK
       |ORDER BY query_id, rank"""

  val ss10TombstoneProbeSql: String =
    s"""${postChangeProbeSqlOver(None)}
       |$postChangeProbeSqlTail""".stripMargin

  val ss14SizedProbeSql: String =
    s"""${postChangeProbeSqlOver(Some(graft.operators.CdcRules.CrawlWindow))}
       |$postChangeProbeSqlTail""".stripMargin

  /** ss5_recall_audit — recall@k of the IVF index against the brute-force
    * ground truth, per query, as an oracle-checked query (the quality gate
    * every ANN deployment runs after an index rebuild; the spec-level
    * recall assertions get a driver-checked face here). Composes the ss1
    * and ss2 plans and inner-joins their (query, id) sets — at production
    * scale both sides are the materialized index outputs, so the audit is
    * a k·n_queries-row join, independent of corpus size. */
  def ss5RecallAudit(s: SparkSession, dir: String): DataFrame = {
    val ex = ss1BruteforceTopk(s, dir).select("query_id", "vec_id")
    val ap = ss2IvfTopk(s, dir).select("query_id", "vec_id")
    val hits = ex.join(ap, Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    ex.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("recall_e6", expr(s"(1000000 * n_hits) div $TopK"))
      .orderBy("query_id")
  }

  val ss5RecallAuditSql: String =
    s"""WITH ex AS ($ss1BruteforceTopkSql),
       |ap AS ($ss2IvfTopkSql),
       |hits AS (
       |  SELECT e.query_id, COUNT(*) AS n_hits FROM ex e
       |  JOIN ap a ON e.query_id = a.query_id AND e.vec_id = a.vec_id
       |  GROUP BY e.query_id)
       |SELECT q.query_id, COALESCE(h.n_hits, 0) AS n_hits,
       |  (1000000 * COALESCE(h.n_hits, 0)) // $TopK AS recall_e6
       |FROM (SELECT DISTINCT query_id FROM ex) q
       |LEFT JOIN hits h USING (query_id) ORDER BY query_id""".stripMargin

  /** Deterministic random-hyperplane set for ss3: NBits planes × 64 dims,
    * values from a fixed LCG formula — reproducible in the oracle SQL as
    * plain literals (the LSH analogue of dd2's affine MinHash constants). */
  private val NBits = 8
  private val hyperplanes: Array[Array[Double]] =
    Array.tabulate(NBits, 64)((j, i) => ((1103515245L * (j * 64 + i) + 12345L) % 2001 - 1000) / 1000.0)

  /** Sign-bit bucket key of a vector: bit j = [round(1e6·⟨h_j, v⟩) > 0]
    * (e6-rounded so the sign never flips between engines at the boundary).
    * A pure projection — the corpus is bucketed with zero shuffle. */
  private def lshKey(vec: Column): Column =
    (0 until NBits).map { j =>
      when(round(lit(1e6) * dot(typedLit(hyperplanes(j).toSeq), vec)) > 0, lit(1 << j))
        .otherwise(lit(0))
    }.reduce(_ + _)

  private def lshKeySql(vec: String): String =
    (0 until NBits).map { j =>
      val h = hyperplanes(j).mkString("[", ", ", "]")
      s"CASE WHEN ROUND(1e6 * ${dotSql(h, vec)}) > 0 THEN ${1 << j} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** ss3_lsh_topk — LSH-bucketed ANN: random-hyperplane sign buckets
    * (2⁸ keys), multi-probe at hamming ≤ 1 (the query's own bucket + its 8
    * one-bit neighbors), exact cosine re-rank inside the probed buckets.
    * Corpus side: one projection computing the bucket key, then the
    * broadcast probe join — zero Exchange before it, like ss2. Recall vs
    * ss1 measured in SimilarityQueriesSpec. */
  def ss3LshTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(t(s, dir, "embeddings"))
    val bucketed = emb.withColumn("bkey", lshKey(col("embedding")))
    val q = bucketed.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("norm").as("qn"), col("bkey").as("qkey"))
    // multi-probe: qkey plus each single-bit flip
    val probeKeys = array((lit(0) +: (0 until NBits).map(j => lit(1 << j))): _*)
    val probes = q.withColumn("flip", explode(probeKeys))
      .select(col("query_id"), col("qv"), col("qn"),
        col("qkey").bitwiseXOR(col("flip")).as("bkey"))
    val wRank = Window.partitionBy("query_id").orderBy(desc("cos_e6"), col("vec_id"))
    bucketed.join(broadcast(probes), Seq("bkey"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos_e6", cosE6(dot(col("qv"), col("embedding")), col("qn"), col("norm")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= TopK)
      .select("query_id", "rank", "vec_id", "cos_e6")
      .orderBy("query_id", "rank")
  }

  val ss3LshTopkSql: String =
    s"""WITH emb AS ($withNormDuck),
       |bucketed AS (SELECT vec_id, embedding, norm, ${lshKeySql("embedding")} AS bkey FROM emb),
       |q AS (SELECT vec_id AS query_id, embedding AS qv, norm AS qn, bkey AS qkey
       |      FROM bucketed WHERE vec_id < $NQueries),
       |flips AS (SELECT unnest([${(0 +: (0 until NBits).map(1 << _).toList).mkString(", ")}]) AS flip),
       |probes AS (SELECT query_id, qv, qn, xor(qkey, flip) AS bkey FROM q CROSS JOIN flips),
       |scored AS (
       |  SELECT p.query_id, b.vec_id,
       |    ${cosE6Sql(dotSql("p.qv", "b.embedding"), "p.qn", "b.norm")} AS cos_e6
       |  FROM bucketed b JOIN probes p USING (bkey) WHERE b.vec_id <> p.query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cos_e6,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_e6 DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, vec_id, cos_e6 FROM ranked WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  /** dd6_embed_neardup — near-duplicate vector pairs within IVF-cell blocks:
    * top-50 most-similar pairs. The blocking key is the nearest-centroid
    * cell under the √N stride ([[pairStride]]): ~√N cells of ~√N rows, so
    * BOTH the assign (N·#cells) and the within-cell pairing (N·cellsize)
    * scale N^1.5 — NOT a metadata label whose blocks grow linearly and
    * make within-block pairing quadratic, and NOT the r7 fixed stride
    * whose centroid count grew linearly and made the assign quadratic.
    *
    * Trained-centroid face, measured (BASELINE.md): k-means at the same
    * k beats hash-stride by ≤6% warm
    * but costs 3.5–5.9 s training and yields a WORSE Σcellsize² (uniform
    * synthetic embeddings give k-means nothing to exploit, and its cells
    * come out less balanced than the stride's). Negative result: dd6
    * keeps hash-sampled centroids; on clustered real embeddings
    * [[graft.operators.Similarity.trainedCentroids]] remains the drop-in
    * (SimilaritySpec proves its recall edge exactly there). */
  def dd6EmbedNeardup(s: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(t(s, dir, "embeddings"))
    val cellified = withCell(emb, pairCentIndex(s, dir, emb))
    val a = cellified.select(col("cell"), col("vec_id").as("vec_a"), col("embedding").as("ea"), col("norm").as("na"))
    val b = cellified.select(col("cell"), col("vec_id").as("vec_b"), col("embedding").as("eb"), col("norm").as("nb"))
    a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos_e6", cosE6(dot(col("ea"), col("eb")), col("na"), col("nb")))
      .select("cell", "vec_a", "vec_b", "cos_e6")
      .orderBy(desc("cos_e6"), col("vec_a"), col("vec_b"))
      .limit(50)
  }

  val dd6EmbedNeardupSql: String =
    s"""WITH emb AS ($withNormDuck),
       |$pairCentSql,
       |assign AS (
       |  SELECT vec_id, embedding, norm, cell FROM (
       |    SELECT e.vec_id, e.embedding, e.norm, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosE6Sql(dotSql("c.cv", "e.embedding"), "c.cn", "e.norm")} DESC, c.cent_id) AS ark
       |    FROM emb e CROSS JOIN cent c) t WHERE ark = 1)
       |SELECT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ${cosE6Sql(dotSql("a.embedding", "b.embedding"), "a.norm", "b.norm")} AS cos_e6
       |FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |ORDER BY cos_e6 DESC, vec_a, vec_b LIMIT 50""".stripMargin

  /** dd12's cosine threshold (×1e6): vectors this similar within a cell are
    * semantic duplicates. 64-dim uniform vectors have pairwise-cosine
    * σ ≈ 1/√64, so 0.25 ≈ 2σ — high-percentile within a cell (cell-mates
    * already share a nearest centroid), giving a demonstrably non-empty
    * prune at every SF. */
  private val SemThrE6 = 250000L

  /** dd12_semantic_dedup — SemDeDup-style semantic pruning (Abbas et al.
    * 2023, arXiv:2303.09540): cluster embeddings (here: the same IVF cells
    * as ss2/dd6 — the deterministic k-means stand-in), and within each cell
    * drop every vector that is ≥θ-cosine-similar to a SMALLER-id cell-mate,
    * keeping minimal-id representatives. The drop rule is one equi-join
    * within bounded cells + a distinct — deterministic, single-pass, and
    * independent of the keeper's own fate (SemDeDup's keep-one-per-cluster
    * differs only in which representative survives, not in how many).
    * Block size is constant in corpus growth (more data ⇒ more cells), so
    * the within-cell pair join never goes quadratic. Emits per-cell
    * n_vecs/n_dropped/n_kept — the mixture-level view a curation run
    * reports. */
  def dd12SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(t(s, dir, "embeddings"))
    val cellified = withCell(emb, pairCentIndex(s, dir, emb))
    val a = cellified.select(col("cell"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"), col("norm").as("na"))
    val b = cellified.select(col("cell"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"), col("norm").as("nb"))
    val drops = a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b") &&
        cosE6(dot(col("ea"), col("eb")), col("na"), col("nb")) >= SemThrE6)
      .select(col("vec_b").as("vec_id")).distinct()
      .withColumn("dropped", lit(1))
    cellified.join(drops, Seq("vec_id"), "left_outer")
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
        coalesce(sum("dropped"), lit(0L)).cast(LongType).as("n_dropped"))
      .withColumn("n_kept", col("n_vecs") - col("n_dropped"))
      .orderBy("cell")
  }

  val dd12SemanticDedupSql: String =
    s"""WITH emb AS ($withNormDuck),
       |$pairCentSql,
       |assign AS (
       |  SELECT vec_id, embedding, norm, cell FROM (
       |    SELECT e.vec_id, e.embedding, e.norm, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosE6Sql(dotSql("c.cv", "e.embedding"), "c.cn", "e.norm")} DESC, c.cent_id) AS ark
       |    FROM emb e CROSS JOIN cent c) t WHERE ark = 1),
       |drops AS (
       |  SELECT DISTINCT b.vec_id FROM assign a JOIN assign b
       |  ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE ${cosE6Sql(dotSql("a.embedding", "b.embedding"), "a.norm", "b.norm")} >= $SemThrE6)
       |SELECT v.cell, COUNT(*) AS n_vecs,
       |  CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |  COUNT(*) - CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM assign v LEFT JOIN drops d ON v.vec_id = d.vec_id
       |GROUP BY v.cell ORDER BY v.cell""".stripMargin

  /** PQ geometry: 64-dim vectors → 8 subspaces × 8 dims, 16 codes per
    * subspace (a 4-bit code ×8 = 4 bytes per vector vs 256 B of float32 —
    * the memory-scale rung below IVF). */
  private val PqSub = 8
  private val PqSubDim = 8
  private val PqKs = 16

  /** ss4_pq_topk — product-quantization ANN
    * ([[graft.operators.Similarity.pqTopK]]): vectors encode to 8 codebook
    * indices (pure projection over a literal hash-sampled codebook — the
    * deterministic stand-in for k-means, like ss2's centroids; the
    * production face is
    * [[graft.operators.Similarity.trainedPqCodebook]] — per-subspace
    * k-means, spec-proven lower quantization distortion), queries
    * carry an 8×16 table of e9-rounded subspace distances, and each
    * candidate scores as 8 integer table lookups — the probe never touches
    * the original floats. Every distance is e9-rounded BEFORE the argmin/
    * ranking, so the DuckDB oracle replays encode, tables, and ranking
    * exactly. Recall vs exact ss1 is measured in SimilarityQueriesSpec. */
  def ss4PqTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cb = graft.operators.Similarity.pqCodebook(emb, "vec_id", "embedding", PqKs)
    graft.operators.Similarity.pqTopK(
      emb, emb.filter(col("vec_id") < NQueries), cb,
      "vec_id", "embedding", TopK, PqSub, PqSubDim)
      .withColumnRenamed("id", "vec_id")
      .orderBy("query_id", "rank")
  }

  val ss4PqTopkSql: String = {
    val sq = {
      val d = "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
      s"CAST(ROUND(1e9 * list_sum(list_transform(list_zip(SLICE_A, SLICE_B), p -> $d * $d))) AS BIGINT)"
    }
    def sqd(a: String, b: String): String = sq.replace("SLICE_A", a).replace("SLICE_B", b)
    val eSub = s"e.embedding[(s.s * $PqSubDim + 1):(s.s * $PqSubDim + $PqSubDim)]"
    val cSub = s"cb.cv[(s.s * $PqSubDim + 1):(s.s * $PqSubDim + $PqSubDim)]"
    s"""WITH cb AS (
       |  SELECT rn - 1 AS j, cv FROM (
       |    SELECT embedding AS cv,
       |      ROW_NUMBER() OVER (ORDER BY ${detHashSql("vec_id", 97)}, vec_id) AS rn
       |    FROM embeddings) t
       |  WHERE rn <= $PqKs),
       |subs AS (SELECT unnest(range($PqSub)) AS s),
       |dists AS (
       |  SELECT e.vec_id, s.s, cb.j, ${sqd(eSub, cSub)} AS d
       |  FROM embeddings e CROSS JOIN subs s CROSS JOIN cb),
       |codes AS (
       |  SELECT vec_id, s, j AS code FROM (
       |    SELECT vec_id, s, j, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
       |    FROM dists) t
       |  WHERE rn = 1),
       |qtab AS (SELECT vec_id AS query_id, s, j, d FROM dists WHERE vec_id < $NQueries),
       |scored AS (
       |  SELECT q.query_id, c.vec_id, CAST(SUM(q.d) AS BIGINT) AS adist_e9
       |  FROM codes c JOIN qtab q ON q.s = c.s AND q.j = c.code
       |  WHERE c.vec_id <> q.query_id
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT query_id, vec_id, adist_e9,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist_e9, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, vec_id, adist_e9 FROM ranked WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Build-if-absent the IVFADC index (VERDICT r15 #6 — the FAISS
    * `IVF,PQ` production composition, Jégou et al. 2011 §III): ss2's
    * coarse cells AND ss4's PQ compression in ONE persisted store.
    * Artifacts: `codes` — per-vector PQ codes hive-partitioned by cell
    * (nSub small ints per vector, 4-8 B instead of the float payload, AND
    * directory-prunable); `centroids` — the √N coarse list; `codebook` —
    * the ks sampled PQ rows in code order; `queries` — the bounded probe
    * batch with norms (the coarse probe is cosine, matching the cell
    * geometry every other IVF face uses). */
  private[queries] def ensureIvfPqIndex(s: SparkSession, dir: String): java.nio.file.Path = {
    import graft.operators.Similarity
    val embRaw = t(s, dir, "embeddings")
    val n = graft.Tables.rowCount(s, dir, "embeddings")
    graft.operators.PersistedIndex.ensure(
        "ivfpq_index", dir, indexFingerprint(dir, n)) { tmp =>
      import s.implicits._
      val emb = withNorm(embRaw)
      val idx = pairCentIndex(s, dir, emb)
      val cbRows = Similarity.pqCodebookRows(embRaw, "vec_id", "embedding", PqKs)
      val cb = Similarity.pqCodebookColumn(s, cbRows)
      graft.sources.Layout.writePartitioned(
        Similarity.pqEncode(withCell(emb, idx), cb, "embedding", PqSub, PqSubDim)
          .select(col("vec_id"), col("codes"), col("cell")),
        tmp.resolve("codes").toString, "cell")
      emb.filter(col("vec_id") % pairStride(s, dir) === 0)
        .select("vec_id", "embedding")
        .write.mode("overwrite").parquet(tmp.resolve("centroids").toString)
      cbRows.zipWithIndex.map { case (v, j) => (j, v) }.toSeq.toDF("j", "cv")
        .write.mode("overwrite").parquet(tmp.resolve("codebook").toString)
      emb.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("norm").as("qn"))
        .write.mode("overwrite").parquet(tmp.resolve("queries").toString)
    }
  }

  /** ss11_ivfpq_probe — cell-pruned ADC search over the persisted IVFADC
    * index: ss2b prunes cells but scores raw floats, ss4 scores codes but
    * scans them ALL — this face does both halves of the FAISS production
    * recipe. The probe plan reads persisted artifacts ONLY: coarse
    * centroids and the PQ codebook re-enter as plan literals (bounded by
    * the index contract), each query picks its 2 nearest cells by the
    * cosine coarse geometry, the ≤2·NQueries probed-cell ids land as a
    * partition-pruning IN filter over the `codes` store, and every
    * surviving candidate scores as [[graft.operators.Similarity.pqAdist]]
    * — nSub integer table lookups, never a float, never a full vector.
    * At 100 TB the scan is (n_probe/√N of the corpus) × (4-8 B/vector):
    * both pruning axes multiply. Recall vs the exact scan is audited in
    * SimilarityQueriesSpec; the DuckDB oracle replays cells, codes,
    * tables and ranking bit-for-bit (everything e6/e9-rounded before
    * comparisons). */
  def ss11IvfpqProbe(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val home = ensureIvfPqIndex(s, dir)
    // ---- probe path: persisted artifacts ONLY ----
    val idx = Similarity.centroidIndex(
      graft.operators.PersistedIndex.artifactFrame(s, home, "centroids"), "vec_id", "embedding")
    val cbRows = graft.operators.PersistedIndex.artifactFrame(s, home, "codebook")
      .orderBy("j").collect().map(_.getSeq[Double](1))
    val cb = Similarity.pqCodebookColumn(s, cbRows)
    val q = graft.operators.PersistedIndex.artifactFrame(s, home, "queries")
    val probeArr = slice(array_sort(transform(idx, c => struct(
        (-cosE6(dot(c.getField("cv"), col("qv")), c.getField("cn"), col("qn"))).as("neg_cos"),
        c.getField("cent_id").as("cent_id")))), 1, 2)
    val probes = Similarity.pqQueryTables(q, cb, "qv", PqSub, PqSubDim)
      .withColumn("pc", explode(probeArr))
      .select(col("query_id"), col("dtab"), col("pc.cent_id").as("cell"))
    val probedCells = q.select(explode(probeArr).as("pc"))
      .select(col("pc.cent_id")).distinct().collect().map(_.getLong(0)).sorted
    val cand = graft.operators.PersistedIndex.artifactFrame(s, home, "codes")
      .where(col("cell").isin(probedCells.map(java.lang.Long.valueOf): _*))
      .withColumn("cell", col("cell").cast(LongType))
      .select(col("vec_id"), col("codes"), col("cell"))
    val scored = cand.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adist_e9", Similarity.pqAdist(col("codes"), col("dtab"), PqSub))
      .select("query_id", "vec_id", "adist_e9")
    graft.operators.TopK.smallestPerGroup(scored, Seq("query_id"), TopK,
        col("adist_e9"), col("vec_id"), keyName = "adist_e9", idName = "vec_id")
      .select("query_id", "rank", "vec_id", "adist_e9")
      .orderBy("query_id", "rank")
  }

  /** ss2's cell/probe CTEs composed with ss4's codebook/code/table CTEs:
    * candidates join through their assigned cell to a probing query, then
    * score by the summed subspace-table lookups. */
  val ss11IvfpqProbeSql: String = {
    val sq = {
      val d = "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
      s"CAST(ROUND(1e9 * list_sum(list_transform(list_zip(SLICE_A, SLICE_B), p -> $d * $d))) AS BIGINT)"
    }
    def sqd(a: String, b: String): String = sq.replace("SLICE_A", a).replace("SLICE_B", b)
    val eSub = s"e.embedding[(s.s * $PqSubDim + 1):(s.s * $PqSubDim + $PqSubDim)]"
    val cSub = s"cb.cv[(s.s * $PqSubDim + 1):(s.s * $PqSubDim + $PqSubDim)]"
    s"""WITH emb AS ($withNormDuck),
       |$pairCentSql,
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosE6Sql(dotSql("c.cv", "e.embedding"), "c.cn", "e.norm")} DESC, c.cent_id) AS ark
       |    FROM emb e CROSS JOIN cent c) t WHERE ark = 1),
       |q AS (SELECT vec_id AS query_id, embedding AS qv, norm AS qn FROM emb WHERE vec_id < $NQueries),
       |probes AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.query_id, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY ${cosE6Sql(dotSql("c.cv", "q.qv"), "c.cn", "q.qn")} DESC, c.cent_id) AS prk
       |    FROM q CROSS JOIN cent c) t WHERE prk <= 2),
       |cb AS (
       |  SELECT rn - 1 AS j, cv FROM (
       |    SELECT embedding AS cv,
       |      ROW_NUMBER() OVER (ORDER BY ${detHashSql("vec_id", 97)}, vec_id) AS rn
       |    FROM embeddings) t
       |  WHERE rn <= $PqKs),
       |subs AS (SELECT unnest(range($PqSub)) AS s),
       |dists AS (
       |  SELECT e.vec_id, s.s, cb.j, ${sqd(eSub, cSub)} AS d
       |  FROM embeddings e CROSS JOIN subs s CROSS JOIN cb),
       |codes AS (
       |  SELECT vec_id, s, j AS code FROM (
       |    SELECT vec_id, s, j, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
       |    FROM dists) t
       |  WHERE rn = 1),
       |qtab AS (SELECT vec_id AS query_id, s, j, d FROM dists WHERE vec_id < $NQueries),
       |scored AS (
       |  SELECT p.query_id, c.vec_id, CAST(SUM(t.d) AS BIGINT) AS adist_e9
       |  FROM codes c
       |  JOIN assign a ON a.vec_id = c.vec_id
       |  JOIN probes p ON p.cell = a.cell
       |  JOIN qtab t ON t.query_id = p.query_id AND t.s = c.s AND t.j = c.code
       |  WHERE c.vec_id <> p.query_id
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT query_id, vec_id, adist_e9,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist_e9, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, vec_id, adist_e9 FROM ranked WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin
  }

  /** ss6_sq8_topk — scalar-quantization ANN (the FAISS `SQ8` production
    * face, the third member of the compression family next to ss4's PQ and
    * ss2's IVF): each dimension is affinely quantized to an 8-bit code
    * against per-dimension [min, max] corpus statistics, and candidates
    * rank by SYMMETRIC integer code distance Σ(q_j − c_j)² — after the
    * stats pass the probe never touches a float, and storage is d bytes
    * per vector (256 B of fp32 → 64 B at d=64; production 4096-dim
    * embeddings go 16 KB → 4 KB, the same 4×).
    *
    * Cross-engine exactness: floats are e6-fixed to integers FIRST, so the
    * per-dim min/max, the floor-divided code, and the code distance are
    * all pure integer arithmetic — the DuckDB oracle replays stats,
    * encode, and ranking bit-for-bit (no e6-rounding of derived floats
    * anywhere, one step stronger than ss4's e9-rounded tables).
    *
    * Scale shape: the stats pass is one map-side-combined explode →
    * d output rows (collected under the d-bounded index contract of
    * ss2/ss4 and re-entering the plan as literal arrays); encode is a
    * pure zip_with projection; scoring is ONE corpus scan crossed with
    * the broadcast-sized query set (the ss1 probe contract); the top-k is
    * [[graft.operators.TopK.smallestPerGroup]] — the k-bounded
    * fold-and-merge aggregate, so the map side reduces each scan partition
    * to ≤ NQueries×k entries and the shuffle moves only those buffers.
    * No corpus shuffle anywhere (r11: previously a
    * Window.partitionBy(query_id) — 10 partition keys over the
    * corpus-proportional scored set, the shape VERDICT r10 flagged and
    * PlanGateSpec now rejects). */
  def ss6Sq8Topk(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val xi = emb.select(col("vec_id"),
      expr("transform(embedding, v -> CAST(ROUND(CAST(v AS DOUBLE) * 1e6) AS BIGINT))").as("xi"))
    // per-dimension [lo, hi] over the e6-fixed ints: d rows by construction
    // (the bounded-index collect contract — same class as ss2's centroids)
    val stats = xi.select(posexplode(col("xi")).as(Seq("p", "x")))
      .groupBy("p").agg(min("x").as("lo"), max("x").as("hi"))
      .orderBy("p").collect()
    val loA = stats.map(_.getAs[Long]("lo"))
    val spanA = stats.map(r => r.getAs[Long]("hi") - r.getAs[Long]("lo"))
    val codes = xi
      .withColumn("loA", typedlit(loA.toSeq))
      .withColumn("spanA", typedlit(spanA.toSeq))
      .withColumn("code", expr(
        """zip_with(zip_with(xi, loA, (x, l) -> x - l), spanA,
          |  (n, sp) -> IF(sp = 0L, 0L, (n * 255L) div sp))""".stripMargin))
      .select("vec_id", "code")
    val q = codes.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("code").as("qc"))
    val scored = codes.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sqdist", expr(
        "aggregate(zip_with(code, qc, (c, v) -> (c - v) * (c - v)), 0L, (acc, x) -> acc + x)"))
    graft.operators.TopK.smallestPerGroup(scored, Seq("query_id"), TopK,
        col("sqdist"), col("vec_id"), keyName = "sqdist", idName = "vec_id")
      .select("query_id", "rank", "vec_id", "sqdist")
      .orderBy("query_id", "rank")
  }

  val ss6Sq8TopkSql: String =
    s"""WITH xi AS (
       |  SELECT vec_id,
       |    list_transform(embedding, v -> CAST(ROUND(CAST(v AS DOUBLE) * 1e6) AS BIGINT)) AS xi
       |  FROM embeddings),
       |dim AS (SELECT unnest(range(len(xi))) AS p FROM (SELECT xi FROM xi LIMIT 1)),
       |stats AS (
       |  SELECT p, MIN(xi[p + 1]) AS lo, MAX(xi[p + 1]) AS hi
       |  FROM xi CROSS JOIN dim GROUP BY p),
       |arrs AS (SELECT list(lo ORDER BY p) AS loA, list(hi - lo ORDER BY p) AS spanA FROM stats),
       |codes AS (
       |  SELECT vec_id,
       |    list_transform(range(1, len(xi) + 1), i ->
       |      CASE WHEN spanA[i] = 0 THEN 0
       |           ELSE ((xi[i] - loA[i]) * 255) // spanA[i] END) AS code
       |  FROM xi CROSS JOIN arrs),
       |q AS (SELECT vec_id AS query_id, code AS qc FROM codes WHERE vec_id < $NQueries),
       |scored AS (
       |  SELECT q.query_id, c.vec_id,
       |    CAST(list_sum(list_transform(list_zip(c.code, q.qc),
       |      p -> (CAST(p[1] AS BIGINT) - CAST(p[2] AS BIGINT))
       |         * (CAST(p[1] AS BIGINT) - CAST(p[2] AS BIGINT)))) AS BIGINT) AS sqdist
       |  FROM codes c CROSS JOIN q
       |  WHERE c.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, sqdist,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sqdist, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, vec_id, sqdist FROM ranked WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  /** The ss7 merged per-vector assignment — the refresh face split out so
    * the spec can compare it row-for-row against a from-scratch rebuild
    * ([[ss7FullRebuild]]). Fixture delta under the set2 namespace
    * convention (vec_id < 1e6 at every SF): every 7th vector re-embedded
    * (reversed — a genuinely different direction), every 11th≡3 a NEW
    * vector at id+1e6. A real delta arrives with its own ids; the operator
    * is the frozen-index assign + merge, not the demo delta. */
  private[queries] def ss7Merged(s: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(t(s, dir, "embeddings"))
    // the index is FROZEN at refresh time — delta vectors score against
    // the existing centroids; retraining is a rebuild, not a refresh.
    // √N stride (the ir4/dd6 geometry), NOT the fixed 97: the query face
    // re-derives the base assignment in-plan (no persisted state in a
    // query context), so a linearly-growing centroid count would make
    // that corpus-side assign quadratic — measured r11 as a 4.0× decade
    // before this change; √N keeps it N^1.5. Production reads the base
    // from the PERSISTED cell table and assigns only the delta.
    val idx = pairCentIndex(s, dir, emb)
    val base = withCell(emb, idx).select(col("vec_id"), col("cell"))
    val raw = t(s, dir, "embeddings")
    val updates = raw.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    val adds = raw.filter(col("vec_id") % 11 === 3)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
    val deltaAssign = withCell(withNorm(updates.union(adds)), idx)
      .select(col("vec_id"), col("cell").as("new_cell"))
    base.as("o").join(deltaAssign.as("n"), Seq("vec_id"), "full_outer")
      .select(col("vec_id"),
        coalesce(col("n.new_cell"), col("o.cell")).as("cell"),
        when(col("o.cell").isNull, "added")
          .when(col("n.new_cell").isNull, "kept").otherwise("updated").as("status"),
        (col("o.cell").isNotNull && col("n.new_cell").isNotNull &&
          col("o.cell") =!= col("n.new_cell")).as("moved"))
  }

  /** From-scratch assignment of the POST-delta corpus under the same
    * frozen index — the spec's equivalence oracle for [[ss7Merged]]:
    * refresh(delta) must equal rebuild(corpus ⊕ delta) exactly. */
  private[queries] def ss7FullRebuild(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "embeddings")
    val post = raw.filter(col("vec_id") % 7 =!= 0).select("vec_id", "embedding")
      .unionByName(raw.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding")))
      .unionByName(raw.filter(col("vec_id") % 11 === 3)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          reverse(col("embedding")).as("embedding")))
    val idx = pairCentIndex(s, dir, withNorm(raw))
    withCell(withNorm(post), idx).select(col("vec_id"), col("cell"))
  }

  /** ss7_ivf_refresh — incremental ANN-index maintenance, the missing
    * refresh face next to dd11's LSH signature refresh: a 100 TB vector
    * platform does NOT re-assign its corpus when a delta lands — it scores
    * ONLY the delta against the frozen centroid index and merges the new
    * assignments into the persisted cell table (FAISS add/remove_ids; the
    * Milvus/Vespa segment-merge shape). Here: delta assign is the ss2
    * projection over the literal centroid index restricted to the delta
    * rows; the merge is one full-outer equi-join on vec_id (the set2 CDC
    * shape — zero shuffles if the cell table is bucketed by vec_id);
    * output is the per-cell census after refresh with churn counters
    * (kept/updated/added and how many updates MOVED cell — the number a
    * production refresh alerts on, since mass movement means the frozen
    * centroids have drifted from the data and a retrain is due).
    * Refresh ≡ rebuild-restricted-to-delta is spec-proven
    * ([[ss7FullRebuild]]). */
  def ss7IvfRefresh(s: SparkSession, dir: String): DataFrame =
    ss7Merged(s, dir).groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("status") === "kept", 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("status") === "updated", 1L).otherwise(0L)).as("n_updated"),
        sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("status") === "updated" && col("moved"), 1L).otherwise(0L)).as("n_moved"))
      .orderBy("cell")

  val ss7IvfRefreshSql: String =
    s"""WITH emb AS ($withNormDuck),
       |$pairCentSql,
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosE6Sql(dotSql("c.cv", "e.embedding"), "c.cn", "e.norm")} DESC, c.cent_id) AS ark
       |    FROM emb e CROSS JOIN cent c) t WHERE ark = 1),
       |delta0 AS (
       |  SELECT vec_id, list_reverse(embedding) AS embedding FROM embeddings WHERE vec_id % 7 = 0
       |  UNION ALL
       |  SELECT vec_id + 1000000 AS vec_id, list_reverse(embedding) AS embedding
       |  FROM embeddings WHERE vec_id % 11 = 3),
       |delta AS (SELECT vec_id, embedding,
       |  sqrt(${dotSql("embedding", "embedding")}) AS norm FROM delta0),
       |dassign AS (
       |  SELECT vec_id, cell AS new_cell FROM (
       |    SELECT d.vec_id, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY d.vec_id
       |        ORDER BY ${cosE6Sql(dotSql("c.cv", "d.embedding"), "c.cn", "d.norm")} DESC, c.cent_id) AS ark
       |    FROM delta d CROSS JOIN cent c) t WHERE ark = 1),
       |merged AS (
       |  SELECT COALESCE(o.vec_id, n.vec_id) AS vec_id,
       |    COALESCE(n.new_cell, o.cell) AS cell,
       |    CASE WHEN o.vec_id IS NULL THEN 'added'
       |         WHEN n.vec_id IS NULL THEN 'kept' ELSE 'updated' END AS status,
       |    (o.vec_id IS NOT NULL AND n.vec_id IS NOT NULL AND o.cell <> n.new_cell) AS moved
       |  FROM assign o FULL OUTER JOIN dassign n ON o.vec_id = n.vec_id)
       |SELECT cell, COUNT(*) AS n_vecs,
       |  CAST(SUM(CASE WHEN status = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN status = 'updated' THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
       |  CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
       |  CAST(SUM(CASE WHEN status = 'updated' AND moved THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
       |FROM merged GROUP BY cell ORDER BY cell""".stripMargin

  /** ir3_hybrid_dense — dense+sparse hybrid retrieval, the modern RAG
    * first-stage: arm 1 ranks by BM25 over the [[TextQueries.RetrievalQTerms]]
    * ad-hoc query (the ta13/ir1 shared core), arm 2 ranks by exact cosine
    * against a fixed query embedding (vec_id 0 — the probe-side contract of
    * ss1), and the two top-50 pools fuse by reciprocal rank
    * (round(1e6/(60+rank)), the ir1 convention). Dense coverage is partial
    * by design — only embedded docs can earn a dense contribution, exactly
    * the production shape where the vector index trails the corpus.
    *
    * Scale shape: the dense arm is ONE scan with a 1-row broadcast query
    * vector and a bounded TakeOrdered top-50 (no corpus shuffle at all);
    * the sparse arm is the proven one-pass BM25; rank windows sit ABOVE
    * limit(50); the fusion is a ≤100-row union + hash-agg. Pure integer
    * contributions, doc_id tiebreaks — both engines fuse identically. */
  def ir3HybridDense(s: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(t(s, dir, "embeddings"))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"), col("norm").as("qn"))
    val dense = emb.crossJoin(broadcast(q))
      .select(col("vec_id"),
        cosE6(dot(col("qv"), col("embedding")), col("qn"), col("norm")).as("cos_e6"))
    TextQueries.rrfContribs(dense, "cos_e6", "vec_id")
      .unionByName(TextQueries.rrfContribs(
        TextQueries.bm25Scores(s, dir).select("doc_id", "bm25_e6"), "bm25_e6", "doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_arms"), sum("contrib_e6").as("rrf_e6"))
      .orderBy(desc("rrf_e6"), col("doc_id"))
      .limit(20)
  }

  val ir3HybridDenseSql: String = {
    import TextQueries.{Bm25CtesSql, RrfK, RrfPoolK}
    s"""WITH $Bm25CtesSql,
       |emb AS ($withNormDuck),
       |qv AS (SELECT embedding AS qe, norm AS qn FROM emb WHERE vec_id = 0),
       |dense AS (
       |  SELECT e.vec_id AS doc_id,
       |    ${cosE6Sql(dotSql("qv.qe", "e.embedding"), "qv.qn", "e.norm")} AS sc
       |  FROM emb e CROSS JOIN qv),
       |dtop AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sc DESC, doc_id) AS rank
       |  FROM dense ORDER BY sc DESC, doc_id LIMIT $RrfPoolK),
       |stop AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25_e6 DESC, doc_id) AS rank
       |  FROM bm ORDER BY bm25_e6 DESC, doc_id LIMIT $RrfPoolK),
       |contribs AS (
       |  SELECT doc_id, CAST(ROUND(1e6 / (rank + $RrfK)) AS BIGINT) AS c FROM dtop
       |  UNION ALL
       |  SELECT doc_id, CAST(ROUND(1e6 / (rank + $RrfK)) AS BIGINT) AS c FROM stop)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_arms, CAST(SUM(c) AS BIGINT) AS rrf_e6
       |FROM contribs GROUP BY doc_id ORDER BY rrf_e6 DESC, doc_id LIMIT 20""".stripMargin
  }

  /** The IVF-probed dense arm shared by ir4 and its recall audit: assign
    * the corpus to cells under `idx`, probe the `nProbe` cells nearest the
    * fixed query embedding (vec_id 0 — ir3's dense-query contract), exact
    * cosine inside the probed cells only. Both assign and probe are
    * projections over the literal centroid index, so the corpus reaches
    * the probe join with zero prior Exchange — and unlike ir3's exact arm,
    * the scored candidate set is O(corpus/n_cells · n_probe), not the
    * whole corpus. The spec swaps `idx` for the trained-k-means face. */
  private[queries] def ivfDenseScores(emb: DataFrame, idx: Column,
      nProbe: Int = 2): DataFrame = {
    val assign = withCell(emb, idx)
      .select(col("vec_id"), col("embedding"), col("norm"), col("cell"))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"), col("norm").as("qn"))
    val probeArr = slice(array_sort(transform(idx, c => struct(
        (-cosE6(dot(c.getField("cv"), col("qv")), c.getField("cn"), col("qn"))).as("neg_cos"),
        c.getField("cent_id").as("cent_id")))), 1, nProbe)
    val probes = q.withColumn("pc", explode(probeArr))
      .select(col("qv"), col("qn"), col("pc.cent_id").as("cell"))
    assign.join(broadcast(probes), Seq("cell"))
      .select(col("vec_id"),
        cosE6(dot(col("qv"), col("embedding")), col("qn"), col("norm")).as("cos_e6"))
  }

  /** ir4_hybrid_ann — the production hybrid-retrieval face: BM25 ⊕ IVF-ANN
    * fused by RRF. ir3 (the exactness baseline) scores EVERY embedding
    * against the query; at 100 TB the vector side of a RAG stack never
    * does that — it probes an ANN index. ir4 is that shape: the dense arm
    * is the ss2 IVF probe ([[ivfDenseScores]] — cell assign + 2-cell probe
    * as pure projections over the literal centroid index), the sparse arm
    * is the session-pinned BM25 core, and the two top-50 pools fuse by
    * reciprocal rank exactly like ir1/ir3. The recall cost of probing vs
    * exact is audited in SimilarityQueriesSpec against ir3's dense arm
    * (the ss5-audits-ss2 convention), including the trained-k-means
    * centroid face ([[graft.operators.Similarity.trainedCentroids]] — the
    * production index; hash-stride stays the query face because k-means
    * centers have no DuckDB twin).
    *
    * Scale shape: zero corpus-wide dense scan — the only corpus-touching
    * dense work is one projection (cell assign) and the probed-cell cosine;
    * rank windows sit ABOVE limit(50); fusion is a ≤100-row hash agg.
    * Like ss2 (since r12), this uses the √N stride ([[pairCentIndex]],
    * the dd6 geometry): the fixed stride's centroid count grows linearly
    * with the corpus, making the assign projection quadratic — measured
    * r10 as ir4's 3.15× on the sf0.1→sf1 decade before this change; √N
    * keeps assign at N^1.5. */
  def ir4HybridAnn(s: SparkSession, dir: String): DataFrame = {
    // r19 (VERDICT r18 #7): the dense arm serves from the PERSISTED IVF
    // index (ss2b's artifacts) instead of re-running the N^1.5 cell-assign
    // projection per query — the cells artifact holds the identical
    // assignment (built from the same pairCentIndex), so the probe is a
    // 2-cell pruned read + exact cosine, corpus-flat like every other
    // persisted serve. Same answer by construction; the oracle replays the
    // inline assign.
    val home = ensureIvfIndex(s, dir)
    val idx = graft.operators.Similarity.centroidIndex(
      graft.operators.PersistedIndex.artifactFrame(s, home, "centroids"),
      "vec_id", "embedding")
    val q = graft.operators.PersistedIndex.artifactFrame(s, home, "queries")
      .filter(col("query_id") === 0)
    val probeArr = slice(array_sort(transform(idx, c => struct(
        (-cosE6(dot(c.getField("cv"), col("qv")), c.getField("cn"), col("qn"))).as("neg_cos"),
        c.getField("cent_id").as("cent_id")))), 1, 2)
    val probes = q.withColumn("pc", explode(probeArr))
      .select(col("qv"), col("qn"), col("pc.cent_id").as("cell"))
    val probedCells = q.select(explode(probeArr).as("pc"))
      .select(col("pc.cent_id")).distinct().collect().map(_.getLong(0)).sorted
    val dense = graft.operators.PersistedIndex.artifactFrame(s, home, "cells")
      .where(col("cell").isin(probedCells.map(java.lang.Long.valueOf): _*))
      .withColumn("cell", col("cell").cast(LongType))
      .join(broadcast(probes), Seq("cell"))
      .select(col("vec_id"),
        cosE6(dot(col("qv"), col("embedding")), col("qn"), col("norm")).as("cos_e6"))
    TextQueries.rrfContribs(dense, "cos_e6", "vec_id")
      .unionByName(TextQueries.rrfContribs(
        TextQueries.bm25Scores(s, dir).select("doc_id", "bm25_e6"), "bm25_e6", "doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_arms"), sum("contrib_e6").as("rrf_e6"))
      .orderBy(desc("rrf_e6"), col("doc_id"))
      .limit(20)
  }

  val ir4HybridAnnSql: String = {
    import TextQueries.{Bm25CtesSql, RrfK, RrfPoolK}
    s"""WITH $Bm25CtesSql,
       |emb AS ($withNormDuck),
       |cstride AS (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS stride FROM emb),
       |cent AS (SELECT vec_id AS cent_id, embedding AS cv, norm AS cn FROM emb
       |         WHERE vec_id % (SELECT stride FROM cstride) = 0),
       |assign AS (
       |  SELECT vec_id, embedding, norm, cell FROM (
       |    SELECT e.vec_id, e.embedding, e.norm, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosE6Sql(dotSql("c.cv", "e.embedding"), "c.cn", "e.norm")} DESC, c.cent_id) AS ark
       |    FROM emb e CROSS JOIN cent c) t WHERE ark = 1),
       |qv AS (SELECT embedding AS qe, norm AS qn FROM emb WHERE vec_id = 0),
       |probes AS (
       |  SELECT cell FROM (
       |    SELECT c.cent_id AS cell,
       |      ROW_NUMBER() OVER (ORDER BY ${cosE6Sql(dotSql("c.cv", "qv.qe"), "c.cn", "qv.qn")} DESC, c.cent_id) AS prk
       |    FROM qv CROSS JOIN cent c) t WHERE prk <= 2),
       |dense AS (
       |  SELECT a.vec_id AS doc_id,
       |    ${cosE6Sql(dotSql("qv.qe", "a.embedding"), "qv.qn", "a.norm")} AS sc
       |  FROM assign a JOIN probes p USING (cell) CROSS JOIN qv),
       |dtop AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sc DESC, doc_id) AS rank
       |  FROM dense ORDER BY sc DESC, doc_id LIMIT $RrfPoolK),
       |stop AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25_e6 DESC, doc_id) AS rank
       |  FROM bm ORDER BY bm25_e6 DESC, doc_id LIMIT $RrfPoolK),
       |contribs AS (
       |  SELECT doc_id, CAST(ROUND(1e6 / (rank + $RrfK)) AS BIGINT) AS c FROM dtop
       |  UNION ALL
       |  SELECT doc_id, CAST(ROUND(1e6 / (rank + $RrfK)) AS BIGINT) AS c FROM stop)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_arms, CAST(SUM(c) AS BIGINT) AS rrf_e6
       |FROM contribs GROUP BY doc_id ORDER BY rrf_e6 DESC, doc_id LIMIT 20""".stripMargin
  }

  /** ir7's rerank geometry: dense top-[[MmrPoolK]] candidate pool, greedy
    * MMR selection of [[MmrSelectK]], λ = 3/4. The weighted terms use FLOOR
    * (not round) on exact-in-double quotients — floor(3x/4) and floor(x/4)
    * of an e6 integer are bit-identical on every engine (3x ≤ 3e6 is exact
    * in double, /4 is a power-of-two scale), so the greedy argmax chain
    * can never diverge on a half-ulp the way round(0.7·x) could. */
  private[queries] val MmrPoolK = 20
  private[queries] val MmrSelectK = 8

  /** ir7_mmr_rerank — Maximal Marginal Relevance diversification (Carbonell
    * & Goldstein 1998), the standard rerank stage between retrieval and a
    * RAG context window: greedily pick the candidate maximizing
    * λ·rel − (1−λ)·max_{s∈selected} sim(c, s), so near-duplicate hits
    * don't crowd out coverage. Relevance = cosine to the fixed query
    * embedding (vec_id 0, the ir3 contract); candidate-candidate
    * similarity = pairwise cosine inside the pool.
    *
    * Scale shape: the ONLY corpus-touching work is the dense pool build —
    * one scan with a 1-row broadcast query and a bounded TakeOrdered (at
    * 100 TB this arm would be the ss2/ir4 IVF probe instead; the rerank
    * itself is scale-invariant). The pool is then pinned (localCheckpoint,
    * [[MmrPoolK]] rows), its pairwise cosines are a bounded
    * broadcast-self-join ([[MmrPoolK]]² pairs), and the greedy chain runs
    * driver-side over the COLLECTED pool — a bounded-by-contract collect
    * (≤ [[MmrPoolK]] + [[MmrPoolK]]² integer rows, the ANN-codebook
    * precedent): MMR selection is sequential by definition, and every
    * number it touches was computed by the same Spark expressions the
    * DuckDB oracle replays, so the driver does INTEGER comparisons only.
    * The oracle unrolls the [[MmrSelectK]]-step greedy as chained CTEs
    * (the Viterbi/BPE convention). */
  def ir7MmrRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(t(s, dir, "embeddings"))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"), col("norm").as("qn"))
    val pool = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id"), col("embedding"), col("norm"),
        cosE6(dot(col("qv"), col("embedding")), col("qn"), col("norm")).as("rel_e6"))
      .orderBy(desc("rel_e6"), col("vec_id")).limit(MmrPoolK)
      .localCheckpoint()
    val a = pool.select(col("vec_id").as("ia"), col("embedding").as("ea"), col("norm").as("na"))
    val b = pool.select(col("vec_id").as("ib"), col("embedding").as("eb"), col("norm").as("nb"))
    val sims = a.join(broadcast(b), col("ia") =!= col("ib"))
      .select(col("ia"), col("ib"),
        floor(cosE6(dot(col("ea"), col("eb")), col("na"), col("nb")) / lit(4)).cast(LongType).as("pen_e6"))
    // bounded-contract collects: MmrPoolK rows + MmrPoolK² pairs
    val cands = pool
      .select(col("vec_id"), col("rel_e6"),
        floor(col("rel_e6") * 3 / lit(4)).cast(LongType).as("relw_e6"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pen: Map[(Long, Long), Long] = sims.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val rel = cands.map(c => c._1 -> c._2).toMap
    val relw = cands.map(c => c._1 -> c._3).toMap
    var remaining = cands.map(_._1).toSet
    var selectedIds = Vector.empty[Long]
    val out = Vector.newBuilder[(Int, Long, Long, Long)]
    for (step <- 1 to math.min(MmrSelectK, cands.length)) {
      val scored = remaining.toSeq.map { id =>
        val p = if (selectedIds.isEmpty) 0L
          else selectedIds.map(sid => pen((id, sid))).max
        (id, relw(id) - p)
      }
      val (bestId, bestSc) = scored.minBy { case (id, sc) => (-sc, id) }
      out += ((step, bestId, rel(bestId), bestSc))
      selectedIds :+= bestId
      remaining -= bestId
    }
    val spark0 = s
    import spark0.implicits._
    out.result().toDF("step", "doc_id", "rel_e6", "mmr_e6")
  }

  val ir7MmrRerankSql: String = {
    // every chained CTE is MATERIALIZED: sel_k is referenced twice by
    // step k+1, so an inlining planner would re-expand the whole chain
    // 2^k times (measured: >120 s at sf0.01); materialized, each link is
    // a ≤MmrPoolK-row table and the chain is linear
    val steps = (2 to MmrSelectK).map { k =>
      s"""st$k AS MATERIALIZED (
         |  SELECT c.vec_id, c.rel_e6, c.relw_e6 - MAX(p.pen_e6) AS sc
         |  FROM pool c
         |  JOIN sims p ON p.ia = c.vec_id AND p.ib IN (SELECT vec_id FROM sel${k - 1})
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${k - 1})
         |  GROUP BY c.vec_id, c.rel_e6, c.relw_e6),
         |s$k AS MATERIALIZED (SELECT $k AS step, vec_id, rel_e6, sc AS mmr_e6 FROM st$k
         |  ORDER BY sc DESC, vec_id LIMIT 1),
         |sel$k AS MATERIALIZED (SELECT vec_id FROM sel${k - 1} UNION ALL SELECT vec_id FROM s$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH emb AS ($withNormDuck),
       |qv AS (SELECT embedding AS qe, norm AS qn FROM emb WHERE vec_id = 0),
       |pool0 AS MATERIALIZED (
       |  SELECT e.vec_id, e.embedding, e.norm,
       |    ${cosE6Sql(dotSql("qv.qe", "e.embedding"), "qv.qn", "e.norm")} AS rel_e6
       |  FROM emb e CROSS JOIN qv WHERE e.vec_id <> 0
       |  ORDER BY rel_e6 DESC, e.vec_id LIMIT $MmrPoolK),
       |pool AS MATERIALIZED (SELECT vec_id, embedding, norm, rel_e6,
       |  CAST(floor(3.0 * rel_e6 / 4) AS BIGINT) AS relw_e6 FROM pool0),
       |sims AS MATERIALIZED (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib,
       |    CAST(floor(${cosE6Sql(dotSql("a.embedding", "b.embedding"), "a.norm", "b.norm")} / 4.0) AS BIGINT) AS pen_e6
       |  FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
       |s1 AS MATERIALIZED (SELECT 1 AS step, vec_id, rel_e6, relw_e6 AS mmr_e6 FROM pool
       |  ORDER BY relw_e6 DESC, vec_id LIMIT 1),
       |sel1 AS MATERIALIZED (SELECT vec_id FROM s1),
       |$steps
       |SELECT step, vec_id AS doc_id, rel_e6, mmr_e6 FROM (
       |  ${(1 to MmrSelectK).map(k => s"SELECT * FROM s$k").mkString(" UNION ALL ")}) u
       |ORDER BY step""".stripMargin
  }

  /** e2e5_rag_pipeline — the composed RAG serving path, end to end in one
    * oracle-checked query: ir4's production retrieval (BM25 ⊕ IVF-ANN
    * fused by RRF, zero corpus-wide dense scan) feeds ir7's MMR
    * diversification — the two stages every retrieval-augmented stack
    * runs between a query and a context window. Composition is the point:
    * the rerank pool is the FUSED top-20 (not ir7's dense-only pool), its
    * relevance is the rank-normalized RRF score (integer: 1e6·rrf div
    * max_rrf — RRF and cosine live on different scales; normalizing makes
    * λ·rel − (1−λ)·sim meaningful), and dense coverage is PARTIAL by
    * design — sparse-arm hits without an embedding carry zero similarity
    * penalty (the honest production shape where the vector index trails
    * the corpus; they can still be selected on relevance).
    *
    * Scale shape: everything corpus-touching is inside the proven ir4
    * plan (bm25_core pin + √N-stride IVF probe); the rerank adds a
    * 20-row pool pin, a 20²-pair broadcast self-join for penalties, and
    * the ir7 bounded-contract driver greedy over collected integers.
    * Oracle: ir4's SQL as a nested-WITH subquery + the ir7 chained
    * MATERIALIZED-CTE greedy with the complete (zero-filled) penalty
    * matrix. */
  def e2e5RagPipeline(s: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(t(s, dir, "embeddings"))
    val pool0 = ir4HybridAnn(s, dir).select("doc_id", "rrf_e6")
    val mx = pool0.agg(max("rrf_e6").as("mx"))
    val pool = pool0.crossJoin(broadcast(mx))
      .withColumn("rel_e6", expr("(1000000 * rrf_e6) div mx"))
      .withColumn("relw_e6", floor(col("rel_e6") * 3 / lit(4)).cast(LongType))
      .join(emb.select(col("vec_id").as("doc_id"), col("embedding"), col("norm")),
        Seq("doc_id"), "left")
      .select("doc_id", "rel_e6", "relw_e6", "embedding", "norm")
    // ONE bounded-contract collect (≤20 pool rows, embeddings riding
    // along): the r20 spelling spent three driver-synchronized jobs here —
    // a localCheckpoint of the pool, the 20²-pair broadcast self-join, and
    // a second collect — to produce a ≤20×20 integer penalty matrix. The
    // matrix is driver arithmetic in the same bounded class as the greedy
    // below; the dot/round/floor spelling mirrors vec_dot's sequential
    // accumulation and Spark's HALF_UP Round + cast-truncation EXACTLY, so
    // values are bit-identical (oracle-hash-checked).
    val poolRows = pool.collect()
    val cands = poolRows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // element conversion mirrors vec_dot (accepts float OR double arrays,
    // each element widened to double before the multiply; a null ELEMENT
    // contributes 0 — ADVICE r21: degrade like a column-level null instead
    // of a collect-time MatchError)
    def vecOf(r: org.apache.spark.sql.Row): Option[(IndexedSeq[Double], Double)] =
      if (r.isNullAt(3) || r.isNullAt(4)) None
      else Some((r.getSeq[Any](3).map {
        case f: java.lang.Float => f.toDouble
        case d: java.lang.Double => d.doubleValue
        case _ => 0.0
      }.toIndexedSeq, r.getDouble(4)))
    val vecs: Map[Long, Option[(IndexedSeq[Double], Double)]] =
      poolRows.map(r => r.getLong(0) -> vecOf(r)).toMap
    def penOf(a: (IndexedSeq[Double], Double), b: (IndexedSeq[Double], Double)): Long = {
      val n = math.min(a._1.length, b._1.length)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += a._1(i) * b._1(i); i += 1 }
      val raw = 1e6 * acc / (a._2 * b._2)
      // Spark's Round passes NaN/Inf through untouched (BigDecimal would
      // throw); the non-ANSI double→long cast is Scala's .toLong (NaN→0,
      // ±Inf→Long.{Max,Min}Value) — a zero-norm pool vector must yield
      // pen 0 exactly as the replaced plan did
      val rounded =
        if (raw.isNaN || raw.isInfinite) raw
        else java.math.BigDecimal.valueOf(raw)
          .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
      math.floor(rounded.toLong.toDouble / 4.0).toLong
    }
    val pen: Map[(Long, Long), Long] = (for {
      (ia, va) <- vecs.toSeq; (ib, vb) <- vecs.toSeq if ia != ib
    } yield (ia, ib) -> ((va, vb) match {
      case (Some(a), Some(b)) => penOf(a, b)
      case _ => 0L
    })).toMap
    val rel = cands.map(c => c._1 -> c._2).toMap
    val relw = cands.map(c => c._1 -> c._3).toMap
    var remaining = cands.map(_._1).toSet
    var selectedIds = Vector.empty[Long]
    val out = Vector.newBuilder[(Int, Long, Long, Long)]
    for (step <- 1 to math.min(MmrSelectK, cands.length)) {
      val scored = remaining.toSeq.map { id =>
        val p = if (selectedIds.isEmpty) 0L
          else selectedIds.map(sid => pen((id, sid))).max
        (id, relw(id) - p)
      }
      val (bestId, bestSc) = scored.minBy { case (id, sc) => (-sc, id) }
      out += ((step, bestId, rel(bestId), bestSc))
      selectedIds :+= bestId
      remaining -= bestId
    }
    val spark0 = s
    import spark0.implicits._
    out.result().toDF("step", "doc_id", "rel_e6", "mmr_e6")
  }

  val e2e5RagPipelineSql: String = {
    val steps = (2 to MmrSelectK).map { k =>
      s"""st$k AS MATERIALIZED (
         |  SELECT c.doc_id, c.rel_e6, c.relw_e6 - MAX(p.pen_e6) AS sc
         |  FROM pool c
         |  JOIN sims p ON p.ia = c.doc_id AND p.ib IN (SELECT doc_id FROM sel${k - 1})
         |  WHERE c.doc_id NOT IN (SELECT doc_id FROM sel${k - 1})
         |  GROUP BY c.doc_id, c.rel_e6, c.relw_e6),
         |s$k AS MATERIALIZED (SELECT $k AS step, doc_id, rel_e6, sc AS mmr_e6 FROM st$k
         |  ORDER BY sc DESC, doc_id LIMIT 1),
         |sel$k AS MATERIALIZED (SELECT doc_id FROM sel${k - 1} UNION ALL SELECT doc_id FROM s$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH pool0 AS MATERIALIZED (
       |  SELECT doc_id, rrf_e6 FROM ($ir4HybridAnnSql) ir4q),
       |embn AS ($withNormDuck),
       |mx AS (SELECT MAX(rrf_e6) AS mx FROM pool0),
       |pool AS MATERIALIZED (
       |  SELECT p.doc_id, (1000000 * p.rrf_e6) // mx.mx AS rel_e6,
       |    CAST(floor(3.0 * ((1000000 * p.rrf_e6) // mx.mx) / 4) AS BIGINT) AS relw_e6,
       |    e.embedding, e.norm
       |  FROM pool0 p CROSS JOIN mx
       |  LEFT JOIN embn e ON e.vec_id = p.doc_id),
       |sims AS MATERIALIZED (
       |  SELECT a.doc_id AS ia, b.doc_id AS ib,
       |    CASE WHEN a.embedding IS NOT NULL AND b.embedding IS NOT NULL
       |      THEN CAST(floor(${cosE6Sql(dotSql("a.embedding", "b.embedding"), "a.norm", "b.norm")} / 4.0) AS BIGINT)
       |      ELSE 0 END AS pen_e6
       |  FROM pool a JOIN pool b ON a.doc_id <> b.doc_id),
       |s1 AS MATERIALIZED (SELECT 1 AS step, doc_id, rel_e6, relw_e6 AS mmr_e6 FROM pool
       |  ORDER BY relw_e6 DESC, doc_id LIMIT 1),
       |sel1 AS MATERIALIZED (SELECT doc_id FROM s1),
       |$steps
       |SELECT step, doc_id, rel_e6, mmr_e6 FROM (
       |  ${(1 to MmrSelectK).map(k => s"SELECT * FROM s$k").mkString(" UNION ALL ")}) u
       |ORDER BY step""".stripMargin
  }

  /** a28_embed_sim — semantic generation scoring: cosine between the
    * CANDIDATE and REFERENCE document embeddings of each a22 eval pair
    * (even/odd doc ids, the shared pairing convention). This is the
    * embedding rung of the generation-eval ladder — a22/a23/a24/a25 score
    * surface overlap (n-grams, chars, LCS, edits); a metric family à la
    * BERTScore (Zhang et al. 2020) scores MEANING, and with the catalog's
    * document-level embeddings the doc-cosine is its honest stand-in
    * (token-level BERTScore needs per-token embeddings the schema doesn't
    * carry — documented boundary, like M1's torch edge).
    *
    * Scale shape: two filtered projections of one embedding scan, one
    * pair_id equi-join (AQE-planned), norms precomputed once per side,
    * integer e6 output. */
  def a28EmbedSim(s: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(t(s, dir, "embeddings"))
    val c = emb.filter(col("vec_id") % 2 === 0)
      .select(expr("vec_id div 2").as("pair_id"), col("embedding").as("ec"), col("norm").as("nc"))
    val r = emb.filter(col("vec_id") % 2 === 1)
      .select(expr("vec_id div 2").as("pair_id"), col("embedding").as("er"), col("norm").as("nr"))
    c.join(r, Seq("pair_id"))
      .select(col("pair_id"),
        cosE6(dot(col("ec"), col("er")), col("nc"), col("nr")).as("cos_e6"))
      .orderBy("pair_id")
  }

  val a28EmbedSimSql: String =
    s"""WITH emb AS ($withNormDuck),
       |c AS (SELECT vec_id // 2 AS pair_id, embedding AS ec, norm AS nc
       |  FROM emb WHERE vec_id % 2 = 0),
       |r AS (SELECT vec_id // 2 AS pair_id, embedding AS er, norm AS nr
       |  FROM emb WHERE vec_id % 2 = 1)
       |SELECT pair_id, ${cosE6Sql(dotSql("c.ec", "r.er"), "c.nc", "r.nr")} AS cos_e6
       |FROM c JOIN r USING (pair_id) ORDER BY pair_id""".stripMargin

  val queries: Map[String, QueryFn] = Map(
    "a28_embed_sim" -> (a28EmbedSim _),
    "ir7_mmr_rerank" -> (ir7MmrRerank _),
    "e2e5_rag_pipeline" -> (e2e5RagPipeline _),
    "ir3_hybrid_dense" -> (ir3HybridDense _),
    "ir4_hybrid_ann" -> (ir4HybridAnn _),
    "ss1_bruteforce_topk" -> (ss1BruteforceTopk _),
    "ss4_pq_topk" -> (ss4PqTopk _),
    "ss11_ivfpq_probe" -> (ss11IvfpqProbe _),
    "ss6_sq8_topk" -> (ss6Sq8Topk _),
    "ss2_ivf_topk" -> (ss2IvfTopk _),
    "ss2b_persisted_probe" -> (ss2bPersistedProbe _),
    "ss9_delta_probe" -> (ss9DeltaProbe _),
    "ss10_tombstone_probe" -> (ss10TombstoneProbe _),
    "ss12_expunged_probe" -> (ss12ExpungedProbe _),
    "ss13_feed_probe" -> (ss13FeedProbe _),
    "ss14_sized_probe" -> (ss14SizedProbe _),
    "ss7_ivf_refresh" -> (ss7IvfRefresh _),
    "ss3_lsh_topk" -> (ss3LshTopk _),
    "ss5_recall_audit" -> (ss5RecallAudit _),
    "dd6_embed_neardup" -> (dd6EmbedNeardup _),
    "dd12_semantic_dedup" -> (dd12SemanticDedup _))

  val oracles: Map[String, String] = Map(
    "ss9_delta_probe" -> ss9DeltaProbeSql,
    // tombstone subtraction under frozen geometry: ss10 ≡ ss9's recipe
    // over the post-change corpus
    "ss10_tombstone_probe" -> ss10TombstoneProbeSql,
    // expunge-fold is answer-invariant by construction: ss12 ≡ ss10
    "ss12_expunged_probe" -> ss10TombstoneProbeSql,
    // the feed generator replays the same rules: ss13 ≡ ss10
    "ss13_feed_probe" -> ss10TombstoneProbeSql,
    "ss14_sized_probe" -> ss14SizedProbeSql,
    "ir3_hybrid_dense" -> ir3HybridDenseSql,
    "ir4_hybrid_ann" -> ir4HybridAnnSql,
    "ir7_mmr_rerank" -> ir7MmrRerankSql,
    "e2e5_rag_pipeline" -> e2e5RagPipelineSql,
    "a28_embed_sim" -> a28EmbedSimSql,
    "ss5_recall_audit" -> ss5RecallAuditSql,
    "ss1_bruteforce_topk" -> ss1BruteforceTopkSql,
    "ss4_pq_topk" -> ss4PqTopkSql,
    "ss11_ivfpq_probe" -> ss11IvfpqProbeSql,
    "ss6_sq8_topk" -> ss6Sq8TopkSql,
    "ss2_ivf_topk" -> ss2IvfTopkSql,
    // the persisted detour is invisible to the answer: ss2b ≡ ss2
    "ss2b_persisted_probe" -> ss2IvfTopkSql,
    "ss7_ivf_refresh" -> ss7IvfRefreshSql,
    "ss3_lsh_topk" -> ss3LshTopkSql,
    "dd6_embed_neardup" -> dd6EmbedNeardupSql,
    "dd12_semantic_dedup" -> dd12SemanticDedupSql)
}
