package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, SessionShare}
import graft.streaming.IndexMaintenance
import graft.streaming.IndexMaintenance.{Appends, Feed, SizedFeed, Tombstones}
import Q._

/** Deduplication suite — oracle-checked faces of the [[graft.operators.Dedup]]
  * API (the user-facing operators; see its scaladoc for the 100 TB flow).
  *
  * Scale design per stage:
  *  - dd1 exact: one hash-groupBy.
  *  - dd2/dd3 MinHash+LSH: per-doc agg (map-side combined) + equi-join on
  *    (band, key) — O(n·collisions), never the O(n²) cross join.
  *  - dd4: exact-Jaccard verification on dd3's candidates only.
  *  - dd5 SimHash: per-doc signature; pairing reduces to signature joins.
  *
  * Determinism: md5-based detHash everywhere; Jaccard ratios scaled to e6
  * BIGINT; MinHash = one md5 + affine family mod 2³¹−1 (constants in Dedup).
  */
object DedupQueries {

  /** One MinHash-signature + shingle materialization per (session, dir),
    * shared by dd2/dd3/dd4/dd8 — the checkpoint a production dedup pipeline
    * persists between stages (the Dedup scaladoc's "checkpoint this"):
    * shingling + the 16-way min aggregate is the expensive common subtree,
    * and without reuse every downstream stage recomputes it. localCheckpoint
    * (eager, executor-local) keeps the reuse exchange-free; the first
    * toucher pays the materialization, like the shared LDA model in
    * MLQueries. Keying + lifetime contract live on the shared
    * [[graft.operators.SessionShare]] helper. */
  private def cachedSigs(s: SparkSession, dir: String): DataFrame =
    SessionShare.materialized(s, dir, "sigs")(
      Dedup.minhashSignatures(t(s, dir, "documents"), "doc_id", "text"))

  private def cachedShingles(s: SparkSession, dir: String): DataFrame =
    SessionShare.materialized(s, dir, "sh")(
      Dedup.shingles(t(s, dir, "documents"), "doc_id", "text"))

  /** 5-gram shingles (the contamination width), materialized once and
    * shared by dd7/dd10 — each would otherwise explode the corpus twice
    * (train + test side; measured ~2 s of dd10's 2.6 s at sf0.1). */
  private def cachedShingles5(s: SparkSession, dir: String): DataFrame =
    SessionShare.materialized(s, dir, "sh5")(
      Dedup.shingles(t(s, dir, "documents"), "doc_id", "text", n = 5))

  /** dd9's 64-bit signature, materialized once: the pairing self-join would
    * otherwise evaluate the 65-column token aggregate twice (once per join
    * side) and pay its whole-stage-codegen compile inside one query wall-time
    * (measured 11 s cold vs ~1 s for the join itself at sf0.1). */
  private def cachedSimhash64(s: SparkSession, dir: String): DataFrame =
    SessionShare.materialized(s, dir, "sh64")(
      Dedup.simhash(t(s, dir, "documents"), "doc_id", "text", bits = 64))

  /** dd1_exact_dedup — canonical-row selection by normalized content hash. */
  def dd1ExactDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
      .select("doc_id", "text_hash", "is_canonical")
      .orderBy("doc_id")

  val dd1ExactDedupSql: String =
    """SELECT doc_id, text_hash, rn = 1 AS is_canonical FROM (
      |  SELECT doc_id, md5(lower(trim(text))) AS text_hash,
      |    ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn
      |  FROM documents) t
      |ORDER BY doc_id""".stripMargin

  private val shinglesDuck: String =
    """SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(string_split(text,' ')) - 1),
      |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS sh
      |  FROM documents WHERE len(string_split(text,' ')) >= 3""".stripMargin

  private def minhashSigsDuck: String = {
    val aggs = (0 until Dedup.NumHashes)
      .map(i => s"MIN((${Dedup.hashA(i)} * hb + ${Dedup.hashB(i)}) % ${Dedup.P}) AS s$i").mkString(", ")
    s"""SELECT doc_id, $aggs
       |  FROM (SELECT doc_id, ${detHashSql("sh", 0)} % ${Dedup.P} AS hb FROM ($shinglesDuck) sh0) sh
       |  GROUP BY doc_id""".stripMargin
  }

  private def bandedSigsDuck: String = {
    val arms = (0 until Dedup.Bands).map { b =>
      val ks = (b * Dedup.RowsPerBand until (b + 1) * Dedup.RowsPerBand)
        .map(i => s"CAST(s$i AS VARCHAR)").mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, $ks AS key FROM sig"
    }
    arms.mkString("\nUNION ALL\n")
  }

  /** dd2_minhash_sigs — per-doc MinHash signatures over word-3-shingles. */
  def dd2MinhashSigs(s: SparkSession, dir: String): DataFrame =
    cachedSigs(s, dir).orderBy("doc_id")

  val dd2MinhashSigsSql: String =
    s"""SELECT * FROM ($minhashSigsDuck) sig ORDER BY doc_id""".stripMargin

  /** dd3_lsh_pairs — LSH candidate pairs with shared-band counts. */
  def dd3LshPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.lshCandidatePairs(cachedSigs(s, dir), "doc_id")
      .withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b")
      .orderBy("doc_a", "doc_b")

  val dd3LshPairsSql: String =
    s"""WITH sig AS ($minhashSigsDuck),
       |band AS ($bandedSigsDuck)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_bands
       |FROM band a JOIN band b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin

  /** dd11_incremental_pairs — the daily-crawl refresh face of
    * [[Dedup.incrementalCandidatePairs]]: every 4th doc arrives as the new
    * delta, the rest is the already-indexed corpus with a persisted
    * signature store (the cachedSigs checkpoint, filtered — refreshes reuse
    * it, they never re-shingle the corpus). Work scales with the delta, not
    * the corpus; DedupSpec separately proves equality with a full re-pair
    * restricted to delta-touching pairs. */
  def dd11IncrementalPairs(s: SparkSession, dir: String): DataFrame = {
    val sigs = cachedSigs(s, dir)
    val corpusSigs = sigs.filter(col("doc_id") % 4 =!= 0)
    val deltaSigs = sigs.filter(col("doc_id") % 4 === 0)
    Dedup.incrementalCandidatePairs(corpusSigs, deltaSigs, "doc_id")
      .withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b")
      .orderBy("doc_a", "doc_b")
  }

  val dd11IncrementalPairsSql: String =
    s"""WITH sig AS ($minhashSigsDuck),
       |band AS ($bandedSigsDuck)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_bands
       |FROM band a JOIN band b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |WHERE a.doc_id % 4 = 0 OR b.doc_id % 4 = 0
       |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin

  /** The Jaccard-verified pair set, materialized per (session, dir):
    * dd4 is its sorted face; dd8's closure consumes it unsorted (no
    * reliance on EliminateSorts to drop a useless total sort). */
  private def dd4Verified(s: SparkSession, dir: String): DataFrame =
    SessionShare.materialized(s, dir, "dd4") {
      val pairs = Dedup.lshCandidatePairs(cachedSigs(s, dir), "doc_id")
      Dedup.verifyJaccard(pairs, cachedShingles(s, dir), threshold = 0.0)
        // e6 from the integer counts (single rounding — matches the oracle
        // exactly; round(jaccard*1e6) would round twice)
        .withColumn("jaccard_e6",
          round(lit(1e6) * col("n_int") / (col("na") + col("nb") - col("n_int"))).cast(LongType))
        .filter(col("jaccard_e6") >= 100000)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("jaccard_e6"))
    }

  /** dd4_ngram_jaccard — exact 3-shingle Jaccard on dd3's candidates. */
  def dd4NgramJaccard(s: SparkSession, dir: String): DataFrame =
    dd4Verified(s, dir).orderBy("doc_a", "doc_b")

  val dd4NgramJaccardSql: String =
    s"""WITH sig AS ($minhashSigsDuck),
       |band AS ($bandedSigsDuck),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM band a JOIN band b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |sh AS ($shinglesDuck),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_int
       |  FROM pairs p
       |  JOIN sh sa ON sa.doc_id = p.doc_a
       |  JOIN sh sb ON sb.doc_id = p.doc_b AND sb.sh = sa.sh
       |  GROUP BY 1, 2)
       |SELECT i.doc_a, i.doc_b,
       |  CAST(ROUND(1e6 * n_int / (za.n_sh + zb.n_sh - n_int)) AS BIGINT) AS jaccard_e6
       |FROM inter i
       |JOIN sizes za ON za.doc_id = i.doc_a
       |JOIN sizes zb ON zb.doc_id = i.doc_b
       |WHERE CAST(ROUND(1e6 * n_int / (za.n_sh + zb.n_sh - n_int)) AS BIGINT) >= 100000
       |ORDER BY doc_a, doc_b""".stripMargin

  /** dd5_simhash — 16-bit SimHash per doc (Charikar 2002). */
  def dd5Simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(t(s, dir, "documents"), "doc_id", "text").orderBy("doc_id")

  val dd5SimhashSql: String = {
    val bitSums = (0 until 16)
      .map(b => s"SUM(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS b$b")
      .mkString(", ")
    val simhash = (0 until 16)
      .map(b => s"CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""WITH words AS (
       |  SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents),
       |tok AS (SELECT doc_id, ${detHashSql("word", 101)} AS h FROM words),
       |sums AS (SELECT doc_id, $bitSums FROM tok GROUP BY doc_id)
       |SELECT doc_id, $simhash AS simhash16 FROM sums ORDER BY doc_id""".stripMargin
  }

  /** dd9_simhash_pairs — SimHash near-dup pairs at hamming ≤ 3 over the
    * 64-bit signature ([[Dedup.simhashPairs]]: 16-bit band blocking by
    * pigeonhole + bit_count verify; candidates from an equi-join, never
    * all-pairs). 64 bits, not dd5's compact 16: band keys must be wide
    * enough (2¹⁶ values) that block population stays bounded at scale. */
  def dd9SimhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(cachedSimhash64(s, dir), "doc_id")
      .withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b")
      .orderBy("doc_a", "doc_b")

  val dd9SimhashPairsSql: String = {
    val bitSums = (0 until 64).map { b =>
      val (src, off) = if (b < 60) ("h", b) else ("h2", b - 60)
      s"SUM(CASE WHEN (($src >> $off) & 1) = 1 THEN 1 ELSE -1 END) AS b$b"
    }.mkString(", ")
    val sh = (0 until 64)
      .map { b =>
        // DuckDB rejects 1::BIGINT << 63 as overflow — spell MinValue out
        val term = if (b == 63) "(-9223372036854775807 - 1)" else s"(CAST(1 AS BIGINT) << $b)"
        s"CASE WHEN b$b > 0 THEN $term ELSE CAST(0 AS BIGINT) END"
      }
      .mkString(" + ")
    val bandArms = (0 until 4).map(b =>
      s"SELECT doc_id, simhash64, $b AS band, (simhash64 >> ${b * 16}) & 65535 AS key FROM sig")
      .mkString("\nUNION ALL\n")
    s"""WITH words AS (
       |  SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents),
       |tok AS (SELECT doc_id, ${detHashSql("word", 101)} AS h, ${detHashSql("word", 102)} AS h2 FROM words),
       |sums AS (SELECT doc_id, $bitSums FROM tok GROUP BY doc_id),
       |sig AS (SELECT doc_id, $sh AS simhash64 FROM sums),
       |banded AS ($bandArms),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.simhash64 AS sa, b.simhash64 AS sb
       |  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** dd8_clusters — transitive duplicate clusters: connected components over
    * dd4's Jaccard-verified pairs (min-label propagation,
    * [[Dedup.connectedComponents]]); cluster_id = min doc_id in the
    * component. This is the closure [[Dedup.dropDuplicates]] keys on. */
  /** dd8's component table (id → min-id component), pinned once per
    * (session, dir): the label-propagation loop is iterative work that
    * both dd8 and sm10 consume — without the pin each pays the full
    * iteration (measured 0.81 + 0.94 s at sf0.1; the second consumer
    * should cost a join, not a graph algorithm). */
  private[queries] def cachedComponents(s: SparkSession, dir: String): DataFrame =
    SessionShare.materialized(s, dir, "dd8_comp") {
      Dedup.connectedComponents(dd4Verified(s, dir), "doc_a", "doc_b")
    }

  def dd8Clusters(s: SparkSession, dir: String): DataFrame =
    cachedComponents(s, dir)
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
      .orderBy("doc_id")

  /** Shared CTE chain for the transitive-closure oracles (dd8, sm10, dd24):
    * candidates → Jaccard-verified edges → min-label reachability. Callers
    * splice it after `WITH RECURSIVE` and read the `reach` relation; the
    * candidate relation is pluggable (all-pairs for dd8/sm10, star for
    * dd24). */
  private[queries] def componentCtesDuckOver(candSql: String): String =
    s"""sig AS ($minhashSigsDuck),
       |band AS ($bandedSigsDuck),
       |cand AS ($candSql),
       |sh AS ($shinglesDuck),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_int
       |  FROM cand p
       |  JOIN sh sa ON sa.doc_id = p.doc_a
       |  JOIN sh sb ON sb.doc_id = p.doc_b AND sb.sh = sa.sh
       |  GROUP BY 1, 2),
       |dup AS (
       |  SELECT i.doc_a, i.doc_b
       |  FROM inter i
       |  JOIN sizes za ON za.doc_id = i.doc_a
       |  JOIN sizes zb ON zb.doc_id = i.doc_b
       |  WHERE CAST(ROUND(1e6 * n_int / (za.n_sh + zb.n_sh - n_int)) AS BIGINT) >= 100000),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM dup UNION SELECT doc_b, doc_a FROM dup),
       |reach AS (
       |  SELECT u AS id, u AS r FROM (SELECT DISTINCT u FROM edges) n
       |  UNION
       |  SELECT e.u AS id, rr.r FROM edges e JOIN reach rr ON rr.id = e.v)""".stripMargin

  /** [[componentCtesDuckOver]] WITHOUT the Jaccard verification leg —
    * components over the raw candidate edges (sm11's contract: for a
    * leakage-safe split, unverified connectivity only coarsens, which is
    * the safe direction). */
  private[queries] def componentCtesDuckUnverifiedOver(candSql: String): String =
    s"""sig AS ($minhashSigsDuck),
       |band AS ($bandedSigsDuck),
       |cand AS ($candSql),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM cand UNION SELECT doc_b, doc_a FROM cand),
       |reach AS (
       |  SELECT u AS id, u AS r FROM (SELECT DISTINCT u FROM edges) n
       |  UNION
       |  SELECT e.u AS id, rr.r FROM edges e JOIN reach rr ON rr.id = e.v)""".stripMargin

  /** dd8/sm10's all-pairs candidate relation (the verified-clique closure
    * contract). */
  private[queries] def componentCtesDuck: String = componentCtesDuckOver(
    """
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM band a JOIN band b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id""".stripMargin)

  val dd8ClustersSql: String =
    s"""WITH RECURSIVE $componentCtesDuck
       |SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** dd24_star_closure — the SCALE-path near-dup closure
    * ([[Dedup.starCandidatePairs]]): within each LSH band bucket every
    * member links to the bucket representative (min doc_id) instead of to
    * every other member, the O(n) star edges are Jaccard-verified at dd4's
    * ≥ 0.1 threshold, and connected components run over the verified
    * edges. Candidate volume is linear in bucket population where dd8's
    * clique expansion is quadratic — the face that survives a production
    * corpus whose hot template cluster holds 5% of all documents (skew
    * section in BASELINE.md: 2.06M all-pairs candidates vs ~10k star edges
    * on the same corpus). Trade vs dd8 documented on the operator:
    * connectivity flows through representatives only. */
  def dd24StarClosure(s: SparkSession, dir: String): DataFrame = {
    val verified = SessionShare.materialized(s, dir, "dd24") {
      val pairs = Dedup.starCandidatePairs(cachedSigs(s, dir), "doc_id")
      Dedup.verifyJaccard(pairs, cachedShingles(s, dir), threshold = 0.0)
        .withColumn("jaccard_e6",
          round(lit(1e6) * col("n_int") / (col("na") + col("nb") - col("n_int"))).cast(LongType))
        .filter(col("jaccard_e6") >= 100000)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    }
    Dedup.connectedComponents(verified, "doc_a", "doc_b")
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
      .orderBy("doc_id")
  }

  val dd24StarClosureSql: String = {
    val starCand =
      """
        |  SELECT DISTINCT r.rep AS doc_a, b.doc_id AS doc_b
        |  FROM band b
        |  JOIN (SELECT band, key, MIN(doc_id) AS rep FROM band GROUP BY band, key) r
        |    ON r.band = b.band AND r.key = b.key AND b.doc_id <> r.rep""".stripMargin
    s"""WITH RECURSIVE ${componentCtesDuckOver(starCand)}
       |SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id ORDER BY doc_id""".stripMargin
  }

  /** sm10's fold seed — distinct from every other detHash seed in the suite
    * so the leakage-safe folds are independent of the dd7/sm2 splits. */
  private[queries] val LeakFoldSeed = 73

  /** sm10_leakage_safe_split — contamination-safe train/test split: the
    * fold of every document is decided by the MIN-ID OF ITS NEAR-DUP
    * CLUSTER (dd8's connected components over Jaccard-verified LSH pairs),
    * not by the document itself, so near-duplicates can never straddle the
    * boundary. This is the split discipline the dedup literature demands
    * (Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    * Better" §5 — eval contamination via near-dups; dd7/dd10 SCREEN for
    * leaks, sm10 PREVENTS them by construction). Docs in no dup pair are
    * their own singleton cluster.
    *
    * Scale shape: everything up to the component table is the shared
    * dd2-dd4 signature/verify pipeline (banded LSH, O(n·collisions));
    * components come from the same min-label propagation dd8 uses
    * (iterations bounded by component diameter — near-dup clusters are
    * tiny); the fold is then ONE hash projection + a doc_id-keyed left
    * join. No new shuffle shape anywhere. */
  def sm10LeakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val comp = cachedComponents(s, dir)
      .select(col("id").as("doc_id"), col("comp"))
    t(s, dir, "documents").select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("comp"), col("doc_id")))
      .withColumn("fold",
        when(detHash(col("cluster_id"), LeakFoldSeed) % 10 < 8, lit("train"))
          .otherwise(lit("test")))
      .select("doc_id", "cluster_id", "fold")
      .orderBy("doc_id")
  }

  val sm10LeakageSafeSplitSql: String =
    s"""WITH RECURSIVE $componentCtesDuck,
       |comp AS (SELECT id AS doc_id, MIN(r) AS comp FROM reach GROUP BY id)
       |SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id,
       |  CASE WHEN ${detHashSql("COALESCE(c.comp, d.doc_id)", LeakFoldSeed)} % 10 < 8
       |    THEN 'train' ELSE 'test' END AS fold
       |FROM documents d LEFT JOIN comp c USING (doc_id) ORDER BY d.doc_id""".stripMargin

  /** sm11_star_safe_split — sm10's SCALE path (VERDICT r19 #7, the dd24
    * switch-point wired into a consumer): the fold of every document is
    * decided by its component over the UNVERIFIED star candidate edges
    * ([[Dedup.starCandidatePairs]]) — no Jaccard verification at all.
    *
    * Why unverified is CORRECT here, where dd24 verifies: for a
    * leakage-safe split the only failure that matters is SPLITTING a true
    * near-dup cluster across train/test; merging non-dups into one fold
    * merely shifts fold balance. Connectivity is monotone in edges, and
    * every sm10 edge (a Jaccard-verified pair) shares ≥1 LSH bucket where
    * both members link to the bucket representative — so each sm10
    * component lies inside ONE sm11 component: sm11 can only COARSEN
    * sm10's clusters, never split them. A template cluster therefore
    * cannot straddle the boundary, by construction, at O(Σ|bucket|)
    * candidate volume and with the shingle-verify leg (sm10's dominant
    * cost) gone entirely.
    *
    * The consumer switch-point, stated once for the closure family:
    *  - [[dd24StarClosure]] (cluster REPORTING): star edges + verification
    *    — representative-only connectivity, the BigCode/SlimPajama trade.
    *  - sm11 (leakage-safe SPLITS): star edges, NO verification — the
    *    one-sided-error direction is free coarsening.
    *  - dd8/sm10 and e2e4's lineage keep the verified-clique closure:
    *    their contract is the exact Jaccard-verified component, and their
    *    oracles replay it; on production-shaped corpora they are the
    *    audit/small-corpus arm, sm11/dd24 the serving arm. */
  def sm11StarSafeSplit(s: SparkSession, dir: String): DataFrame = {
    // the COMPONENTS are the session-materialized boundary (mirroring
    // sm10's cachedComponents): the min-label loop is iterative and must
    // not re-run per probe
    val comp = SessionShare.materialized(s, dir, "sm11") {
      val edges = Dedup.starCandidatePairs(cachedSigs(s, dir), "doc_id")
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      Dedup.connectedComponents(edges, "doc_a", "doc_b")
        .select(col("id").as("doc_id"), col("comp"))
    }
    t(s, dir, "documents").select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("comp"), col("doc_id")))
      .withColumn("fold",
        when(detHash(col("cluster_id"), LeakFoldSeed) % 10 < 8, lit("train"))
          .otherwise(lit("test")))
      .select("doc_id", "cluster_id", "fold")
      .orderBy("doc_id")
  }

  val sm11StarSafeSplitSql: String = {
    val starCand =
      """
        |  SELECT DISTINCT r.rep AS doc_a, b.doc_id AS doc_b
        |  FROM band b
        |  JOIN (SELECT band, key, MIN(doc_id) AS rep FROM band GROUP BY band, key) r
        |    ON r.band = b.band AND r.key = b.key AND b.doc_id <> r.rep""".stripMargin
    s"""WITH RECURSIVE ${componentCtesDuckUnverifiedOver(starCand)},
       |comp AS (SELECT id AS doc_id, MIN(r) AS comp FROM reach GROUP BY id)
       |SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id,
       |  CASE WHEN ${detHashSql("COALESCE(c.comp, d.doc_id)", LeakFoldSeed)} % 10 < 8
       |    THEN 'train' ELSE 'test' END AS fold
       |FROM documents d LEFT JOIN comp c USING (doc_id) ORDER BY d.doc_id""".stripMargin
  }

  /** dd7_contamination — train/test leak screen: fraction of each test doc's
    * 5-gram shingles that appear anywhere in the train split (deterministic
    * 80/20 hash split). */
  def dd7Contamination(s: SparkSession, dir: String): DataFrame = {
    val sh5 = cachedShingles5(s, dir)
    Dedup.contaminationFromShingles(
      sh5.filter(detHash(col("doc_id"), 41) % 10 < 8),
      sh5.filter(detHash(col("doc_id"), 41) % 10 >= 8), "doc_id")
      .select("doc_id", "n_sh", "n_contam", "contam_e6")
      .orderBy("doc_id")
  }

  val dd7ContaminationSql: String = {
    def sh5(src: String): String =
      s"""SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(string_split(text,' ')) - 3),
         |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2] || ' ' || string_split(text,' ')[i+3] || ' ' || string_split(text,' ')[i+4])) AS sh
         |  FROM $src WHERE len(string_split(text,' ')) >= 5""".stripMargin
    s"""WITH train AS (SELECT * FROM documents WHERE ${detHashSql("doc_id", 41)} % 10 < 8),
       |test AS (SELECT * FROM documents WHERE ${detHashSql("doc_id", 41)} % 10 >= 8),
       |train_sh AS (SELECT DISTINCT sh FROM (${sh5("train")}) t),
       |test_sh AS (${sh5("test")}),
       |per_doc AS (SELECT doc_id, COUNT(*) AS n_sh FROM test_sh GROUP BY doc_id),
       |contam AS (
       |  SELECT doc_id, COUNT(*) AS n_contam FROM test_sh
       |  WHERE sh IN (SELECT sh FROM train_sh) GROUP BY doc_id)
       |SELECT p.doc_id, p.n_sh, COALESCE(c.n_contam, 0) AS n_contam,
       |  CAST(ROUND(1e6 * COALESCE(c.n_contam, 0) / p.n_sh) AS BIGINT) AS contam_e6
       |FROM per_doc p LEFT JOIN contam c USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Bloom geometry for dd10 — 2²² bits / 4 hashes ≈ 2e-4 FPR at the sf0.1
    * train set (~150k shingles); m grows linearly with the train set at
    * constant FPR (the blocks stay a ~0.5 MB plan literal at this m). */
  private val BloomBits = 1L << 22
  private val BloomK = 4

  /** dd10_bloom_contamination — dd7's leak screen at the scale where the
    * train shingle set no longer fits a semi-join's hash side comfortably:
    * the train shingles compress into a [[graft.operators.Bloom]] (m/64
    * long blocks, built with map-side bit_or combine), and each test
    * shingle is screened by the zero-shuffle literal-block probe — a pure
    * projection, no join, no Exchange until the per-doc count. Superset
    * guarantee: n_bloom_hits ≥ dd7's exact n_contam per doc (no false
    * negatives; BloomSpec pins it). The oracle replays the identical filter
    * bit-for-bit from md5 integer math. */
  /** The built train-shingle Bloom blocks, materialized once — the
    * persisted-filter contract: a production screen builds the filter when
    * the reference set changes, then probes it from every batch/stream.
    * Rebuilding per probe (measured: ~1.8 s of dd10's 2.1 s warm time at
    * sf0.1) would defeat the point. */
  private def cachedBloom5(s: SparkSession, dir: String): DataFrame =
    SessionShare.materialized(s, dir, "bloom5") {
      val trainSh = cachedShingles5(s, dir)
        .filter(detHash(col("doc_id"), 41) % 10 < 8)
        .select("sh").distinct()
      graft.operators.Bloom.build(trainSh, "sh", BloomBits, BloomK)
    }

  def dd10BloomContamination(s: SparkSession, dir: String): DataFrame = {
    val filter = cachedBloom5(s, dir)
    val testSh = cachedShingles5(s, dir).filter(detHash(col("doc_id"), 41) % 10 >= 8)
    graft.operators.Bloom.probeLit(testSh, "sh", filter, BloomBits, BloomK)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"), sum("in_bloom").cast(LongType).as("n_bloom_hits"))
      .orderBy("doc_id")
  }

  val dd10BloomContaminationSql: String = {
    def sh5(src: String): String =
      s"""SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(string_split(text,' ')) - 3),
         |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2] || ' ' || string_split(text,' ')[i+3] || ' ' || string_split(text,' ')[i+4])) AS sh
         |  FROM $src WHERE len(string_split(text,' ')) >= 5""".stripMargin
    val m = BloomBits
    s"""WITH train AS (SELECT * FROM documents WHERE ${detHashSql("doc_id", 41)} % 10 < 8),
       |test AS (SELECT * FROM documents WHERE ${detHashSql("doc_id", 41)} % 10 >= 8),
       |train_sh AS (SELECT DISTINCT sh FROM (${sh5("train")}) t),
       |test_sh AS (${sh5("test")}),
       |train_pos AS (
       |  SELECT ((${detHashSql("sh", 1)} + i * ${detHashSql("sh", 2)}) % $m) AS pos
       |  FROM (SELECT sh, unnest(range($BloomK)) AS i FROM train_sh) t),
       |blocks AS (
       |  SELECT pos // 63 AS blk,
       |    bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INTEGER)) AS bits
       |  FROM train_pos GROUP BY 1),
       |test_pos AS (
       |  SELECT doc_id, sh, ((${detHashSql("sh", 1)} + i * ${detHashSql("sh", 2)}) % $m) AS pos
       |  FROM (SELECT doc_id, sh, unnest(range($BloomK)) AS i FROM test_sh) t),
       |hits AS (
       |  SELECT p.doc_id, p.sh,
       |    MIN(CASE WHEN b.bits IS NOT NULL
       |      AND (b.bits & (CAST(1 AS BIGINT) << CAST(p.pos % 63 AS INTEGER))) <> 0
       |      THEN 1 ELSE 0 END) AS in_bloom
       |  FROM test_pos p LEFT JOIN blocks b ON p.pos // 63 = b.blk
       |  GROUP BY p.doc_id, p.sh)
       |SELECT doc_id, COUNT(*) AS n_sh, CAST(SUM(in_bloom) AS BIGINT) AS n_bloom_hits
       |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Build-if-absent the persisted contamination filter: dd10's train-side
    * Bloom blocks plus the geometry meta row. The train corpus is scanned
    * ONCE at build; every future crawl probes the artifact. */
  private[queries] def ensureBloomIndex(s: SparkSession, dir: String): java.nio.file.Path = {
    import graft.operators.PersistedIndex
    PersistedIndex.ensure("bloom_index", dir,
      PersistedIndex.tableFingerprint(dir, "documents")) { tmp =>
      val trainSh = Dedup.shingles(
          t(s, dir, "documents").filter(detHash(col("doc_id"), 41) % 10 < 8),
          "doc_id", "text", n = 5)
        .select("sh").distinct()
      graft.operators.Bloom.build(trainSh, "sh", BloomBits, BloomK)
        .write.mode("overwrite").parquet(tmp.resolve("blocks").toString)
      graft.operators.Bloom.metaFor(s, BloomBits, BloomK)
        .write.mode("overwrite").parquet(tmp.resolve("meta").toString)
    }
  }

  /** dd19_persisted_bloom — dd10's train/test contamination screen served
    * from the PERSISTED filter: the train corpus is never rescanned at
    * probe time — the filter blocks load from the artifact (geometry
    * validated through the meta row, which fails loudly on mismatch
    * instead of yielding silent false negatives) and ride the plan as the
    * zero-shuffle literal probe. This is how contamination gating actually
    * deploys: the benchmark/eval-set filter is built once, persisted, and
    * every training crawl probes it. Results bit-equal to dd10 (same
    * blocks, same probe arithmetic) — oracle shared. */
  def dd19PersistedBloom(s: SparkSession, dir: String): DataFrame = {
    val home = ensureBloomIndex(s, dir)
    val blocks = graft.operators.PersistedIndex.artifactFrame(s, home, "blocks")
    graft.operators.Bloom.requireMeta(
      graft.operators.PersistedIndex.artifactFrame(s, home, "meta"), BloomBits, BloomK)
    val testSh = Dedup.shingles(
      t(s, dir, "documents").filter(detHash(col("doc_id"), 41) % 10 >= 8),
      "doc_id", "text", n = 5)
    graft.operators.Bloom.probeLit(testSh, "sh", blocks, BloomBits, BloomK)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"), sum("in_bloom").cast(LongType).as("n_bloom_hits"))
      .orderBy("doc_id")
  }

  /** dd13_minhash_estimate — sketch-accuracy audit: for every exact-verified
    * pair (dd4), the MinHash ESTIMATE of Jaccard (fraction of the 16
    * signature components that agree — the estimator LSH's banding is built
    * on) next to the exact 3-shingle value, with the absolute error. This is
    * the measurement that justifies (or indicts) the sketch parameters: at
    * k = 16 the estimator's σ = √(J(1−J)/16) ≈ 0.12 worst-case, so err_e6
    * spread is expected and HONEST — a production pipeline reads this table
    * before trusting banding thresholds. Signatures come from the shared
    * per-session materialization; the whole query is two broadcast-able
    * joins on doc ids. */
  def dd13MinhashEstimate(s: SparkSession, dir: String): DataFrame = {
    val sigs = cachedSigs(s, dir)
    val idx = 0 until Dedup.NumHashes
    val sa = sigs.select(col("doc_id").as("doc_a") +: idx.map(i => col(s"s$i").as(s"a$i")): _*)
    val sb = sigs.select(col("doc_id").as("doc_b") +: idx.map(i => col(s"s$i").as(s"b$i")): _*)
    dd4Verified(s, dir)
      .join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .withColumn("n_match",
        idx.map(i => (col(s"a$i") === col(s"b$i")).cast(IntegerType)).reduce(_ + _))
      .withColumn("est_e6",
        round(lit(1e6) * col("n_match") / lit(Dedup.NumHashes)).cast(LongType))
      .withColumn("err_e6", abs(col("est_e6") - col("jaccard_e6")))
      .select("doc_a", "doc_b", "jaccard_e6", "est_e6", "err_e6")
      .orderBy("doc_a", "doc_b")
  }

  val dd13MinhashEstimateSql: String = {
    val matches = (0 until Dedup.NumHashes)
      .map(i => s"CASE WHEN za.s$i = zb.s$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH sig AS ($minhashSigsDuck),
       |band AS ($bandedSigsDuck),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM band a JOIN band b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |sh AS ($shinglesDuck),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_int
       |  FROM cand p
       |  JOIN sh sa ON sa.doc_id = p.doc_a
       |  JOIN sh sb ON sb.doc_id = p.doc_b AND sb.sh = sa.sh
       |  GROUP BY 1, 2),
       |exact AS (
       |  SELECT i.doc_a, i.doc_b,
       |    CAST(ROUND(1e6 * n_int / (za.n_sh + zb.n_sh - n_int)) AS BIGINT) AS jaccard_e6
       |  FROM inter i
       |  JOIN sizes za ON za.doc_id = i.doc_a
       |  JOIN sizes zb ON zb.doc_id = i.doc_b
       |  WHERE CAST(ROUND(1e6 * n_int / (za.n_sh + zb.n_sh - n_int)) AS BIGINT) >= 100000),
       |est AS (
       |  SELECT e.doc_a, e.doc_b, e.jaccard_e6,
       |    CAST(ROUND(1e6 * ($matches) / ${Dedup.NumHashes}.0) AS BIGINT) AS est_e6
       |  FROM exact e
       |  JOIN sig za ON za.doc_id = e.doc_a
       |  JOIN sig zb ON zb.doc_id = e.doc_b)
       |SELECT doc_a, doc_b, jaccard_e6, est_e6,
       |  abs(est_e6 - jaccard_e6) AS err_e6
       |FROM est ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Segment length (tokens) for dd14's line-level pass — the "line" unit
    * of the synthetic corpus (no newlines; 3-token windows give the repeat
    * rate real boilerplate lines have). */
  private val SegTokens = 3

  /** dd14_line_dedup — CCNet-style LINE-level dedup (Wenzek et al. 2020):
    * where dd1–dd9 decide per DOCUMENT, this removes the boilerplate
    * SEGMENTS repeated across documents (headers, footers, nav bars) and
    * reassembles each document from its surviving segments. Stages:
    * (1) chunk each doc into non-overlapping [[SegTokens]]-token segments —
    * pure projection, no shuffle; (2) count distinct owning docs per
    * segment text (hash-agg on content — well-spread keys; the hottest
    * segments are exactly the boilerplate being dropped); (3) left-join the
    * ≥2-doc segment set back and rebuild the doc in segment order. At
    * 100 TB the duplicated-segment set is far smaller than the corpus
    * (most text is unique), so stage 3's join side is compact; the rebuild
    * groups on doc_id with the window bounded by document length. Output
    * carries an md5 fingerprint of the rebuilt text, not the text — the
    * e2e2/pk2 narrow-output convention. */
  def dd14LineDedup(s: SparkSession, dir: String): DataFrame = {
    val segs = t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("arr"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, cast(ceil(size(arr) / $SegTokens.0d) as int) - 1),
           |  i -> concat_ws(' ', slice(arr, i * $SegTokens + 1, $SegTokens)))""".stripMargin))
        .as(Seq("seg_idx", "seg")))
    val boiler = segs.groupBy("seg")
      .agg(countDistinct("doc_id").as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("seg"), lit(1).as("dup"))
    segs.join(boiler, Seq("seg"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("dup").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("dup").isNull, size(split(col("seg"), " ")).cast(LongType))
          .otherwise(0L)).as("kept_tokens"),
        substring(md5(concat_ws(" ", transform(
          array_sort(collect_list(when(col("dup").isNull,
            struct(col("seg_idx"), col("seg"))))),
          e => e.getField("seg")))), 1, 16).as("kept_hash"))
      .orderBy("doc_id")
  }

  val dd14LineDedupSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
       |ex AS (
       |  SELECT doc_id, arr,
       |    unnest(range(0, CAST(ceil(len(arr) / $SegTokens.0) AS BIGINT))) AS seg_idx
       |  FROM tok),
       |segs AS (
       |  SELECT doc_id, seg_idx,
       |    array_to_string(arr[CAST(seg_idx * $SegTokens + 1 AS BIGINT) :
       |      CAST(seg_idx * $SegTokens + $SegTokens AS BIGINT)], ' ') AS seg
       |  FROM ex),
       |boiler AS (
       |  SELECT seg, 1 AS dup FROM segs
       |  GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 2)
       |SELECT s.doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_segs,
       |  CAST(SUM(CASE WHEN b.dup IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN b.dup IS NULL
       |    THEN len(string_split(s.seg, ' ')) ELSE 0 END) AS BIGINT) AS kept_tokens,
       |  -- array_to_string([]) is NULL in DuckDB (Spark concat_ws gives '');
       |  -- coalesce the STRING so zero-kept docs hash the empty rebuild
       |  substr(md5(COALESCE(array_to_string(
       |    list(s.seg ORDER BY s.seg_idx) FILTER (WHERE b.dup IS NULL), ' '), '')), 1, 16)
       |    AS kept_hash
       |FROM segs s LEFT JOIN boiler b USING (seg)
       |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin

  /** Shingle width for dd15 (ExactSubstr uses 50 BPE tokens on web corpora;
    * 8 words matches this corpus's 10–99-token documents). */
  val SubstrW = 8

  /** dd15_exact_substr — SPAN-level exact-substring dedup (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better" — the
    * ExactSubstr technique): any `SubstrW`-token window whose exact text
    * appears more than once in the corpus marks its positions duplicated;
    * windows whose TEXT SPANS overlap or touch (start gap ≤ w) merge into
    * maximal spans — so emitted spans are pairwise disjoint and a consumer
    * can cut them without double-counting. The
    * granularity dd1–dd14 don't cover: doc-level (dd1), line-level (dd14),
    * and this, span-level — what you'd cut before training.
    *
    * Scale shape (de-skewed r7): the duplicate flag is a
    * `groupBy(s).count` — partial (map-side) aggregation collapses a hot
    * boilerplate shingle to ONE row per map task before the shuffle, so
    * the reduce side of the count sees at most numMapTasks rows per key
    * no matter how many billions of times "click here to read …" repeats
    * — followed by a LEFT SEMI join of the positions back onto the >1
    * set. That join is a sort-merge join on `s`, which AQE's
    * OptimizeSkewedJoin CAN split (it rewrites skewed SMJ partitions;
    * window operators get no such rewrite — the r6 spelling's
    * `count over (partition by s)` would pin the entire hot-shingle group
    * in one un-splittable task). Cost: the explode is computed twice
    * (agg branch + probe branch) — two scans of cheap codegen'd
    * string-slicing vs. an unbounded-partition risk; at 100 TB that
    * trade is not close. The island windows partition by doc_id and are
    * bounded by document length. Keying on the string itself (not a
    * hash) keeps both engines collision-free and identical.
    *
    * @return (doc_id, span_start, span_end) — 1-based token positions,
    *         end inclusive of the last window's tail */
  /** The ONE shingle-explode spelling both dd15 faces share — batch
    * ([[dd15ExactSubstr]]) and streaming
    * (`graft.streaming.EventStreams.substrFlagStream`). Spec-proven parity
    * between the faces depends on the two exploding identically, so the
    * projection lives here once (review r7: it was copy-pasted).
    * @return (doc_id, pos, s): 1-based window start + window text */
  def substrShingles(docs: DataFrame, w: Int = SubstrW): DataFrame =
    docs
      .select(col("doc_id").cast(LongType).as("doc_id"), split(col("text"), " ").as("arr"))
      .filter(size(col("arr")) >= w)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(1, size(arr) - $w + 1),
           |  i -> concat_ws(' ', slice(arr, i, $w)))""".stripMargin))
        .as(Seq("pos0", "s")))
      .select(col("doc_id"), (col("pos0") + 1).cast(LongType).as("pos"), col("s"))

  /** The detect phase as a bare LAZY plan — the plan-shape spec pins its
    * physical structure (agg + semi-join, doc-bounded windows) here, BEFORE
    * the [[dd15Spans]] materialization collapses it to a checkpoint scan. */
  private[queries] def dd15SpansPlan(s: SparkSession, dir: String): DataFrame = {
    val w = SubstrW
    val shingles = substrShingles(t(s, dir, "documents"), w)
    val dupShingles = shingles
      .groupBy("s").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select("s")
    val flagged = shingles.join(dupShingles, Seq("s"), "left_semi")
    // interval merge, not consecutive-start islands: two duplicated windows
    // starting ≤ w apart OVERLAP as text spans (starts 3 and 6 at w=8 cover
    // tokens 3..13 jointly), so a new span begins only when the gap between
    // flagged starts exceeds w — otherwise a consumer cutting spans would
    // double-cut the overlap (review r6)
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val islands = flagged
      .withColumn("prev", lag("pos", 1).over(byPos))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") - col("prev") > w, 1L).otherwise(0L))
      .withColumn("grp", sum("brk").over(byPos))
    islands.groupBy("doc_id", "grp")
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(w.toLong - 1)).as("span_end"))
      .select("doc_id", "span_start", "span_end")
  }

  /** The detect phase, memoized per (session, dir): dd15 (the report face)
    * and dd16 (the cut face) both consume these spans, and the detect is by
    * far the expensive part — the shingle explode runs twice inside it (the
    * documented de-skew trade). Before r8, dd16 re-PLANNED the whole detect,
    * so one Verify/Bench session paid the explode three times;
    * [[graft.operators.SessionShare.materialized]] pins one physical
    * evaluation (the a10/ta1/sm9 pattern) and both faces read it. */
  private def dd15Spans(s: SparkSession, dir: String): DataFrame =
    graft.operators.SessionShare.materialized(s, dir, "dd15_spans") {
      dd15SpansPlan(s, dir)
    }

  def dd15ExactSubstr(s: SparkSession, dir: String): DataFrame =
    dd15Spans(s, dir).orderBy("doc_id", "span_start")

  val dd15ExactSubstrSql: String = {
    val w = SubstrW
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS arr FROM documents
       |  WHERE len(string_split(text, ' ')) >= $w),
       |sh AS (
       |  SELECT doc_id, i AS pos,
       |    array_to_string(list_slice(arr, i, i + $w - 1), ' ') AS s
       |  FROM tok, unnest(range(1, len(arr) - $w + 2)) AS u(i)),
       |dup AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) > 1),
       |flagged AS (SELECT doc_id, pos FROM sh WHERE s IN (SELECT s FROM dup)),
       |lagged AS (
       |  SELECT doc_id, pos,
       |    LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
       |  FROM flagged),
       |isl AS (
       |  SELECT doc_id, pos,
       |    SUM(CASE WHEN prev IS NULL OR pos - prev > $w THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM lagged)
       |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + $w - 1 AS span_end
       |FROM isl GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin
  }

  /** dd16_span_cut — the CUT half of ExactSubstr dedup (Lee et al. 2021
    * §4.2: the deduplicated corpus IS the text with duplicated spans
    * removed; dd15 only reports the spans). Every document re-emits with
    * its dd15 spans excised: per-doc token explode, spans attached as ONE
    * bounded array per doc (collect_list over span rows — ≤ len/w spans by
    * the disjointness contract), containment tested in a projection
    * (`exists(spans, …)`), survivors re-joined in position order. The
    * span attach is an equi-join on doc_id (LEFT — span-free docs pass
    * through whole), never a range join: the per-token BETWEEN runs inside
    * the projection over the tiny per-doc array, so the plan is
    * explode → one doc-keyed join → one doc-keyed agg, the dd14 shape.
    *
    * @return (doc_id, n_tokens, n_kept, kept_hash) for EVERY document —
    *         kept_hash is md5 (first 16 hex) of the space-joined surviving
    *         tokens in original order ('' hashes for fully-cut docs, the
    *         dd14 COALESCE convention) */
  def dd16SpanCut(s: SparkSession, dir: String): DataFrame = {
    val spans = dd15Spans(s, dir)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).cast(LongType).as("pos"), col("tok"))
    toks.join(spans, Seq("doc_id"), "left_outer")
      .withColumn("cut", coalesce(exists(col("spans"),
        sp => col("pos") >= sp.getField("span_start") &&
          col("pos") <= sp.getField("span_end")), lit(false)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(!col("cut"), 1L).otherwise(0L)).as("n_kept"),
        substring(md5(coalesce(concat_ws(" ",
          sort_array(collect_list(when(!col("cut"),
            struct(col("pos"), col("tok"))))).getField("tok")), lit(""))), 1, 16)
          .as("kept_hash"))
      .orderBy("doc_id")
  }

  val dd16SpanCutSql: String = {
    val w = SubstrW
    s"""WITH spans AS ($dd15ExactSubstrSql),
       |tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
       |    generate_subscripts(string_split(text, ' '), 1) AS pos
       |  FROM documents),
       |marked AS (
       |  SELECT t.doc_id, t.pos, t.tok,
       |    EXISTS (SELECT 1 FROM spans s
       |            WHERE s.doc_id = t.doc_id
       |              AND t.pos BETWEEN s.span_start AND s.span_end) AS cut
       |  FROM tok t)
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN NOT cut THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  substr(md5(COALESCE(array_to_string(
       |    list(tok ORDER BY pos) FILTER (WHERE NOT cut), ' '), '')), 1, 16)
       |    AS kept_hash
       |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** dd17_fuzzy_names — typo-tolerant entity-name matching via
    * deletion-neighborhood blocking (the FastSS / SymSpell family,
    * Bocek et al. 2007): two strings are within Levenshtein distance 1
    * iff their deletion neighborhoods D(s) = {s} ∪ {s minus one char}
    * intersect — so the candidate generation is an EQUI-join on exploded
    * variants (each string yields len+1 variants, bounded by token
    * length), never a quadratic similarity scan. Blocking admits false
    * positives (D("ab") ∩ D("ba") ∋ "a" but dist = 2 — transposition is
    * two substitutions), so the exact `levenshtein` verify filter is
    * load-bearing, exactly like dd3→dd4's LSH→Jaccard ladder but for
    * EDIT distance on entity names (supplier/brand/author dedup at
    * catalog scale — F15's spellcheck as a JOIN). Pairs carry their
    * shared-variant count and each side's corpus support.
    *
    * Scale shape: distinct-token dictionary (vocabulary-bounded) →
    * variant explode (len+1 per token) → hash equi-join on variant →
    * codegen levenshtein verify → pair rollup; support joins key on the
    * token. No cross join, no window. */
  def dd17FuzzyNames(s: SparkSession, dir: String): DataFrame = {
    // empty tokens (consecutive/leading spaces) are dropped on BOTH engines
    // (ADVICE r11): for w = '' Spark's sequence(1, 0) yields a DESCENDING
    // [1, 0] (two variant rows) while DuckDB's range(1, 1) is empty — a
    // latent cross-engine divergence even though neither engine should be
    // fuzzy-matching the empty string anyway
    val tok = t(s, dir, "part")
      .select(explode(split(col("p_name"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val support = tok.groupBy("w").agg(count(lit(1)).as("n_parts"))
    val variants = support.select(col("w"), explode(concat(array(col("w")),
      expr("transform(sequence(1, length(w)), i -> concat(substring(w, 1, i - 1), substring(w, i + 1, length(w))))")))
      .as("v"))
    val pairs = variants.as("a")
      .join(variants.as("b"), col("a.v") === col("b.v") && col("a.w") < col("b.w"))
      .groupBy(col("a.w").as("tok_a"), col("b.w").as("tok_b"))
      .agg(count(lit(1)).as("shared_variants"))
      .filter(levenshtein(col("tok_a"), col("tok_b")) <= 1)
    pairs
      .join(support.select(col("w").as("tok_a"), col("n_parts").as("n_parts_a")), Seq("tok_a"))
      .join(support.select(col("w").as("tok_b"), col("n_parts").as("n_parts_b")), Seq("tok_b"))
      .select("tok_a", "tok_b", "shared_variants", "n_parts_a", "n_parts_b")
      .orderBy("tok_a", "tok_b")
  }

  val dd17FuzzyNamesSql: String =
    """WITH tok0 AS (SELECT unnest(string_split(p_name, ' ')) AS w FROM part),
      |tok AS (SELECT w FROM tok0 WHERE len(w) > 0),
      |support AS (SELECT w, COUNT(*) AS n_parts FROM tok GROUP BY w),
      |variants AS (
      |  SELECT w, unnest(list_prepend(w,
      |    list_transform(range(1, len(w) + 1), i -> substr(w, 1, i - 1) || substr(w, i + 1)))) AS v
      |  FROM support),
      |pairs AS (
      |  SELECT a.w AS tok_a, b.w AS tok_b, COUNT(*) AS shared_variants
      |  FROM variants a JOIN variants b ON a.v = b.v AND a.w < b.w
      |  GROUP BY a.w, b.w),
      |ver AS (SELECT * FROM pairs WHERE levenshtein(tok_a, tok_b) <= 1)
      |SELECT p.tok_a, p.tok_b, p.shared_variants, sa.n_parts AS n_parts_a, sb.n_parts AS n_parts_b
      |FROM ver p
      |JOIN support sa ON sa.w = p.tok_a
      |JOIN support sb ON sb.w = p.tok_b
      |ORDER BY tok_a, tok_b""".stripMargin

  /** Build-if-absent the persisted LSH dedup index: the dd2 signature
    * checkpoint and the already-adjudicated base-base candidate pairs for
    * documents at-or-below a recorded watermark (last decile of the id
    * range = "the docs that arrived after the snapshot", the ir10
    * convention), plus a one-row stats artifact carrying the watermark.
    * This is what a production dedup pipeline actually checkpoints between
    * crawls — signatures to probe against and pairs already found. */
  // v2 (r21): the index gains a key-bucketed `bands` artifact (the
  // postings recipe applied to the signature store, VERDICT r20 #3) —
  // bump the version so every generation carries it and the pruned serve
  // never mixes layouts
  private def lshFp(dir: String): String =
    "v2_" + graft.operators.PersistedIndex.tableFingerprint(dir, "documents")

  /** The `bands` modulus cap, and the modulus of every home whose `stats`
    * row lacks `n_buckets` (all such homes were written 256-way and serve
    * with it, so their fingerprint stands). */
  private val LshBandBuckets = 256L

  /** Hive-partition count of a generation's `bands` artifact, sized with
    * its signature store by the postings rule
    * ([[graft.operators.PersistedIndex.sizedBuckets]], ~80 signatures a
    * bucket, at least 16) under a cap of [[LshBandBuckets]]: a store of
    * 20,480 signatures or more keeps the 256-way layout. Stores under
    * 2,560 signatures get 16 directories: below Spark's parallel
    * partition-discovery threshold (32), so no listing job runs. The
    * modulus is recorded in `stats` as `n_buckets`; a serve derives it
    * from there ([[lshBucketsOf]]), never from this rule. */
  private[graft] def lshBucketsFor(nSigs: Long): Long =
    graft.operators.PersistedIndex.sizedBuckets(nSigs, LshBandBuckets)

  /** The modulus a home's `bands` artifact was written with: its `stats`
    * row's `n_buckets`, or [[LshBandBuckets]] for a row without it. */
  private[graft] def lshBucketsOf(s: SparkSession, home: java.nio.file.Path): Long =
    graft.operators.PersistedIndex.recordedBuckets(s, home, LshBandBuckets)

  /** Pruned-path gate: the bucket-pruned `bands` read engages only when the
    * delta touches at most 3/4 of the store's `nBuckets` buckets; above
    * that the pre-exploded artifact read (4× the rows of the signature
    * store) loses to the in-memory re-band. Measured on the 256-way sf100
    * store (4.5M signatures, warm pass, pruned vs re-band): 16 touched
    * 0.78 vs 3.25 s, 116 1.83 vs 3.91 s, 179 2.72 vs 3.31 s, 246 7.58 vs
    * 5.41 s — crossover ≈ 200–230 of 256, so 3/4 keeps a margin below it.
    * Both paths are bit-equal (spec-pinned); the gate only picks the
    * cheaper plan. */
  private def lshPrunedBucketMax(nBuckets: Long): Long = nBuckets * 3 / 4

  /** The `bands` bucket of one (band, key) row under modulus `nBuckets` —
    * a pure function of the join key, so a serve computes its delta's
    * touched buckets with the home's own modulus and reads ONLY those
    * partitions (PartitionFilters, no data IO outside them). */
  private[queries] def lshBandBucket(band: Column, key: Column, nBuckets: Long): Column =
    pmod(xxhash64(band, key), lit(nBuckets))

  private[queries] def ensureLshIndex(s: SparkSession, dir: String): java.nio.file.Path = {
    import graft.operators.PersistedIndex
    PersistedIndex.ensure("lsh_index", dir, lshFp(dir)) { tmp =>
      val split = PersistedIndex.idWatermark(t(s, dir, "documents"), "doc_id")
      val nSigs = writeLshSigs(Dedup.minhashSignatures(
        t(s, dir, "documents").filter(col("doc_id") <= split), "doc_id", "text"), tmp)
      // pairs and bands both read the `sigs` just written
      PersistedIndex.writeArtifacts(
        () => Dedup.lshCandidatePairs(
            graft.sources.Layout.readParquet(s, tmp.resolve("sigs").toString), "doc_id")
          .write.mode("overwrite").parquet(tmp.resolve("pairs").toString),
        () => writeLshBands(s, tmp, nSigs, split))
    }
  }

  /** Write a generation's `sigs` artifact and return its row count, observed
    * on the write itself (no extra job; a re-count of the written store
    * only if Spark reported none). */
  private def writeLshSigs(sigs: DataFrame, tmp: java.nio.file.Path): Long = {
    val out = tmp.resolve("sigs").toString
    val (counted, rows) = graft.sources.Layout.withRowCount(sigs)
    counted.write.mode("overwrite").parquet(out)
    rows().getOrElse(graft.sources.Layout.parquetRows(sigs.sparkSession, out))
  }

  /** The banded projection of a generation's `sigs` (`nSigs` rows),
    * persisted key-bucketed into [[lshBucketsFor]]`(nSigs)` directories
    * (one per [[lshBandBucket]] value, rows sorted by (band, key) for
    * page-level stats pruning), and the generation's `stats` row: the
    * watermark `split_id` and that modulus as `n_buckets`. The serve-time
    * incremental pairing reads ONLY the delta's touched buckets instead of
    * re-banding the whole store per probe. */
  private def writeLshBands(s: SparkSession, tmp: java.nio.file.Path,
      nSigs: Long, split: Long): Unit = {
    val nBk = lshBucketsFor(nSigs)
    graft.operators.PersistedIndex.writeArtifacts(
      () => graft.sources.Layout.writePartitioned(
        Dedup.bandedSignatures(
            graft.sources.Layout.readParquet(s, tmp.resolve("sigs").toString), "doc_id")
          .withColumn("kb", lshBandBucket(col("band"), col("key"), nBk)),
        tmp.resolve("bands").toString, "kb", "band", "key"),
      () => graft.operators.PersistedIndex.splitStats(s, split)
        .withColumn("n_buckets", lit(nBk))
        .write.mode("overwrite").parquet(tmp.resolve("stats").toString))
  }

  /** The LSH family's change-set merge: the post-change (sigs, pairs)
    * frames of `home`. `dead` ids drop their signatures and every
    * persisted pair touching them (id-only anti-joins); the `fresh` rows,
    * the only text shingled, pair against the surviving store.
    * [[lshServe]] orders the pairs; [[foldLshArtifacts]] writes both. */
  private def mergeLsh(s: SparkSession, home: java.nio.file.Path,
      dead: DataFrame, fresh: DataFrame): (DataFrame, DataFrame) = {
    val baseSigs = graft.operators.PersistedIndex.artifactFrame(s, home, "sigs")
      .join(dead, Seq("doc_id"), "left_anti")
    val basePairs = graft.operators.PersistedIndex.artifactFrame(s, home, "pairs")
      .join(dead.select(col("doc_id").as("id_a")), Seq("id_a"), "left_anti")
      .join(dead.select(col("doc_id").as("id_b")), Seq("id_b"), "left_anti")
      // equi-joins move their key to the front — restore the pair layout
      .select("id_a", "id_b", "shared_bands")
    // read by the pairing's three sides and the fold's `sigs` write
    val freshSigs = graft.operators.CdcRules.pinDerived(s, fresh,
      Dedup.minhashSignatures(fresh, "doc_id", "text"))
    // When the delta's band keys touch few of the persisted `bands`
    // artifact's buckets, the pairing's base side reads the artifact
    // PRUNED to those buckets (PartitionFilters on `kb`) — O(touched
    // buckets), not O(store). The bucket is a pure function of the
    // (band, key) join key under the home's recorded modulus, so every
    // matchable base row is in a kept bucket and pruning is exact. A
    // crawl-sized window saturates the buckets and re-bands instead
    // ([[lshPrunedBucketMax]]). A statically-empty fresh frame skips the
    // pairing leg entirely (the expunged/post-fold serve stays a pure
    // `pairs` read); a bands-less generation always re-bands.
    val freshPairs =
      if (graft.operators.CdcRules.isKnownEmpty(fresh)) None
      else if (!java.nio.file.Files.exists(home.resolve("bands")))
        Some(Dedup.incrementalCandidatePairs(baseSigs, freshSigs, "doc_id"))
      else {
        val nBk = lshBucketsOf(s, home)
        val kbs = Dedup.bandedSignatures(freshSigs, "doc_id")
          .select(lshBandBucket(col("band"), col("key"), nBk).as("kb"))
          .distinct().collect().map(_.getLong(0)).sorted
        if (kbs.nonEmpty && kbs.length <= lshPrunedBucketMax(nBk)) {
          val baseBands = graft.operators.PersistedIndex.artifactFrame(s, home, "bands")
            .where(col("kb").isin(kbs.map(java.lang.Long.valueOf): _*))
            .select("doc_id", "band", "key")
            .join(dead, Seq("doc_id"), "left_anti")
          Some(Dedup.incrementalCandidatePairsBanded(baseBands, freshSigs, "doc_id"))
        } else Some(Dedup.incrementalCandidatePairs(baseSigs, freshSigs, "doc_id"))
      }
    (baseSigs.unionByName(freshSigs), freshPairs.fold(basePairs)(basePairs.unionByName(_)))
  }

  /** The LSH serve: the [[mergeLsh]] pairs, ordered — the fold writes the
    * frames this serve merges. dd18 passes (∅, appends); dd20 the CDC
    * change set; the expunged serve (∅, ∅) a CDC-folded generation. */
  private def lshServe(s: SparkSession, home: java.nio.file.Path,
      dead: DataFrame, fresh: DataFrame): DataFrame =
    mergeLsh(s, home, dead, fresh)._2
      .withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b")
      .orderBy("doc_a", "doc_b")

  /** dd20_tombstone_neardup — tombstone/UPDATE-aware near-dup gating,
    * ir14's CDC semantics applied to the LSH family: the
    * [[graft.operators.CdcRules]] feed — deletes drop their signatures
    * AND every persisted pair touching them; updates (re-crawled with the
    * token order REVERSED — old shingles stop matching, the doc itself
    * stays shingl-able) are tombstone + re-sign; appends are dd18's
    * delta. Serving ([[mergeLsh]]):
    *   sigs'  = (persisted sigs ⟕̸ tombstones) — the survivors
    *   pairs' = (persisted pairs ⟕̸ tombstones on EITHER side)
    *            ∪ incremental pairs of (updated ∪ delta) vs sigs'
    * Candidate sets are exact, not approximate: a pair's shared-band
    * count depends only on the two docs' own signatures, so dropping
    * dead-touching rows and pairing the fresh segment reproduces dd3's
    * full re-pair over the post-change corpus bit-for-bit (the oracle:
    * dd3's SQL chain over the post-change corpus CTE). Only updated +
    * delta rows are ever shingled at serve time. */
  def dd20TombstoneNeardup(s: SparkSession, dir: String): DataFrame =
    IndexMaintenance.serve(s, dir, LshMaintenance, Tombstones)

  /** The LSH family's fold: it writes the [[mergeLsh]] frames — the pairs
    * [[lshServe]] orders, and the surviving plus fresh signatures — as a
    * new generation, so serving is answer-invariant across it (dd18's
    * union contract). Base signatures and pairs are copied from parquet. */
  private[graft] def foldLshArtifacts(s: SparkSession, tmp: java.nio.file.Path,
      cur: java.nio.file.Path, dead: DataFrame, fresh: DataFrame, split: Long): Unit = {
    val (sigs, pairs) = mergeLsh(s, cur, dead, fresh)
    graft.operators.PersistedIndex.writeArtifacts(
      // every folded generation republishes the key-bucketed bands over its
      // own (post-fold) sigs, sized to them, so the pruned serve works
      // across generations: bands follow the sigs write
      () => writeLshBands(s, tmp, writeLshSigs(sigs, tmp), split),
      () => pairs.write.mode("overwrite").parquet(tmp.resolve("pairs").toString))
  }

  /** The LSH family's hooks into the streaming maintenance loop: probe =
    * the dd22 feed face's candidate-pair query, fold =
    * [[foldLshArtifacts]]. */
  private[graft] object LshMaintenance extends IndexMaintenance.DocFamily {
    val name = "lsh"
    val kind = "lsh_index"
    def fingerprint(dir: String): String = lshFp(dir)
    def ensureBase(s: SparkSession, dir: String): java.nio.file.Path =
      ensureLshIndex(s, dir)
    def baseCount(s: SparkSession, base: java.nio.file.Path): Long =
      graft.operators.PersistedIndex.artifactRows(s, base, "sigs")
    def foldInto(s: SparkSession, tmp: java.nio.file.Path, base: java.nio.file.Path,
        dead: DataFrame, fresh: DataFrame, split: Long): Unit =
      foldLshArtifacts(s, tmp, base, dead, fresh, split)
    def serve(s: SparkSession, dir: String, base: java.nio.file.Path,
        dead: DataFrame, fresh: DataFrame): DataFrame =
      lshServe(s, base, dead, fresh)
  }

  /** dd21_expunged_neardup — the post-compaction face of dd20: fold the
    * change set, then serve pairs straight from the expunged artifacts
    * (empty tombstone/fresh frames; shares dd20's oracle — the identity
    * IS the expunge contract). */
  def dd21ExpungedNeardup(s: SparkSession, dir: String): DataFrame = {
    IndexMaintenance.compactCdc(s, dir, LshMaintenance)
    dd20TombstoneNeardup(s, dir)
  }

  /** dd22_feed_neardup — the feed-table face of dd20 (the ir15 contract
    * on the LSH family): the change set arrives as an explicit
    * (doc_id, op, payload) table — [[graft.streaming.EventStreams
    * .cdcStream]] is the generator — and [[lshServe]] consumes only the
    * [[graft.operators.CdcRules.feedFrames]] split of it. The feed's 'u'
    * payload convention is reversedTokens, exactly dd20's update
    * transform, so the answer is bit-equal to dd20 and the oracle is
    * shared. */
  def dd22FeedNeardup(s: SparkSession, dir: String): DataFrame =
    IndexMaintenance.serve(s, dir, LshMaintenance, Feed)

  /** dd23_sized_neardup — dd22 at a CRAWL-SIZED batch (VERDICT r16 #2):
    * the feed generator takes the [[graft.operators.CdcRules.sizedFeed]]
    * batch bound, so the shingle/minhash work and the three-sided
    * incremental pairing read O(window) fresh rows no matter the corpus
    * size — the face that prices one production refresh cycle on the
    * sf1→sf10 ladder where dd18's fixed-fraction delta reads
    * linear-in-corpus (4.52× on the r16 ladder). At the correctness SFs
    * the window covers the whole corpus and dd23 ≡ dd20/dd22. */
  def dd23SizedNeardup(s: SparkSession, dir: String): DataFrame =
    IndexMaintenance.serve(s, dir, LshMaintenance, SizedFeed)

  /** dd20's replay over the WINDOWED post-change corpus (cdcStream's 'u'
    * payload is reversedTokens, so the rule-windowed corpus CTE equals
    * the feed-assembled one). */
  val dd23SizedNeardupSql: String =
    s"""WITH ${graft.operators.CdcRules.sqlSizedCorpusCtes("dd23corpus",
          graft.operators.CdcRules.sqlReversedTokens("d.text"))},
       |sig AS (${minhashSigsDuck.replace("FROM documents", "FROM dd23corpus")}),
       |band AS ($bandedSigsDuck)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_bands
       |FROM band a JOIN band b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin

  /** dd3's SQL chain replayed over the POST-CHANGE corpus (the ir14
    * oracle convention: watermark recomputed in SQL, deletes out of the
    * corpus CTE, updates re-crawled with reversed token order). */
  val dd20TombstoneNeardupSql: String =
    s"""WITH ${graft.operators.CdcRules.sqlCorpusCtes("dd20corpus",
          graft.operators.CdcRules.sqlReversedTokens("d.text"))},
       |sig AS (${minhashSigsDuck.replace("FROM documents", "FROM dd20corpus")}),
       |band AS ($bandedSigsDuck)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_bands
       |FROM band a JOIN band b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin

  /** dd18_delta_neardup — the ingest-time NEAR-DUP GATE served from the
    * persisted LSH index: base-base candidate pairs are read back from the
    * snapshot artifact (already adjudicated at the last crawl — never
    * re-paired), and only the DELTA (doc_id past the persisted watermark,
    * a pushed range predicate like ir10's) is shingled and minhashed, then
    * probed against the persisted signature store via
    * [[Dedup.incrementalCandidatePairs]] (delta×base + delta×delta).
    * Segmentation is invisible to the answer: persisted pairs ∪
    * delta-touching pairs is bit-equal to dd3's full re-pair, so the
    * oracle IS dd3's SQL — which is the invariant that makes the refresh
    * loop safe (folding the delta into the next snapshot can only move
    * pairs between the two terms of the union, never change them). At
    * 100 TB the per-crawl cost is O(|delta|·collisions) + an artifact
    * read, vs dd3's O(|corpus|·collisions) re-pair. */
  def dd18DeltaNeardup(s: SparkSession, dir: String): DataFrame =
    IndexMaintenance.serve(s, dir, LshMaintenance, Appends)

  // segmentation is invisible to the answer: dd18 ≡ dd3
  val dd18DeltaNeardupSql: String = dd3LshPairsSql

  val queries: Map[String, QueryFn] = Map(
    "dd18_delta_neardup" -> (dd18DeltaNeardup _),
    "dd20_tombstone_neardup" -> (dd20TombstoneNeardup _),
    "dd21_expunged_neardup" -> (dd21ExpungedNeardup _),
    "dd22_feed_neardup" -> (dd22FeedNeardup _),
    "dd23_sized_neardup" -> (dd23SizedNeardup _),
    "dd19_persisted_bloom" -> (dd19PersistedBloom _),
    "dd14_line_dedup" -> (dd14LineDedup _),
    "dd15_exact_substr" -> (dd15ExactSubstr _),
    "dd16_span_cut" -> (dd16SpanCut _),
    "dd17_fuzzy_names" -> (dd17FuzzyNames _),
    "dd13_minhash_estimate" -> (dd13MinhashEstimate _),
    "dd7_contamination" -> (dd7Contamination _),
    "dd10_bloom_contamination" -> (dd10BloomContamination _),
    "dd11_incremental_pairs" -> (dd11IncrementalPairs _),
    "dd1_exact_dedup" -> (dd1ExactDedup _),
    "dd2_minhash_sigs" -> (dd2MinhashSigs _),
    "dd3_lsh_pairs" -> (dd3LshPairs _),
    "dd4_ngram_jaccard" -> (dd4NgramJaccard _),
    "dd5_simhash" -> (dd5Simhash _),
    "dd8_clusters" -> (dd8Clusters _),
    "dd9_simhash_pairs" -> (dd9SimhashPairs _),
    "dd24_star_closure" -> (dd24StarClosure _),
    "sm10_leakage_safe_split" -> (sm10LeakageSafeSplit _),
    "sm11_star_safe_split" -> (sm11StarSafeSplit _))

  val oracles: Map[String, String] = Map(
    "dd18_delta_neardup" -> dd18DeltaNeardupSql,
    // tombstone subtraction is exact: dd20 ≡ dd3 over the post-change corpus
    "dd20_tombstone_neardup" -> dd20TombstoneNeardupSql,
    // expunge-fold is answer-invariant by construction: dd21 ≡ dd20
    "dd21_expunged_neardup" -> dd20TombstoneNeardupSql,
    // the feed generator replays the same rules: dd22 ≡ dd20
    "dd22_feed_neardup" -> dd20TombstoneNeardupSql,
    "dd23_sized_neardup" -> dd23SizedNeardupSql,
    // the persisted detour is invisible to the answer: dd19 ≡ dd10
    "dd19_persisted_bloom" -> dd10BloomContaminationSql,
    "dd14_line_dedup" -> dd14LineDedupSql,
    "dd15_exact_substr" -> dd15ExactSubstrSql,
    "dd17_fuzzy_names" -> dd17FuzzyNamesSql,
    "dd16_span_cut" -> dd16SpanCutSql,
    "dd13_minhash_estimate" -> dd13MinhashEstimateSql,
    "dd7_contamination" -> dd7ContaminationSql,
    "dd10_bloom_contamination" -> dd10BloomContaminationSql,
    "dd11_incremental_pairs" -> dd11IncrementalPairsSql,
    "dd1_exact_dedup" -> dd1ExactDedupSql,
    "dd2_minhash_sigs" -> dd2MinhashSigsSql,
    "dd3_lsh_pairs" -> dd3LshPairsSql,
    "dd4_ngram_jaccard" -> dd4NgramJaccardSql,
    "dd5_simhash" -> dd5SimhashSql,
    "dd8_clusters" -> dd8ClustersSql,
    "dd24_star_closure" -> dd24StarClosureSql,
    "sm11_star_safe_split" -> sm11StarSafeSplitSql,
    "dd9_simhash_pairs" -> dd9SimhashPairsSql,
    "sm10_leakage_safe_split" -> sm10LeakageSafeSplitSql)
}
